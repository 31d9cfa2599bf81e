"""r15 (verdict #6): property-pin run_concurrent's failure semantics
— the docstring promises "the first exception re-raises after all
complete", and the ticks rely on a replay of the same (batch,
batch_id) healing whatever a failed wave left behind. Two tick-level
variants: the victim append fails BEFORE writing (its table misses
the batch; replay fills it) and AFTER writing (redelivery after
success; replay's anti-join must not duplicate).

``state.TickState`` joins every background wave a tick started
before the tick returns or raises: pinned at the helper level and by
a tick whose edge phase fails while its band appends are running."""

from __future__ import annotations

import threading
import time

import pytest
from pyspark.sql import functions as F

from falcon_metrics_etl_spark.session import run_concurrent
from falcon_metrics_etl_spark.state import TickState, read_state


def test_run_concurrent_first_exception_after_all_complete():
    """One thunk fails fast; the slow thunks still run to completion
    (their side effects land) and the FIRST exception re-raises."""
    done = []
    gate = threading.Event()

    def fail_fast():
        raise RuntimeError("first")

    def fail_slow():
        gate.wait(5)
        raise ValueError("second")

    def slow_ok():
        time.sleep(0.2)
        done.append("ok")
        gate.set()
        return 42

    with pytest.raises(RuntimeError, match="first"):
        run_concurrent(fail_fast, fail_slow, slow_ok)
    assert done == ["ok"]  # the wave drained before re-raising


def test_run_concurrent_single_thunk_inline():
    assert run_concurrent(lambda: 7) == [7]
    with pytest.raises(KeyError):
        run_concurrent(lambda: {}["x"])


def _docs(spark):
    return spark.createDataFrame(
        [
            (
                i,
                f"alpha{i} beta{i} gamma{i} doc {i} "
                + " ".join(f"w{i}x{j} common{j % 4}" for j in range(16)),
            )
            for i in range(30)
        ],
        "doc_id long, text string",
    )


def _state_multisets(spark, state_dir):
    """Row multiset of every state table, columns in name order (a
    keyed merge may land a table's files with its key columns first,
    and a read takes its column order from one of the files)."""
    import os

    out = {}
    for t in sorted(os.listdir(state_dir)):
        p = os.path.join(state_dir, t)
        if os.path.isdir(p):
            df = read_state(spark, p)
            out[t] = sorted(
                tuple(str(x) for x in r)
                for r in df.select(*sorted(df.columns)).collect()
            )
    return out


@pytest.mark.parametrize("fail_after_write", [False, True])
def test_failed_append_wave_replays_to_clean_state(
    spark, tmp_path, monkeypatch, fail_after_write
):
    """Inject a failure into ONE append of the tick's concurrent wave
    (before or after its write lands), replay the identical tick, and
    the state equals a control run that never failed."""
    import falcon_metrics_etl_spark.streaming.corpus_tick as CT
    from falcon_metrics_etl_spark.plans.bpe import (
        _byte_merges_df,
        byte_words_of,
    )

    docs = _docs(spark)
    base = docs.filter(F.col("doc_id") < 10)
    batch = docs.filter(
        (F.col("doc_id") >= 10) & (F.col("doc_id") < 16)
    )
    control = str(tmp_path / "control")
    victim = str(tmp_path / "victim")
    merges = _byte_merges_df(byte_words_of(base))
    CT.stage_corpus_state(spark, base, merges, control, batch_id=0)
    CT.stage_corpus_state(spark, base, merges, victim, batch_id=0)

    CT.corpus_ingest_tick(spark, batch, control, batch_id=1)

    real = run_concurrent
    waves = {"n": 0}

    def sabotaged(*thunks):
        ts = list(thunks)
        # the tick runs two 3-thunk waves: the LSH checkpoint wave,
        # then the append wave — sabotage only the SECOND
        waves["n"] += 1
        if waves["n"] != 2:
            return real(*ts)
        orig = ts[-1]

        def boom():
            if fail_after_write:
                orig()  # the append LANDS, then the wave reports failure
            raise RuntimeError("injected append failure")

        ts[-1] = boom
        return real(*ts)

    monkeypatch.setattr(CT, "run_concurrent", sabotaged)
    with pytest.raises(RuntimeError, match="injected"):
        CT.corpus_ingest_tick(spark, batch, victim, batch_id=1)
    monkeypatch.setattr(CT, "run_concurrent", real)

    # replay of the SAME (batch, batch_id): anti-join skips whatever
    # landed, fills whatever did not
    CT.corpus_ingest_tick(spark, batch, victim, batch_id=1)

    assert _state_multisets(spark, victim) == _state_multisets(
        spark, control
    )


def _new_threads(before):
    return [t for t in threading.enumerate() if t not in before]


def test_tick_state_joins_every_wave_before_raising(tmp_path):
    """Two waves: the first fails fast, the second is slow. Leaving
    the block waits for the second and raises the first's error; a
    failing block body also waits for its waves, then raises its own
    error."""
    done = []

    def fail_fast():
        raise RuntimeError("first")

    def slow_ok():
        time.sleep(0.3)
        done.append("slow")

    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="first"):
        with TickState(None, str(tmp_path), 1) as st:
            st.start(fail_fast)
            st.start(slow_ok)
    assert done == ["slow"]
    assert _new_threads(before) == []

    with pytest.raises(KeyError, match="body"):
        with TickState(None, str(tmp_path), 1) as st:
            st.start(slow_ok)
            raise KeyError("body")
    assert done == ["slow", "slow"]
    assert _new_threads(before) == []


def test_failed_trimodal_tick_stops_writers_and_replays(
    spark, tmp_path, monkeypatch
):
    """The trimodal tick's edge phase fails while the four band
    appends it started are running: no thread started during the call
    outlives it, and a replay of the same batch with the real edges
    lands state equal to a control run that never failed."""
    import falcon_metrics_etl_spark.plans.media_dedup as MD
    from falcon_metrics_etl_spark.streaming.cross_modal_tick import (
        stage_trimodal_state,
        trimodal_ingest_tick,
    )

    def docs(ids):
        return spark.createDataFrame([(i,) for i in ids], "doc_id long")

    base = docs([i for i in range(18) if i % 3])
    batch = docs([i for i in range(18) if i % 3 == 0])
    control = str(tmp_path / "control")
    victim = str(tmp_path / "victim")
    stage_trimodal_state(spark, base, control, batch_id=0)
    stage_trimodal_state(spark, base, victim, batch_id=0)
    trimodal_ingest_tick(spark, batch, control, batch_id=1)

    def boom(*_args, **_kwargs):
        raise RuntimeError("injected edges failure")

    real = MD.trimodal_edges_delta
    monkeypatch.setattr(MD, "trimodal_edges_delta", boom)
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="injected"):
        trimodal_ingest_tick(spark, batch, victim, batch_id=1)
    assert _new_threads(before) == []
    monkeypatch.setattr(MD, "trimodal_edges_delta", real)

    trimodal_ingest_tick(spark, batch, victim, batch_id=1)
    assert _state_multisets(spark, victim) == _state_multisets(
        spark, control
    )
