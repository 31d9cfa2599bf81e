"""Streaming/incremental tests: cursor guard (ST1/A8), recompute-
changed-items (ST3), foreachBatch MERGE idempotency across restart
(ST2), watermarked tumbling windows (ST7)."""

from __future__ import annotations

import time

from pyspark.sql import functions as F

from falcon_metrics_etl_spark.streaming import (
    advance_cursor,
    foreach_batch_merge,
    load_cursor,
    run_incremental_batch,
    stream_windowed_counts,
)

REV_SCHEMA = "work_item_id string, revision int, state string, updated string"


def _revs(spark, rows):
    return spark.createDataFrame(rows, REV_SCHEMA).withColumn(
        "updated", F.to_timestamp("updated")
    )


def test_cursor_roundtrip_and_guard(spark, tmp_path):
    path = str(tmp_path / "cursors")
    assert load_cursor(spark, path, "o1", "ds1") is None
    batch = _revs(spark, [("W-1", 1, "todo", "2024-01-10 12:00:00")])
    c1 = advance_cursor(spark, path, "o1", "ds1", batch)
    assert str(c1).startswith("2024-01-10")
    # an older batch must NOT move the cursor backwards
    older = _revs(spark, [("W-2", 1, "todo", "2023-12-01 00:00:00")])
    c2 = advance_cursor(spark, path, "o1", "ds1", older)
    assert c2 == c1
    # empty batch leaves it unchanged
    empty = _revs(spark, []) if False else batch.filter(F.lit(False))
    assert advance_cursor(spark, path, "o1", "ds1", empty) == c1
    # per-datasource isolation
    assert load_cursor(spark, path, "o1", "ds2") is None


def test_incremental_recomputes_full_history_of_changed_items(spark, tmp_path):
    sink = str(tmp_path / "states")
    cursors = str(tmp_path / "cursors")

    def latest_state(histories):
        # derived value that NEEDS the full history: last state by revision
        return (
            histories.groupBy("work_item_id")
            .agg(
                F.max_by("state", "revision").alias("state"),
                F.count(F.lit(1)).alias("n_revisions"),
                F.max("updated").alias("updated"),
            )
        )

    t0 = _revs(
        spark,
        [
            ("W-1", 1, "todo", "2024-01-01 00:00:00"),
            ("W-1", 2, "doing", "2024-01-02 00:00:00"),
            ("W-2", 1, "todo", "2024-01-03 00:00:00"),
        ],
    )
    n = run_incremental_batch(
        spark, t0, latest_state, sink, ("work_item_id",), cursors
    )
    assert n == 2
    # W-1 gets a new revision; W-2 untouched
    t1 = t0.unionByName(
        _revs(spark, [("W-1", 3, "done", "2024-01-05 00:00:00")])
    )
    n = run_incremental_batch(
        spark, t1, latest_state, sink, ("work_item_id",), cursors
    )
    assert n == 1  # only W-1 recomputed
    got = {
        r["work_item_id"]: (r["state"], r["n_revisions"])
        for r in spark.read.parquet(sink).collect()
    }
    # W-1 recomputed from its FULL 3-revision history, not just the delta
    assert got == {"W-1": ("done", 3), "W-2": ("todo", 1)}
    # no changes -> no-op tick
    assert (
        run_incremental_batch(
            spark, t1, latest_state, sink, ("work_item_id",), cursors
        )
        == 0
    )


def test_incremental_observe_run_stats(spark, tmp_path):
    """A9 run stats via Observation: counters ride the write action."""
    sink = str(tmp_path / "states")
    cursors = str(tmp_path / "cursors")

    def latest_state(histories):
        return histories.groupBy("work_item_id").agg(
            F.max_by("state", "revision").alias("state"),
            F.max("updated").alias("updated"),
        )

    t0 = _revs(
        spark,
        [
            ("W-1", 1, "todo", "2024-01-01 00:00:00"),
            ("W-2", 1, "todo", "2024-01-03 00:00:00"),
        ],
    )
    stats: dict = {}
    n = run_incremental_batch(
        spark, t0, latest_state, sink, ("work_item_id",), cursors,
        stats_out=stats,
    )
    assert n == 2
    assert stats["rows_written"] == 2
    assert str(stats["updated_min"]).startswith("2024-01-01")
    assert str(stats["updated_max"]).startswith("2024-01-03")
    # whale telemetry rides every monitored tick: the data-model bound
    # (histories ~10^2-10^3 revisions) is measured, not assumed
    assert stats["max_history_len"] == 1
    assert stats["n_whales"] == 0
    assert stats["n_null_key_whales"] == 0


def test_incremental_stats_report_manufactured_whale(spark, tmp_path):
    """A manufactured >10k-revision item trips the per-tick whale
    telemetry (n_whales/max_history_len in stats_out) while the
    transform path stays unchanged — monitoring, not routing."""
    from falcon_metrics_etl_spark.operators.event_dates import (
        WHALE_HISTORY_REVISIONS,
    )

    sink = str(tmp_path / "states")
    cursors = str(tmp_path / "cursors")
    n_rev = WHALE_HISTORY_REVISIONS + 1

    def latest_state(histories):
        return histories.groupBy("work_item_id").agg(
            F.max_by("state", "revision").alias("state"),
            F.max("updated").alias("updated"),
        )

    whale = spark.range(n_rev).select(
        F.lit("W-whale").alias("work_item_id"),
        F.col("id").cast("int").alias("revision"),
        F.lit("busy").alias("state"),
        (
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(secs=F.col("id").cast("int"))
        ).alias("updated"),
    )
    stats: dict = {}
    n = run_incremental_batch(
        spark, whale, latest_state, sink, ("work_item_id",), cursors,
        stats_out=stats,
    )
    assert n == 1
    assert stats["rows_written"] == 1
    assert stats["max_history_len"] == n_rev
    assert stats["n_whales"] == 1
    assert stats["n_null_key_whales"] == 0


EVENTS_SCHEMA = "event_id long, ts timestamp, event_type string"


def _write_events(spark, path, rows, mode="append"):
    spark.createDataFrame(
        rows, "event_id long, ts string, event_type string"
    ).withColumn("ts", F.to_timestamp("ts")).coalesce(1).write.mode(
        mode
    ).parquet(path)


def _drain(q):
    q.awaitTermination(120)
    assert not q.isActive


def test_stream_foreach_batch_merge_idempotent_restart(spark, tmp_path):
    src = str(tmp_path / "events_src")
    sink = str(tmp_path / "counts")
    ckpt = str(tmp_path / "ckpt")
    _write_events(
        spark,
        src,
        [
            (1, "2024-01-01 10:00:00", "click"),
            (2, "2024-01-01 11:00:00", "click"),
            (3, "2024-01-01 12:00:00", "view"),
        ],
    )
    agg = stream_windowed_counts(spark, src, EVENTS_SCHEMA)
    q = foreach_batch_merge(
        agg, sink, keys=("window_start", "event_type"), checkpoint_dir=ckpt
    )
    _drain(q)
    got = {
        (str(r["window_start"])[:10], r["event_type"]): r["n_events"]
        for r in spark.read.parquet(sink).collect()
    }
    assert got == {("2024-01-01", "click"): 2, ("2024-01-01", "view"): 1}

    # restart with the same checkpoint and new data: counts UPDATE
    # in place (merge on window+type), prior state not duplicated
    _write_events(spark, src, [(4, "2024-01-01 13:00:00", "click"),
                               (5, "2024-01-02 09:00:00", "view")])
    agg2 = stream_windowed_counts(spark, src, EVENTS_SCHEMA)
    q2 = foreach_batch_merge(
        agg2, sink, keys=("window_start", "event_type"), checkpoint_dir=ckpt
    )
    _drain(q2)
    got = {
        (str(r["window_start"])[:10], r["event_type"]): r["n_events"]
        for r in spark.read.parquet(sink).collect()
    }
    assert got == {
        ("2024-01-01", "click"): 3,
        ("2024-01-01", "view"): 1,
        ("2024-01-02", "view"): 1,
    }


# ---------------------------------------------------- ST7 session windows

USERS_SCHEMA = "event_id long, ts string, user_id string"


def _write_user_events(spark, path, rows, mode="append"):
    spark.createDataFrame(rows, USERS_SCHEMA).withColumn(
        "ts", F.to_timestamp("ts")
    ).coalesce(1).write.mode(mode).parquet(path)


def test_stream_session_counts_builtin(spark, tmp_path):
    """session_window aggregations are append-mode: closed sessions
    emit once the watermark passes them, so a second drain with late
    data flushes the first run's sessions."""
    from falcon_metrics_etl_spark.streaming import stream_session_counts

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")

    def run():
        agg = stream_session_counts(
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id string"
            ).parquet(src)
        )
        q = foreach_batch_merge(
            agg, sink, keys=("user_id", "session_start"),
            checkpoint_dir=ckpt, output_mode="append",
        )
        _drain(q)

    _write_user_events(spark, src, [
        (1, "2024-01-01 10:00:00", "A"),
        (2, "2024-01-01 10:10:00", "A"),   # same session (gap 30m)
        (3, "2024-01-01 12:00:00", "A"),   # new session
        (4, "2024-01-01 10:05:00", "B"),
    ])
    run()
    # day-3 event -> watermark (1 day lag) passes every day-1 session
    _write_user_events(spark, src, [(5, "2024-01-03 09:00:00", "A")])
    run()
    got = {
        (r["user_id"], str(r["session_start"])): r["n_events"]
        for r in spark.read.parquet(sink).collect()
    }
    assert got == {
        ("A", "2024-01-01 10:00:00"): 2,
        ("A", "2024-01-01 12:00:00"): 1,
        ("B", "2024-01-01 10:05:00"): 1,
    }


def test_stream_sessionize_stateful_closes_on_gap_and_timeout(spark, tmp_path):
    """Custom state survives a checkpointed restart: run 1 leaves open
    sessions in state; run 2's later events close A's first session via
    the gap rule, and the advancing watermark times out B's session
    with no new B events at all."""
    from falcon_metrics_etl_spark.streaming import stream_sessionize_stateful

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = stream_sessionize_stateful(
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id string"
            ).parquet(src),
            gap_seconds=1800,
            watermark="10 minutes",
        )
        q = foreach_batch_merge(
            stream, sink, keys=("user_id", "session_start"),
            checkpoint_dir=ckpt, output_mode="append",
        )
        _drain(q)

    _write_user_events(spark, src, [
        (1, "2024-01-01 10:00:00", "A"),
        (2, "2024-01-01 10:10:00", "A"),
        (3, "2024-01-01 10:05:00", "B"),
    ])
    run()
    # both sessions still open -> nothing emitted, sink never created
    import os

    assert not os.path.exists(sink)

    _write_user_events(spark, src, [
        (4, "2024-01-01 13:00:00", "A"),   # > gap: closes A's 10:00 session
        (5, "2024-01-01 23:00:00", "A"),   # drives watermark far forward
    ])
    run()
    got = {
        (r["user_id"], str(r["session_start"])): (
            str(r["session_end"]), r["n_events"]
        )
        for r in spark.read.parquet(sink).collect()
    }
    assert got[("A", "2024-01-01 10:00:00")] == ("2024-01-01 10:10:00", 2)
    # B emitted by event-time timeout despite no new B events
    assert got[("B", "2024-01-01 10:05:00")] == ("2024-01-01 10:05:00", 1)


def test_stream_dedupe_within_watermark(spark, tmp_path):
    from falcon_metrics_etl_spark.streaming import stream_dedupe

    src = str(tmp_path / "src")
    sink = str(tmp_path / "deduped")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = stream_dedupe(
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id string"
            ).parquet(src),
            keys=["event_id"],
        )
        q = foreach_batch_merge(
            stream, sink, keys=("event_id",), checkpoint_dir=ckpt,
            output_mode="append",
        )
        _drain(q)

    _write_user_events(spark, src, [
        (1, "2024-01-01 10:00:00", "A"),
        (1, "2024-01-01 10:00:00", "A"),   # same-batch duplicate
        (2, "2024-01-01 11:00:00", "B"),
    ])
    run()
    # redelivery in a later batch, still within the watermark horizon
    _write_user_events(spark, src, [
        (1, "2024-01-01 10:00:00", "A"),
        (3, "2024-01-01 12:00:00", "A"),
    ])
    run()
    rows = spark.read.parquet(sink).collect()
    assert sorted(r["event_id"] for r in rows) == [1, 2, 3]


def test_ingest_control_math():
    """ST5/ST6 control math (extract_utils.ts:17-38, 67-85)."""
    from falcon_metrics_etl_spark.streaming.controls import (
        is_time_to_quit,
        next_batch_size,
    )

    assert next_batch_size(100, +1) == 110
    assert next_batch_size(100, -1) == 90
    assert next_batch_size(2000, +1) == 2000   # clamp keeps current
    assert next_batch_size(10, -1) == 10
    assert next_batch_size(1995, +1) == 1995   # out-of-range step: no-op

    start = 1_000_000
    five_min = 5 * 60_000
    assert is_time_to_quit(start, 5, start + five_min - 30_000) is True
    assert is_time_to_quit(start, 5, start + five_min - 30_001) is False


def test_stream_stream_interval_join(spark, tmp_path):
    """ST8 depth: two file streams joined on key within an event-time
    interval; watermarks on both sides bound the buffered state."""
    from falcon_metrics_etl_spark.streaming.windows import (
        stream_stream_interval_join,
    )

    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    spark.createDataFrame(
        [(1, "2024-01-01 10:00:00", "deploy-a"),
         (2, "2024-01-01 11:00:00", "deploy-b")],
        "user_id long, ts string, name string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(ldir)
    spark.createDataFrame(
        [(1, "2024-01-01 10:05:00", "error-1"),   # within 15 min of deploy-a
         (1, "2024-01-01 10:20:00", "error-2"),   # outside the window
         (2, "2024-01-01 11:10:00", "error-3"),   # within window of deploy-b
         (3, "2024-01-01 10:05:00", "error-4")],  # no matching deploy
        "user_id long, ts string, name string",
    ).withColumn("ts", F.col("ts").cast("timestamp")).write.parquet(rdir)

    schema = "user_id long, ts timestamp, name string"
    left = spark.readStream.schema(schema).parquet(ldir)
    right = spark.readStream.schema(schema).parquet(rdir)
    joined = stream_stream_interval_join(left, right, "user_id")

    out = str(tmp_path / "out")
    q = (
        joined.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.l_name, r.r_name) for r in spark.read.parquet(out).collect()
    }
    assert got == {("deploy-a", "error-1"), ("deploy-b", "error-3")}


def test_stream_sessionize_stateful_late_events(spark, tmp_path):
    """Late cross-batch events: within gap BEFORE the open session's
    start they extend it backward; more than gap before they emit as
    their own closed singleton session immediately."""
    from falcon_metrics_etl_spark.streaming import stream_sessionize_stateful

    src = str(tmp_path / "src")
    sink = str(tmp_path / "sessions")
    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = stream_sessionize_stateful(
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id string"
            ).parquet(src),
            gap_seconds=1800,
            watermark="1 day",
        )
        q = foreach_batch_merge(
            stream, sink, keys=("user_id", "session_start"),
            checkpoint_dir=ckpt, output_mode="append",
        )
        _drain(q)

    _write_user_events(spark, src, [
        (1, "2024-01-01 10:00:00", "A"),
        (2, "2024-01-01 10:05:00", "A"),
    ])
    run()
    _write_user_events(spark, src, [
        (3, "2024-01-01 09:45:00", "A"),   # within gap before start: extends
        (4, "2024-01-01 07:00:00", "A"),   # > gap before start: own session
        (5, "2024-01-02 23:50:00", "A"),   # closes the open session by gap
    ])
    run()
    got = {
        (r["user_id"], str(r["session_start"])): (
            str(r["session_end"]), r["n_events"]
        )
        for r in spark.read.parquet(sink).collect()
    }
    # the far-late event emitted as its own singleton session
    assert got[("A", "2024-01-01 07:00:00")] == ("2024-01-01 07:00:00", 1)
    # the open session was extended backward to 09:45 before closing
    assert got[("A", "2024-01-01 09:45:00")] == ("2024-01-01 10:05:00", 3)


def test_substring_admission_filter_across_batches(spark, tmp_path):
    """The streaming admission filter: batch 2's copy of a batch-1
    passage scores seen_ratio 1.0 against the maintained index; a
    replayed batch changes nothing (idempotent flags MERGE + anti-join
    index append); and the foreachBatch wiring drains a real stream."""
    from pyspark.sql import functions as F

    from falcon_metrics_etl_spark.streaming.admission import (
        stream_substring_admission,
        substring_admission_batch,
    )

    idx = str(tmp_path / "index")
    out = str(tmp_path / "flags")
    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b1 = spark.createDataFrame(
        [(1, passage), (2, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    substring_admission_batch(spark, b1, idx, out, batch_id=1)
    r1 = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    # empty index at batch 1: nothing seen
    assert r1[1]["n_seen"] == 0 and r1[2]["n_seen"] == 0

    # batch 2: doc 3 repeats doc 1's passage verbatim; doc 4 is fresh
    b2 = spark.createDataFrame(
        [(3, passage), (4, "red orange yellow green blue indigo violet x")],
        "doc_id long, text string",
    )
    substring_admission_batch(spark, b2, idx, out, batch_id=2)
    r2 = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert r2[3]["seen_ratio"] == 1.0
    assert r2[4]["n_seen"] == 0
    assert set(r2) == {1, 2, 3, 4}

    # replay batch 2: flags identical, index does not grow
    n_idx = spark.read.parquet(idx).count()
    substring_admission_batch(spark, b2, idx, out, batch_id=2)
    r3 = {r["doc_id"]: r.asDict() for r in spark.read.parquet(out).collect()}
    assert r3 == {k: v.asDict() for k, v in r2.items()}
    assert spark.read.parquet(idx).count() == n_idx

    # end-to-end stream wiring over a parquet file source
    src = str(tmp_path / "src")
    b5 = spark.createDataFrame(
        [(5, passage)], "doc_id long, text string"
    )
    b5.write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = stream_substring_admission(
        stream, idx, out, str(tmp_path / "ckpt")
    )
    q.awaitTermination()
    r4 = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert r4[5]["seen_ratio"] == 1.0  # sees batches 1-2's index


def test_substring_admission_rejects_cross_batch_redelivery(spark, tmp_path):
    """The flags table is partitioned by batch_id with a doc_id MERGE
    key, so a key must never migrate partitions: a doc_id arriving
    under a DIFFERENT batch_id than the one that admitted it is a
    source-contract violation the sink refuses loudly (the old flags
    row would otherwise survive in its old partition as a duplicate).
    Same-batch replays (the Structured Streaming redelivery shape)
    remain idempotent — covered above."""
    import pytest

    from falcon_metrics_etl_spark.streaming.admission import (
        substring_admission_batch,
    )

    idx = str(tmp_path / "index")
    out = str(tmp_path / "flags")
    b1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta iota")],
        "doc_id long, text string",
    )
    substring_admission_batch(spark, b1, idx, out, batch_id=1)
    with pytest.raises(ValueError, match="re-delivered under a new batch_id"):
        substring_admission_batch(spark, b1, idx, out, batch_id=9)
    # the refused merge wrote nothing: doc 1 still has exactly one row
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1 and rows[0]["batch_id"] == 1


def test_session_merge_loop_shared_by_both_state_apis():
    """_merge_session_events is the single merge loop behind BOTH
    stateful sessionizers (applyInPandasWithState, integration-tested
    above, and the Spark 4 transformWithState twin, which this
    container cannot execute — see the gated test below). Pin its
    semantics directly: gap close, backward extension within gap,
    pre-session singleton, empty-state bootstrap."""
    import pandas as pd

    from falcon_metrics_etl_spark.streaming.windows import (
        _merge_session_events,
    )

    gap_us = 1800 * 1_000_000
    us = lambda s: int(pd.Timestamp(s).value // 1000)

    # bootstrap + extension + gap close
    closed, st, en, n = _merge_session_events(
        "A",
        [us("2024-01-01 10:00:00"), us("2024-01-01 10:10:00"),
         us("2024-01-01 13:00:00")],
        -1, -1, 0, gap_us,
    )
    assert [(c[0], str(c[1]), str(c[2]), c[3]) for c in closed] == [
        ("A", "2024-01-01 10:00:00", "2024-01-01 10:10:00", 2)
    ]
    assert (st, en, n) == (us("2024-01-01 13:00:00"),
                           us("2024-01-01 13:00:00"), 1)

    # backward extension: late event within gap BEFORE start extends
    closed, st, en, n = _merge_session_events(
        "A", [us("2024-01-01 12:40:00")],
        us("2024-01-01 13:00:00"), us("2024-01-01 13:00:00"), 1, gap_us,
    )
    assert closed == [] and st == us("2024-01-01 12:40:00") and n == 2

    # pre-session singleton: late event more than gap before start
    closed, st, en, n = _merge_session_events(
        "A", [us("2024-01-01 08:00:00")],
        us("2024-01-01 13:00:00"), us("2024-01-01 13:00:00"), 1, gap_us,
    )
    assert [(c[0], str(c[1]), c[3]) for c in closed] == [
        ("A", "2024-01-01 08:00:00", 1)
    ]
    assert st == us("2024-01-01 13:00:00") and n == 1


def test_stream_sessionize_tws_parity_with_group_state(spark, tmp_path):
    """Spark 4 transformWithState sessionizer == the GroupState twin
    on identical input. GATED: transformWithStateInPandas speaks
    protobuf between the Python worker and the JVM state server, and
    google.protobuf is not installed in this container (no-install
    policy) — the wiring is real public-API code; its merge loop is
    the SAME _merge_session_events the integration-tested GroupState
    path runs (pinned by the unit test above)."""
    import pytest

    pytest.importorskip(
        "google.protobuf",
        reason="transformWithState state protocol needs protobuf "
        "(not in this container; no-install policy)",
    )

    from falcon_metrics_etl_spark.streaming import (
        stream_sessionize_stateful,
        stream_sessionize_tws,
    )

    if stream_sessionize_tws is None:
        pytest.skip("pyspark < 4: no transformWithState")

    src = str(tmp_path / "src")
    rows1 = [
        (1, "2024-01-01 10:00:00", "A"),
        (2, "2024-01-01 10:10:00", "A"),
        (3, "2024-01-01 10:05:00", "B"),
    ]
    rows2 = [
        (4, "2024-01-01 13:00:00", "A"),   # > gap: closes A's first
        (5, "2024-01-01 23:00:00", "A"),   # watermark -> times out B
    ]
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    results = {}
    for name, builder, provider in (
        ("gs", stream_sessionize_stateful, None),
        ("tws", stream_sessionize_tws, rocks),
    ):
        sink = str(tmp_path / f"sink_{name}")
        ckpt = str(tmp_path / f"ckpt_{name}")
        _write_user_events(spark, src, rows1, mode="overwrite")
        old = spark.conf.get(
            "spark.sql.streaming.stateStore.providerClass", None
        )
        if provider:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", provider
            )
        try:
            def run():
                stream = builder(
                    spark.readStream.schema(
                        "event_id long, ts timestamp, user_id string"
                    ).parquet(src),
                    gap_seconds=1800,
                    watermark="10 minutes",
                )
                q = (
                    stream.writeStream.format("parquet")
                    .option("path", sink)
                    .option("checkpointLocation", ckpt)
                    .outputMode("append")
                    .trigger(availableNow=True)
                    .start()
                )
                _drain(q)

            run()
            _write_user_events(spark, src, rows2)
            run()
        finally:
            if provider:
                if old is None:
                    spark.conf.unset(
                        "spark.sql.streaming.stateStore.providerClass"
                    )
                else:
                    spark.conf.set(
                        "spark.sql.streaming.stateStore.providerClass", old
                    )
        results[name] = {
            (r["user_id"], str(r["session_start"])): (
                str(r["session_end"]), r["n_events"]
            )
            for r in spark.read.parquet(sink).collect()
        }

    assert results["tws"] == results["gs"]
    assert results["tws"][("A", "2024-01-01 10:00:00")] == (
        "2024-01-01 10:10:00", 2,
    )


def test_stream_windowed_daily_structure(spark, tmp_path):
    """Re-baseline of the stream_windowed_daily bench entry (r10
    verdict #5): the wall time drifted ~2x across rounds with
    byte-identical code and plan (fresh checkpoint + state store +
    commit log per run, AQE off in stateful mode — all environment),
    so round-over-round claims now ride on STRUCTURE, pinned here:
    ONE availableNow micro-batch drains the whole events file, input
    rows equal the table's count, the state store holds exactly one
    row per (day window, event_type) group, and the update-mode sink
    emits each group exactly once. Wall time carries a documented
    1.0-4.5s band at sf0.1 (bench payload's "bands"; SCALE.md r11)."""
    from falcon_metrics_etl_spark.sources import load_table
    from falcon_metrics_etl_spark.streaming.jobs import (
        stream_events,
        stream_windowed_counts,
    )

    sf = "/root/testdata/sf0.001"
    agg = stream_windowed_counts(
        spark, "", "", source=stream_events(spark, sf)
    )
    q = (
        agg.writeStream.format("noop")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = [p for p in q.recentProgress if p.numInputRows > 0]

    events = load_table(spark, sf, "events")
    n_rows = events.count()
    n_groups = (
        events.select(
            F.window("ts", "1 day").alias("win"), "event_type"
        )
        .distinct()
        .count()
    )
    assert len(progress) == 1, "availableNow must drain in ONE batch"
    p = progress[0]
    assert p.numInputRows == n_rows
    state = p.stateOperators[0]
    assert state["numRowsTotal"] == n_groups
    assert p.sink["numOutputRows"] == n_groups


def test_admission_flags_pinned_read_returns_every_partition(spark, tmp_path):
    """The redelivery probe reads the batch_id-partitioned flags table
    with ADMISSION_FLAGS_SCHEMA pinned (no footer-inference job); over a
    two-partition table that read returns every row, partition column
    included, as the inferring read does."""
    from falcon_metrics_etl_spark.state import read_state
    from falcon_metrics_etl_spark.streaming.admission import (
        ADMISSION_FLAGS_SCHEMA,
        substring_admission_batch,
    )

    idx = str(tmp_path / "index")
    out = str(tmp_path / "flags")
    passage = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    for bid, rows in (
        (1, [(1, passage), (2, "one two three four five six seven eight")]),
        (2, [(3, passage)]),
    ):
        substring_admission_batch(
            spark, spark.createDataFrame(rows, "doc_id long, text string"),
            idx, out, batch_id=bid,
        )
    pinned = read_state(spark, out, schema=ADMISSION_FLAGS_SCHEMA)
    assert pinned.dtypes == [
        ("doc_id", "bigint"), ("n_windows", "bigint"), ("n_seen", "bigint"),
        ("seen_ratio", "double"), ("batch_id", "bigint"),
    ]
    got = sorted(tuple(sorted(r.asDict().items())) for r in pinned.collect())
    assert got == sorted(
        tuple(sorted(r.asDict().items()))
        for r in spark.read.parquet(out).collect()
    )
    assert sorted(dict(r)["batch_id"] for r in got) == [1, 1, 2]
