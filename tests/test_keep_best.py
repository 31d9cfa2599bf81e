"""resolve_keep_best's bounded resolve (operators/keep_best.py): the
driver resolve must give the distributed path's verdicts and
displaced keepers on any graph, and the distributed fallback past
SMALL_GRAPH_EDGES must keep both ticks equal to their batch closures.

Random cases are seeded: a staged index of clusters (every row
pointing at its keeper, some rows repeated as per-frame index rows
are), a batch of new docs plus one re-sent index doc, qualities drawn
from a tiny range with nulls so ties and the node ASC tiebreak
decide, and edges that touch the batch — one of them between two
docs of the re-sent doc's cluster, so both ends lift to one keeper."""

from __future__ import annotations

import random

import pytest

from falcon_metrics_etl_spark.operators import keep_best
from falcon_metrics_etl_spark.operators.keep_best import resolve_keep_best

NEW_Q = "doc_id long, q1 long, q2 long"
IDX_Q = "doc_id long, keep_id long, q1 long, q2 long"
EDGES = "id_a long, id_b long"


def _case(seed: int, n_old: int = 12, n_new: int = 4, n_edges: int = 7):
    rng = random.Random(seed)
    qual, keep = {}, {}
    for d in range(n_old):
        keepers = [x for x in range(d) if keep[x] == x]
        keep[d] = d if not keepers or rng.random() < 0.4 else rng.choice(keepers)
        qual[d] = (rng.randint(0, 2), rng.choice([None, 0, 1]))
    resent = rng.randrange(n_old)
    new = list(range(100, 100 + n_new))
    for d in new:
        qual[d] = (rng.randint(0, 2), rng.choice([None, 0, 1]))
    batch = new + [resent]
    idx = [
        (d, keep[d], *qual[d])
        for d in range(n_old)
        for _ in range(rng.randint(1, 3))
    ]
    edges = set()
    while len(edges) < n_edges:
        a, b = rng.choice(batch), rng.choice(batch + list(range(n_old)))
        if a != b:
            edges.add((a, b) if rng.random() < 0.5 else (b, a))
    mates = [d for d in range(n_old) if keep[d] == keep[resent] and d != resent]
    if mates:
        edges.add((resent, rng.choice(mates)))
    return [(d, *qual[d]) for d in batch], idx, sorted(edges)


def _resolve(spark, new_q, idx, edges, bounded):
    if not bounded:
        # the default path requires one index row per doc
        idx = sorted(set(idx))
    verdicts, displaced = resolve_keep_best(
        spark.createDataFrame(new_q, NEW_Q),
        spark.createDataFrame(idx, IDX_Q),
        spark.createDataFrame(edges, EDGES),
        ["q1", "q2"],
        bounded_batch=bounded,
    )
    return (
        sorted(tuple(r) for r in verdicts.collect()),
        sorted(tuple(r) for r in displaced.collect()),
    )


@pytest.mark.parametrize("seed", range(6))
def test_driver_resolve_equals_distributed(spark, seed):
    new_q, idx, edges = _case(seed)
    want = _resolve(spark, new_q, idx, edges, bounded=False)
    assert _resolve(spark, new_q, idx, edges, bounded=True) == want
    assert any(k != d for d, k, _ in want[0]) or want[1], "no merge planted"


def test_driver_resolve_without_surviving_edges(spark):
    """No edges at all, and edges that all lift to one keeper: every
    batch doc keeps itself and nothing is displaced, on both paths."""
    new_q, idx, _ = _case(0)
    resent = new_q[-1][0]
    keeper = next(k for d, k, *_ in idx if d == resent)
    lifted_away = [(resent, keeper)] if keeper != resent else []
    for edges in ([], lifted_away):
        want = _resolve(spark, new_q, idx, edges, bounded=False)
        assert _resolve(spark, new_q, idx, edges, bounded=True) == want
        assert want == (sorted((d, d, True) for d, *_ in new_q), [])


def test_distributed_fallback_keeps_ticks_equal_batch(
    spark, tmp_path, monkeypatch
):
    """With the cap at 0 every bounded resolve that sees an edge takes
    the distributed fallback; the trimodal and the media tick still
    land their batch closures."""
    import test_cross_modal_tick as CM
    import test_media_tick as MT

    from falcon_metrics_etl_spark.streaming.cross_modal_tick import (
        stage_trimodal_state,
        trimodal_ingest_tick,
    )
    from falcon_metrics_etl_spark.streaming.media_tick import (
        media_ingest_tick,
        stage_media_state,
    )

    calls = []
    clusters = keep_best.duplicate_clusters
    monkeypatch.setattr(keep_best, "SMALL_GRAPH_EDGES", 0)
    monkeypatch.setattr(
        keep_best, "duplicate_clusters",
        lambda e: calls.append(1) or clusters(e),
    )

    state = str(tmp_path / "cm3")
    stage_trimodal_state(spark, CM._docs(spark, CM.BASE_IDS), state, batch_id=0)
    trimodal_ingest_tick(spark, CM._docs(spark, CM.DELTA_IDS), state, batch_id=1)
    assert calls
    expect = CM._batch_expect3(spark, CM.ALL_IDS)
    assert CM._keeps3(spark, state) == {n: k for n, (k, _) in expect.items()}

    calls.clear()
    state = str(tmp_path / "media")
    stage_media_state(spark, MT._docs(spark, MT.BASE_IDS), state, batch_id=0)
    media_ingest_tick(spark, MT._docs(spark, MT.DELTA_IDS), state, batch_id=1)
    assert calls
    assert MT._fp_keep_ids(spark, state) == {
        d: k for d, (k, _) in MT._batch_image_expect(spark, MT.ALL_IDS).items()
    }
    assert MT._frame_keep_ids(spark, state) == {
        d: k for d, (k, _) in MT._batch_video_expect(spark, MT.ALL_IDS).items()
    }
