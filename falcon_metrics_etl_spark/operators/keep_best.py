"""Incremental keep-best resolution — the delta step of quality-scored
dedup (r11 verdict #2): given a batch of NEW docs, the maintained
index of ALL previously processed docs (kept AND dropped, each row
carrying the id of its cluster keeper), and the verified duplicate
edges touching the batch, decide per batch doc keep/drop and which
incumbent keepers the batch DISPLACES — such that the resulting keep
set equals the batch pipeline's connected-components + argmax
keep-best recomputed over the full corpus.

Why this is exact (the IVM argument, relied on by the oracled
``media_keep_best_delta`` / ``video_keep_best_delta`` twins in
plans/media_dedup.py):

- the index holds every processed doc with ``keep_id`` pointing at
  its cluster's current keeper, so mapping a matched old doc to its
  keeper lifts every delta edge onto the keeper graph;
- old clusters are maximal under old-old edges (each doc evaluated
  all its matches when IT was the delta), so a full-corpus cluster is
  exactly (old clusters bridged by delta docs) + (delta docs), and
  its quality argmax is the argmax over {bridging delta docs} ∪
  {bridged clusters' keepers} — precisely the nodes this resolution
  scores;
- connected components over the keeper-lifted delta edges therefore
  reproduce the full-corpus cluster merges, and the per-component
  argmax reproduces the full-corpus keeper.

Displaced keepers must then have every index row pointing at them
REPOINTED to the new winner (the caller's merge step) — that is what
keeps the invariant inductive across ticks.

Scale: every frame here is delta-sized (edges touch the batch by
construction; components run on the delta-touching subgraph only).
The index itself grows with the corpus, not the keep set — the price
of exactness, and the same trade the corpus tick's fp_index makes for
exact-dup canon.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from falcon_metrics_etl_spark.operators.components import (
    SMALL_GRAPH_EDGES,
    _unionfind_min_labels,
    duplicate_clusters,
)
from falcon_metrics_etl_spark.session import (
    capped_rows,
    local_frame,
    perf_checkpoint,
)


def _admit_all(new_q: DataFrame) -> tuple[DataFrame, DataFrame]:
    """No surviving edges: every batch doc keeps itself, nothing is
    displaced."""
    verdicts = new_q.select(
        "doc_id",
        F.col("doc_id").alias("keep_id"),
        F.lit(True).alias("is_kept"),
    )
    displaced = new_q.sparkSession.createDataFrame(
        [], "doc_id long, new_keep long"
    )
    return verdicts, displaced


def _resolve_on_driver(
    new_q: DataFrame,
    idx_q: DataFrame,
    edges: DataFrame,
    quality_cols: Sequence[str],
) -> tuple[DataFrame, DataFrame] | None:
    """The bounded resolve from driver data (see resolve_keep_best), or
    None when the raw edges or the batch rows pass the cap. Same
    semantics as the distributed path: endpoints lift through their
    index keeper (a null keeper lifts to the doc itself), only nodes
    with a quality row compete, the argmax compares the quality tuple
    DESC (null lowest, as Spark orders structs) and node ASC, and a
    displaced keeper is a beaten component node outside the batch."""
    raw = capped_rows(edges.select("id_a", "id_b"), SMALL_GRAPH_EDGES)
    if raw is None:
        return None
    batch = capped_rows(
        new_q.select("doc_id", *quality_cols), SMALL_GRAPH_EDGES
    )
    if batch is None:
        return None
    qual = {}
    for r in batch:
        qual.setdefault(r[0], tuple(r[1:]))
    keeper: dict = {}

    def read_index(ids, cols):
        # one isin-filtered scan; the filter pushes into every parquet
        # scan under idx_q, so no exchange
        if ids:
            yield from (
                idx_q.filter(F.col("doc_id").isin(sorted(ids)))
                .select("doc_id", *cols)
                .collect()
            )

    ends = {x for r in raw for x in r if x is not None}
    for r in read_index(ends, ["keep_id", *quality_cols]):
        keeper.setdefault(r[0], r[1])
        qual.setdefault(r[0], tuple(r[2:]))

    def lift(x):
        k = keeper.get(x)
        return x if k is None else k

    labels = _unionfind_min_labels((lift(a), lift(b)) for a, b in raw)
    for r in read_index({n for n, _ in labels} - qual.keys(), quality_cols):
        qual.setdefault(r[0], tuple(r[1:]))

    def rank(node):
        return tuple((v is not None, v) for v in qual[node]) + (-node,)

    best: dict = {}
    for node, label in labels:
        if node in qual and (label not in best or rank(node) > rank(best[label])):
            best[label] = node
    winner = {n: best[c] for n, c in labels if n in qual}
    batch_ids = [r[0] for r in batch]
    id_type = new_q.schema["doc_id"].dataType
    verdicts = local_frame(
        new_q.sparkSession,
        [("doc_id", id_type), ("keep_id", id_type), ("is_kept", BooleanType())],
        [(d, winner.get(d, d), winner.get(d, d) == d) for d in batch_ids],
    )
    in_batch = set(batch_ids)
    displaced = local_frame(
        new_q.sparkSession,
        [("doc_id", id_type), ("new_keep", id_type)],
        [(n, w) for n, w in winner.items() if n != w and n not in in_batch],
    )
    return verdicts, displaced


def resolve_keep_best(
    new_q: DataFrame,
    idx_q: DataFrame,
    edges: DataFrame,
    quality_cols: Sequence[str],
    bounded_batch: bool = False,
) -> tuple[DataFrame, DataFrame]:
    """Resolve one delta batch against the processed-doc index.

    new_q:  (doc_id, *quality_cols) — the batch docs' quality tuples.
    idx_q:  (doc_id, keep_id, *quality_cols) — ALL processed rows
            (kept and dropped; the current batch's own replayed rows
            excluded by the caller), keep_id = cluster keeper. On the
            ``bounded_batch`` path a doc MAY appear on several
            value-identical rows (per-frame index rows) — the bounded
            path dedupes the endpoint rows it reads, so callers need
            not (and should not) pre-shuffle the state to dedupe. The
            default path requires unique doc_id rows.
    edges:  (id_a, id_b) verified duplicate pairs, each touching at
            least one batch doc; either side may be a batch mate or an
            index doc, in either orientation. On the
            ``bounded_batch`` path pass them materialized (the ticks
            pass an eager checkpoint): its fallback reads them thrice.
    quality_cols: argmax priority order; each compared DESC, with
            doc_id ASC as the final tiebreak.

    Returns (verdicts, displaced):
    - verdicts: (doc_id, keep_id, is_kept) — one row per new_q doc;
      keep_id == doc_id for docs with no surviving match.
    - displaced: (doc_id, new_keep) — incumbent cluster keepers beaten
      by the component winner; the caller must repoint every index row
      whose keep_id is a displaced doc to new_keep and flag the doc.

    ``bounded_batch=True`` declares the delta bounded by a micro-batch
    contract — the streaming ticks' case — and resolves on the driver
    (``_resolve_on_driver``): one single-partition capped collect of
    the raw edges and one of the batch's quality rows, one
    ``isin``-filtered read of the endpoints' index rows (keepers and
    qualities; per-frame duplicate rows are folded on the driver, so
    callers need not pre-shuffle the state to dedupe), one more for
    any component member whose quality is still unknown, then the
    union-find and the argmax in Python. ``verdicts`` and
    ``displaced`` come back as Arrow-built local frames: the planner
    sizes them, and collecting them runs no job. ``SMALL_GRAPH_EDGES``
    bounds the raw edges and the batch rows, hence every driver list
    and ``isin`` literal; past it, the distributed path below runs with
    the keeper lift restricted to edge endpoints. The delta QUERIES
    (SF-proportional delta slice) keep the default path: their edge
    volume grows with the corpus.
    """
    rep = idx_q.select("doc_id", "keep_id")
    if bounded_batch:
        resolved = _resolve_on_driver(new_q, idx_q, edges, quality_cols)
        if resolved is not None:
            return resolved
        # past the cap (edges arrive materialized, see above).
        # No broadcast HINT on ids/rep: the endpoint set is bounded
        # by batch x bucket-occupancy, not by the batch alone (a hot
        # LSH bucket can make it state-proportional), so the join
        # strategy is left to AQE — it broadcasts the post-shuffle
        # stage when it measures small and degrades to a shuffle join
        # when it does not
        ids = (
            edges.select(F.col("id_a").alias("doc_id"))
            .unionByName(edges.select(F.col("id_b").alias("doc_id")))
            .distinct()
        )
        # dedupe AFTER the endpoint restriction (r16, guide §2.3):
        # bounded callers may pass idx_q with many value-identical
        # rows per doc (the ticks' frame indexes carry one row per
        # (doc, frame_dhash)) — deduping here keeps the shuffle
        # endpoint-sized instead of a state-wide Exchange+HashAgg per
        # tick. Values are identical across a doc's rows by the index
        # append/repoint contract, so the arbitrary pick is
        # value-deterministic; without the dedupe the keeper lift
        # below would multiply edge rows per duplicate.
        rep = rep.join(ids, "doc_id", "left_semi").dropDuplicates(
            ["doc_id"]
        )
    # lift old endpoints to their cluster keepers; batch docs (absent
    # from idx_q) stay themselves. Self-loops (a replayed batch doc
    # matching rows that already point at it) drop out here.
    rep_a = rep.select(
        F.col("doc_id").alias("id_a"), F.col("keep_id").alias("rep_a")
    )
    rep_b = rep.select(
        F.col("doc_id").alias("id_b"), F.col("keep_id").alias("rep_b")
    )
    e = (
        edges.join(rep_a, "id_a", "left")
        .join(rep_b, "id_b", "left")
        .select(
            F.coalesce("rep_a", F.col("id_a")).alias("id_a"),
            F.coalesce("rep_b", F.col("id_b")).alias("id_b"),
        )
        .filter(F.col("id_a") != F.col("id_b"))
    )
    # materialize the (delta-sized) edge list once: it feeds the
    # empty-graph short circuit AND the component loop. A batch of
    # fresh content has no edges at all — skip the iterative
    # clustering (several jobs) and admit everything.
    e = e.localCheckpoint(eager=True)
    if e.isEmpty():
        return _admit_all(new_q)
    comp = duplicate_clusters(e).select("node", "cluster_id")
    # quality of every component node: batch docs from new_q, keepers
    # from the index; a doc present in both (a re-sent doc in a fresh
    # batch) decodes to identical values, so the dedup pick is safe.
    # The per-doc dedupe runs AFTER the comp join: comp is the
    # delta-touching subgraph (tiny), so joining first restricts the
    # dedupe shuffle to component members instead of re-shuffling the
    # whole maintained index every batch — same rows by the
    # identical-values argument above.
    qual = new_q.select("doc_id", *quality_cols).unionByName(
        idx_q.select("doc_id", *quality_cols)
    )
    members = (
        comp.join(qual, comp["node"] == qual["doc_id"])
        .dropDuplicates(["node"])
        .select("node", "cluster_id", *quality_cols)
    )
    best = F.max(
        F.struct(
            *[F.col(c) for c in quality_cols],
            (-F.col("node")).alias("negid"),
        )
    ).over(Window.partitionBy("cluster_id"))
    # winners is delta-sized (one row per node of the delta-touching
    # subgraph) and feeds BOTH outputs; without the checkpoint,
    # Catalyst inlines the whole members/window subtree once per
    # consumer — the verdicts copy and the displaced copy each carried
    # their own join+window Exchanges (the r13 plan audit's dominant
    # shuffle source on the *_keep_best_delta twins)
    winners = perf_checkpoint(
        members.withColumn("winner", -best.getField("negid")).select(
            "node", "winner"
        )
    )
    verdicts = (
        new_q.select("doc_id")
        .join(
            winners.select(F.col("node").alias("doc_id"), "winner"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("winner", F.col("doc_id")).alias("keep_id"),
            (
                F.coalesce("winner", F.col("doc_id")) == F.col("doc_id")
            ).alias("is_kept"),
        )
    )
    displaced = (
        winners.filter(F.col("node") != F.col("winner"))
        .join(
            new_q.select(F.col("doc_id").alias("node")), "node", "left_anti"
        )
        .select(F.col("node").alias("doc_id"), F.col("winner").alias("new_keep"))
    )
    return verdicts, displaced
