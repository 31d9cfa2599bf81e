"""Streaming corpus-admission filter — the substring-dedup index
maintained ACROSS micro-batches (ST2/ST3 composition of the r6
substring family; batch twin: plans/text_pipeline.py
``substring_incremental_flags``).

Every arriving document batch is scored against the window-hash index
of everything admitted so far (how much of each new document is
already-seen passage), then the batch's new distinct window hashes
append to the index. Semantics are batch-atomic: a document is scored
against the index as of the START of its batch (documents inside one
batch do not see each other — the same contract as the batch query's
base/delta split).

Idempotent under redelivery (at-least-once foreachBatch): the flags
output lands through the keyed MERGE writer (doc_id); index rows are
PROVENANCE-TAGGED with the (replay-stable) micro-batch id, and the
probe excludes the current batch's own rows — a replayed batch scores
against exactly the index it originally saw and its anti-joined
append adds nothing. Without the tag, replays would find their own
windows already indexed and mis-score fresh documents as duplicates.

Scale: the per-batch probe is delta-sized on the probe side; the
index side is one row per distinct corpus window. In production the
index lands through the bucketed layout (sinks/bucketed.py, bucketed
on h1) so the probe equi-join plans with no Exchange on the index
side; the plain-parquet path here keeps the same join keys.

Versioned-state compatibility (r16, r15 advisor medium): the window
index reads through ``state.read_state`` and appends through
``state.append_state`` — pointer-resolved both ways — so a
``maintain_state_dir`` sweep that compacts the index into the
versioned layout neither strands appended rows in the dead flat dir
nor silently re-admits previously-seen passages. The per-doc flags
table is hive-partitioned on batch_id and is therefore SKIPPED by
``compact_state_table`` (it belongs to the partition-aware
sinks/compaction path); its reads stay plain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from falcon_metrics_etl_spark.functions import text as TX
from falcon_metrics_etl_spark.sinks.merge import merge_upsert
from falcon_metrics_etl_spark.state import append_state, batch_tag, read_state

ADMISSION_W = 8  # token window length (matches SUBSTR_W)
# the per-doc flags table, batch_id its hive partition column; pinned on
# read so the partition-migration probe runs no footer-inference job
ADMISSION_FLAGS_SCHEMA = (
    "doc_id long, n_windows long, n_seen long, seen_ratio double, "
    "batch_id long"
)


def _window_hashes(docs: DataFrame, w: int) -> DataFrame:
    """Delegates to the ONE canonical window/key builder
    (functions/text.py::substring_window_hashes) — the persisted index
    stays bit-compatible with the batch substring family because both
    sides share that function."""
    return TX.substring_window_hashes(docs, w, with_pos=False)


def _index_exists(spark: SparkSession, path: str) -> bool:
    from falcon_metrics_etl_spark.sinks.merge import _target_exists

    return _target_exists(spark, path)


def substring_admission_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    index_path: str,
    out_path: str,
    batch_id: int,
    w: int = ADMISSION_W,
) -> None:
    """Process ONE batch: score each document's windows against the
    index EXCLUDING rows this same batch_id contributed (replay
    safety), MERGE the per-doc flags into ``out_path`` (keyed on
    doc_id), then append the batch's not-yet-indexed distinct hashes
    tagged with batch_id to ``index_path``."""
    wins = _window_hashes(batch_df, w).localCheckpoint(eager=True)
    # pointer-resolved read: serves the live snapshot when a
    # maintenance sweep has versioned the index (flat before that)
    full_idx = read_state(
        spark, index_path, schema="h1 long, h2 long, batch_id long"
    )
    idx = full_idx.filter(F.col("batch_id") != batch_id)
    seen = (
        wins.join(idx, ["h1", "h2"], "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_seen"))
    )
    n_seen = F.coalesce(F.col("n_seen"), F.lit(0))
    flags = (
        wins.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_windows"))
        .join(seen, "doc_id", "left")
        .select(
            "doc_id",
            "n_windows",
            n_seen.alias("n_seen"),
            F.round(n_seen.cast("double") / F.col("n_windows"), 6).alias(
                "seen_ratio"
            ),
            batch_tag(batch_id),
        )
    )
    # flags partition by batch_id: a document belongs to exactly one
    # batch forever (replays reuse the id), so each micro-batch MERGE
    # touches ONLY its own partition — without this, the unpartitioned
    # fallback would rewrite the whole accumulated flags table per
    # batch, a per-batch cost growing with the corpus. The MERGE key
    # (doc_id) must therefore never migrate partitions: a doc_id
    # re-delivered under a DIFFERENT batch_id would leave its old
    # flags row alive in the old partition. That is a contract
    # violation of the append-only corpus source (Structured Streaming
    # replays reuse the same batch_id), so it is ENFORCED here — a
    # 2-column projection scan of the flags table per batch, raising
    # before the merge can write a duplicate — rather than silently
    # absorbed by keying partitions on doc_id, which would make every
    # large batch rewrite ~the whole table.
    if _index_exists(spark, out_path):
        migrated = (
            read_state(spark, out_path, schema=ADMISSION_FLAGS_SCHEMA)
            .select("doc_id", "batch_id")
            .filter(F.col("batch_id") != int(batch_id))
            .join(flags.select("doc_id"), "doc_id", "left_semi")
            .limit(5)
            .collect()
        )
        if migrated:
            examples = ", ".join(
                f"{r['doc_id']}(batch {r['batch_id']})" for r in migrated
            )
            raise ValueError(
                "substring_admission_batch: doc_id(s) re-delivered under a "
                f"new batch_id {batch_id} but already admitted in an earlier "
                f"batch: {examples}. The admission source must be "
                "append-only per doc_id (replays reuse their original "
                "batch_id); refusing a merge that would strand the old "
                "flags row in its batch partition."
            )
    merge_upsert(
        spark, out_path, flags, keys=("doc_id",),
        partition_cols=("batch_id",),
    )
    # append against the FULL index (own prior rows included), so a
    # replay adds nothing
    new_hashes = (
        wins.select("h1", "h2")
        .distinct()
        .join(full_idx, ["h1", "h2"], "left_anti")
        .select("*", batch_tag(batch_id))
    )
    # pointer-resolved append: lands INSIDE the live snapshot dir when
    # the index is versioned, so compaction can never orphan it
    append_state(new_hashes, index_path)


def stream_substring_admission(
    docs_stream: DataFrame,
    index_path: str,
    out_path: str,
    checkpoint_dir: str,
    w: int = ADMISSION_W,
    available_now: bool = True,
) -> StreamingQuery:
    """Wire the admission filter as a foreachBatch stream over a
    (doc_id, text) source; availableNow drains what's present and
    stops (the scheduled-batch tick), False runs continuously."""

    def _batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        substring_admission_batch(
            batch_df.sparkSession, batch_df, index_path, out_path,
            batch_id, w
        )

    writer = (
        docs_stream.writeStream.foreachBatch(_batch)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
