"""Small-file compaction for the parquet MERGE sinks.

Every ``merge_upsert`` batch appends a task's worth of files to each
touched partition; at a 5-minute cadence (the reference's extract
schedule, serverless.yml:148-151) a hot partition accretes hundreds of
small files and scan cost becomes file-count-bound, not byte-bound.
Delta/Iceberg ship OPTIMIZE / rewrite_data_files for this; over plain
parquet the engine does the same thing explicitly:

1. measure files per partition with the ``_metadata`` hidden columns
   (file_path / file_size — a distributed, FS-agnostic listing that
   reads no data columns);
2. pick partitions whose file count exceeds what their byte size
   justifies (> ceil(bytes / target_file_bytes), and >= min_files so
   freshly-merged two-file partitions aren't churned);
3. rewrite ONLY those partitions, bucketing rows so each lands in
   ~target_file_bytes files, via the same stage-dir +
   dynamic-partition-overwrite protocol as ``merge_upsert`` (job-level
   atomic per partition; a crash leaves the old files in place).

Compaction is a pure rewrite: the row multiset is unchanged, and a
second run over a compacted table is a no-op (idempotent maintenance,
safe to schedule like the reference's daily jobs).

Only partitioned tables compact here. Unpartitioned ``merge_upsert``
targets are rewritten whole on every merge, so they do not accrete
files; unpartitioned streaming state tables compact through
``state.compact_state_table`` (new snapshot + atomic repoint), which
``state.maintain_state_dir`` runs in every tick's maintenance window.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .merge import (
    _rm,
    _target_exists,
    _verbatim_partition_reads,
    touched_partition_predicate,
)

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def partition_file_stats(
    spark: SparkSession, path: str, partition_cols: Sequence[str]
) -> DataFrame:
    """Per-partition (n_files, total_bytes) from the _metadata columns.

    Projects only partition values + file metadata, so the parquet
    reader materializes no data columns; the distinct collapses to one
    row per physical file before the per-partition rollup.
    """
    df = spark.read.parquet(path)
    files = df.select(
        *[F.col(c) for c in partition_cols],
        F.col("_metadata.file_path").alias("file_path"),
        F.col("_metadata.file_size").alias("file_size"),
    ).distinct()
    return files.groupBy(*partition_cols).agg(
        F.count("*").alias("n_files"),
        F.sum("file_size").alias("total_bytes"),
    )


def compact(
    spark: SparkSession,
    path: str,
    partition_cols: Sequence[str],
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    min_files: int = 4,
) -> dict:
    """Rewrite over-fragmented partitions of the table at ``path``,
    partitioned by ``partition_cols``, into ~target-size files.

    Returns a report: {"partitions_compacted", "files_before",
    "files_after_target"} (0/0/0 when nothing qualifies).
    """
    if not _target_exists(spark, path):
        return {"partitions_compacted": 0, "files_before": 0, "files_after_target": 0}

    pcols = list(partition_cols)
    # every read in here is VERBATIM (partition-type inference off):
    # compaction has no authoritative schema for partition values, so
    # the only safe contract is to reproduce the dir names exactly —
    # '0042' read as int 42 would rewrite under a new org=42 dir and
    # duplicate the partition
    with _verbatim_partition_reads(spark):
        stats = partition_file_stats(spark, path, pcols)
        ideal = F.greatest(
            F.lit(1), F.ceil(F.col("total_bytes") / F.lit(target_file_bytes))
        ).cast("int")
        need = (
            stats.withColumn("ideal_n", ideal)
            .filter((F.col("n_files") >= min_files) & (F.col("n_files") > F.col("ideal_n")))
            .collect()
        )
        if not need:
            return {"partitions_compacted": 0, "files_before": 0, "files_after_target": 0}

        touched = [tuple(r[c] for c in pcols) for r in need]
        # null-safe: shared with merge_upsert (struct-isin fails
        # analysis on null partition values)
        pred = touched_partition_predicate(pcols, touched)
        plan = spark.createDataFrame(
            [(*t, int(r["ideal_n"])) for t, r in zip(touched, need)],
            schema=spark.read.parquet(path)
            .select(*pcols)
            .schema.add("ideal_n", "integer"),
        )

        df = spark.read.parquet(path).filter(pred)
    data_cols = [c for c in df.columns if c not in pcols]
    # join null-safely on the partition cols (a plain `on=pcols` would
    # drop the null partition's rows)
    join_cond = F.lit(True)
    for c in pcols:
        join_cond = join_cond & df[c].eqNullSafe(plan[c])
    bucketed = (
        df.join(F.broadcast(plan), join_cond)
        .drop(*[plan[c] for c in pcols])
        .withColumn(
            "__bucket",
            F.pmod(F.xxhash64(*[F.col(c) for c in data_cols]), F.col("ideal_n")),
        )
    )

    # stage UNPARTITIONED (keeping the bucket column): a partitioned
    # stage would round-trip partition values through dir-name strings
    # and Spark's partition-type inference ('0042' -> int 42), then
    # dynamic-overwrite under the wrong value — same trap merge_upsert
    # avoids by staging flat
    stage = path.rstrip("/") + "__compact_stage__"
    bucketed.write.mode("overwrite").parquet(stage)
    staged = spark.read.parquet(stage)
    (
        staged.repartition(*[F.col(c) for c in pcols], F.col("__bucket"))
        .drop("ideal_n", "__bucket")
        .write.mode("overwrite")
        # per-write option, not a session-wide conf.set
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*pcols)
        .parquet(path)
    )
    _rm(stage)

    return {
        "partitions_compacted": len(need),
        "files_before": int(sum(r["n_files"] for r in need)),
        "files_after_target": int(sum(r["ideal_n"] for r in need)),
    }
