"""Compaction: fragmented partitions get rewritten to few files, data
is byte-for-byte the same multiset, and a second run is a no-op."""

import glob
import os

import pytest
from pyspark.sql import functions as F

from falcon_metrics_etl_spark.sinks.compaction import compact, partition_file_stats


def parquet_files(path):
    return [
        f
        for f in glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
        if "__compact_stage__" not in f
    ]


def rows_of(spark, path):
    return sorted(tuple(r) for r in spark.read.parquet(path).collect())


@pytest.fixture()
def fragmented(spark, tmp_path):
    """8 appended micro-batches into one hot partition -> many small
    files (the bronze-landing shape; merge_upsert itself copy-on-writes
    whole partitions, so its fragmentation is bounded per batch)."""
    path = str(tmp_path / "states")
    for batch in range(8):
        (
            spark.createDataFrame(
                [("org1", f"k{batch}-{i}", batch) for i in range(50)],
                "org_id string, sort_key string, v int",
            )
            .withColumn("partition_key", F.lit("state#org1"))
            .repartition(3)
            .write.mode("append")
            .partitionBy("org_id")
            .parquet(path)
        )
    return path


def test_compact_reduces_files_and_preserves_rows(spark, fragmented):
    before_rows = rows_of(spark, fragmented)
    n_before = len(parquet_files(fragmented))
    assert n_before >= 4  # genuinely fragmented

    report = compact(spark, fragmented, partition_cols=("org_id",))
    assert report["partitions_compacted"] == 1
    assert report["files_before"] == n_before

    assert rows_of(spark, fragmented) == before_rows
    n_after = len(parquet_files(fragmented))
    assert n_after < n_before
    assert n_after <= report["files_after_target"] + 2  # shuffle-collision slack


def test_compact_is_idempotent(spark, fragmented):
    compact(spark, fragmented, partition_cols=("org_id",))
    rows1 = rows_of(spark, fragmented)
    report2 = compact(spark, fragmented, partition_cols=("org_id",))
    assert report2["partitions_compacted"] == 0
    assert rows_of(spark, fragmented) == rows1


def test_compact_leaves_healthy_partitions_alone(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame(
        [("a", i) for i in range(10)], "org_id string, v int"
    ).coalesce(1).write.partitionBy("org_id").parquet(path)
    report = compact(spark, path, partition_cols=("org_id",))
    assert report["partitions_compacted"] == 0


def test_partition_file_stats(spark, fragmented):
    stats = partition_file_stats(spark, fragmented, ["org_id"]).collect()
    assert len(stats) == 1
    assert stats[0]["n_files"] == len(parquet_files(fragmented))
    assert stats[0]["total_bytes"] > 0


def test_compact_preserves_stringy_numeric_partition_values(spark, tmp_path):
    """Partition dir org=0042 must survive compaction VERBATIM: with
    partition-type inference on, compaction would read it as int 42 and
    dynamic-overwrite a brand-new org=42 dir alongside the original —
    duplicating every row. Compaction reads verbatim instead."""
    import os

    from falcon_metrics_etl_spark.sinks.compaction import compact

    path = str(tmp_path / "t")
    for i in range(5):  # 5 separate appends -> 5+ files in the partition
        spark.createDataFrame(
            [(i, "0042", f"v{i}")], "id int, org string, v string"
        ).write.mode("append").partitionBy("org").parquet(path)
    report = compact(
        spark, path, partition_cols=["org"],
        target_file_bytes=10 * 1024 * 1024, min_files=2,
    )
    assert report["partitions_compacted"] == 1
    dirs = {d for d in os.listdir(path) if d.startswith("org=")}
    assert dirs == {"org=0042"}  # no phantom org=42 partition
    rows = spark.read.parquet(path).collect()
    assert sorted(r["v"] for r in rows) == [f"v{i}" for i in range(5)]


def test_maintain_state_dir_preserves_tick_state_and_replay(spark, tmp_path):
    """N corpus ticks accrete one file-wave per index table;
    maintain_state_dir rewrites the fragmented tables, every table's
    row multiset (batch_id tags included) is unchanged, and the next
    tick over the compacted state behaves identically (replay
    contract intact)."""
    import os

    from pyspark.sql import functions as F

    from falcon_metrics_etl_spark.plans.bpe import _byte_merges_df, byte_words_of
    from falcon_metrics_etl_spark.state import (
        live_file_count,
        maintain_state_dir,
        read_state,
    )
    from falcon_metrics_etl_spark.streaming.corpus_tick import (
        corpus_ingest_tick,
        stage_corpus_state,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta eta theta doc {i} "
              f"unique token{i} filler{i % 7}") for i in range(40)],
        "doc_id long, text string",
    )
    base = docs.filter(F.col("doc_id") < 20)
    state = str(tmp_path / "state")
    stage_corpus_state(
        spark, base, _byte_merges_df(byte_words_of(base)), state, batch_id=0
    )
    for bid in (1, 2, 3):
        batch = docs.filter(
            (F.col("doc_id") >= 10 + bid * 5)
            & (F.col("doc_id") < 15 + bid * 5)
        )
        corpus_ingest_tick(spark, batch, state, batch_id=bid)

    def table_multisets():
        out = {}
        for t in sorted(os.listdir(state)):
            p = os.path.join(state, t)
            if not os.path.isdir(p):
                continue
            df = read_state(spark, p)
            out[t] = sorted(
                tuple(str(x) for x in r) for r in df.collect()
            )
        return out

    def file_counts():
        return {
            t: live_file_count(os.path.join(state, t))
            for t in sorted(os.listdir(state))
            if os.path.isdir(os.path.join(state, t))
        }

    before_rows = table_multisets()
    before_files = file_counts()
    report = maintain_state_dir(spark, state, file_threshold=1, min_files=2)
    after_rows = table_multisets()
    after_files = file_counts()
    assert after_rows == before_rows  # byte-for-row identical state
    compacted = [
        t for t, r in report.items() if r.get("partitions_compacted")
    ]
    assert compacted  # the appended indexes actually fragmented
    for t in compacted:
        assert after_files[t] < before_files[t]
    # idempotent maintenance: an immediate second sweep is a no-op
    report2 = maintain_state_dir(spark, state, file_threshold=1, min_files=2)
    assert all(
        r.get("partitions_compacted", 0) == 0 for r in report2.values()
    )
    # the NEXT tick over compacted state behaves identically to the
    # same tick over a replica of it
    import shutil

    replica = str(tmp_path / "replica")
    shutil.copytree(state, replica)
    # (replica currently equals the compacted state; re-run the same
    # future batch against both)
    batch = docs.filter(F.col("doc_id") >= 35)
    corpus_ingest_tick(spark, batch, state, batch_id=9)
    corpus_ingest_tick(spark, batch, replica, batch_id=9)
    flags_a = sorted(
        tuple(str(x) for x in r)
        for r in read_state(spark, f"{state}/flags").collect()
    )
    flags_b = sorted(
        tuple(str(x) for x in r)
        for r in read_state(spark, f"{replica}/flags").collect()
    )
    assert flags_a == flags_b
