"""Pins for the parquet-backed maintained-index staging
(session.staged_index): state lands once, rereads plan a scan,
regenerated source data retires stale snapshots, concurrent builders
race benignly, every crash window either rebuilds or fails loudly,
and the perf-checkpoint off-switch bypasses staging entirely. These
are the behaviors every incremental query and IVM twin relies on.

Each staged key is one state.py table: ``<root>/<slug>`` holding a
``_CURRENT`` pointer and ``_v-*`` snapshot dirs."""

from __future__ import annotations

import os
import shutil

import pytest

from falcon_metrics_etl_spark.session import (
    PERF_CHECKPOINT_CONF,
    STATE_DIR_ENV,
    _data_version,
    _manifest_token,
    _staged_slug,
    staged_index,
)
from falcon_metrics_etl_spark.state import (
    RETIRED_MARKER,
    gc_state_table,
    resolve_state_path,
)


@pytest.fixture()
def state_root(tmp_path, monkeypatch):
    root = tmp_path / "state"
    monkeypatch.setenv(STATE_DIR_ENV, str(root))
    return root


@pytest.fixture()
def src_dir(tmp_path):
    d = tmp_path / "src"
    d.mkdir()
    (d / "data.parquet").write_bytes(b"x" * 64)
    return str(d)


def _table(state_root, key):
    return os.path.join(str(state_root), _staged_slug(key))


def _snapshots(table):
    return sorted(e for e in os.listdir(table) if e.startswith("_v-"))


def _build_calls(spark, counter):
    def build():
        counter.append(1)
        return spark.createDataFrame(
            [(1, "a"), (2, "b")], "id long, v string"
        )

    return build


def test_builds_once_then_reads_parquet(spark, state_root, src_dir):
    calls: list = []
    build = _build_calls(spark, calls)
    df1 = staged_index(spark, f"t1:{src_dir}", build, src_dir=src_dir)
    assert sorted((r["id"], r["v"]) for r in df1.collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    assert len(calls) == 1
    # second invocation: no rebuild, same values, and the plan is a
    # parquet scan (the audited cold-plan shape)
    df2 = staged_index(spark, f"t1:{src_dir}", build, src_dir=src_dir)
    assert len(calls) == 1
    assert sorted((r["id"], r["v"]) for r in df2.collect()) == [
        (1, "a"),
        (2, "b"),
    ]
    plan = df2._jdf.queryExecution().executedPlan().toString()
    assert "Scan parquet" in plan


def test_regenerated_source_retires_then_gc_evicts(
    spark, state_root, src_dir
):
    """A rebuild only MARKS the stale snapshot retired — a concurrent
    reader of the old snapshot keeps its files — and gc_state_table
    deletes it after the grace period."""
    calls: list = []
    build = _build_calls(spark, calls)
    key = f"t2:{src_dir}"
    old_df = staged_index(spark, key, build, src_dir=src_dir)
    v1 = _data_version(src_dir)
    # regenerate the source: size change guarantees a new fingerprint
    # even on coarse-mtime filesystems
    with open(os.path.join(src_dir, "data.parquet"), "wb") as f:
        f.write(b"y" * 128)
    v2 = _data_version(src_dir)
    assert v1 != v2
    staged_index(spark, key, build, src_dir=src_dir)
    assert len(calls) == 2  # rebuilt for the new version
    table = _table(state_root, key)
    snaps = _snapshots(table)
    # deferred eviction: BOTH snapshots on disk, the stale one stamped
    assert len(snaps) == 2
    stale = next(
        e for e in snaps if _manifest_token(os.path.join(table, e)) == v1
    )
    assert os.path.isfile(os.path.join(table, stale, RETIRED_MARKER))
    # the reader that planned against the old snapshot still succeeds
    assert old_df.count() == 2
    # within grace: nothing removed; past grace: the stale one goes
    assert gc_state_table(table, grace_seconds=3600) == 0
    assert gc_state_table(table, grace_seconds=0) == 1
    (live,) = _snapshots(table)
    assert _manifest_token(os.path.join(table, live)) == v2


def test_distinct_keys_do_not_cross_evict(spark, state_root, src_dir):
    calls: list = []
    build = _build_calls(spark, calls)
    staged_index(spark, f"k:{src_dir}/sf0.1", build, src_dir=src_dir)
    staged_index(spark, f"k:{src_dir}/sf0.01", build, src_dir=src_dir)
    staged_index(spark, f"k:{src_dir}/sf0.1", build, src_dir=src_dir)
    assert len(calls) == 2  # sf0.01 build must not evict sf0.1 state
    assert len(os.listdir(state_root)) == 2
    for sf in ("sf0.1", "sf0.01"):
        assert len(_snapshots(_table(state_root, f"k:{src_dir}/{sf}"))) == 1


def test_conf_off_bypasses_staging(spark, state_root, src_dir):
    calls: list = []
    build = _build_calls(spark, calls)
    old = spark.conf.get(PERF_CHECKPOINT_CONF, "true")
    spark.conf.set(PERF_CHECKPOINT_CONF, "false")
    try:
        df = staged_index(spark, f"t3:{src_dir}", build, src_dir=src_dir)
        assert len(calls) == 1
        assert df.count() == 2
        assert not state_root.exists() or not any(
            e.startswith("t3_") for e in os.listdir(state_root)
        )
    finally:
        spark.conf.set(PERF_CHECKPOINT_CONF, old)


def test_concurrent_builders_race_benignly(spark, state_root, src_dir):
    """Two threads building the same missing key: the per-table lock
    lets one build, the other reads its snapshot, values identical,
    exactly one snapshot exists."""
    import threading

    barrier = threading.Barrier(2)
    out: dict = {}
    calls: list = []

    def build():
        calls.append(1)
        return spark.createDataFrame([(7, "z")], "id long, v string")

    def worker(tag):
        barrier.wait()
        df = staged_index(spark, f"t4:{src_dir}", build, src_dir=src_dir)
        out[tag] = [(r["id"], r["v"]) for r in df.collect()]

    ts = [
        threading.Thread(target=worker, args=(i,)) for i in range(2)
    ]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    assert out[0] == out[1] == [(7, "z")]
    assert len(calls) == 1
    assert os.listdir(state_root) == [_staged_slug(f"t4:{src_dir}")]
    assert len(_snapshots(_table(state_root, f"t4:{src_dir}"))) == 1


def test_manifest_beats_walk_and_regeneration_evicts(
    spark, state_root, src_dir
):
    """With a version manifest present, the staged
    version comes from the manifest token — file churn WITHOUT a new
    manifest does not rebuild (the staging job owns the version), and
    rewriting the manifest routes consumers to fresh state."""
    from falcon_metrics_etl_spark.session import write_version_manifest

    calls: list = []
    build = _build_calls(spark, calls)
    write_version_manifest(src_dir, version="snap-1")
    v_manifest = _data_version(src_dir)
    staged_index(spark, f"t5:{src_dir}", build, src_dir=src_dir)
    assert len(calls) == 1
    # churn a file: the walk fingerprint would change, the manifest
    # token has not — no rebuild, same version
    with open(os.path.join(src_dir, "data.parquet"), "wb") as f:
        f.write(b"z" * 256)
    assert _data_version(src_dir) == v_manifest
    staged_index(spark, f"t5:{src_dir}", build, src_dir=src_dir)
    assert len(calls) == 1
    # a new manifest token (the staging job republished) rebuilds
    write_version_manifest(src_dir, version="snap-2")
    assert _data_version(src_dir) != v_manifest
    staged_index(spark, f"t5:{src_dir}", build, src_dir=src_dir)
    assert len(calls) == 2
    # default manifest: the walk fingerprint at write time
    tok = write_version_manifest(src_dir)
    assert tok and isinstance(tok, str)


def test_explicit_data_version_token(spark, state_root, src_dir):
    """An explicit data_version token keys the state without touching
    the source tree at all (catalog-driven deployments)."""
    calls: list = []
    build = _build_calls(spark, calls)
    staged_index(spark, "t6", build, data_version="cat-7")
    staged_index(spark, "t6", build, data_version="cat-7")
    assert len(calls) == 1
    staged_index(spark, "t6", build, data_version="cat-8")
    assert len(calls) == 2


def test_colliding_slugs_get_distinct_namespaces(
    spark, state_root, src_dir
):
    """r14 advisor: 'k:/a_b' and 'k:/a/b' sanitize to the same pretty
    slug; the key-hash suffix keeps their state (and eviction
    namespaces) apart."""
    calls: list = []
    build = _build_calls(spark, calls)
    staged_index(spark, "k:/a_b", build, src_dir=src_dir)
    staged_index(spark, "k:/a/b", build, src_dir=src_dir)
    assert len(calls) == 2
    assert len(os.listdir(state_root)) == 2
    # and a rebuild of one never stamps the other retired
    with open(os.path.join(src_dir, "data.parquet"), "wb") as f:
        f.write(b"w" * 96)
    staged_index(spark, "k:/a_b", build, src_dir=src_dir)
    assert len(calls) == 3
    live = [
        (key, snap)
        for key in ("k:/a_b", "k:/a/b")
        for snap in _snapshots(_table(state_root, key))
        if not os.path.isfile(
            os.path.join(_table(state_root, key), snap, RETIRED_MARKER)
        )
    ]
    # new k:/a_b snapshot + untouched k:/a/b
    assert [k for k, _ in live] == ["k:/a_b", "k:/a/b"]


# -- crash windows -------------------------------------------------------


def test_failed_build_leaves_pointer_and_no_snapshot(
    spark, state_root, src_dir
):
    """A build whose write fails mid-job publishes nothing: the
    pointer still names the previous snapshot and no partial ``_v-*``
    dir is left behind."""
    from pyspark.sql import functions as F

    key = f"t7:{src_dir}"
    staged_index(spark, key, _build_calls(spark, []), src_dir=src_dir)
    table = _table(state_root, key)
    before = resolve_state_path(table)
    with open(os.path.join(src_dir, "data.parquet"), "wb") as f:
        f.write(b"f" * 80)

    def failing_build():
        return spark.range(4).select(
            F.when(F.col("id") >= 0, F.raise_error(F.lit("boom")))
            .otherwise(F.lit(1))
            .alias("id")
        )

    with pytest.raises(Exception, match="boom"):
        staged_index(spark, key, failing_build, src_dir=src_dir)
    assert resolve_state_path(table) == before
    assert _snapshots(table) == [os.path.basename(before)]


def test_snapshot_without_token_is_rebuilt(spark, state_root, src_dir):
    """A crash between the repoint and the token write leaves a
    current snapshot with no version manifest: it counts as stale, so
    the next call rebuilds and retires it."""
    calls: list = []
    build = _build_calls(spark, calls)
    key = f"t8:{src_dir}"
    staged_index(spark, key, build, src_dir=src_dir)
    table = _table(state_root, key)
    first = resolve_state_path(table)
    os.remove(os.path.join(first, "_VERSION_MANIFEST.json"))
    df = staged_index(spark, key, build, src_dir=src_dir)
    assert len(calls) == 2
    assert df.count() == 2
    current = resolve_state_path(table)
    assert current != first
    assert _manifest_token(current) == _data_version(src_dir)
    assert os.path.isfile(os.path.join(first, RETIRED_MARKER))


def test_dangling_pointer_raises(spark, state_root, src_dir):
    """A pointer whose snapshot was removed outside the GC protocol
    fails loudly, as for every state.py table — no silent rebuild."""
    calls: list = []
    build = _build_calls(spark, calls)
    key = f"t9:{src_dir}"
    staged_index(spark, key, build, src_dir=src_dir)
    shutil.rmtree(resolve_state_path(_table(state_root, key)))
    with pytest.raises(FileNotFoundError, match="missing snapshot"):
        staged_index(spark, key, build, src_dir=src_dir)
    assert len(calls) == 1
