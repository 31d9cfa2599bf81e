"""The four benchmark workloads.

Each workload is a closed loop with one client: ``op(i)`` returns only
when the engine call has finished, and the harness starts op ``i+1``
after that. ``setup()`` makes the inputs and stages state; ``prepare(i)``
is untimed housekeeping before op ``i``; ``checks()`` runs after the
timed loop and returns, per check, ``None`` or a failure message;
``corrupt()`` damages the outputs so the self-test can show that every
check can fail.
"""

from __future__ import annotations

import math
import os
import shutil
from datetime import date, datetime, timedelta
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import inputs


def content_hash(df: DataFrame) -> tuple[int, str]:
    """Order-insensitive (row count, value hash) of a frame; every
    column is compared as a string, by name."""
    cols = sorted(df.columns)
    h = F.xxhash64(*[F.col(c).cast("string") for c in cols])
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return int(row["n"]), str(row["h"])


def new_files(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(files, bytes) present in ``after`` and not in ``before``."""
    fresh = [p for p in after if p not in before]
    return len(fresh), sum(after[p] for p in fresh)


def list_files(*paths: str) -> dict[str, int]:
    """Size of every file at or under each path."""
    out = {}
    for path in paths:
        if os.path.isfile(path):
            out[path] = os.path.getsize(path)
        for root, _dirs, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


class Workload:
    name = ""
    round_size = 1  # ops are run in whole rounds of this many
    # a read-only workload checks its outputs before the timed loop,
    # which also brings the JVM to steady state on the same code paths
    check_first = False
    files_counter = "sinks.files_written"
    bytes_counter = "sinks.bytes_written"

    def __init__(self, spark, cfg: dict, seed: int, work: str, tracer):
        self.spark = spark
        self.cfg = cfg
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.input_paths: list[str] = []
        self.sink_dirs: list[str] = []

    def setup(self) -> None:
        raise NotImplementedError

    def has_next(self, i: int) -> bool:
        return True

    def prepare(self, i: int) -> None:
        pass

    def op(self, i: int) -> None:
        raise NotImplementedError

    def after_traced_op(self, i: int, before: dict[str, int]) -> None:
        files, nbytes = new_files(before, list_files(*self.sink_dirs))
        self.tracer.count(self.files_counter, files)
        self.tracer.count(self.bytes_counter, nbytes)

    def checks(self) -> dict[str, str | None]:
        raise NotImplementedError

    def corrupt(self) -> None:
        raise NotImplementedError

    def input_bytes(self) -> int:
        return sum(list_files(*self.input_paths).values())

    def stored_bytes(self) -> int:
        return sum(list_files(*self.sink_dirs).values())


# ---------------------------------------------------------------------
# backfill: full refresh of one datasource through the bucketed sinks
# ---------------------------------------------------------------------
class Backfill(Workload):
    name = "backfill"

    def setup(self) -> None:
        self.tables = os.path.join(self.work, "tables")
        inputs.make_tables(self.seed, self.cfg["sf"], self.tables)
        self.input_paths = [os.path.join(self.tables, "lineitem.parquet")]
        li = pq.read_table(self.input_paths[0], columns=["l_orderkey"])
        self.n_items = len(np.unique(li.column("l_orderkey").to_numpy()))
        tag = os.path.basename(self.work).replace("-", "_")
        self.states_tbl, self.snaps_tbl = f"pb_states_{tag}", f"pb_snaps_{tag}"
        self.states_dir = os.path.join(self.work, "sink", "states")
        self.snaps_dir = os.path.join(self.work, "sink", "snaps")
        self.sink_dirs = [self.states_dir, self.snaps_dir]
        self.cached = ()

    def _release(self) -> None:
        for df in self.cached:
            df.unpersist()
        self.cached = ()

    def prepare(self, i: int) -> None:
        self._release()  # the previous op's stage frames
        for tbl in (self.states_tbl, self.snaps_tbl):
            self.spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        for d in self.sink_dirs:
            shutil.rmtree(d, ignore_errors=True)
        # a full refresh reads its source afresh: each op loads its own
        # copy of the table, which the engine's per-session table cache
        # has not seen
        shutil.rmtree(os.path.join(self.work, f"tables_op{i - 1}"), ignore_errors=True)
        self.op_tables = os.path.join(self.work, f"tables_op{i}")
        os.makedirs(self.op_tables)
        shutil.copyfile(self.input_paths[0], os.path.join(self.op_tables, "lineitem.parquet"))

    def _frames(self):
        from falcon_metrics_etl_spark.operators.event_dates import (
            extract_event_dates_expr,
        )
        from falcon_metrics_etl_spark.operators.revisions import (
            dedupe_consecutive,
        )
        from falcon_metrics_etl_spark.operators.snapshots import derive_snapshots
        from falcon_metrics_etl_spark.sources import load_table

        tr = self.tracer
        li = load_table(self.spark, self.op_tables, "lineitem")
        zone = (
            F.when(F.col("l_returnflag") == "N", 1)
            .when(F.col("l_returnflag") == "A", 2)
            .otherwise(3)
        )
        tagged = li.select(
            F.col("l_orderkey").cast("string").alias("work_item_id"),
            (F.col("l_linenumber") * 4 + zone).alias("revision"),
            F.col("l_shipdate").alias("changed_date"),
            zone.alias("zone"),
            F.lit("state_change").alias("type"),
            F.lit(False).alias("flagged"),
            (F.col("l_orderkey") % inputs.N_ORGS).cast("string").alias("org_id"),
        )
        with tr.span("operators.silver"):
            deduped = dedupe_consecutive(
                tagged, "zone", order_cols=("changed_date", "revision")
            ).persist()
            deduped.write.format("noop").mode("overwrite").save()
        with tr.span("operators.event_dates"):
            ed = extract_event_dates_expr(deduped).persist()
            ed.write.format("noop").mode("overwrite").save()
        with tr.span("operators.snapshots"):
            org = deduped.groupBy("work_item_id").agg(
                F.first("org_id").alias("org_id")
            )
            states = (
                ed.join(org, "work_item_id")
                .withColumn(
                    "partition_key",
                    F.concat_ws("#", F.lit("state"), F.col("org_id")),
                )
                .withColumn(
                    "sort_key",
                    F.concat_ws("#", F.lit("ds1"), F.col("work_item_id")),
                )
            )
            snaps = (
                derive_snapshots(deduped, ed)
                .withColumn(
                    "partition_key",
                    F.concat_ws("#", F.lit("snapshot"), F.col("org_id")),
                )
                .persist()
            )
            snaps.write.format("noop").mode("overwrite").save()
        return states, snaps, (deduped, ed, snaps)

    def _upsert(self, states, snaps) -> None:
        from falcon_metrics_etl_spark.session import run_concurrent
        from falcon_metrics_etl_spark.sinks.bucketed import (
            upsert_snapshots_bucketed,
            upsert_states_bucketed,
        )

        nb = self.cfg["buckets"]
        run_concurrent(
            lambda: upsert_states_bucketed(
                self.spark, self.states_tbl, states, nb, self.states_dir
            ),
            lambda: upsert_snapshots_bucketed(
                self.spark, self.snaps_tbl, snaps, nb, self.snaps_dir
            ),
        )

    def _sink_phase(self, span: str, states, snaps) -> None:
        tr = self.tracer
        before = list_files(*self.sink_dirs) if tr.enabled else None
        with tr.span(span):
            self._upsert(states, snaps)
        if before is not None:
            files, nbytes = new_files(before, list_files(*self.sink_dirs))
            tr.count("sinks.files_written", files)
            tr.count("sinks.bytes_written", nbytes)

    def op(self, i: int) -> None:
        self.states, self.snaps, self.cached = self._frames()
        self._sink_phase("sinks.load", self.states, self.snaps)
        self._sink_phase("sinks.resync", self.states, self.snaps)
        with self.tracer.span("plans.gold"):
            self._gold().write.format("noop").mode("overwrite").save()

    def _gold(self) -> DataFrame:
        """The gold insights aggregate over the merged states table."""
        return (
            self.spark.table(self.states_tbl)
            .groupBy("org_id")
            .agg(
                F.count(F.lit(1)).alias("items"),
                F.round(
                    F.avg(F.datediff("departure_date", "commitment_date")), 2
                ).alias("lead_time_avg"),
                F.sum(F.col("is_delayed").cast("int")).alias("delayed"),
            )
        )

    def after_traced_op(self, i, before):
        pass  # counted per sink phase

    def checks(self) -> dict[str, str | None]:
        out: dict[str, str | None] = {}
        tables = (self.states_tbl, self.snaps_tbl)
        h1 = [content_hash(self.spark.table(t)) for t in tables]
        n = h1[0][0]
        out["backfill.states_rows"] = (
            None if n == self.n_items
            else f"states rows {n} != distinct items {self.n_items}"
        )
        items = self._gold().agg(F.sum("items")).collect()[0][0]
        out["backfill.gold_items"] = (
            None if items == self.n_items
            else f"gold items {items} != distinct items {self.n_items}"
        )
        # replay idempotence: one more re-sync of the last op's frames
        # (still cached) must not change content
        self._upsert(self.states, self.snaps)
        self._release()
        h2 = [content_hash(self.spark.table(t)) for t in tables]
        out["backfill.resync_idempotent"] = (
            None if h1 == h2 else f"re-sync changed content: {h1} -> {h2}"
        )
        return out

    def corrupt(self) -> None:
        files = list_files(self.states_dir)
        os.remove(max((p for p in files if p.endswith(".parquet")), key=files.get))
        self.spark.catalog.refreshTable(self.states_tbl)


# ---------------------------------------------------------------------
# flow_tick: per-org incremental MERGE ticks into the versioned sink
# ---------------------------------------------------------------------
def _states_transform(histories: DataFrame) -> DataFrame:
    from falcon_metrics_etl_spark.operators.event_dates import (
        extract_event_dates_expr,
    )
    from falcon_metrics_etl_spark.operators.revisions import dedupe_consecutive

    deduped = dedupe_consecutive(
        histories, "zone", order_cols=("changed_date", "revision")
    )
    org = histories.groupBy("work_item_id").agg(F.first("org_id").alias("org_id"))
    return extract_event_dates_expr(deduped).join(org, "work_item_id")


class FlowTick(Workload):
    name = "flow_tick"
    KEYS = ("org_id", "work_item_id")
    DS = "bronze"

    def setup(self) -> None:
        from falcon_metrics_etl_spark.sinks.merge import merge_upsert
        from falcon_metrics_etl_spark.sinks.versioned import versioned_merge
        from falcon_metrics_etl_spark.streaming.cursors import CURSOR_KEYS

        tables = os.path.join(self.work, "tables")
        inputs.make_tables(self.seed, self.cfg["sf"], tables)
        self.bronze_path = os.path.join(self.work, "bronze.parquet")
        self.orgs = inputs.make_bronze(
            self.seed, os.path.join(tables, "lineitem.parquet"),
            self.bronze_path, self.cfg["ticks"], self.cfg["delta_share"],
        )
        self.input_paths = [self.bronze_path]
        self.states = os.path.join(self.work, "sink", "states")
        self.cursor = os.path.join(self.work, "sink", "cursor")
        self.sink_dirs = [self.states, self.cursor]
        self.bronze = self.spark.read.parquet(self.bronze_path)
        base = self.bronze.filter(F.col("updated") <= F.lit(inputs.tick_stamp(0)))
        versioned_merge(
            self.spark, self.states, _states_transform(base), self.KEYS, ("org_id",)
        )
        cursors = self.spark.createDataFrame(
            [(str(o), self.DS, inputs.tick_stamp(0)) for o in range(inputs.N_ORGS)],
            "org_id string, datasource_id string, next_run_start_from timestamp",
        )
        merge_upsert(self.spark, self.cursor, cursors, CURSOR_KEYS)
        self.done = 0

    def has_next(self, i: int) -> bool:
        return i < len(self.orgs)

    def _tick(self, i: int, cursor_path: str) -> int:
        from falcon_metrics_etl_spark.streaming.incremental import (
            run_incremental_batch,
        )

        org = self.orgs[i]
        revisions = self.bronze.filter(
            (F.col("org_id") == org)
            & (F.col("updated") <= F.lit(inputs.tick_stamp(i + 1)))
        )
        return run_incremental_batch(
            self.spark, revisions, _states_transform, self.states, self.KEYS,
            cursor_path, org_id=org, datasource_id=self.DS,
            partition_cols=("org_id",), versioned=True,
        )

    def op(self, i: int) -> None:
        self.changed = self._tick(i, self.cursor)
        self.done = i + 1

    def after_traced_op(self, i, before):
        from falcon_metrics_etl_spark.sinks.versioned import (
            _load_manifest,
            current_version,
        )

        v = current_version(self.states)
        parts = [
            p for p, owner in _load_manifest(self.states, v)["partitions"].items()
            if owner == str(v)
        ]
        vdir = os.path.join(self.states, "data", str(v))
        rows = sum(
            pq.ParquetFile(os.path.join(r, f)).metadata.num_rows
            for r, _d, fs in os.walk(vdir) for f in fs if f.endswith(".parquet")
        )
        self.tracer.count("sinks.partitions_rewritten", len(parts))
        self.tracer.count("sinks.rows_rewritten", rows)
        self.tracer.count("sinks.changed_rows", self.changed)
        super().after_traced_op(i, before)

    def _final(self) -> DataFrame:
        from falcon_metrics_etl_spark.sinks.versioned import read_versioned

        return read_versioned(self.spark, self.states)

    def checks(self) -> dict[str, str | None]:
        from falcon_metrics_etl_spark.streaming.cursors import advance_cursor

        out: dict[str, str | None] = {}
        final = content_hash(self._final())
        bronze = self.bronze.filter(
            F.col("updated") <= F.lit(inputs.tick_stamp(self.done))
        )
        batch = content_hash(_states_transform(bronze))
        out["flow_tick.equals_batch"] = (
            None if final == batch else f"ticked {final} != batch {batch}"
        )
        # replay the last tick from a cursor set just before its stamp
        replay_cursor = os.path.join(self.work, "replay_cursor")
        last = self.done - 1
        org = self.orgs[last]
        stamp = inputs.tick_stamp(last + 1) - timedelta(microseconds=1)
        advance_cursor(
            self.spark, replay_cursor, org, self.DS,
            self.spark.createDataFrame([(stamp,)], "updated timestamp"),
        )
        n = self._tick(last, replay_cursor)
        after = content_hash(self._final())
        out["flow_tick.replay_idempotent"] = (
            None if n > 0 and after == final
            else f"replay of tick {last} ({n} items): {final} -> {after}"
        )
        return out

    def corrupt(self) -> None:
        from falcon_metrics_etl_spark.sinks.versioned import versioned_merge

        last = self.bronze.filter(
            F.col("updated") == F.lit(inputs.tick_stamp(self.done))
        ).select("work_item_id").limit(1)
        row = self._final().join(last, "work_item_id").withColumn(
            "is_delayed", ~F.col("is_delayed")
        )
        versioned_merge(self.spark, self.states, row, self.KEYS, ("org_id",))


# ---------------------------------------------------------------------
# dashboard: registered flow queries, one analyst's page, in order
# ---------------------------------------------------------------------
DASHBOARD_MIX = (
    "cfd", "lead_time_by_priority", "throughput_weekly", "arrival_quantiles",
    "class_of_service_share", "profile_of_work", "wip_as_of", "flow_debt",
    "insights_metrics_single_pass", "flow_efficiency", "insights_snapshot",
    "throughput_rollup_grains",
)


def _norm(v) -> str:
    if v is None:
        return "\0NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return "0.0" if v == 0.0 else repr(v)
    if isinstance(v, Decimal):
        return repr(float(v))
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def multiset(cols, rows) -> list[str]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


class Dashboard(Workload):
    name = "dashboard"
    round_size = len(DASHBOARD_MIX)
    check_first = True

    def setup(self) -> None:
        from falcon_metrics_etl_spark.plans.registry import all_queries

        self.tables = os.path.join(self.work, "tables")
        inputs.make_tables(self.seed, self.cfg["sf"], self.tables)
        self.input_paths = [self.tables]
        registry = all_queries()
        self.queries = {n: registry[n] for n in DASHBOARD_MIX}
        self._corrupt = False

    def query_of(self, i: int) -> str:
        rnd, k = divmod(i, self.round_size)
        order = np.random.default_rng([self.seed, 4, rnd]).permutation(
            len(DASHBOARD_MIX)
        )
        return DASHBOARD_MIX[order[k]]

    def op(self, i: int) -> None:
        q = self.queries[self.query_of(i)]
        with self.tracer.span("plans.build"):
            df = q.spark(self.spark, self.tables)
        with self.tracer.span("plans.exec"):
            df.write.format("noop").mode("overwrite").save()

    def after_traced_op(self, i, before):
        pass  # read-only workload

    def checks(self) -> dict[str, str | None]:
        import duckdb

        con = duckdb.connect()
        try:
            for t in ("orders", "lineitem"):
                path = os.path.join(self.tables, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            out: dict[str, str | None] = {}
            for name, q in self.queries.items():
                df = q.spark(self.spark, self.tables)
                srows, scols = df.collect(), df.columns
                if self._corrupt:
                    srows = srows[:-1]
                res = con.execute(q.oracle)
                ocols = [d[0] for d in res.description]
                orows = res.fetchall()
                err = None
                if len(srows) != len(orows):
                    err = f"rows {len(srows)} != oracle {len(orows)}"
                elif multiset(scols, srows) != multiset(ocols, orows):
                    err = "value hash differs from oracle"
                out[f"dashboard.{name}"] = err
            return out
        finally:
            con.close()

    def corrupt(self) -> None:
        self._corrupt = True


# ---------------------------------------------------------------------
# media_tick: the trimodal media ingest tick over staged state
# ---------------------------------------------------------------------
class MediaTick(Workload):
    name = "media_tick"
    files_counter = "state.files_written"
    bytes_counter = "state.bytes_written"

    def setup(self) -> None:
        from falcon_metrics_etl_spark.plans.media_dedup import MEDIA_DELTA_MOD
        from falcon_metrics_etl_spark.streaming.cross_modal_tick import (
            stage_trimodal_state,
        )

        # a documents corpus of doc ids 0 .. docs-1 split as bench.py
        # splits it: the base is every doc_id % MEDIA_DELTA_MOD != 0 and
        # is staged once; the delta is the rest, seed-ordered and cut
        # into ``batches`` equal batches, one per tick
        rng = np.random.default_rng([self.seed, 5])
        ids = np.arange(self.cfg["docs"], dtype=np.int64)
        base = ids[ids % MEDIA_DELTA_MOD != 0]
        n_base = len(base)
        delta = rng.permutation(ids[ids % MEDIA_DELTA_MOD == 0])
        self.n_batches = self.cfg["batches"]
        bs = len(delta) // self.n_batches
        delta = delta[: self.n_batches * bs]
        docs = pa.table({
            "doc_id": np.concatenate([base, delta]).astype(np.int64),
            "batch": np.concatenate([np.zeros(n_base, np.int64), 1 + np.arange(len(delta)) // bs]),
        })
        self.docs_path = os.path.join(self.work, "docs.parquet")
        inputs.write_table(docs, self.docs_path)
        self.input_paths = [self.docs_path]
        self.docs = self.spark.read.parquet(self.docs_path)
        self.state_dir = os.path.join(self.work, "state", "trimodal")
        self.sink_dirs = [self.state_dir]
        base_df = self.docs.filter(F.col("batch") == 0).select("doc_id")
        stage_trimodal_state(self.spark, base_df, self.state_dir, batch_id=0)
        self.done = 0

    def has_next(self, i: int) -> bool:
        return i < self.n_batches

    def op(self, i: int) -> None:
        from falcon_metrics_etl_spark.streaming.cross_modal_tick import (
            trimodal_ingest_tick,
        )

        batch = self.docs.filter(F.col("batch") == i + 1).select("doc_id")
        trimodal_ingest_tick(self.spark, batch, self.state_dir, batch_id=i + 1)
        self.done = i + 1

    def keep_map(self) -> dict[int, int]:
        from falcon_metrics_etl_spark.state import read_state

        out = {}
        for sub in ("cm3_image_index", "cm3_frame_index", "cm3_audio_index"):
            for r in (
                read_state(self.spark, f"{self.state_dir}/{sub}")
                .select("node", "keep_node").distinct().collect()
            ):
                out[r["node"]] = r["keep_node"]
        return out

    def expected_keep_map(self) -> dict[int, int]:
        from falcon_metrics_etl_spark.functions import multimodal as MM
        from falcon_metrics_etl_spark.plans.media_dedup import (
            trimodal_keep_best_of,
        )

        d = self.docs.filter(F.col("batch") <= self.done).select("doc_id")
        t = MM.media_dhash(MM.attach_payload_keyframe_thumbs(d)).select(
            "doc_id", "dhash"
        )
        v = MM.video_frame_dhash(MM.attach_payload_video_clips(d)).select(
            "doc_id", "frame_idx", "frame_dhash"
        )
        a = MM.audio_spectral_dhash(MM.attach_payload_audio_clips(d)).select(
            "doc_id", "n_windows", "sphash"
        )
        r = MM.audio_spectral_dhash(MM.attach_payload_soundtrack_wavs(d)).select(
            "doc_id", "sphash"
        )
        # decode once: the closure reads each fingerprint frame twice
        t, v, a, r = (x.localCheckpoint(eager=True) for x in (t, v, a, r))
        return {
            row["node"]: row["keep_node"]
            for row in trimodal_keep_best_of(t, v, a, r).collect()
        }

    def checks(self) -> dict[str, str | None]:
        got, exp = self.keep_map(), self.expected_keep_map()
        bad = sorted(n for n in set(got) | set(exp) if got.get(n) != exp.get(n))
        return {
            "media_tick.keep_map_equals_batch": (
                None if not bad
                else f"{len(bad)} nodes differ from the batch closure, e.g. {bad[:3]}"
            )
        }

    def corrupt(self) -> None:
        from falcon_metrics_etl_spark.state import overwrite_state, read_state

        path = f"{self.state_dir}/cm3_image_index"
        df = read_state(self.spark, path)
        first = df.agg(F.min("node")).collect()[0][0]
        bumped = df.withColumn(
            "keep_node",
            F.when(F.col("node") == first, F.col("keep_node") + 1).otherwise(
                F.col("keep_node")
            ),
        ).localCheckpoint()
        overwrite_state(bumped, path)


WORKLOADS = {w.name: w for w in (Backfill, FlowTick, Dashboard, MediaTick)}
