#!/usr/bin/env python3
"""Benchmark runner: one workload, one seed, one run.

    python3 perfbench/run.py --cores 2 --workload backfill --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The runner makes the
workload's inputs from the seed, sets it up (several times when set-up
is cheap, reporting the median), runs ``warmup_ops`` untimed ops, then
runs ops in a closed loop with one client for ``--seconds`` (at least
``min_ops`` timed ops, and whole rounds where the workload has rounds),
checks the outputs outside the timed region, and prints one JSON line
as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the
Spark event log, traces every op and prints the per-layer metrics. A full record of the run (every op latency, every
check, the per-op trace, and the quiet-session data: seed, scale,
cores, nproc, source revision, Spark version, load average and a CPU
canary before and after) is written under ``.perfbench_results/``.
Everything the run writes stays under the checkout and is removed at
exit, apart from that record.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_DIR = os.path.join(ROOT, "falcon_metrics_etl_spark")
RESULTS_DIR = os.path.join(ROOT, ".perfbench_results")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
for _p in (HERE, ROOT):
    if _p not in sys.path:
        sys.path.insert(0, _p)
HARD_LIMIT_S = 170  # the whole run, set-up and checks included
LAST_OP_START_S = 110  # no op starts later than this after launch

# the driver JVM's heap, through the engine's own SPARK_GRAFT_DRIVER_MEM:
# at its 16g default the heap G1 chooses to grow into, not the program,
# sets the JVM's high-water mark (README.md, "Heap")
DRIVER_MEMORY = "1g"

END_TO_END = {"setup_s": "s", "op_mean_s": "s", "peak_rss_mb": "MB"}

# (metric, unit, source kind, trace key): per-op means over traced ops
PER_LAYER = [
    ("operators.silver_s", "s", "wall", "operators.silver"),
    ("operators.event_dates_s", "s", "wall", "operators.event_dates"),
    ("operators.snapshots_s", "s", "wall", "operators.snapshots"),
    ("sinks.load_s", "s", "wall", "sinks.load"),
    ("sinks.resync_s", "s", "wall", "sinks.resync"),
    ("sinks.bytes_written", "bytes", "count", "sinks.bytes_written"),
    ("sinks.files_written", "count", "count", "sinks.files_written"),
    ("plans.gold_s", "s", "wall", "plans.gold"),
    ("sinks.merge_s", "s", "wall", "sinks.merge"),
    ("streaming.cursor_s", "s", "wall", "streaming.cursor"),
    ("sinks.rows_rewritten_per_tick", "count", "count", "sinks.rows_rewritten"),
    ("sinks.partitions_rewritten_per_tick", "count", "count",
     "sinks.partitions_rewritten"),
    ("plans.build_s", "s", "wall", "plans.build"),
    ("plans.exec_s", "s", "wall", "plans.exec"),
    ("state.commit_s", "s", "wall", "state.commit"),
    ("state.commits_per_tick", "count", "calls", "state.commit"),
    ("state.files_written_per_tick", "count", "count", "state.files_written"),
    ("state.maintain_s", "s", "wall", "state.maintain"),
    ("state.compactions", "count", "calls", "state.compaction"),
    ("session.concurrent_wait_s", "s", "wall", "session.concurrent_wait"),
    ("sources.load_table_s", "s", "wall", "sources.load_table"),
    ("functions.decode_s", "s", "wall", "functions.decode"),
    ("streaming.edges_s", "s", "wall", "streaming.edges"),
    ("streaming.resolve_s", "s", "wall", "streaming.resolve"),
    ("streaming.land_s", "s", "wall", "streaming.land"),
    ("spark.jobs_per_op", "count", "count", "spark.jobs"),
    ("spark.stages_per_op", "count", "count", "spark.stages"),
    ("spark.tasks_per_op", "count", "count", "spark.tasks"),
    ("spark.shuffle_write_bytes_per_op", "bytes", "count", "spark.shuffle_write"),
    ("spark.spill_bytes_per_op", "bytes", "count", "spark.spill"),
]
# derived per-layer metrics: name -> unit
DERIVED = {
    "sinks.write_amp": "ratio",
    "sinks.useful_ratio": "ratio",
    "stored_bytes_per_input_byte": "ratio",
    "trace.op_mean_s": "s",
}


def all_units() -> dict[str, str]:
    """Unit of every metric the harness computes."""
    units = dict(END_TO_END)
    units.update({name: unit for name, unit, _k, _key in PER_LAYER})
    units.update(DERIVED)
    return units


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def load_config() -> dict:
    with open(os.path.join(HERE, "config.json"), encoding="utf-8") as fh:
        return json.load(fh)


def canary() -> float:
    """Fixed pure-Python CPU work, timed: a drift between the value
    before and after a run means the machine was not quiet."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def tail(latencies: list[float]) -> dict | None:
    """The highest percentile with at least ten samples beyond it."""
    n = len(latencies)
    if n < 11:
        return None
    xs = sorted(latencies)
    k = n - 11  # index with exactly ten samples above it
    return {"percentile": round(100.0 * (k + 1) / n, 1), "value_s": xs[k], "n": n}


def vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_gc_s(spark) -> float:
    """The driver JVM's garbage-collection time so far."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


def cpu_s(*pids: int | str) -> float:
    """User plus system CPU time so far of the given processes (and of
    children they have waited for)."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
            total += sum(int(x) for x in f[11:15]) / tick
        except OSError:
            pass
    return total


def source_revision() -> dict:
    rev = None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            rev = out.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    digest = hashlib.sha256()
    for base, dirs, files in sorted(os.walk(ENGINE_DIR)):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(base, f)
                digest.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    digest.update(fh.read())
    return {"git_sha": rev, "source_digest": digest.hexdigest()[:16]}


def configure_env(work: str, trace: bool) -> str:
    """Point every scratch location of Python, Spark and the engine
    under ``work``; returns the event log dir."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "warehouse", "staged", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["FALCON_METRICS_STATE_DIR"] = dirs["staged"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p
    )
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.local.dir": dirs["local"],
        # the whole heap is committed and touched at launch, so the
        # JVM's high-water mark does not follow GC timing
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.retainedJobs": "5000",
        "spark.ui.retainedStages": "20000",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return dirs["eventlog"]


def start_session(name: str, cores: int):
    from falcon_metrics_etl_spark.session import get_spark

    spark = get_spark(f"perfbench-{name}", cpus=cores)
    # the engine's session factory logs at WARN; the per-read
    # "All paths were ignored" warnings would flood the output
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def layer_metrics(traces: list, wl, ops: list[dict]) -> dict[str, float]:
    n = max(1, len(traces))
    out: dict[str, float] = {}
    for name, _unit, kind, key in PER_LAYER:
        if kind == "wall":
            total = sum(t.wall.get(key, 0.0) for t in traces)
        elif kind == "calls":
            total = sum(t.calls.get(key, 0) for t in traces)
        else:
            total = sum(t.counts.get(key, 0.0) for t in traces)
        out[name] = total / n
    in_bytes = max(1, wl.input_bytes())
    out["sinks.write_amp"] = out["sinks.bytes_written"] / in_bytes
    rewritten = sum(t.counts.get("sinks.rows_rewritten", 0) for t in traces)
    changed = sum(t.counts.get("sinks.changed_rows", 0) for t in traces)
    out["sinks.useful_ratio"] = changed / rewritten if rewritten else 0.0
    out["stored_bytes_per_input_byte"] = wl.stored_bytes() / in_bytes
    good = [o["s"] for o in ops if o["ok"]]
    out["trace.op_mean_s"] = statistics.mean(good) if good else 0.0
    return out


def summary_metrics(values: dict, kind: str) -> dict:
    """The printed metrics: every ``kind`` ("end_to_end" or
    "per_layer") metric named in BENCHMARK.json, with its unit. The
    run record keeps every metric the harness computes, including
    those of workloads BENCHMARK.json does not list."""
    units = all_units()
    return {
        m["name"]: {"value": values[m["name"]], "unit": units[m["name"]]}
        for m in load_benchmark()[kind]
    }


def run(args, overrides: dict | None = None, session=None, after_checks=None) -> tuple[dict, dict]:
    """One benchmark run. ``overrides`` replace workload settings (the
    self-test uses tiny inputs); ``session`` is an already-running
    ``(SparkSession, event log dir)`` to reuse instead of starting and
    stopping one; ``after_checks(workload)`` is called after the checks,
    before the run's files are removed."""
    t_launch = time.perf_counter()
    cfg = load_config()
    wcfg = dict(cfg["workloads"][args.workload], **(overrides or {}))
    cores = args.cores
    trace = bool(args.trace)
    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}-{args.seed}-{int(trace)}")
    shutil.rmtree(work, ignore_errors=True)
    keep_session, event_dir = session or (None, None)
    import pyspark

    import tracer as tracing
    import workloads

    tr = tracing.Tracer()
    spark = keep_session
    wl = None
    setup_times = []
    try:
        if keep_session is None:
            event_dir = configure_env(work, trace)
        record: dict = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": int(trace), "cores": cores, "nproc": os.cpu_count(),
            "config": wcfg, "spark_version": pyspark.__version__,
            "python": sys.version.split()[0], **source_revision(),
            "loadavg_before": os.getloadavg(), "canary_before_s": canary(),
        }
        for r in range(wcfg["setups"]):
            if wl is not None:
                shutil.rmtree(wl.work, ignore_errors=True)
            t0 = time.perf_counter()
            if keep_session is None:
                if spark is not None:
                    spark.stop()
                spark = start_session(args.workload, cores)
            wl = workloads.WORKLOADS[args.workload](
                spark, wcfg, args.seed, os.path.join(work, f"setup{r}"), tr
            )
            wl.setup()
            setup_times.append(time.perf_counter() - t0)
        if trace:
            tracing.install_layer_spans(tr)

        def run_checks() -> dict:
            t0 = time.perf_counter()
            try:
                out = wl.checks()
            except Exception as e:  # a check that cannot run has failed
                traceback.print_exc(file=sys.stderr)
                out = {f"{args.workload}.checks": f"raised {e!r}"[:300]}
            record["check_s"] = time.perf_counter() - t0
            return out

        from pyspark import SparkContext

        def one_op(i: int) -> dict:
            """Run op ``i``; its latency, and the JVM's GC time and the
            CPU time of the JVM and this process spent meanwhile."""
            jvm = SparkContext._gateway.proc.pid
            gc0, cpu0 = jvm_gc_s(spark), cpu_s("self", jvm)
            ok = True
            t0 = time.perf_counter()
            try:
                wl.op(i)
            except Exception:  # counted as a failed op; the loop goes on
                traceback.print_exc(file=sys.stderr)
                ok = False
            dt = time.perf_counter() - t0
            return {
                "i": i, "s": dt, "ok": ok,
                "gc_s": jvm_gc_s(spark) - gc0, "cpu_s": cpu_s("self", jvm) - cpu0,
            }

        if wl.check_first:
            checks = run_checks()
        # untimed, untraced warm-up ops: the JIT settles on the op's own
        # code paths before the first timed op (README.md, "Warm-up")
        warmup: list[dict] = []
        for i in range(wcfg["warmup_ops"]):
            wl.prepare(i)
            warmup.append(one_op(i))
        ops: list[dict] = []
        t_start = time.perf_counter()
        i = len(warmup)
        while wl.has_next(i) and time.perf_counter() - t_launch < LAST_OP_START_S and (
            len(ops) < wcfg["min_ops"]
            or len(ops) % wl.round_size
            or time.perf_counter() - t_start < args.seconds
        ):
            wl.prepare(i)
            if trace:
                before = workloads.list_files(*wl.sink_dirs)
                tr.begin_op(spark)
            ops.append(one_op(i))
            if trace:
                wl.after_traced_op(i, before)
                tr.end_op(spark)
            i += 1
        record["measure_s"] = time.perf_counter() - t_start

        if not wl.check_first:
            checks = run_checks()

        jvm = getattr(SparkContext._gateway, "proc", None)
        record["vm_hwm_kb"] = {"python": vm_hwm_kb("self"), "jvm": vm_hwm_kb(jvm.pid) if jvm else 0}
        rss_kb = sum(record["vm_hwm_kb"].values())
        good = [o["s"] for o in ops if o["ok"]]
        e2e = {
            "setup_s": statistics.median(setup_times),
            "op_mean_s": statistics.mean(good) if good else record["measure_s"],
            "peak_rss_mb": rss_kb / 1024.0,
        }
        layers = None
        if trace:
            by_job = tracing.event_log_bytes(event_dir, spark.sparkContext.applicationId)
            for t in tr.ops:
                for j in range(t.first_job, t.end_job):
                    b = by_job.get(j)
                    if b:
                        t.count("spark.shuffle_write", b["shuffle_write"])
                        t.count("spark.spill", b["spill"])
            layers = layer_metrics(tr.ops, wl, ops)
        if after_checks is not None:
            after_checks(wl)
    finally:
        tr.unpatch()
        if keep_session is None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    failed_ops = sum(not o["ok"] for o in warmup + ops)
    failed_checks = sum(v is not None for v in checks.values())
    metrics = summary_metrics(layers, "per_layer") if trace else summary_metrics(e2e, "end_to_end")
    summary = {
        "correct": failed_ops == 0 and failed_checks == 0,
        "attempted": len(warmup) + len(ops) + len(checks),
        "failed": failed_ops + failed_checks,
        "metrics": metrics,
    }
    record.update({
        "setup_times_s": setup_times, "warmup": warmup, "ops": ops, "tail": tail(good),
        "checks": checks, "end_to_end": e2e, "per_layer": layers,
        "op_traces": [t.to_dict() for t in tr.ops],
        "input_bytes": wl.input_bytes() if wl else 0,
        "loadavg_after": os.getloadavg(), "canary_after_s": canary(),
        "summary": summary,
    })
    return summary, record


def save_record(record: dict) -> str:
    os.makedirs(RESULTS_DIR, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(
        RESULTS_DIR,
        f"{record['workload']}-seed{record['seed']}-trace{record['trace']}-{stamp}-{os.getpid()}.json",
    )
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(record, fh, indent=1, default=str)
    return path


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(load_config()["workloads"]))
    p.add_argument("--seed", type=int, default=None)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, required=True, help="Spark local[k]")
    args = p.parse_args(argv)
    if args.seed is None:
        args.seed = load_config()["seeds"]["default"]
    return args


def _timeout(signum, frame):
    raise TimeoutError(f"benchmark run exceeded {HARD_LIMIT_S} s")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ENGINE_DIR, "__init__.py")):
        print(f"engine package not found at {ENGINE_DIR}", file=sys.stderr)
        return 2
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(HARD_LIMIT_S)
    try:
        summary, record = run(args)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        return 1
    finally:
        signal.alarm(0)
    print(f"record: {save_record(record)}", file=sys.stderr)
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
