"""Out-of-process-boundary tracing for the benchmark.

Spans are recorded from the benchmark's own files: the harness wraps
the public functions each engine layer exposes (by patching every
loaded engine module that imported them) and opens spans around the
stages it drives itself. Nothing inside the engine is edited.

A ``Tracer`` is off by default; ``enabled`` is flipped per op, so an
untraced op pays one attribute test per wrapped call. For each traced
op the tracer keeps, per span name, the call count, the summed wall
time and the summed self time (wall time minus the time of child spans
opened on the same thread, waits for concurrent jobs excepted). The
media tick's own phase marks become spans too. Spark job, stage and
task counts come from the status tracker, read after the op over the
job ids the op created; shuffle and spill bytes come from the Spark
event log.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import threading
import time
from contextlib import contextmanager

ENGINE = "falcon_metrics_etl_spark"
# spans that only wait for work other spans submitted: their time stays
# in the enclosing span's self time and counts for no layer of its own
WAITS = frozenset({"session.concurrent_wait"})
# the media tick's own phase marks -> span names
TICK_PHASES = {
    "decode": "functions.decode",
    "edges": "streaming.edges",
    "resolve": "streaming.resolve",
    "flags": "streaming.land",
    "repoint": "streaming.land",
    "append": "streaming.land",
    "maintenance": "streaming.maintenance",
}


class OpTrace:
    """Everything recorded for one traced op."""

    def __init__(self) -> None:
        self.calls: dict[str, int] = {}
        self.wall: dict[str, float] = {}
        self.self_time: dict[str, float] = {}
        self.counts: dict[str, float] = {}
        self.first_job = 0
        self.end_job = 0

    def add(self, name: str, wall: float, self_time: float) -> None:
        self.calls[name] = self.calls.get(name, 0) + 1
        self.wall[name] = self.wall.get(name, 0.0) + wall
        self.self_time[name] = self.self_time.get(name, 0.0) + self_time

    def count(self, name: str, value: float) -> None:
        self.counts[name] = self.counts.get(name, 0.0) + value

    def to_dict(self) -> dict:
        return {
            "calls": self.calls,
            "wall_s": self.wall,
            "self_s": self.self_time,
            "counts": self.counts,
            "jobs": [self.first_job, self.end_job],
        }


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.ops: list[OpTrace] = []
        self._op: OpTrace | None = None
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[float]:
        """Per thread, the child time accumulated by each open span."""
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextmanager
    def span(self, name: str):
        if not self.enabled or self._op is None:
            yield
            return
        # a call inside a span of the same name on this thread (as
        # merge_state commits through overwrite_state) is part of it
        open_names = self._local.__dict__.setdefault("names", [])
        if name in open_names:
            yield
            return
        open_names.append(name)
        stack = self._stack()
        depth = len(stack)
        stack.append(0.0)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            open_names.pop()
            child = stack[depth]
            del stack[depth:]  # also drops phases left open inside
            # a wait stays in its parent's self time (see WAITS)
            if depth and name not in WAITS:
                stack[depth - 1] += wall
            with self._lock:
                self._op.add(name, wall, wall - child)

    def phase_timer(self, names: dict[str, str]):
        """A stand-in for an engine phase timer, a factory of
        ``mark(label)`` closures: each mark ends the phase that began
        at the previous mark (or at the factory call) and records it as
        a span named ``names[label]``. Used inside a span that closes
        the last phase's stack entry."""
        tracer = self

        def factory():
            if not tracer.enabled or tracer._op is None:
                return lambda label: None
            stack = tracer._stack()
            depth = len(stack)
            stack.append(0.0)
            t = [time.perf_counter()]

            def mark(label: str) -> None:
                now = time.perf_counter()
                if len(stack) <= depth or tracer._op is None:
                    return
                wall, child = now - t[0], stack[depth]
                stack[depth] = 0.0
                if depth:
                    stack[depth - 1] += wall
                with tracer._lock:
                    tracer._op.add(names.get(label, "streaming." + label), wall, wall - child)
                t[0] = now

            return mark

        return factory

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled and self._op is not None:
            with self._lock:
                self._op.count(name, value)

    # -- ops -----------------------------------------------------------
    def begin_op(self, spark) -> None:
        start = self.ops[-1].end_job if self.ops else 0
        self._op = OpTrace()
        self._op.first_job = next_job_id(spark, start)
        self.enabled = True
        spark.sparkContext.setJobGroup(
            f"op-{len(self.ops)}", "benchmark op", interruptOnCancel=False
        )

    def end_op(self, spark) -> OpTrace:
        op = self._op
        self._op = None
        self.enabled = False
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        op.end_job = next_job_id(spark, op.first_job)
        jobs, stages, tasks = job_counts(spark, op.first_job, op.end_job)
        op.count("spark.jobs", jobs)
        op.count("spark.stages", stages)
        op.count("spark.tasks", tasks)
        self.ops.append(op)
        return op

    # -- patching ------------------------------------------------------
    def wrap(self, module_name: str, func_name: str, span: str,
             wrap_result=None) -> None:
        """Wrap ``module_name.func_name`` in a span, in its defining
        module and in every loaded engine module that imported it."""
        __import__(module_name)
        original = getattr(sys.modules[module_name], func_name)
        tracer = self

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with tracer.span(span):
                out = original(*args, **kwargs)
            if wrap_result is not None and tracer.enabled:
                return wrap_result(out)
            return out

        for name, mod in list(sys.modules.items()):
            if not (name == ENGINE or name.startswith(ENGINE + ".")):
                continue
            if getattr(mod, func_name, None) is original:
                self._patched.append((mod, func_name, original))
                setattr(mod, func_name, wrapper)

    def replace(self, module_name: str, attr: str, value) -> None:
        """Set ``module_name.attr`` to ``value`` until ``unpatch``, if
        the module has such an attribute."""
        __import__(module_name)
        mod = sys.modules[module_name]
        if hasattr(mod, attr):
            self._patched.append((mod, attr, getattr(mod, attr)))
            setattr(mod, attr, value)

    def timed_join(self, span: str):
        """Result wrapper for ``start_concurrent``: time the blocking
        ``join()`` it returns."""
        def wrap(join):
            def timed():
                with self.span(span):
                    return join()
            return timed
        return wrap

    def unpatch(self) -> None:
        for mod, name, original in reversed(self._patched):
            setattr(mod, name, original)
        self._patched.clear()


def install_layer_spans(tracer: Tracer) -> None:
    """The engine-side span boundaries, one per public function a
    layer exposes to the workloads."""
    st = f"{ENGINE}.state"
    tracer.wrap(st, "overwrite_state", "state.commit")
    tracer.wrap(st, "append_state", "state.commit")
    tracer.wrap(st, "merge_state", "state.commit")
    tracer.wrap(st, "maintain_state_dir", "state.maintain")
    tracer.wrap(st, "compact_state_table", "state.compaction")
    tracer.wrap(f"{ENGINE}.session", "run_concurrent", "session.concurrent_wait")
    tracer.wrap(
        f"{ENGINE}.session", "start_concurrent", "session.start_concurrent",
        wrap_result=tracer.timed_join("session.concurrent_wait"),
    )
    tracer.wrap(f"{ENGINE}.sinks.versioned", "versioned_merge", "sinks.merge")
    tracer.wrap(f"{ENGINE}.streaming.cursors", "load_cursor", "streaming.cursor")
    tracer.wrap(f"{ENGINE}.streaming.cursors", "advance_cursor", "streaming.cursor")
    tracer.wrap(f"{ENGINE}.sources.tables", "load_table", "sources.load_table")
    # the media tick: a span per tick, and its own phase marks as spans
    # (decode is the functions.multimodal fingerprinting of the batch)
    cm = f"{ENGINE}.streaming.cross_modal_tick"
    tracer.wrap(cm, "trimodal_ingest_tick", "streaming.tick")
    tracer.wrap(cm, "unified_media_ingest_tick", "streaming.tick")
    tracer.replace(cm, "_phase_timer", tracer.phase_timer(TICK_PHASES))


# -- Spark counters ---------------------------------------------------
def next_job_id(spark, start: int = 0) -> int:
    """Smallest job id not yet submitted (job ids are sequential)."""
    st = spark.sparkContext.statusTracker()
    known = st.getJobIdsForGroup(None) + st.getActiveJobsIds()
    j = max([start - 1, *known]) + 1
    while st.getJobInfo(j) is not None:
        j += 1
    return j


def job_counts(spark, first: int, end: int) -> tuple[int, int, int]:
    """(jobs, stages that ran tasks, tasks) for job ids [first, end)."""
    st = spark.sparkContext.statusTracker()
    stages_seen: set[int] = set()
    jobs = stages = tasks = 0
    for j in range(first, end):
        info = st.getJobInfo(j)
        if info is None:
            continue
        jobs += 1
        for sid in info.stageIds:
            if sid in stages_seen:
                continue
            stages_seen.add(sid)
            s = st.getStageInfo(sid)
            if s is not None and s.numCompletedTasks > 0:
                stages += 1
                tasks += s.numCompletedTasks
    return jobs, stages, tasks


def event_log_bytes(log_dir: str, app_id: str) -> dict[int, dict[str, int]]:
    """Per job id: shuffle bytes written and bytes spilled (memory plus
    disk), from the application's event log. Stages are charged to the
    first job that lists them; a skipped stage runs no tasks."""
    paths = sorted(glob.glob(os.path.join(log_dir, app_id + "*")))
    if not paths:
        return {}
    stage_job: dict[int, int] = {}
    out: dict[int, dict[str, int]] = {}
    with open(paths[0], encoding="utf-8") as fh:
        for line in fh:
            if '"SparkListenerJobStart"' in line:
                ev = json.loads(line)
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, ev["Job ID"])
            elif '"SparkListenerTaskEnd"' in line:
                ev = json.loads(line)
                job = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics") or {}
                if job is None or not m:
                    continue
                acc = out.setdefault(job, {"shuffle_write": 0, "spill": 0})
                acc["shuffle_write"] += (
                    m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                )
                acc["spill"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return out
