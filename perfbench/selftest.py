#!/usr/bin/env python3
"""Self-test of the benchmark at tiny scale (sf0.001, 36 media
documents), in one Spark session:

    python3 perfbench/selftest.py [workload ...]

For every workload (default: all, including ``flow_tick``) it makes one
traced run of at least one op and asserts that

- the run is correct and every check passes;
- the printed metrics, untraced and traced, are exactly the
  ``end_to_end`` and ``per_layer`` metrics of BENCHMARK.json, each with
  its unit and a finite value;
- after ``corrupt()`` damages the workload's outputs, every one of its
  checks fails.

Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import argparse
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

TINY = {
    "backfill": {"sf": 0.001, "setups": 1, "warmup_ops": 0, "min_ops": 1},
    "flow_tick": {"sf": 0.001, "ticks": 3, "setups": 1, "warmup_ops": 0, "min_ops": 1},
    "dashboard": {"sf": 0.001, "setups": 1, "warmup_ops": 0, "min_ops": 1},
    "media_tick": {"docs": 36, "batches": 1, "setups": 1, "warmup_ops": 0, "min_ops": 1},
}


def check_metrics(metrics: dict, expected: list[dict], label: str) -> None:
    want = {m["name"]: m["unit"] for m in expected}
    got = {k: v["unit"] for k, v in metrics.items()}
    assert got == want, f"{label}: printed {got} != BENCHMARK.json {want}"
    for k, v in metrics.items():
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), (k, v)


def main(argv: list[str]) -> int:
    names = argv or list(TINY)
    bench = run.load_benchmark()
    work = os.path.join(run.WORK_ROOT, f"selftest-{os.getpid()}")
    command = bench["command"]
    cores = int(command[command.index("--cores") + 1])
    spark = None
    try:
        event_dir = run.configure_env(work, True)
        spark = run.start_session("selftest", cores)
        for name in names:
            t0 = time.perf_counter()
            outcome = {}

            def corrupt_and_check(wl, outcome=outcome):
                wl.corrupt()
                outcome["after_corrupt"] = wl.checks()

            args = argparse.Namespace(workload=name, seed=3, seconds=0, trace=1, cores=cores)
            summary, record = run.run(
                args, overrides=TINY[name], session=(spark, event_dir),
                after_checks=corrupt_and_check,
            )
            assert summary["correct"], (name, record["checks"], record["ops"])
            assert summary["failed"] == 0 and summary["attempted"] >= 2, summary
            check_metrics(summary["metrics"], bench["per_layer"], f"{name} traced")
            check_metrics(
                run.summary_metrics(record["end_to_end"], "end_to_end"),
                bench["end_to_end"], f"{name} untraced",
            )
            bad = outcome["after_corrupt"]
            assert set(bad) == set(record["checks"]), (name, bad)
            passed = [k for k, v in bad.items() if v is None]
            assert not passed, f"{name}: checks passed on corrupted output: {passed}"
            print(
                f"ok {name}: {len(record['ops'])} ops, {len(bad)} checks pass "
                f"and fail when corrupted ({time.perf_counter() - t0:.1f} s)",
                flush=True,
            )
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
