#!/usr/bin/env python3
"""Compare two sets of benchmark run records (parent and change).

    python3 perfbench/compare.py PARENT_DIR CHANGE_DIR

Each directory holds the JSON records ``run.py`` writes under
``.perfbench_results/``. For every workload and end-to-end metric it
prints each side's median and quartiles and a verdict:

- ``improved``: the change wins at least 9 of 10 matched pairs (the
  n-th run of a seed on each side) and the medians differ by more than
  the parent's quartile spread;
- ``worse``: the change's median is worse by more than the metric's
  bound in BENCHMARK.json;
- ``within bound``: neither;
- ``unresolved``: either side's quartile spread exceeds the bound,
  unless every change run beats (or loses to) every parent run.

It also pools the timed op latencies of each side into one median
(the per-op p50) and one tail (the highest percentile with ten samples
beyond it), flags runs whose CPU canary drifted by more than 1.3x
between start and end of the run (not a quiet machine), reports the tracing overhead (traced minus untraced
op mean), and, from the traced runs, names the layer whose self time
moved most and every count that changed. Waits for concurrent jobs
stay in the self time of the span that waited and count for no layer.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from run import tail  # noqa: E402
from tracer import WAITS  # noqa: E402

QUIET_GATE = 1.3


def load(path: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            rec = json.load(fh)
        if "workload" in rec and "summary" in rec:
            rec["_file"] = f
            out.append(rec)
    return out


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def spread(xs: list[float]) -> float:
    q1, q2, q3 = quartiles(xs)
    return (q3 - q1) / q2 if q2 else 0.0


def by_run(recs: list[dict], wl: str, metric: str) -> dict[tuple[int, int], float]:
    """The untraced runs of one workload, keyed by (seed, n) where n
    counts the runs of that seed in the order they were recorded, so
    repeated runs on one seed are all kept and pair up in order."""
    out: dict[tuple[int, int], float] = {}
    for r in sorted(recs, key=lambda r: (r["seed"], os.path.basename(r["_file"]))):
        if r["workload"] != wl or r["trace"] or not r.get("end_to_end"):
            continue
        n = sum(1 for s, _ in out if s == r["seed"])
        out[(r["seed"], n)] = r["end_to_end"][metric]
    return out


def verdict(par: dict[tuple, float], chg: dict[tuple, float], bound: float, lower: bool) -> str:
    p, c = list(par.values()), list(chg.values())
    sign = -1.0 if lower else 1.0  # positive = better
    pm, cm = statistics.median(p), statistics.median(c)
    gain = sign * (cm - pm) / pm if pm else 0.0
    all_better = min(sign * x for x in c) > max(sign * x for x in p)
    all_worse = max(sign * x for x in c) < min(sign * x for x in p)
    if max(spread(p), spread(c)) > bound and not (all_better or all_worse):
        return "unresolved"
    pairs = [s for s in par if s in chg]
    wins = sum(sign * (chg[s] - par[s]) > 0 for s in pairs)
    q1, _q2, q3 = quartiles(p)
    if pairs and wins >= 0.9 * len(pairs) and abs(cm - pm) > (q3 - q1) and gain > 0:
        return "improved"
    if gain < -bound:
        return "worse"
    return "within bound"


def fmt(x: float) -> str:
    return f"{x:.4g}"


def e2e_table(par: list[dict], chg: list[dict], bench: dict) -> None:
    print("workload      metric          parent median [q1, q3]          change median [q1, q3]          verdict")
    for wl in sorted({r["workload"] for r in par + chg}):
        for m in bench["end_to_end"]:
            sides = [by_run(recs, wl, m["name"]) for recs in (par, chg)]
            if not sides[0] or not sides[1]:
                continue
            cells = []
            for side in sides:
                q1, q2, q3 = quartiles(list(side.values()))
                cells.append(f"{fmt(q2)} [{fmt(q1)}, {fmt(q3)}] n={len(side)}")
            v = verdict(sides[0], sides[1], m["bound"], m["better"] == "lower")
            print(f"{wl:13s} {m['name']:15s} {cells[0]:31s} {cells[1]:31s} {v}")


def tails(par: list[dict], chg: list[dict]) -> None:
    print("\npooled op latency p50 and tail (all untraced runs of a side)")
    for wl in sorted({r["workload"] for r in par + chg}):
        row = []
        for recs in (par, chg):
            lat = [o["s"] for r in recs if r["workload"] == wl and not r["trace"]
                   for o in r["ops"] if o["ok"]]
            t = tail(lat)
            p50 = f"p50={fmt(statistics.median(lat))}s " if lat else ""
            row.append(
                p50 + (f"p{t['percentile']}={fmt(t['value_s'])}s of {t['n']}" if t
                       else f"n={len(lat)} (too few for a tail)")
            )
        print(f"  {wl:13s} parent {row[0]:40s} change {row[1]}")


def noisy(recs: list[dict]) -> list[str]:
    out = []
    for r in recs:
        a, b = r.get("canary_before_s"), r.get("canary_after_s")
        if a and b and max(a / b, b / a) > QUIET_GATE:
            out.append(f"{os.path.basename(r['_file'])} canary {fmt(a)}s -> {fmt(b)}s")
    return out


def layer_profile(recs: list[dict], wl: str) -> tuple[dict, dict]:
    """Median over traced runs of the per-op mean self time per span,
    and of the per-op mean of every count."""
    selfs: dict[str, list[float]] = {}
    counts: dict[str, list[float]] = {}
    for r in recs:
        if r["workload"] != wl or not r["trace"] or not r.get("op_traces"):
            continue
        ops = r["op_traces"]
        for key, acc in (("self_s", selfs), ("counts", counts)):
            names = {k for o in ops for k in o[key]}
            for k in names:
                acc.setdefault(k, []).append(sum(o[key].get(k, 0.0) for o in ops) / len(ops))
    med = lambda d: {k: statistics.median(v) for k, v in d.items()}  # noqa: E731
    return med(selfs), med(counts)


def trace_diff(par: list[dict], chg: list[dict]) -> None:
    for wl in sorted({r["workload"] for r in par + chg if r["trace"]}):
        (ps, pc), (cs, cc) = layer_profile(par, wl), layer_profile(chg, wl)
        if not (ps or pc) or not (cs or cc):
            continue
        print(f"\ntrace diff: {wl}")
        for recs, label in ((par, "parent"), (chg, "change")):
            traced = [r["per_layer"]["trace.op_mean_s"] for r in recs
                      if r["workload"] == wl and r["trace"] and r.get("per_layer")]
            plain = [r["end_to_end"]["op_mean_s"] for r in recs
                     if r["workload"] == wl and not r["trace"] and r.get("end_to_end")]
            if traced and plain:
                over = statistics.median(traced) - statistics.median(plain)
                print(f"  tracing overhead ({label}): {fmt(over)} s per op")
        layers: dict[str, float] = {}
        for k in (set(ps) | set(cs)) - WAITS:
            layers[k.split(".")[0]] = layers.get(k.split(".")[0], 0.0) + cs.get(k, 0.0) - ps.get(k, 0.0)
        for k in sorted(set(ps) | set(cs)):
            print(f"  self  {k:28s} {fmt(ps.get(k, 0.0)):>10s} -> {fmt(cs.get(k, 0.0)):>10s} s/op")
        for k in sorted(set(pc) | set(cc)):
            a, b = pc.get(k, 0.0), cc.get(k, 0.0)
            mark = "  (moved)" if a != b else ""
            print(f"  count {k:28s} {fmt(a):>10s} -> {fmt(b):>10s}{mark}")
        if layers:
            top = max(layers, key=lambda k: abs(layers[k]))
            print(f"  layer that moved most: {top} ({fmt(layers[top])} s/op self time)")


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    par, chg = load(argv[0]), load(argv[1])
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as fh:
        bench = json.load(fh)
    e2e_table(par, chg, bench)
    tails(par, chg)
    flagged = noisy(par + chg)
    print(f"\nruns past the {QUIET_GATE}x canary gate: {len(flagged)}")
    for line in flagged:
        print("  " + line)
    trace_diff(par, chg)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
