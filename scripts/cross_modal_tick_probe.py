"""Media tick flatness probe: stage a node-tagged media family's
indexes on a 1x corpus (sf0.001, 500 docs) and a 10x corpus (sf0.1,
5000 docs), then tick the SAME fixed fresh-group delta against each
and compare wall clock — the claim under test is that tick cost
scales with the DELTA, not the maintained state. ``bimodal`` stages
thumbnails and clips; ``trimodal`` adds recordings and soundtrack
rips; ``media`` stages the per-modality family (photos and clips).

Every timed tick also prints its per-phase wall time and Spark job
count: the tick's ``_phase_timer`` is swapped for a mark that diffs
the status tracker's job ids (jobs are numbered in submission order,
so the jobs of a phase are the ids submitted between two marks,
background waves included).

Usage: python scripts/cross_modal_tick_probe.py [bimodal|trimodal|media] [n_delta] [draws]
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from falcon_metrics_etl_spark.session import get_spark
from falcon_metrics_etl_spark.sources import load_table
from falcon_metrics_etl_spark.streaming import cross_modal_tick as CMT
from falcon_metrics_etl_spark.streaming.cross_modal_tick import (
    cross_modal_ingest_tick,
    stage_cross_modal_state,
    stage_trimodal_state,
    trimodal_ingest_tick,
)
from falcon_metrics_etl_spark.streaming.media_tick import (
    media_ingest_tick,
    stage_media_state,
)


def next_job_id(spark) -> int:
    """Smallest job id not yet submitted."""
    st = spark.sparkContext.statusTracker()
    j = max([-1, *st.getJobIdsForGroup(None), *st.getActiveJobsIds()]) + 1
    while st.getJobInfo(j) is not None:
        j += 1
    return j


def job_phase_timer(spark, phases: list):
    """A ``_phase_timer`` stand-in: each mark appends (label, wall s,
    jobs) of the phase that ended at it to ``phases``."""

    def factory():
        last = [time.perf_counter(), next_job_id(spark)]

        def mark(label: str) -> None:
            now, job = time.perf_counter(), next_job_id(spark)
            phases.append((label, now - last[0], job - last[1]))
            last[:] = [now, job]

        return mark

    return factory


def main() -> None:
    families = {
        "bimodal": (stage_cross_modal_state, cross_modal_ingest_tick),
        "trimodal": (stage_trimodal_state, trimodal_ingest_tick),
        "media": (stage_media_state, media_ingest_tick),
    }
    family = sys.argv[1] if len(sys.argv) > 1 else "bimodal"
    if family not in families:
        raise SystemExit(f"family must be one of {', '.join(families)}")
    stage, tick = families[family]
    n_delta = int(sys.argv[2]) if len(sys.argv) > 2 else 120
    draws = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark = get_spark(f"{family}_tick_probe")
    phases: list = []
    CMT._phase_timer = job_phase_timer(spark, phases)
    # fixed delta: fresh content groups far beyond both corpora;
    # multiples of CM_THUMB_MOD/CM_TRACK_MOD land thumbnails and rips
    # in every batch
    delta = spark.createDataFrame(
        [(10_000_000 + i,) for i in range(n_delta)], "doc_id long"
    ).persist()
    delta.count()

    results = {}
    for tag, sf_dir in (("1x", "/root/testdata/sf0.001"),
                        ("10x", "/root/testdata/sf0.1")):
        state = tempfile.mkdtemp(prefix=f"{family}_probe_{tag}_")
        base = load_table(spark, sf_dir, "documents").select("doc_id")
        stage(spark, base, state, batch_id=0)
        tick(spark, delta, state, batch_id=1)
        runs = []
        for _ in range(draws):
            phases.clear()
            t0 = time.time()
            tick(spark, delta, state, batch_id=1)
            runs.append(time.time() - t0)
            print(f"{tag} tick {time.time() - t0:.2f}s, jobs "
                  f"{sum(j for _, _, j in phases)}: " + ", ".join(
                      f"{label} {wall:.2f}s/{jobs}j"
                      for label, wall, jobs in phases
                  ), flush=True)
        med = sorted(runs)[len(runs) // 2]
        results[tag] = med
        print(f"{tag}: base={base.count()} docs, tick median "
              f"{med:.2f}s (runs: {['%.2f' % r for r in runs]})",
              flush=True)
        shutil.rmtree(state, ignore_errors=True)
    print(f"ratio 10x/1x: {results['10x'] / results['1x']:.2f}")
    spark.stop()


if __name__ == "__main__":
    main()
