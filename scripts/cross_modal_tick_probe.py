"""Cross-modal tick flatness probe: stage a cross-modal family's
node-tagged indexes on a 1x corpus (sf0.001, 500 docs) and a 10x
corpus (sf0.1, 5000 docs), then tick the SAME fixed fresh-group delta
against each and compare wall clock — the claim under test is that
tick cost scales with the DELTA, not the maintained state (the media
tick's witness, extended to the joint closure). ``bimodal`` stages
thumbnails and clips; ``trimodal`` adds recordings and soundtrack
rips.

Usage: python scripts/cross_modal_tick_probe.py [bimodal|trimodal] [n_delta] [draws]
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from falcon_metrics_etl_spark.session import get_spark
from falcon_metrics_etl_spark.sources import load_table
from falcon_metrics_etl_spark.streaming.cross_modal_tick import (
    cross_modal_ingest_tick,
    stage_cross_modal_state,
    stage_trimodal_state,
    trimodal_ingest_tick,
)


def main() -> None:
    family = sys.argv[1] if len(sys.argv) > 1 else "bimodal"
    if family == "bimodal":
        stage, tick = stage_cross_modal_state, cross_modal_ingest_tick
    elif family == "trimodal":
        stage, tick = stage_trimodal_state, trimodal_ingest_tick
    else:
        raise SystemExit("family must be bimodal or trimodal")
    n_delta = int(sys.argv[2]) if len(sys.argv) > 2 else 120
    draws = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    spark = get_spark(f"{family}_tick_probe")
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
            t0 = time.time()
            tick(spark, delta, state, batch_id=1)
            runs.append(time.time() - t0)
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
