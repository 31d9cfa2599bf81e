"""The benchmark's tracer (perfbench/tracer.py) patches engine
functions by name. ``Tracer.replace`` skips a missing attribute
silently, so renaming a seam would only zero the per-layer metrics;
this test makes such a rename fail."""

from __future__ import annotations

import sys
from pathlib import Path

PERFBENCH = str(Path(__file__).resolve().parent.parent / "perfbench")
ENGINE = "falcon_metrics_etl_spark"

SEAMS = {
    (f"{ENGINE}.state", "overwrite_state"),
    (f"{ENGINE}.state", "append_state"),
    (f"{ENGINE}.state", "merge_state"),
    (f"{ENGINE}.state", "maintain_state_dir"),
    (f"{ENGINE}.state", "compact_state_table"),
    (f"{ENGINE}.session", "run_concurrent"),
    (f"{ENGINE}.session", "start_concurrent"),
    (f"{ENGINE}.streaming.cross_modal_tick", "trimodal_ingest_tick"),
    (f"{ENGINE}.streaming.cross_modal_tick", "unified_media_ingest_tick"),
    (f"{ENGINE}.streaming.cross_modal_tick", "_phase_timer"),
}


def test_tracer_patches_every_seam():
    sys.path.insert(0, PERFBENCH)
    try:
        import tracer

        t = tracer.Tracer()
        try:
            tracer.install_layer_spans(t)
            patched = {(mod.__name__, name) for mod, name, _ in t._patched}
        finally:
            t.unpatch()
    finally:
        sys.path.remove(PERFBENCH)
    assert SEAMS <= patched, SEAMS - patched
