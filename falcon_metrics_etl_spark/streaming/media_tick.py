"""Incremental per-modality media ingest tick: the image and video
dedup families as one node-tagged family (node = 2 * doc_id +
is_video), run by the shared stage and tick bodies of
streaming/cross_modal_tick.py.

The family pairs like with like only — photos by banded Hamming
distance on their dHash, clips by shared frame hashes — so its
clusters never mix modalities, and its keep rule reproduces the two
batch queries' quality rules: a photo keeps on pixel area, then its
detail score (media_dedup_keep_best), a clip on its decoded frame
count (video_dedup_keep_best), node ASC last. Admission is
replace-if-better: a better arrival DISPLACES its matched incumbent
keeper, which is flagged 'displaced:near_dup' and every index row
pointing at it repoints to the winner. The tick's keep set stays
row-identical to the batch closures recomputed over everything
processed so far — the invariant the oracled
``media_keep_best_delta`` / ``video_keep_best_delta`` twins witness.

A dropped clip none of whose duplicate pairs is order-aligned (the
batch family's aligned-run algebra, plans/media_dedup.aligned_runs_of)
is a re-cut, not a trim, and flags 'dropped:near_dup:reordered'; the
clip index keeps every decoded frame with its ``frame_idx`` for it.

State under ``state_dir``, claimed with MEDIA_LAYOUT: ``fp_index``
(photos with codec, size and detail), ``band_index`` (their dHash band
rows, hash carried), ``frame_index`` (per-frame clip rows keyed
(node, frame_idx)) and ``media_flags``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from falcon_metrics_etl_spark.plans.media_dedup import MediaFamily
from falcon_metrics_etl_spark.streaming.cross_modal_tick import _stage, _tick

FP_SCHEMA = (
    "node long, doc_id long, codec string, dhash long, width int, "
    "height int, detail long, keep_node long, batch_id long"
)
FRAME_SCHEMA = (
    "node long, doc_id long, frame_idx int, frame_dhash long, "
    "n_frames long, keep_node long, batch_id long"
)
# the node-tagged layout; a state dir staged by the older doc-keyed
# layout (no node, band rows without their hash) raises on claim
MEDIA_LAYOUT = "media=node-tagged"
MEDIA = MediaFamily(
    modalities=("image", "video"),
    rule=("q1", "q2"),
    quality=(("CAST(width AS BIGINT) * height", "detail"), ("n_frames", "0")),
    bands=(("still", "band_index"),),
    pairings=(("still", "still"),),
    photos=True,
    nodes=(
        ("fp_index", FP_SCHEMA, ("node",)),
        ("frame_index", FRAME_SCHEMA, ("node", "frame_idx")),
    ),
    flags="media_flags",
    layout=MEDIA_LAYOUT,
    verify_order=True,
)


def stage_media_state(
    spark: SparkSession,
    docs: DataFrame,
    state_dir: str,
    batch_id: int = 0,
    images: DataFrame | None = None,
    clips: DataFrame | None = None,
) -> None:
    """Tick-0 backfill: the batch closure over the base corpus,
    persisted as the maintained state. ``images`` / ``clips`` override
    the fixture payload corpora with explicit (doc_id, media_type,
    codec, payload) frames — production passes its real media here."""
    _stage(
        spark, MEDIA, docs, state_dir, batch_id, stills=images, clips=clips
    )


def media_ingest_tick(
    spark: SparkSession,
    batch_docs: DataFrame,
    state_dir: str,
    batch_id: int,
    images: DataFrame | None = None,
    clips: DataFrame | None = None,
    vfp: DataFrame | None = None,
    maintenance_file_threshold: int | None = 64,
) -> None:
    """Process ONE delta batch of media docs end to end, idempotent
    under replay of the same (batch_docs, batch_id). ``images`` /
    ``clips`` override the fixture payload corpora (see
    stage_media_state); ``vfp`` injects ALREADY-DECODED clip frames
    (doc_id, frame_idx, frame_dhash), so the unified tick decodes the
    batch's Y4M streams once for both families
    (cross_modal_tick.unified_media_ingest_tick)."""
    _tick(
        spark, MEDIA, batch_docs, state_dir, batch_id, vfp,
        maintenance_file_threshold, stills=images, clips=clips,
    )
