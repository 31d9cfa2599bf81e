"""Incremental perceptual-media ingest tick (streaming/media_tick.py),
QUALITY-AWARE since r12: the tick's keep set must stay row-identical
to the batch keep-best recomputed over everything processed so far
(the IVM invariant the oracled media_keep_best_delta /
video_keep_best_delta queries witness), a better arrival DISPLACES
its matched incumbent keeper, admission is independent of how docs
split across batches, video admission runs the temporal-order
verification (a re-cut flags distinctly from a trim), and every step
is idempotent under replay.

The dHash fixture groups doc_ids in fours around one luma surface
(variant = doc_id % 4) and the video fixture in threes around one
clip (trim-and-extend variants), so group mates are planted
near-duplicates with fixture-determined quality (detail / n_frames)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from falcon_metrics_etl_spark.functions import multimodal as MM
from falcon_metrics_etl_spark.state import read_state
from falcon_metrics_etl_spark.plans.media_dedup import (
    VIDEO_SHARED_T,
    image_keep_best_of,
    video_keep_best_of,
)
from falcon_metrics_etl_spark.streaming.media_tick import (
    media_ingest_tick,
    stage_media_state,
)


def _docs(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def _flags(spark, state_dir):
    return {
        (r["doc_id"], r["modality"]): r["status"]
        for r in read_state(spark, f"{state_dir}/media_flags").collect()
    }


def _fp_keep_ids(spark, state_dir):
    # node-tagged index: a keeper node is 2 * keeper doc (+ 1 for clips)
    return {
        r["doc_id"]: r["keep_node"] // 2
        for r in read_state(spark, f"{state_dir}/fp_index").collect()
    }


def _frame_keep_ids(spark, state_dir):
    return {
        r["doc_id"]: r["keep_node"] // 2
        for r in read_state(spark, f"{state_dir}/frame_index")
        .select("doc_id", "keep_node")
        .distinct()
        .collect()
    }


def _batch_image_expect(spark, ids):
    """The batch pipeline's resolution over ``ids`` — what the tick
    must reproduce incrementally."""
    fp = MM.media_dhash(
        MM.attach_payload_dhash_corpus(_docs(spark, ids)), with_detail=True
    )
    return {
        r["doc_id"]: (r["keep_id"], r["status"])
        for r in image_keep_best_of(fp).collect()
    }


def _batch_video_expect(spark, ids):
    fp = MM.video_frame_dhash(
        MM.attach_payload_video_clips(_docs(spark, ids))
    ).select("doc_id", "frame_idx", "frame_dhash")
    return {
        r["doc_id"]: (r["keep_id"], r["status"])
        for r in video_keep_best_of(fp).collect()
    }


ALL_IDS = list(range(24))
BASE_IDS = [i for i in ALL_IDS if i % 5 != 0]
DELTA_IDS = [i for i in ALL_IDS if i % 5 == 0]


@pytest.fixture(scope="module")
def ticked(spark, tmp_path_factory):
    """Stage the base slice, tick the delta — the shared scenario the
    equality / replay tests read."""
    state = str(tmp_path_factory.mktemp("media_state"))
    stage_media_state(spark, _docs(spark, BASE_IDS), state, batch_id=0)
    media_ingest_tick(spark, _docs(spark, DELTA_IDS), state, batch_id=1)
    return state


def test_tick_keep_set_equals_batch_keep_best(spark, ticked):
    """THE invariant (r11 verdict #2): after staging base and ticking
    the delta, kept docs and every row's keeper equal the batch
    keep-best recomputed over the union corpus — for BOTH modalities.
    The delta slice crosses fixture groups, so this exercises
    admission, rejection AND displacement (a delta doc beating a
    staged keeper)."""
    flags = _flags(spark, ticked)
    exp_img = _batch_image_expect(spark, ALL_IDS)
    exp_vid = _batch_video_expect(spark, ALL_IDS)

    tick_img_kept = {d for d in ALL_IDS if flags[(d, "image")] == "kept"}
    batch_img_kept = {d for d, (_, s) in exp_img.items() if s == "kept"}
    assert tick_img_kept == batch_img_kept

    tick_vid_kept = {d for d in ALL_IDS if flags[(d, "video")] == "kept"}
    batch_vid_kept = {d for d, (_, s) in exp_vid.items() if s == "kept"}
    assert tick_vid_kept == batch_vid_kept

    # keeper ids, not just the kept set: every index row points at the
    # batch keeper (displacements repointed)
    assert _fp_keep_ids(spark, ticked) == {
        d: k for d, (k, _) in exp_img.items()
    }
    assert _frame_keep_ids(spark, ticked) == {
        d: k for d, (k, _) in exp_vid.items()
    }

    # the scenario must actually exercise displacement, or the test
    # proves less than it claims: some staged doc lost its keeper role
    displaced = [
        d for d in BASE_IDS
        if flags[(d, "image")] == "displaced:near_dup"
        or flags[(d, "video")] == "displaced:near_dup"
    ]
    assert displaced, "fixture slice planted no displacement"


def test_split_ticks_equal_single_tick(spark, tmp_path_factory):
    """Admission is batch-composition independent (advisor r11): the
    same delta docs processed as ONE tick or split across TWO ticks
    land the identical final state."""
    one = str(tmp_path_factory.mktemp("media_one"))
    two = str(tmp_path_factory.mktemp("media_two"))
    stage_media_state(spark, _docs(spark, BASE_IDS), one, batch_id=0)
    stage_media_state(spark, _docs(spark, BASE_IDS), two, batch_id=0)

    media_ingest_tick(spark, _docs(spark, DELTA_IDS), one, batch_id=1)
    media_ingest_tick(spark, _docs(spark, DELTA_IDS[::2]), two, batch_id=1)
    media_ingest_tick(spark, _docs(spark, DELTA_IDS[1::2]), two, batch_id=2)

    f_one, f_two = _flags(spark, one), _flags(spark, two)
    kept = lambda f, m: {d for d in ALL_IDS if f[(d, m)] == "kept"}  # noqa: E731
    assert kept(f_one, "image") == kept(f_two, "image")
    assert kept(f_one, "video") == kept(f_two, "video")
    assert _fp_keep_ids(spark, one) == _fp_keep_ids(spark, two)
    assert _frame_keep_ids(spark, one) == _frame_keep_ids(spark, two)


def test_best_arrival_displaces_staged_keeper(spark, tmp_path_factory):
    """Replace-if-better, isolated: stage one fixture group WITHOUT
    its best member, then tick the best member — it must be kept, the
    staged keeper flagged displaced, and the index repointed."""
    exp = _batch_image_expect(spark, [0, 1, 2, 3])
    clusters: dict[int, list[int]] = {}
    for d, (k, _) in exp.items():
        clusters.setdefault(k, []).append(d)
    keeper, members = next(
        (k, m) for k, m in clusters.items() if len(m) >= 2
    )
    rest = [d for d in members if d != keeper]

    state = str(tmp_path_factory.mktemp("media_displace"))
    stage_media_state(spark, _docs(spark, rest), state, batch_id=0)
    staged_keepers = set(_fp_keep_ids(spark, state).values())
    media_ingest_tick(spark, _docs(spark, [keeper]), state, batch_id=1)

    flags = _flags(spark, state)
    assert flags[(keeper, "image")] == "kept"
    displaced = {
        d for d in rest if flags[(d, "image")] == "displaced:near_dup"
    }
    assert displaced and displaced <= staged_keepers
    # every member the keeper reaches now points at it
    keep_ids = _fp_keep_ids(spark, state)
    assert keep_ids[keeper] == keeper
    for d in displaced:
        assert keep_ids[d] == keeper


def _clip_planes(doc_id):
    """Rebuild the fixture clip's luma planes (the same draws
    attach_payload_video_clips makes) so tests can re-cut them."""
    w, h = 8 * MM.DHASH_GRID_W, 8 * MM.DHASH_GRID_H

    def plane(fkey):
        rows = []
        for by in range(MM.DHASH_GRID_H):
            row = b"".join(
                bytes([MM.video_block_value(fkey, bx, by)]) * 8
                for bx in range(MM.DHASH_GRID_W)
            )
            rows.extend([row] * 8)
        return b"".join(rows)

    return w, h, [plane(k) for k in MM.video_frame_keys(doc_id)]


def _clips_df(spark, rows):
    return spark.createDataFrame(
        [(i, "video", "y4m", p) for i, p in rows],
        "doc_id long, media_type string, codec string, payload binary",
    )


def test_video_reorder_flagged_distinctly_from_trim(spark, tmp_path_factory):
    """Temporal-order verification in the tick (r11 verdict #5): a
    clip sharing >= VIDEO_SHARED_T frames with an incumbent is still a
    duplicate, but when NO candidate pair has an order-aligned run the
    evidence says re-cut, not copy — flagged
    'dropped:near_dup:reordered'; a genuine trim keeps the plain
    'dropped:near_dup'; and a LONGER re-container (more frames)
    displaces the incumbent."""
    state = str(tmp_path_factory.mktemp("media_reorder"))
    stage_media_state(spark, _docs(spark, [0]), state, batch_id=0)
    w, h, planes = _clip_planes(0)

    reordered = MM.encode_y4m_mono_raster(w, h, planes[::-1])
    trimmed = MM.encode_y4m_mono_raster(w, h, planes[1:])
    fresh9 = [
        bytes([(7 * i + 13) % 256]) * (w * h) for i in range(3)
    ]
    extended = MM.encode_y4m_mono_raster(w, h, planes + fresh9)
    batch = [(1000, reordered), (2000, trimmed), (3000, extended)]

    media_ingest_tick(
        spark,
        _docs(spark, [i for i, _ in batch]),
        state,
        batch_id=1,
        clips=_clips_df(spark, batch),
    )
    flags = _flags(spark, state)
    assert flags[(1000, "video")] == "dropped:near_dup:reordered"
    assert flags[(2000, "video")] == "dropped:near_dup"
    # the 9-frame extension beats the 6-frame incumbent on quality
    assert flags[(3000, "video")] == "kept"
    assert flags[(0, "video")] == "displaced:near_dup"
    keep_ids = _frame_keep_ids(spark, state)
    assert keep_ids[0] == 3000 and keep_ids[3000] == 3000
    # reordered/trimmed copies joined the winner's cluster too
    assert keep_ids[1000] == 3000 and keep_ids[2000] == 3000


def test_replay_is_idempotent(spark, ticked):
    def snapshot():
        counts = {}
        for name in ("fp_index", "band_index", "frame_index", "media_flags"):
            counts[name] = read_state(spark, f"{ticked}/{name}").count()
        return (
            counts,
            _flags(spark, ticked),
            _fp_keep_ids(spark, ticked),
            _frame_keep_ids(spark, ticked),
        )

    before = snapshot()
    media_ingest_tick(spark, _docs(spark, DELTA_IDS), ticked, batch_id=1)
    assert snapshot() == before


def test_video_shared_threshold_pins_group_distance(spark):
    # group-mate clips share VIDEO_FRAMES - |v1 - v2| frames; variant
    # distance 2 shares exactly 4 >= VIDEO_SHARED_T, cross-group 0
    a, b = 18, 20  # group 6 variants 0 and 2
    sig = (
        MM.video_frame_dhash(
            MM.attach_payload_video_clips(_docs(spark, [a, b, 100]))
        )
        .select("doc_id", "frame_dhash")
        .distinct()
        .collect()
    )
    by_doc = {}
    for r in sig:
        by_doc.setdefault(r["doc_id"], set()).add(r["frame_dhash"])
    assert len(by_doc[a] & by_doc[b]) == MM.VIDEO_FRAMES - 2
    assert len(by_doc[a] & by_doc[100]) == 0
    assert MM.VIDEO_FRAMES - 2 >= VIDEO_SHARED_T


def test_tick_refuses_doc_keyed_layout(spark, tmp_path):
    """The media state is node-tagged and its band rows carry their
    hash. A dir staged by the older doc-keyed layout (keep_id columns,
    band rows without the hash) carries no layout stamp; probing it
    would read a null hash and re-admit duplicates without an error, so
    the stage and the tick both refuse it."""
    state = str(tmp_path / "media")
    old = {
        "fp_index": (
            [(1, "png", 5, 8, 8, 3, 1, 0)],
            "doc_id long, codec string, dhash long, width int, "
            "height int, detail long, keep_id long, batch_id long",
        ),
        "band_index": (
            [(1, 0, 5, 0)], "doc_id long, band int, byte long, batch_id long"
        ),
        "frame_index": (
            [(1, 0, 7, 1, 1, 0)],
            "doc_id long, frame_idx int, frame_dhash long, n_frames long, "
            "keep_id long, batch_id long",
        ),
    }
    for table, (rows, schema) in old.items():
        spark.createDataFrame(rows, schema).write.parquet(f"{state}/{table}")
    with pytest.raises(ValueError, match="predates layout stamping"):
        media_ingest_tick(spark, _docs(spark, [4]), state, batch_id=1)
    with pytest.raises(ValueError, match="predates layout stamping"):
        stage_media_state(spark, _docs(spark, [4]), state, batch_id=0)
