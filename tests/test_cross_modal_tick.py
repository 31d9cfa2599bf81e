"""Incremental CROSS-MODAL ingest tick
(streaming/cross_modal_tick.py): the tick's keep set must stay
row-identical to the batch mixed closure (cross_modal_keep_best_of)
recomputed over everything processed so far — the IVM invariant the
oracled cross_modal_keep_best_delta query witnesses — admission must
be batch-composition independent, a still admitted alone must be
DISPLACED the tick its source footage arrives, and every step must be
idempotent under replay.

Fixture geometry: every CM_THUMB_MOD-th doc exports one keyframe of
its own clip as a PNG still (node 2*doc_id), every doc has a 6-frame
clip in a VIDEO_GROUP of trim-and-extend variants (node 2*doc_id+1);
the mixed keep rule is most-frames (stills count 1), ties to the
smallest node."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from falcon_metrics_etl_spark.functions import multimodal as MM
from falcon_metrics_etl_spark.state import read_state
from falcon_metrics_etl_spark.plans.media_dedup import (
    cross_modal_keep_best_of,
)
from falcon_metrics_etl_spark.streaming.cross_modal_tick import (
    cross_modal_ingest_tick,
    stage_cross_modal_state,
)

MEDIA_SCHEMA = "doc_id long, media_type string, codec string, payload binary"


def _docs(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "doc_id long")


def _empty_media(spark):
    return spark.createDataFrame([], MEDIA_SCHEMA)


def _flags(spark, state_dir):
    return {
        (r["doc_id"], r["modality"]): r["status"]
        for r in read_state(spark, f"{state_dir}/cm_flags").collect()
    }


def _keeps(spark, state_dir):
    """node -> keep_node across BOTH indexes."""
    out = {}
    for r in (
        read_state(spark, f"{state_dir}/cm_image_index")
        .select("node", "keep_node")
        .collect()
    ):
        out[r["node"]] = r["keep_node"]
    for r in (
        read_state(spark, f"{state_dir}/cm_frame_index")
        .select("node", "keep_node")
        .distinct()
        .collect()
    ):
        out[r["node"]] = r["keep_node"]
    return out


def _batch_expect(spark, ids):
    """The batch mixed closure over ``ids`` — node -> (keep_node,
    kept?)."""
    d = _docs(spark, ids)
    t = MM.media_dhash(MM.attach_payload_keyframe_thumbs(d)).select(
        "doc_id", "dhash"
    )
    v = MM.video_frame_dhash(MM.attach_payload_video_clips(d)).select(
        "doc_id", "frame_idx", "frame_dhash"
    )
    return {
        r["node"]: (r["keep_node"], r["node"] == r["keep_node"])
        for r in cross_modal_keep_best_of(t, v).collect()
    }


ALL_IDS = list(range(28))
BASE_IDS = [i for i in ALL_IDS if i % 5 != 0]
DELTA_IDS = [i for i in ALL_IDS if i % 5 == 0]


@pytest.fixture(scope="module")
def ticked(spark, tmp_path_factory):
    state = str(tmp_path_factory.mktemp("cm_state"))
    stage_cross_modal_state(spark, _docs(spark, BASE_IDS), state, batch_id=0)
    cross_modal_ingest_tick(
        spark, _docs(spark, DELTA_IDS), state, batch_id=1
    )
    return state


def test_tick_keep_set_equals_batch_closure(spark, ticked):
    """THE invariant: after staging base and ticking the delta, every
    node's keeper equals the batch mixed closure over the union corpus
    — thumbs and clips jointly, displacements repointed."""
    exp = _batch_expect(spark, ALL_IDS)
    assert _keeps(spark, ticked) == {n: k for n, (k, _) in exp.items()}
    flags = _flags(spark, ticked)
    kept_nodes = {
        2 * d + (1 if m == "video" else 0)
        for (d, m), s in flags.items()
        if s == "kept"
    }
    assert kept_nodes == {n for n, (_, kept) in exp.items() if kept}
    # the slice must actually exercise displacement (a delta clip with
    # a smaller node than its staged group keeper)
    assert any(
        s == "displaced:near_dup" for (d, _), s in flags.items()
        if d in BASE_IDS
    ), "fixture slice planted no displacement"


def test_split_ticks_equal_single_tick(spark, tmp_path_factory):
    one = str(tmp_path_factory.mktemp("cm_one"))
    two = str(tmp_path_factory.mktemp("cm_two"))
    stage_cross_modal_state(spark, _docs(spark, BASE_IDS), one, batch_id=0)
    stage_cross_modal_state(spark, _docs(spark, BASE_IDS), two, batch_id=0)
    cross_modal_ingest_tick(spark, _docs(spark, DELTA_IDS), one, batch_id=1)
    cross_modal_ingest_tick(
        spark, _docs(spark, DELTA_IDS[::2]), two, batch_id=1
    )
    cross_modal_ingest_tick(
        spark, _docs(spark, DELTA_IDS[1::2]), two, batch_id=2
    )
    assert _keeps(spark, one) == _keeps(spark, two)
    f_one, f_two = _flags(spark, one), _flags(spark, two)
    kept = lambda f: {k for k, s in f.items() if s == "kept"}  # noqa: E731
    assert kept(f_one) == kept(f_two)


def test_footage_displaces_admitted_still(spark, tmp_path_factory):
    """The cross-modal semantic this tick exists for: a thumbnail
    admitted while alone is displaced the tick its source footage
    arrives — the clip keeps (most frames), the still flags
    displaced, and the image index repoints to the clip's node."""
    d = 7  # has a thumbnail (7 % CM_THUMB_MOD == 0)
    assert d % MM.CM_THUMB_MOD == 0
    state = str(tmp_path_factory.mktemp("cm_displace"))
    stage_cross_modal_state(
        spark,
        _docs(spark, [d]),
        state,
        batch_id=0,
        clips=_empty_media(spark),  # the still arrives FIRST
    )
    flags = _flags(spark, state)
    assert flags[(d, "image")] == "kept"

    cross_modal_ingest_tick(
        spark,
        _docs(spark, [d]),
        state,
        batch_id=1,
        thumbs=_empty_media(spark),  # now only the footage arrives
    )
    flags = _flags(spark, state)
    assert flags[(d, "video")] == "kept"
    assert flags[(d, "image")] == "displaced:near_dup"
    keeps = _keeps(spark, state)
    assert keeps[2 * d] == 2 * d + 1  # still repointed to the clip
    assert keeps[2 * d + 1] == 2 * d + 1


def test_displacement_rewrites_only_indexes_it_touches(
    spark, tmp_path_factory
):
    """A displaced still repoints the image index; the frame index has
    no row pointing at the still, so its snapshot pointer must not
    move (an unguarded repoint rewrote it as a new snapshot)."""
    import os

    from falcon_metrics_etl_spark.state import CURRENT_POINTER

    def pointer(table):
        with open(os.path.join(state, table, CURRENT_POINTER)) as f:
            return f.read()

    d = 7
    state = str(tmp_path_factory.mktemp("cm_guard"))
    stage_cross_modal_state(
        spark, _docs(spark, [d]), state, batch_id=0,
        clips=_empty_media(spark),
    )
    img, frame = pointer("cm_image_index"), pointer("cm_frame_index")
    cross_modal_ingest_tick(
        spark, _docs(spark, [d]), state, batch_id=1,
        thumbs=_empty_media(spark), maintenance_file_threshold=None,
    )
    assert _flags(spark, state)[(d, "image")] == "displaced:near_dup"
    assert pointer("cm_image_index") != img
    assert pointer("cm_frame_index") == frame


def test_replay_is_idempotent(spark, ticked):
    def snapshot():
        counts = {
            name: read_state(spark, f"{ticked}/{name}").count()
            for name in (
                "cm_image_index", "cm_tband_index", "cm_frame_index",
                "cm_fband_index", "cm_flags",
            )
        }
        return counts, _flags(spark, ticked), _keeps(spark, ticked)

    before = snapshot()
    cross_modal_ingest_tick(
        spark, _docs(spark, DELTA_IDS), ticked, batch_id=1
    )
    assert snapshot() == before


def test_unified_tick_equals_separate_ticks(spark, tmp_path_factory):
    """r13 consolidation: the unified tick (one clip decode feeding
    BOTH state families) lands state identical to running the
    per-modality and cross-modal ticks separately."""
    from falcon_metrics_etl_spark.streaming.cross_modal_tick import (
        unified_media_ingest_tick,
    )
    from falcon_metrics_etl_spark.streaming.media_tick import (
        media_ingest_tick,
        stage_media_state,
    )

    m_sep = str(tmp_path_factory.mktemp("u_media_sep"))
    c_sep = str(tmp_path_factory.mktemp("u_cm_sep"))
    m_uni = str(tmp_path_factory.mktemp("u_media_uni"))
    c_uni = str(tmp_path_factory.mktemp("u_cm_uni"))
    base = _docs(spark, BASE_IDS)
    delta = _docs(spark, DELTA_IDS)
    for m, c in ((m_sep, c_sep), (m_uni, c_uni)):
        stage_media_state(spark, base, m, batch_id=0)
        stage_cross_modal_state(spark, base, c, batch_id=0)
    media_ingest_tick(spark, delta, m_sep, batch_id=1)
    cross_modal_ingest_tick(spark, delta, c_sep, batch_id=1)
    unified_media_ingest_tick(spark, delta, m_uni, c_uni, batch_id=1)

    def rows(path):
        # parquet part files written by different steps can disagree on
        # column ORDER; compare by name, not position
        df = read_state(spark, path)
        cols = sorted(df.columns)
        return sorted(
            tuple(r[c] for c in cols) for r in df.collect()
        )

    for sub in ("fp_index", "band_index", "frame_index", "media_flags"):
        assert rows(f"{m_sep}/{sub}") == rows(f"{m_uni}/{sub}"), sub
    for sub in (
        "cm_image_index", "cm_tband_index", "cm_frame_index",
        "cm_fband_index", "cm_flags",
    ):
        assert rows(f"{c_sep}/{sub}") == rows(f"{c_uni}/{sub}"), sub


# ---------------------------------------------------------------------------
# TRIMODAL tick (r13)
# ---------------------------------------------------------------------------


def _batch_expect3(spark, ids):
    """The batch trimodal closure over ``ids`` — node -> (keep_node,
    kept?)."""
    from falcon_metrics_etl_spark.plans.media_dedup import (
        trimodal_keep_best_of,
    )

    d = _docs(spark, ids)
    t = MM.media_dhash(MM.attach_payload_keyframe_thumbs(d)).select(
        "doc_id", "dhash"
    )
    v = MM.video_frame_dhash(MM.attach_payload_video_clips(d)).select(
        "doc_id", "frame_idx", "frame_dhash"
    )
    a = MM.audio_spectral_dhash(MM.attach_payload_audio_clips(d)).select(
        "doc_id", "n_windows", "sphash"
    )
    r = MM.audio_spectral_dhash(
        MM.attach_payload_soundtrack_wavs(d)
    ).select("doc_id", "sphash")
    return {
        r2["node"]: (r2["keep_node"], r2["node"] == r2["keep_node"])
        for r2 in trimodal_keep_best_of(t, v, a, r).collect()
    }


def _flags3(spark, state_dir):
    return {
        (r["doc_id"], r["modality"]): r["status"]
        for r in read_state(spark, f"{state_dir}/cm3_flags").collect()
    }


def _keeps3(spark, state_dir):
    out = {}
    for sub in ("cm3_image_index", "cm3_frame_index", "cm3_audio_index"):
        for r in (
            read_state(spark, f"{state_dir}/{sub}")
            .select("node", "keep_node")
            .distinct()
            .collect()
        ):
            out[r["node"]] = r["keep_node"]
    return out


def test_trimodal_tick_keep_set_equals_batch_closure(
    spark, tmp_path_factory
):
    """After staging the base and ticking the delta, every node's
    keeper equals the batch trimodal closure over ALL processed
    docs — the invariant the oracled cross_modal_trimodal_delta twin
    hash-matches."""
    from falcon_metrics_etl_spark.streaming.cross_modal_tick import (
        stage_trimodal_state,
        trimodal_ingest_tick,
    )

    state = str(tmp_path_factory.mktemp("cm3_state"))
    stage_trimodal_state(spark, _docs(spark, BASE_IDS), state, batch_id=0)
    trimodal_ingest_tick(spark, _docs(spark, DELTA_IDS), state, batch_id=1)
    expect = _batch_expect3(spark, ALL_IDS)
    got = _keeps3(spark, state)
    assert set(got) == set(expect)
    for node, keep in got.items():
        assert keep == expect[node][0], node


def test_trimodal_footage_displaces_admitted_recording(
    spark, tmp_path_factory
):
    """A standalone recording admitted while alone is DISPLACED the
    tick its source footage (whose soundtrack rip matches it)
    arrives: the clip keeps, the recording flags displaced, and the
    audio index repoints to the clip node."""
    from falcon_metrics_etl_spark.streaming.cross_modal_tick import (
        stage_trimodal_state,
        trimodal_ingest_tick,
    )

    doc = 18  # % 9 == 0: its clip ships a soundtrack rip
    state = str(tmp_path_factory.mktemp("cm3_displace"))
    d = _docs(spark, [doc])
    em = _empty_media(spark)
    # tick 0: ONLY the recording exists
    stage_trimodal_state(
        spark, d, state, batch_id=0,
        thumbs=em, clips=em, tracks=em,
    )
    flags = _flags3(spark, state)
    assert flags[(doc, "audio")] == "kept"
    # tick 1: the footage + its rip arrive
    trimodal_ingest_tick(
        spark, d, state, batch_id=1, thumbs=em, recordings=em,
    )
    flags = _flags3(spark, state)
    assert flags[(doc, "video")] == "kept"
    assert flags[(doc, "audio")] == "displaced:near_dup"
    au = read_state(spark, f"{state}/cm3_audio_index").collect()
    assert len(au) == 1
    assert au[0]["keep_node"] == doc * 3 + 1  # repointed to the clip


def test_trimodal_replay_is_idempotent(spark, tmp_path_factory):
    """Replaying the same (batch, batch_id) leaves every cm3_* table
    row-identical."""
    from falcon_metrics_etl_spark.streaming.cross_modal_tick import (
        stage_trimodal_state,
        trimodal_ingest_tick,
    )

    state = str(tmp_path_factory.mktemp("cm3_replay"))
    stage_trimodal_state(spark, _docs(spark, BASE_IDS), state, batch_id=0)
    trimodal_ingest_tick(spark, _docs(spark, DELTA_IDS), state, batch_id=1)

    def snap():
        out = {}
        for sub in (
            "cm3_image_index", "cm3_tband_index", "cm3_frame_index",
            "cm3_fband_index", "cm3_audio_index", "cm3_aband_index",
            "cm3_trband_index", "cm3_flags",
        ):
            df = read_state(spark, f"{state}/{sub}")
            cols = sorted(df.columns)
            out[sub] = sorted(
                tuple(r[c] for c in cols) for r in df.collect()
            )
        return out

    before = snap()
    trimodal_ingest_tick(spark, _docs(spark, DELTA_IDS), state, batch_id=1)
    assert snap() == before


def test_unified_tick_trimodal_option(spark, tmp_path_factory):
    """unified_media_ingest_tick(trimodal_state_dir=...) drives the
    TRIMODAL tick off the shared clip decode and lands state
    identical to running trimodal_ingest_tick directly."""
    from falcon_metrics_etl_spark.streaming.cross_modal_tick import (
        stage_trimodal_state,
        trimodal_ingest_tick,
        unified_media_ingest_tick,
    )
    from falcon_metrics_etl_spark.streaming.media_tick import (
        stage_media_state,
    )

    m_uni = str(tmp_path_factory.mktemp("u3_media"))
    t_sep = str(tmp_path_factory.mktemp("u3_tri_sep"))
    t_uni = str(tmp_path_factory.mktemp("u3_tri_uni"))
    base = _docs(spark, BASE_IDS)
    delta = _docs(spark, DELTA_IDS)
    stage_media_state(spark, base, m_uni, batch_id=0)
    stage_trimodal_state(spark, base, t_sep, batch_id=0)
    stage_trimodal_state(spark, base, t_uni, batch_id=0)
    trimodal_ingest_tick(spark, delta, t_sep, batch_id=1)
    unified_media_ingest_tick(
        spark, delta, m_uni, cm_state_dir=None, batch_id=1,
        trimodal_state_dir=t_uni,
    )

    def rows(path):
        df = read_state(spark, path)
        cols = sorted(df.columns)
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    for sub in (
        "cm3_image_index", "cm3_frame_index", "cm3_audio_index",
        "cm3_flags",
    ):
        assert rows(f"{t_sep}/{sub}") == rows(f"{t_uni}/{sub}"), sub


def test_node_id_arithmetic_exact_on_huge_doc_ids(spark):
    """Property-pin the integer-div id class (r14, r13 verdict #6):
    db49944 fixed float division on node ids — ``(col / k).cast
    ('long')`` rounds through float64 and corrupts ids >= 2^52 —
    replacing every site with integer ``div``. This test generates
    doc_ids up to 2^60 through the node encode/decode arithmetic the
    cross-modal families use (node = k*doc_id + m; doc = node div k;
    modality = node % k) and asserts the roundtrip is exact for both
    the bimodal (k=2) and trimodal (k=3) tagging, so the class cannot
    recur."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from pyspark.sql import functions as F

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=0, max_value=(1 << 60)),
            min_size=1,
            max_size=24,
            unique=True,
        )
    )
    def check(doc_ids):
        df = spark.createDataFrame(
            [(d,) for d in doc_ids], "doc_id long"
        )
        for k in (2, 3):
            got = (
                df.select(
                    "doc_id",
                    F.explode(
                        F.array(*[F.lit(m) for m in range(k)])
                    ).alias("m"),
                )
                .select(
                    "doc_id",
                    "m",
                    (F.col("doc_id") * k + F.col("m")).alias("node"),
                )
                .select(
                    "doc_id",
                    "m",
                    F.expr(f"node div {k}").cast("long").alias("doc_rt"),
                    (F.col("node") % k).alias("m_rt"),
                )
                .collect()
            )
            for r in got:
                assert r["doc_rt"] == r["doc_id"], (k, r)
                assert r["m_rt"] == r["m"], (k, r)

    check()

    # the counterexample the fix removed: float division corrupts a
    # doc_id above 2^52 (float64 has 53 significand bits), integer
    # div does not — pinned so a future refactor cannot swap them back
    huge = (1 << 60) + 1
    row = (
        spark.createDataFrame([(huge * 3,)], "node long")
        .select(
            F.expr("node div 3").cast("long").alias("exact"),
            (F.col("node") / 3).cast("long").alias("via_float"),
        )
        .collect()[0]
    )
    assert row["exact"] == huge
    assert row["via_float"] != huge
