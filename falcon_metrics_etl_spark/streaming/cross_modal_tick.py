"""Incremental CROSS-MODAL ingest tick — the delta shape of the mixed
image/video keep-best closure (r12; extends the per-modality
streaming/media_tick.py with the r11 verdict's cross-modal family).

A batch of NEW media docs contributes stills (keyframe thumbnails)
and clips. Both fingerprint delta-only and probe the maintained
node-tagged indexes through the SAME three edge families as the batch
closure (plans/media_dedup.cross_modal_edges_of): thumb<->clip frame
(banded Hamming), thumb<->thumb (banded Hamming), clip<->clip (exact
frame-hash share >= VIDEO_SHARED_T). Verified edges lift onto the
keeper graph and resolve by connected components + argmax(n_frames
DESC, node ASC) over {batch nodes} u {matched incumbents' keepers}
(operators/keep_best.resolve_keep_best — the same operator as the
per-modality tick, on node ids 2*doc_id + is_video), so the tick's
keep set stays row-identical to cross_modal_keep_best recomputed over
everything processed so far — the IVM invariant the oracled
``cross_modal_keep_best_delta`` twin hash-matches against the batch
closure.

The semantics this buys a training pipeline: a thumbnail admitted
while alone is DISPLACED the tick its source footage arrives — the
footage keeps (most frames), the still flags 'displaced:near_dup',
and every index row pointing at the still repoints to the clip.

State under ``state_dir`` (plain parquet; production lands these
through sinks/bucketed.py keyed on their join columns):

- ``cm_image_index`` (node, doc_id, dhash, keep_node, batch_id) —
  every processed still, kept AND dropped (dropped fingerprints make
  the cluster closure exact across ticks — the media tick's design).
- ``cm_tband_index`` (doc_id, dhash, band, byte, batch_id) —
  still-hash band rows CARRYING the hash: at DHASH_HAMMING_T = 12 >
  7 the banding is part of the edge DEFINITION (a pair at Hamming
  8..12 sharing no band is NOT an edge), so probes must verify the
  exact banded hash pairs — carrying the hash makes the stored rows
  the same frames image_bands_of builds, and the tick feeds them to
  the factored cross_modal_edges_of unchanged.
- ``cm_frame_index`` (node, doc_id, frame_dhash, n_frames, keep_node,
  batch_id) — DISTINCT frame hashes per processed clip; n_frames is
  the clip's decoded frame count (its quality).
- ``cm_fband_index`` (doc_id, frame_dhash, band, byte, batch_id) —
  frame-hash band rows, hash carried for the same reason.
- ``cm_flags`` (doc_id, modality, status, batch_id) — 'kept',
  'dropped:near_dup', 'displaced:near_dup' through the keyed MERGE.

Replay safety: the contract of ``state.TickState``, flags keyed on
(doc_id, modality).

r13 additions:
- ``unified_media_ingest_tick`` — THE production entry for a corpus
  carrying photos, stills and clips: one Y4M decode of the batch
  feeds BOTH the per-modality tick and this mixed tick.
- the TRIMODAL family (``stage_trimodal_state`` /
  ``trimodal_ingest_tick``) — three-modality state on nodes
  3*doc_id + m adding standalone audio recordings and each clip's
  soundtrack rip, resolved with the five edge families and the
  (modality rank, units, node) argmax of
  plans/media_dedup.cross_modal_keep_best_trimodal, whose oracled
  delta twin (``cross_modal_trimodal_delta``) hash-matches the batch
  closure this tick maintains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from falcon_metrics_etl_spark.functions import multimodal as MM
from falcon_metrics_etl_spark.operators.keep_best import resolve_keep_best
from falcon_metrics_etl_spark.plans.media_dedup import (
    AUDIO_SPHASH_BANDS,
    DHASH_HAMMING_T,
    VIDEO_SHARED_T,
    cross_modal_keep_best_of,
    image_bands_of,
)
from falcon_metrics_etl_spark.session import run_concurrent
from falcon_metrics_etl_spark.state import (
    TickState,
    claim_state_layout,
    maintain_state_dir,
    overwrite_state,
)

# node = len(modalities) * doc_id + index of the doc's modality
CM_MODALITIES = ("image", "video")
CM3_MODALITIES = ("image", "video", "audio")
CM_IMG_SCHEMA = (
    "node long, doc_id long, dhash long, keep_node long, batch_id long"
)
CM_TBAND_SCHEMA = (
    "doc_id long, dhash long, band int, byte long, batch_id long"
)
CM_FBAND_SCHEMA = (
    "doc_id long, frame_dhash long, band int, byte long, batch_id long"
)
CM_FRAME_SCHEMA = (
    "node long, doc_id long, frame_dhash long, n_frames long, "
    "keep_node long, batch_id long"
)


def _flags(
    verdicts: DataFrame,
    modalities: tuple,
    batch_id: int,
    displaced: DataFrame | None = None,
) -> DataFrame:
    """Per-doc flag rows (doc_id, modality, status, batch_id) of node
    verdicts (doc_id = node = len(modalities) * doc + modality index,
    is_kept) and of the keepers they displaced (doc_id = node)."""
    nodes = verdicts.select(
        F.col("doc_id").alias("node"),
        F.when(F.col("is_kept"), F.lit("kept"))
        .otherwise(F.lit("dropped:near_dup"))
        .alias("status"),
    )
    if displaced is not None:
        nodes = nodes.unionByName(
            displaced.select(
                F.col("doc_id").alias("node"),
                F.lit("displaced:near_dup").alias("status"),
            )
        )
    n = len(modalities)
    return nodes.select(
        F.expr(f"node div {n}").cast("long").alias("doc_id"),
        F.array(*(F.lit(m) for m in modalities))[
            (F.col("node") % n).cast("int")
        ].alias("modality"),
        "status",
        F.lit(int(batch_id)).alias("batch_id"),
    )


def _phase_timer():
    """Env-gated phase profiler (FALCON_TICK_PROFILE=1): returns a
    mark(label) closure printing per-phase wall clock to stderr.
    Costs one time.time() per phase when disabled."""
    import os
    import sys as _sys
    import time as _time

    enabled = bool(os.environ.get("FALCON_TICK_PROFILE"))
    state = {"t": _time.time()}

    def mark(label: str) -> None:
        now = _time.time()
        if enabled:
            print(
                f"[tick] {label}: {now - state['t']:.2f}s",
                file=_sys.stderr,
                flush=True,
            )
        state["t"] = now

    return mark


def _fingerprint_batch(
    batch_docs: DataFrame,
    thumbs: DataFrame | None,
    clips: DataFrame | None,
    vfp: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Delta-only decode: (doc_id, dhash) stills and (doc_id,
    frame_idx, frame_dhash) clip frames of the batch. ``vfp`` injects
    already-decoded clip frames so the unified tick decodes each Y4M
    stream once for both state families."""
    if thumbs is None:
        thumbs = MM.attach_payload_keyframe_thumbs(batch_docs)
    t = MM.media_dhash(thumbs).select("doc_id", "dhash")
    if vfp is not None:
        return t, vfp.select("doc_id", "frame_idx", "frame_dhash")
    if clips is None:
        clips = MM.attach_payload_video_clips(batch_docs)
    v = MM.video_frame_dhash(clips).select(
        "doc_id", "frame_idx", "frame_dhash"
    )
    return t, v


def stage_cross_modal_state(
    spark: SparkSession,
    docs: DataFrame,
    state_dir: str,
    batch_id: int = 0,
    thumbs: DataFrame | None = None,
    clips: DataFrame | None = None,
) -> None:
    """Tick-0 backfill: run the BATCH mixed closure over the base
    corpus and persist its full resolution as the maintained state."""
    t, v = _fingerprint_batch(docs, thumbs, clips)
    # backfill is job-count bound too: concurrent waves (r14)
    t, v = run_concurrent(
        lambda: t.localCheckpoint(eager=True),
        lambda: v.localCheckpoint(eager=True),
    )
    kb = cross_modal_keep_best_of(t, v).localCheckpoint(eager=True)
    tag = F.lit(int(batch_id)).alias("batch_id")
    imgs = kb.filter(F.col("modality") == "image").select(
        "node", "doc_id", "keep_node"
    )
    vids = kb.filter(F.col("modality") == "video").select(
        "node", "doc_id", "n_frames", "keep_node"
    )
    vsig = v.select("doc_id", "frame_dhash").distinct()

    def _w(df, sub):
        return lambda: overwrite_state(df, f"{state_dir}/{sub}")

    run_concurrent(
        _w(
            imgs.join(t, "doc_id").select(
                "node", "doc_id", "dhash", "keep_node", tag
            ),
            "cm_image_index",
        ),
        _w(
            image_bands_of(t).select(
                "doc_id", "dhash", "band", "byte", tag
            ),
            "cm_tband_index",
        ),
        _w(
            vids.join(vsig, "doc_id").select(
                "node", "doc_id", "frame_dhash", "n_frames",
                "keep_node", tag,
            ),
            "cm_frame_index",
        ),
        _w(
            image_bands_of(vsig, "frame_dhash").select(
                "doc_id", "frame_dhash", "band", "byte", tag
            ),
            "cm_fband_index",
        ),
    )
    overwrite_state(
        _flags(
            kb.select(
                F.col("node").alias("doc_id"),
                (F.col("node") == F.col("keep_node")).alias("is_kept"),
            ),
            CM_MODALITIES,
            batch_id,
        ),
        f"{state_dir}/cm_flags",
    )


def cross_modal_ingest_tick(
    spark: SparkSession,
    batch_docs: DataFrame,
    state_dir: str,
    batch_id: int,
    thumbs: DataFrame | None = None,
    clips: DataFrame | None = None,
    vfp: DataFrame | None = None,
    maintenance_file_threshold: int | None = 64,
) -> None:
    """Process ONE delta batch end to end (decode -> probe both
    modality indexes -> joint resolve -> flag/repoint/append),
    idempotent under replay of the same (batch_docs, batch_id).
    ``vfp`` injects already-decoded clip frames (see
    unified_media_ingest_tick)."""
    bid = int(batch_id)
    t_new, v_new = _fingerprint_batch(batch_docs, thumbs, clips, vfp)
    if vfp is None:  # injected frames are already checkpoint blocks
        # the two decode checkpoints are independent jobs — one
        # concurrent wave (r17, matching the trimodal tick)
        t_new, v_new = run_concurrent(
            lambda: t_new.localCheckpoint(eager=True),
            lambda: v_new.localCheckpoint(eager=True),
        )
    else:
        t_new = t_new.localCheckpoint(eager=True)
    vsig_new = v_new.select("doc_id", "frame_dhash").distinct()
    n_new = v_new.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames")
    )

    with TickState(spark, state_dir, bid) as st:
        img_idx = st.probe("cm_image_index", CM_IMG_SCHEMA)
        tband_idx = st.probe("cm_tband_index", CM_TBAND_SCHEMA)
        frame_idx = st.probe("cm_frame_index", CM_FRAME_SCHEMA)
        fband_idx = st.probe("cm_fband_index", CM_FBAND_SCHEMA)

        # probed side = stored band rows (hash carried) + the batch's own
        # bands (batch-mate edges); these ARE the frames image_bands_of
        # builds, so the tick feeds the factored edge builder unchanged —
        # one definition of the three families across batch query, delta
        # query and tick
        tb_new = image_bands_of(t_new)
        fb_new = image_bands_of(vsig_new, "frame_dhash")
        tb_all = tband_idx.select(
            "doc_id", "dhash", "band", "byte"
        ).unionByName(tb_new)
        fb_all = fband_idx.select(
            "doc_id", "frame_dhash", "band", "byte"
        ).unionByName(fb_new)
        # no DISTINCT here: stored frame rows are distinct per doc by the
        # append contract, vsig_new is distinct, and the clip<->clip edge
        # family re-distincts its (pair, frame) rows before counting — so
        # the union-wide dedupe was a state-sized shuffle for nothing
        vsig_all = frame_idx.select("doc_id", "frame_dhash").unionByName(
            vsig_new
        )

        from falcon_metrics_etl_spark.plans.media_dedup import (
            cross_modal_edges_of,
        )

        # ---- band appends, overlapped (r17, guide §2.6) -----------------
        # the two band-index appends depend ONLY on the decode outputs —
        # they run WHILE the edge/resolve jobs compute and join as the
        # block exits. Safe against the concurrent edge reads:
        # every state-side read filters batch_id != bid (the replay
        # contract already tolerates this batch's rows), and the probe
        # frames above listed their files before these writes land.
        st.start(
            lambda: st.append(
                "cm_tband_index", CM_TBAND_SCHEMA, tb_new, "doc_id",
                ["doc_id", "dhash", "band", "byte"],
            ),
            lambda: st.append(
                "cm_fband_index", CM_FBAND_SCHEMA, fb_new, "doc_id",
                ["doc_id", "frame_dhash", "band", "byte"],
            ),
        )

        # the probing side is the batch — micro-batch-bounded, so every
        # edge family broadcasts it and the state side never shuffles
        edges = cross_modal_edges_of(
            F.broadcast(tb_new), tb_all, F.broadcast(fb_new), fb_all,
            F.broadcast(vsig_new), vsig_all,
        ).localCheckpoint(eager=True)

        # joint resolution over modality-tagged nodes
        new_q = t_new.select(
            (F.col("doc_id") * 2).alias("doc_id"),
            F.lit(1).cast("long").alias("n_frames"),
        ).unionByName(
            n_new.select(
                (F.col("doc_id") * 2 + 1).alias("doc_id"), "n_frames"
            )
        )
        idx_q = img_idx.select(
            F.col("node").alias("doc_id"),
            F.col("keep_node").alias("keep_id"),
            F.lit(1).cast("long").alias("n_frames"),
        ).unionByName(
            # one row per (doc, frame_dhash): resolve_keep_best's bounded
            # path dedupes per doc AFTER its endpoint semi-join (r16) —
            # deduping here cost a state-wide shuffle every tick
            frame_idx.select(
                F.col("node").alias("doc_id"),
                F.col("keep_node").alias("keep_id"),
                "n_frames",
            )
        )
        verdicts, displaced = resolve_keep_best(
            new_q, idx_q, edges, ["n_frames"], bounded_batch=True
        )
        verdicts, displaced = run_concurrent(
            lambda: verdicts.localCheckpoint(eager=True),
            lambda: displaced.localCheckpoint(eager=True),
        )

        # ---- 1) land flags (keyed merge) --------------------------------
        flags = _flags(verdicts, CM_MODALITIES, bid, displaced)
        # r17: the flags merge touches only cm_flags — disjoint from the
        # repoints and appends — so it overlaps them
        st.start(lambda: st.merge("cm_flags", flags, ["doc_id", "modality"]))

        # ---- 2) repoint displaced keepers across BOTH indexes -----------
        if not displaced.isEmpty():
            # the two index repoints touch disjoint tables — concurrent
            run_concurrent(
                lambda: st.repoint(
                    "cm_image_index", CM_IMG_SCHEMA, displaced, "keep_node",
                    ["node"],
                ),
                lambda: st.repoint(
                    "cm_frame_index", CM_FRAME_SCHEMA, displaced, "keep_node",
                    ["node", "frame_dhash"],
                ),
            )

        # ---- 3) append the batch (kept AND dropped; anti-joined) --------
        # (the two band appends were started after decode)
        kmap = verdicts.select(
            F.col("doc_id").alias("node"), F.col("keep_id").alias("keep_node")
        )

        new_img = t_new.select(
            (F.col("doc_id") * 2).alias("node"), "doc_id", "dhash"
        ).join(F.broadcast(kmap), "node")
        new_fr = (
            vsig_new.select(
                (F.col("doc_id") * 2 + 1).alias("node"),
                "doc_id",
                "frame_dhash",
            )
            .join(F.broadcast(n_new), "doc_id")
            .join(F.broadcast(kmap), "node")
        )
        # the two node appends run as one concurrent wave; the band
        # appends and the flags merge join as the block exits, before
        # maintenance can compact the tables they write
        run_concurrent(
            lambda: st.append(
                "cm_image_index", CM_IMG_SCHEMA, new_img, "node",
                ["node", "doc_id", "dhash", "keep_node"],
            ),
            lambda: st.append(
                "cm_frame_index", CM_FRAME_SCHEMA, new_fr, "node",
                ["node", "doc_id", "frame_dhash", "n_frames", "keep_node"],
            ),
        )

    # ---- in-cadence maintenance (r15, verdict #1): GC retired state
    # snapshots, compact tables past the live-file threshold
    if maintenance_file_threshold is not None:
        maintain_state_dir(
            spark, state_dir, file_threshold=maintenance_file_threshold
        )


def unified_media_ingest_tick(
    spark: SparkSession,
    batch_docs: DataFrame,
    media_state_dir: str,
    cm_state_dir: str | None,
    batch_id: int,
    images: DataFrame | None = None,
    thumbs: DataFrame | None = None,
    clips: DataFrame | None = None,
    trimodal_state_dir: str | None = None,
    recordings: DataFrame | None = None,
    tracks: DataFrame | None = None,
) -> None:
    """THE production tick for a corpus carrying photos, exported
    stills and clips (r13 consolidation, r12 verdict #5): ONE decode
    of the batch feeds BOTH maintained state families.

    The per-modality tick (streaming/media_tick.py — photo corpus
    with quality-scored image argmax, clip corpus with temporal-order
    verification) and the cross-modal tick (node-tagged mixed
    closure: a still is displaced the tick its source footage
    arrives) maintain distinct state layouts because their proven
    invariants differ — each hash-matches its own oracled batch twin
    (media/video_keep_best_delta vs cross_modal_keep_best_delta) and
    the two keep rules disagree in corner cases (a pure-image cluster
    resolves on (area, detail); a mixed cluster on n_frames). What a
    user running both SHOULD share is the expensive part: the batch's
    Y4M clip decode, by far the heaviest stage (full frame walk per
    clip). This entry decodes the clip frames once (eager checkpoint)
    and injects them into both ticks; the stills differ per family
    (photos vs keyframe thumbnails) and decode once each either way.

    Mutation semantics are unchanged — each tick keeps its own
    flags/repoint/append steps and replay contract, so replaying this
    unified tick replays both families idempotently.

    ``trimodal_state_dir`` swaps the bimodal cross-modal tick for the
    TRIMODAL one (audio recordings + soundtrack rips join the mixed
    closure) against that state dir, still sharing the one clip
    decode — the superset configuration for a corpus that also
    carries audio."""
    if clips is None:
        clips = MM.attach_payload_video_clips(batch_docs)
    vfp = (
        MM.video_frame_dhash(clips)
        .select("doc_id", "frame_idx", "frame_dhash")
        .localCheckpoint(eager=True)
    )
    from falcon_metrics_etl_spark.streaming.media_tick import (
        media_ingest_tick,
    )

    media_ingest_tick(
        spark, batch_docs, media_state_dir, batch_id,
        images=images, vfp=vfp,
    )
    if trimodal_state_dir is not None:
        # recordings/tracks pass through so production audio reaches
        # the trimodal family — without them the tick would fall back
        # to the synthetic fixture attach and silently index
        # fabricated audio fingerprints
        trimodal_ingest_tick(
            spark, batch_docs, trimodal_state_dir, batch_id,
            thumbs=thumbs, recordings=recordings, tracks=tracks,
            vfp=vfp,
        )
    else:
        cross_modal_ingest_tick(
            spark, batch_docs, cm_state_dir, batch_id,
            thumbs=thumbs, vfp=vfp,
        )


# ---------------------------------------------------------------------------
# TRIMODAL tick (r13): the three-modality extension — thumbnails,
# clips AND audio (standalone recordings + each clip's soundtrack rip)
# maintain one node-tagged state family on 3*doc_id + m, resolved per
# batch with the SAME five edge families and (modality rank, units,
# node) argmax as the batch closure; the oracled
# ``cross_modal_trimodal_delta`` twin hash-matches that closure, which
# is the invariant this tick maintains per batch. A recording admitted
# while alone is DISPLACED the tick its source footage (whose rip
# matches it) arrives.
# ---------------------------------------------------------------------------
CM3_AUDIO_SCHEMA = (
    "node long, doc_id long, sphash long, n_windows int, "
    "keep_node long, batch_id long"
)
CM3_SPBAND_SCHEMA = (
    "doc_id long, sphash long, band int, byte long, batch_id long"
)

# the trimodal state's spectral band tables are layout-sensitive: the
# r15 4x16-bit operating point slices sphash differently from r14's
# 8x8, so stage AND tick stamp/verify the layout before touching state
# (state.claim_state_layout — probing an old-layout index silently
# re-admits duplicates otherwise)
CM3_LAYOUT_TOKEN = (
    f"sphash={AUDIO_SPHASH_BANDS}x{64 // AUDIO_SPHASH_BANDS}"
)
_CM3_LAYOUT_GUARDS = (
    "cm3_aband_index", "cm3_trband_index", "cm3_audio_index"
)


def _claim_cm3_layout(state_dir: str) -> None:
    claim_state_layout(
        state_dir, CM3_LAYOUT_TOKEN, guard_tables=_CM3_LAYOUT_GUARDS
    )


def _fingerprint_batch3(
    batch_docs: DataFrame,
    thumbs: DataFrame | None,
    clips: DataFrame | None,
    recordings: DataFrame | None,
    tracks: DataFrame | None,
    vfp: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Delta-only decode of all four media roles: (doc_id, dhash)
    stills, (doc_id, frame_idx, frame_dhash) clip frames, (doc_id,
    n_windows, sphash) recordings, (doc_id, sphash) soundtrack rips.
    ``vfp`` injects already-decoded clip frames (the unified tick's
    decode-once contract)."""
    if thumbs is None:
        thumbs = MM.attach_payload_keyframe_thumbs(batch_docs)
    if clips is None and vfp is None:
        clips = MM.attach_payload_video_clips(batch_docs)
    if recordings is None:
        recordings = MM.attach_payload_audio_clips(batch_docs)
    if tracks is None:
        tracks = MM.attach_payload_soundtrack_wavs(batch_docs)
    t = MM.media_dhash(thumbs).select("doc_id", "dhash")
    if vfp is not None:
        v = vfp.select("doc_id", "frame_idx", "frame_dhash")
    else:
        v = MM.video_frame_dhash(clips).select(
            "doc_id", "frame_idx", "frame_dhash"
        )
    a = MM.audio_spectral_dhash(recordings).select(
        "doc_id", "n_windows", "sphash"
    )
    r = MM.audio_spectral_dhash(tracks).select("doc_id", "sphash")
    return t, v, a, r


def stage_trimodal_state(
    spark: SparkSession,
    docs: DataFrame,
    state_dir: str,
    batch_id: int = 0,
    thumbs: DataFrame | None = None,
    clips: DataFrame | None = None,
    recordings: DataFrame | None = None,
    tracks: DataFrame | None = None,
) -> None:
    """Tick-0 backfill: run the BATCH trimodal closure over the base
    corpus and persist its full resolution as the maintained state."""
    _claim_cm3_layout(state_dir)
    from falcon_metrics_etl_spark.plans.media_dedup import (
        trimodal_keep_best_of,
    )

    t, v, a, r = _fingerprint_batch3(
        docs, thumbs, clips, recordings, tracks
    )
    # backfill cost is job-count bound too: decode checkpoints and
    # the eight state writes each run as one concurrent wave (r14)
    t, v, a, r = run_concurrent(
        lambda: t.localCheckpoint(eager=True),
        lambda: v.localCheckpoint(eager=True),
        lambda: a.localCheckpoint(eager=True),
        lambda: r.localCheckpoint(eager=True),
    )
    kb = trimodal_keep_best_of(t, v, a, r).localCheckpoint(eager=True)
    tag = F.lit(int(batch_id)).alias("batch_id")
    vsig = v.select("doc_id", "frame_dhash").distinct()

    def _w(df, sub):
        return lambda: overwrite_state(df, f"{state_dir}/{sub}")

    run_concurrent(
        _w(
            kb.filter(F.col("modality") == "image")
            .select("node", "doc_id", "keep_node")
            .join(t, "doc_id")
            .select("node", "doc_id", "dhash", "keep_node", tag),
            "cm3_image_index",
        ),
        _w(
            image_bands_of(t).select(
                "doc_id", "dhash", "band", "byte", tag
            ),
            "cm3_tband_index",
        ),
        _w(
            kb.filter(F.col("modality") == "video")
            .select(
                "node", "doc_id",
                F.col("n_units").alias("n_frames"), "keep_node",
            )
            .join(vsig, "doc_id")
            .select(
                "node", "doc_id", "frame_dhash", "n_frames",
                "keep_node", tag,
            ),
            "cm3_frame_index",
        ),
        _w(
            image_bands_of(vsig, "frame_dhash").select(
                "doc_id", "frame_dhash", "band", "byte", tag
            ),
            "cm3_fband_index",
        ),
        _w(
            kb.filter(F.col("modality") == "audio")
            .select("node", "doc_id", "keep_node")
            .join(a, "doc_id")
            .select(
                "node", "doc_id", "sphash", "n_windows", "keep_node", tag
            ),
            "cm3_audio_index",
        ),
        _w(
            image_bands_of(a.select("doc_id", "sphash"), "sphash", n_bands=AUDIO_SPHASH_BANDS).select(
                "doc_id", "sphash", "band", "byte", tag
            ),
            "cm3_aband_index",
        ),
        _w(
            image_bands_of(r, "sphash", n_bands=AUDIO_SPHASH_BANDS).select(
                "doc_id", "sphash", "band", "byte", tag
            ),
            "cm3_trband_index",
        ),
    )
    overwrite_state(
        _flags(
            kb.select(
                F.col("node").alias("doc_id"),
                (F.col("node") == F.col("keep_node")).alias("is_kept"),
            ),
            CM3_MODALITIES,
            batch_id,
        ),
        f"{state_dir}/cm3_flags",
    )


def trimodal_ingest_tick(
    spark: SparkSession,
    batch_docs: DataFrame,
    state_dir: str,
    batch_id: int,
    thumbs: DataFrame | None = None,
    clips: DataFrame | None = None,
    recordings: DataFrame | None = None,
    tracks: DataFrame | None = None,
    vfp: DataFrame | None = None,
    maintenance_file_threshold: int | None = 64,
) -> None:
    """Process ONE delta batch across all three modalities (decode ->
    probe every index -> joint resolve -> flag/repoint/append),
    idempotent under replay of the same (batch_docs, batch_id).
    ``vfp`` injects already-decoded clip frames (see
    unified_media_ingest_tick)."""
    _claim_cm3_layout(state_dir)
    from falcon_metrics_etl_spark.plans.media_dedup import (
        trimodal_edges_delta,
    )

    bid = int(batch_id)
    mark = _phase_timer()
    t_new, v_new, a_new, r_new = _fingerprint_batch3(
        batch_docs, thumbs, clips, recordings, tracks, vfp
    )
    # the four per-modality decode checkpoints are independent jobs —
    # submit them concurrently (r14, r13 verdict #2: tick cost is
    # job-count dominated at batch scale)
    if vfp is None:  # injected frames are already checkpoint blocks
        t_new, v_new, a_new, r_new = run_concurrent(
            lambda df=t_new: df.localCheckpoint(eager=True),
            lambda df=v_new: df.localCheckpoint(eager=True),
            lambda df=a_new: df.localCheckpoint(eager=True),
            lambda df=r_new: df.localCheckpoint(eager=True),
        )
    else:
        t_new, a_new, r_new = run_concurrent(
            lambda df=t_new: df.localCheckpoint(eager=True),
            lambda df=a_new: df.localCheckpoint(eager=True),
            lambda df=r_new: df.localCheckpoint(eager=True),
        )
    mark("decode")
    vsig_new = v_new.select("doc_id", "frame_dhash").distinct()
    n_new = v_new.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames")
    )

    with TickState(spark, state_dir, bid) as st:
        img_idx = st.probe("cm3_image_index", CM_IMG_SCHEMA)
        tband_idx = st.probe("cm3_tband_index", CM_TBAND_SCHEMA)
        frame_idx = st.probe("cm3_frame_index", CM_FRAME_SCHEMA)
        fband_idx = st.probe("cm3_fband_index", CM_FBAND_SCHEMA)
        audio_idx = st.probe("cm3_audio_index", CM3_AUDIO_SCHEMA)
        aband_idx = st.probe("cm3_aband_index", CM3_SPBAND_SCHEMA)
        trband_idx = st.probe("cm3_trband_index", CM3_SPBAND_SCHEMA)

        tb_new = image_bands_of(t_new)
        fb_new = image_bands_of(vsig_new, "frame_dhash")
        rb_new = image_bands_of(
            a_new.select("doc_id", "sphash"), "sphash",
            n_bands=AUDIO_SPHASH_BANDS,
        )
        trb_new = image_bands_of(r_new, "sphash", n_bands=AUDIO_SPHASH_BANDS)
        tb_all = tband_idx.select(
            "doc_id", "dhash", "band", "byte"
        ).unionByName(tb_new)
        fb_all = fband_idx.select(
            "doc_id", "frame_dhash", "band", "byte"
        ).unionByName(fb_new)
        rb_all = aband_idx.select(
            "doc_id", "sphash", "band", "byte"
        ).unionByName(rb_new)
        trb_all = trband_idx.select(
            "doc_id", "sphash", "band", "byte"
        ).unionByName(trb_new)
        # no DISTINCT here: stored frame rows are distinct per doc by the
        # append contract, vsig_new is distinct, and the clip<->clip edge
        # family re-distincts its (pair, frame) rows before counting — so
        # the union-wide dedupe was a state-sized shuffle for nothing
        vsig_all = frame_idx.select("doc_id", "frame_dhash").unionByName(
            vsig_new
        )
        # ---- band appends, overlapped (r17, guide §2.6) -----------------
        # the four band-index appends depend ONLY on the decode outputs —
        # not on edges/resolve — so they run WHILE the edge and resolve
        # jobs compute and are joined as the block exits. Safe against
        # the concurrent edge reads: every state-side edge read
        # filters batch_id != bid (the replay contract already tolerates
        # this batch's rows being present), and the probe frames above
        # listed their file sets before these writes land.
        band_frames = (
            ("cm3_tband_index", CM_TBAND_SCHEMA, tb_new,
             ["doc_id", "dhash", "band", "byte"]),
            ("cm3_fband_index", CM_FBAND_SCHEMA, fb_new,
             ["doc_id", "frame_dhash", "band", "byte"]),
            ("cm3_aband_index", CM3_SPBAND_SCHEMA, rb_new,
             ["doc_id", "sphash", "band", "byte"]),
            ("cm3_trband_index", CM3_SPBAND_SCHEMA, trb_new,
             ["doc_id", "sphash", "band", "byte"]),
        )
        st.start(
            *(
                lambda s=sub, sc=schema, f=frame, c=cols: st.append(
                    s, sc, f, "doc_id", c
                )
                for sub, schema, frame, cols in band_frames
            )
        )

        # the probing side is the batch — micro-batch-bounded, so every
        # edge family broadcasts it and the state side never shuffles
        edges = trimodal_edges_delta(
            F.broadcast(tb_new), tb_all, F.broadcast(fb_new), fb_all,
            F.broadcast(vsig_new), vsig_all,
            F.broadcast(rb_new), rb_all, F.broadcast(trb_new), trb_all,
        ).localCheckpoint(eager=True)
        mark("edges")

        # joint resolution: quality = (modality rank, decoded units)
        new_q = (
            t_new.select(
                (F.col("doc_id") * 3).alias("doc_id"),
                F.lit(0).alias("mrank"),
                F.lit(1).cast("long").alias("n_units"),
            )
            .unionByName(
                n_new.select(
                    (F.col("doc_id") * 3 + 1).alias("doc_id"),
                    F.lit(2).alias("mrank"),
                    F.col("n_frames").alias("n_units"),
                )
            )
            .unionByName(
                a_new.select(
                    (F.col("doc_id") * 3 + 2).alias("doc_id"),
                    F.lit(1).alias("mrank"),
                    F.col("n_windows").cast("long").alias("n_units"),
                )
            )
        )
        idx_q = (
            img_idx.select(
                F.col("node").alias("doc_id"),
                F.col("keep_node").alias("keep_id"),
                F.lit(0).alias("mrank"),
                F.lit(1).cast("long").alias("n_units"),
            )
            .unionByName(
                # per-frame rows: bounded resolve dedupes per doc after
                # its endpoint semi-join (r16) — no state-wide shuffle
                frame_idx.select(
                    F.col("node").alias("doc_id"),
                    F.col("keep_node").alias("keep_id"),
                    F.lit(2).alias("mrank"),
                    F.col("n_frames").alias("n_units"),
                )
            )
            .unionByName(
                audio_idx.select(
                    F.col("node").alias("doc_id"),
                    F.col("keep_node").alias("keep_id"),
                    F.lit(1).alias("mrank"),
                    F.col("n_windows").cast("long").alias("n_units"),
                )
            )
        )
        verdicts, displaced = resolve_keep_best(
            new_q, idx_q, edges, ["mrank", "n_units"], bounded_batch=True
        )
        verdicts, displaced = run_concurrent(
            lambda: verdicts.localCheckpoint(eager=True),
            lambda: displaced.localCheckpoint(eager=True),
        )
        mark("resolve")

        # ---- 1) land flags (keyed merge) --------------------------------
        flags = _flags(verdicts, CM3_MODALITIES, bid, displaced)
        # r17: the flags merge touches only cm3_flags — disjoint from the
        # repoints (node indexes) and every append — so it overlaps them
        st.start(lambda: st.merge("cm3_flags", flags, ["doc_id", "modality"]))
        mark("flags")

        # ---- 2) repoint displaced keepers, per modality -----------------
        # a row's keeper can be any modality, so every index matches on
        # keep_node regardless of parity; st.repoint rewrites only the
        # indexes with a row that moves
        if not displaced.isEmpty():
            rp = displaced.select("doc_id", "new_keep").localCheckpoint(
                eager=True
            )
            # per-modality repoints touch disjoint tables — concurrent
            run_concurrent(
                *(
                    lambda s=sub, sc=schema, k=keys: st.repoint(
                        s, sc, rp, "keep_node", k
                    )
                    for sub, schema, keys in (
                        ("cm3_image_index", CM_IMG_SCHEMA, ["node"]),
                        (
                            "cm3_frame_index",
                            CM_FRAME_SCHEMA,
                            ["node", "frame_dhash"],
                        ),
                        ("cm3_audio_index", CM3_AUDIO_SCHEMA, ["node"]),
                    )
                )
            )
        mark("repoint")

        # ---- 3) append the batch (kept AND dropped; anti-joined) --------
        # (the four band appends were started right after decode)
        kmap = verdicts.select(
            F.col("doc_id").alias("node"), F.col("keep_id").alias("keep_node")
        )
        node_frames = (
            (
                "cm3_image_index", CM_IMG_SCHEMA,
                t_new.select(
                    (F.col("doc_id") * 3).alias("node"), "doc_id", "dhash"
                ),
                ["node", "doc_id", "dhash", "keep_node"],
            ),
            (
                "cm3_frame_index", CM_FRAME_SCHEMA,
                vsig_new.select(
                    (F.col("doc_id") * 3 + 1).alias("node"),
                    "doc_id", "frame_dhash",
                ).join(n_new.select("doc_id", "n_frames"), "doc_id"),
                ["node", "doc_id", "frame_dhash", "n_frames", "keep_node"],
            ),
            (
                "cm3_audio_index", CM3_AUDIO_SCHEMA,
                a_new.select(
                    (F.col("doc_id") * 3 + 2).alias("node"),
                    "doc_id", "sphash", "n_windows",
                ),
                ["node", "doc_id", "sphash", "n_windows", "keep_node"],
            ),
        )
        # the three node appends run as one concurrent wave; the band
        # appends (started after decode) and the flags merge (started
        # after resolve) join as the block exits, before maintenance can
        # compact the tables they write
        run_concurrent(
            *(
                lambda s=sub, sc=schema, f=frame, c=cols: st.append(
                    s, sc, f.join(F.broadcast(kmap), "node"), "node", c
                )
                for sub, schema, frame, cols in node_frames
            )
        )
    mark("append")

    # ---- in-cadence maintenance (r15, verdict #1): GC retired state
    # snapshots, compact tables past the live-file threshold
    if maintenance_file_threshold is not None:
        maintain_state_dir(
            spark, state_dir, file_threshold=maintenance_file_threshold
        )
        mark("maintenance")
