"""Incremental CROSS-MODAL ingest tick — the delta shape of the mixed
keep-best closure (plans/media_dedup.mixed_keep_best_of) over one
node-tagged family of 2 or 3 modalities: node = len(modalities) *
doc_id + index of the doc's modality. The bimodal family
(CM_MODALITIES: keyframe stills and clips, ``cm_*`` state) is the
trimodal one (CM3_MODALITIES: + standalone audio recordings and each
clip's soundtrack rip, ``cm3_*`` state) without its audio roles, and
both run the same stage and tick bodies.

A batch of NEW media docs fingerprints delta-only and probes the
maintained indexes through the SAME edge families as the batch closure
(plans/media_dedup.mixed_edges_of, delta form): thumb<->clip frame and
thumb<->thumb (banded Hamming), clip<->clip (exact frame-hash share
>= VIDEO_SHARED_T) and, with audio, rec<->rec and rec<->clip through
the clip's rip (spectral bands). Verified edges lift onto the keeper
graph and resolve by connected components + argmax of the family's
keep rule (media_dedup.keep_rule: most frames for the bimodal family;
modality rank video > audio > image, then units, for the trimodal one)
with node ASC last (operators/keep_best.resolve_keep_best), so the
tick's keep set stays row-identical to the batch closure recomputed
over everything processed so far — the IVM invariant the oracled
``cross_modal_keep_best_delta`` and ``cross_modal_trimodal_delta``
twins hash-match against their batch closures.

The semantics this buys a training pipeline: a thumbnail or recording
admitted while alone is DISPLACED the tick its source footage arrives
— the footage keeps, the artifact flags 'displaced:near_dup', and
every index row pointing at it repoints to the clip.

State under ``state_dir`` (plain parquet), ``cm_`` prefix for the
bimodal family and ``cm3_`` for the trimodal one:

- ``image_index`` (node, doc_id, dhash, keep_node, batch_id) — every
  processed still, kept AND dropped (dropped fingerprints make the
  cluster closure exact across ticks).
- ``tband_index`` (doc_id, dhash, band, byte, batch_id) — still-hash
  band rows CARRYING the hash: at DHASH_HAMMING_T = 12 > 7 the banding
  is part of the edge DEFINITION (a pair at Hamming 8..12 sharing no
  band is NOT an edge), so probes verify the exact banded hash pairs —
  the stored rows are the frames image_bands_of builds, fed to the
  edge builder unchanged.
- ``frame_index`` (node, doc_id, frame_dhash, n_frames, keep_node,
  batch_id) — DISTINCT frame hashes per processed clip; n_frames is
  the clip's decoded frame count.
- ``fband_index`` (doc_id, frame_dhash, band, byte, batch_id) —
  frame-hash band rows, hash carried for the same reason.
- trimodal only: ``audio_index`` (node, doc_id, sphash, n_windows,
  keep_node, batch_id), and ``aband_index`` / ``trband_index``
  (doc_id, sphash, band, byte, batch_id) — recording and rip band rows
  on the AUDIO_SPHASH_BANDS layout, stamped by claim_state_layout.
- ``flags`` (doc_id, modality, status, batch_id) — 'kept',
  'dropped:near_dup', 'displaced:near_dup' through the keyed MERGE.

Replay safety: the contract of ``state.TickState``, flags keyed on
(doc_id, modality).

``unified_media_ingest_tick`` is the production entry for a corpus
carrying photos, stills and clips: one Y4M decode of the batch feeds
both the per-modality tick and this mixed tick.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from falcon_metrics_etl_spark.functions import multimodal as MM
from falcon_metrics_etl_spark.operators.keep_best import resolve_keep_best
from falcon_metrics_etl_spark.plans import media_dedup as MD
from falcon_metrics_etl_spark.plans.media_dedup import (
    AUDIO_SPHASH_BANDS,
    CM3_MODALITIES,
    CM_MODALITIES,
    keep_quality,
    keep_rule,
    mixed_fingerprints_of,
    mixed_keep_best_of,
    mixed_nodes_of,
    mixed_probes_of,
)
from falcon_metrics_etl_spark.session import (
    checkpoint_wave,
    localize,
    run_concurrent,
)
from falcon_metrics_etl_spark.state import (
    TickState,
    batch_tag,
    claim_state_layout,
    maintain_state_dir,
    overwrite_state,
    remap,
)

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
CM3_AUDIO_SCHEMA = (
    "node long, doc_id long, sphash long, n_windows int, "
    "keep_node long, batch_id long"
)
CM3_SPBAND_SCHEMA = (
    "doc_id long, sphash long, band int, byte long, batch_id long"
)
CM_FLAGS_SCHEMA = (
    "doc_id long, modality string, status string, batch_id long"
)
# per modality, in family order: node index, its schema, the key a
# repoint rewrites rows by, and the SQL expression of its decoded units
_NODE_INDEXES = (
    ("image_index", CM_IMG_SCHEMA, ["node"], "1"),
    ("frame_index", CM_FRAME_SCHEMA, ["node", "frame_dhash"], "n_frames"),
    ("audio_index", CM3_AUDIO_SCHEMA, ["node"], "n_windows"),
)
# per band probe frame of mixed_probes_of (after vsig), in order
_BAND_INDEXES = (
    ("tband_index", CM_TBAND_SCHEMA),
    ("fband_index", CM_FBAND_SCHEMA),
    ("aband_index", CM3_SPBAND_SCHEMA),
    ("trband_index", CM3_SPBAND_SCHEMA),
)

# the trimodal state's spectral band tables are layout-sensitive: the
# 4x16-bit operating point slices sphash differently from the older
# 8x8, so stage AND tick stamp/verify the layout before touching state
# (state.claim_state_layout — probing an old-layout index silently
# re-admits duplicates otherwise)
CM3_LAYOUT_TOKEN = (
    f"sphash={AUDIO_SPHASH_BANDS}x{64 // AUDIO_SPHASH_BANDS}"
)
_CM3_LAYOUT_GUARDS = (
    "cm3_aband_index", "cm3_trband_index", "cm3_audio_index"
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
        batch_tag(batch_id),
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


def _claim_state(modalities: tuple, state_dir: str) -> str:
    """The family's state-table prefix; a family with audio first
    claims the spectral band layout of ``state_dir``."""
    if "audio" not in modalities:
        return "cm_"
    claim_state_layout(
        state_dir, CM3_LAYOUT_TOKEN, guard_tables=_CM3_LAYOUT_GUARDS
    )
    return "cm3_"


def _cols(schema: str) -> list[str]:
    """A state schema's columns without the batch_id tag."""
    return [c.split()[0] for c in schema.split(",")][:-1]


def _stage(
    spark: SparkSession,
    modalities: tuple,
    docs: DataFrame,
    state_dir: str,
    batch_id: int,
    **media,
) -> None:
    """Tick-0 backfill: run the batch closure of the family over the
    base corpus and persist its full resolution as the maintained
    state."""
    pre = _claim_state(modalities, state_dir)
    # backfill is job-count bound too: the decode checkpoints and the
    # state writes each run as one concurrent wave
    t, v, *audio = checkpoint_wave(
        *mixed_fingerprints_of(modalities, docs, **media)
    )
    kb = mixed_keep_best_of(modalities, t, v, *audio).localCheckpoint(
        eager=True
    )
    tag = batch_tag(batch_id)
    vsig = v.select("doc_id", "frame_dhash").distinct()
    units = F.col(keep_rule(modalities)[-1]).alias("n_frames")
    writes = [
        (
            sub,
            schema,
            kb.filter(F.col("modality") == m)
            .select("node", "doc_id", "keep_node", units)
            .join(rows, "doc_id"),
        )
        for m, (sub, schema, _, _), rows in zip(
            modalities, _NODE_INDEXES, (t, vsig, *audio)
        )
    ]
    writes += [
        (sub, schema, bands)
        for (sub, schema), bands in zip(
            _BAND_INDEXES, mixed_probes_of(t, vsig, *audio)[1:]
        )
    ]
    run_concurrent(
        *(
            lambda sub=sub, schema=schema, df=df: overwrite_state(
                df.select(*_cols(schema), tag), f"{state_dir}/{pre}{sub}"
            )
            for sub, schema, df in writes
        )
    )
    overwrite_state(
        _flags(
            kb.select(
                F.col("node").alias("doc_id"),
                (F.col("node") == F.col("keep_node")).alias("is_kept"),
            ),
            modalities,
            batch_id,
        ),
        f"{state_dir}/{pre}flags",
    )


def _tick(
    spark: SparkSession,
    modalities: tuple,
    batch_docs: DataFrame,
    state_dir: str,
    batch_id: int,
    vfp: DataFrame | None,
    maintenance_file_threshold: int | None,
    **media,
) -> None:
    """Process ONE delta batch of the family end to end (decode ->
    probe every index -> joint resolve -> flag/repoint/append ->
    maintain), idempotent under replay of the same (batch_docs,
    batch_id)."""
    pre = _claim_state(modalities, state_dir)
    n = len(modalities)
    bid = int(batch_id)
    mark = _phase_timer()
    # one capped collect makes a batch of at most DRIVER_DECODE_DOCS docs
    # driver data: every role then decodes in-process on the driver
    # (functions/multimodal._map_rows) and is already materialized, so
    # decode runs no Python-worker job and no checkpoint. A larger batch
    # decodes on the executors, and its per-role checkpoints run as one
    # concurrent wave; injected frames are already materialized
    batch_docs = localize(batch_docs, MM.DRIVER_DECODE_DOCS)
    t_new, v_new, *audio_new = mixed_fingerprints_of(
        modalities, batch_docs, vfp=vfp, **media
    )
    if vfp is None:
        t_new, v_new, *audio_new = checkpoint_wave(t_new, v_new, *audio_new)
    else:
        t_new, *audio_new = checkpoint_wave(t_new, *audio_new)
    mark("decode")
    vsig_new = v_new.select("doc_id", "frame_dhash").distinct()
    n_new = v_new.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_frames")
    )
    new = mixed_probes_of(t_new, vsig_new, *audio_new)
    node_indexes = list(zip(modalities, _NODE_INDEXES))
    band_indexes = list(zip(_BAND_INDEXES, new[1:]))

    with TickState(spark, state_dir, bid) as st:
        idx = [
            st.probe(pre + sub, schema)
            for _, (sub, schema, _, _) in node_indexes
        ]
        # probed side = stored band rows (hash carried) + the batch's own
        # bands (batch-mate edges). No DISTINCT on the clip signature:
        # stored frame rows are distinct per doc by the append contract,
        # vsig_new is distinct, and the clip<->clip family re-distincts
        # its (pair, frame) rows before counting
        full = [idx[1].select("doc_id", "frame_dhash").unionByName(vsig_new)]
        full += [
            st.probe(pre + sub, schema).select(*_cols(schema)).unionByName(f)
            for (sub, schema), f in band_indexes
        ]
        # ---- band appends, overlapped ----------------------------------
        # the band-index appends depend ONLY on the decode outputs — not
        # on edges/resolve — so they run WHILE the edge and resolve jobs
        # compute and are joined as the block exits. Safe against the
        # concurrent edge reads: every state-side edge read filters
        # batch_id != bid (the replay contract already tolerates this
        # batch's rows being present), and the probe frames above listed
        # their file sets before these writes land.
        st.start(
            *(
                lambda sub=sub, schema=schema, f=f: st.append(
                    pre + sub, schema, f, "doc_id", _cols(schema)
                )
                for (sub, schema), f in band_indexes
            )
        )

        # the probing side is the batch — micro-batch-bounded, so every
        # edge family broadcasts it and the state side never shuffles.
        # The edge builder is looked up at call time.
        edges = MD.mixed_edges_of(
            modalities, [F.broadcast(f) for f in new], full
        ).localCheckpoint(eager=True)
        mark("edges")

        # joint resolution over the node-tagged ids
        rule = keep_rule(modalities)
        new_q = mixed_nodes_of(
            modalities, t_new, v_new, *audio_new[:1]
        ).select(F.col("node").alias("doc_id"), *rule)
        # per-frame rows: bounded resolve dedupes the endpoint rows it
        # reads — no state-wide shuffle
        idx_q = reduce(
            DataFrame.unionByName,
            (
                df.select(
                    F.col("node").alias("doc_id"),
                    F.col("keep_node").alias("keep_id"),
                    *keep_quality(modalities, m, F.expr(units)),
                )
                for (m, (_, _, _, units)), df in zip(node_indexes, idx)
            ),
        )
        # bounded: driver-built verdict frames, frozen before any state
        # mutation; the landing below reads them as driver data
        verdicts, displaced = resolve_keep_best(
            new_q, idx_q, edges, rule, bounded_batch=True
        )
        moves = {r["doc_id"]: r["new_keep"] for r in displaced.collect()}
        kmap = {
            r["doc_id"]: r["keep_id"]
            for r in verdicts.collect()
            if not r["is_kept"]
        }
        mark("resolve")

        # ---- 1) land flags (keyed merge) --------------------------------
        flags = _flags(verdicts, modalities, bid, displaced)
        # the flags merge touches only the flags table — disjoint from
        # the repoints (node indexes) and every append — so it overlaps
        st.start(
            lambda: st.merge(
                pre + "flags", CM_FLAGS_SCHEMA, flags, ["doc_id", "modality"]
            )
        )
        mark("flags")

        # ---- 2) repoint displaced keepers, per modality -----------------
        # a row's keeper can be any modality, so every index matches on
        # keep_node; st.repoint rewrites only the indexes with a row
        # that moves
        if moves:
            # per-modality repoints touch disjoint tables — concurrent
            run_concurrent(
                *(
                    lambda sub=sub, schema=schema, keys=keys: st.repoint(
                        pre + sub, schema, moves, "keep_node", keys
                    )
                    for _, (sub, schema, keys, _) in node_indexes
                )
            )
        mark("repoint")

        # ---- 3) append the batch (kept AND dropped; anti-joined) --------
        # every batch node keeps itself unless its verdict says otherwise
        rows = (t_new, vsig_new.join(n_new, "doc_id"), *audio_new[:1])
        # the node appends run as one concurrent wave; the band appends
        # (started after decode) and the flags merge (started after
        # resolve) join as the block exits, before maintenance can
        # compact the tables they write
        run_concurrent(
            *(
                lambda sub=sub, schema=schema, df=df, i=i: st.append(
                    pre + sub,
                    schema,
                    df.select(
                        (F.col("doc_id") * n + i).alias("node"),
                        *_cols(schema)[1:-1],
                    ).withColumn("keep_node", remap(F.col("node"), kmap)),
                    "node",
                    _cols(schema),
                )
                for i, ((_, (sub, schema, _, _)), df) in enumerate(
                    zip(node_indexes, rows)
                )
            )
        )
    mark("append")

    # ---- in-cadence maintenance: GC retired state snapshots, compact
    # tables past the live-file threshold
    if maintenance_file_threshold is not None:
        maintain_state_dir(
            spark, state_dir, file_threshold=maintenance_file_threshold
        )
        mark("maintenance")


def stage_cross_modal_state(
    spark: SparkSession,
    docs: DataFrame,
    state_dir: str,
    batch_id: int = 0,
    thumbs: DataFrame | None = None,
    clips: DataFrame | None = None,
) -> None:
    """Tick-0 backfill of the bimodal (still + clip) family."""
    _stage(
        spark, CM_MODALITIES, docs, state_dir, batch_id,
        thumbs=thumbs, clips=clips,
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
    """One delta tick of the bimodal family. ``vfp`` injects
    already-decoded clip frames (see unified_media_ingest_tick)."""
    _tick(
        spark, CM_MODALITIES, batch_docs, state_dir, batch_id, vfp,
        maintenance_file_threshold, thumbs=thumbs, clips=clips,
    )


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
    """Tick-0 backfill of the trimodal (still + clip + recording)
    family."""
    _stage(
        spark, CM3_MODALITIES, docs, state_dir, batch_id,
        thumbs=thumbs, clips=clips, recordings=recordings, tracks=tracks,
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
    """One delta tick of the trimodal family. ``vfp`` injects
    already-decoded clip frames (see unified_media_ingest_tick)."""
    _tick(
        spark, CM3_MODALITIES, batch_docs, state_dir, batch_id, vfp,
        maintenance_file_threshold, thumbs=thumbs, clips=clips,
        recordings=recordings, tracks=tracks,
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
    clip). This entry decodes the clip frames once (driver data for a
    batch within DRIVER_DECODE_DOCS docs, an eager checkpoint past it)
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
    # localized once: both ticks receive driver data and skip their own
    # capped collect
    batch_docs = localize(batch_docs, MM.DRIVER_DECODE_DOCS)
    if clips is None:
        clips = MM.attach_payload_video_clips(batch_docs)
    (vfp,) = checkpoint_wave(
        MM.video_frame_dhash(clips).select(
            "doc_id", "frame_idx", "frame_dhash"
        )
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
