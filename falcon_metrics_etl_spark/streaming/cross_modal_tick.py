"""Incremental ingest tick of every node-tagged media family — the
delta shape of the family closure (plans/media_dedup.mixed_keep_best_of)
over node = len(modalities) * doc_id + index of the doc's modality. A
family is data (media_dedup.MediaFamily), and all three run the same
stage and tick bodies:

- bimodal (CM_FAMILY: keyframe stills and clips, ``cm_*`` state): a
  thumbnail is displaced the tick its source footage arrives;
- trimodal (CM3_FAMILY: + standalone audio recordings and each clip's
  soundtrack rip, ``cm3_*`` state);
- per-modality media (streaming/media_tick.MEDIA: photos scored on
  area then detail, clips on frame count; like pairs with like only).

A batch of NEW media docs fingerprints delta-only and probes the
maintained indexes through the SAME edge families as the batch closure
(media_dedup.mixed_edges_of, delta form): clip<->clip (exact
frame-hash share >= VIDEO_SHARED_T) and the family's banded pairings
(thumb<->clip frame, thumb<->thumb, rec<->rec, rec<->clip through the
clip's rip). Verified edges lift onto the keeper graph and resolve by
connected components + argmax of the family's keep rule with node ASC
last (operators/keep_best.resolve_keep_best), so the tick's keep set
stays row-identical to the batch closure recomputed over everything
processed so far — the IVM invariant the oracled delta twins
(``cross_modal_keep_best_delta``, ``cross_modal_trimodal_delta``,
``media_keep_best_delta``, ``video_keep_best_delta``) hash-match
against their batch closures.

State under ``state_dir`` (plain parquet), tables named by the family:

- one node index per modality (node, doc_id, the role's fingerprint
  and quality columns, keep_node, batch_id) — every processed doc,
  kept AND dropped (dropped fingerprints make the cluster closure exact
  across ticks). A clip index holds the DISTINCT frame hashes of each
  clip, or with ``frame_idx`` every decoded frame (the media family's
  temporal-order check reads them);
- one band index per probe kind (doc_id, hash, band, byte, batch_id)
  CARRYING the hash: at DHASH_HAMMING_T = 12 > 7 the banding is part of
  the edge DEFINITION (a pair at Hamming 8..12 sharing no band is NOT
  an edge), so probes verify the exact banded hash pairs;
- flags (doc_id, modality, status, batch_id) — 'kept',
  'dropped:near_dup', 'displaced:near_dup' and, for the media family,
  'dropped:near_dup:reordered' (a dropped clip none of whose duplicate
  pairs has an aligned run of VIDEO_SHARED_T frames: a re-cut, not a
  trim) through the keyed MERGE.

A family with a layout token claims its state dir first
(state.claim_state_layout), so a dir staged under another layout
raises instead of silently re-admitting duplicates.

Replay safety: the contract of ``state.TickState``, flags keyed on
(doc_id, modality).

``unified_media_ingest_tick`` is the production entry for a corpus
carrying photos, stills and clips: one Y4M decode of the batch feeds
both the media family's tick and a cross-modal family's tick.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from falcon_metrics_etl_spark.functions import multimodal as MM
from falcon_metrics_etl_spark.operators.keep_best import resolve_keep_best
from falcon_metrics_etl_spark.plans import media_dedup as MD
from falcon_metrics_etl_spark.plans.media_dedup import (
    BAND_PROBES,
    CM3_FAMILY,
    CM_FAMILY,
    VIDEO_SHARED_T,
    MediaFamily,
    aligned_runs_of,
    keep_quality,
    mixed_fingerprints_of,
    mixed_keep_best_of,
    mixed_nodes_of,
    mixed_probes_of,
    state_cols,
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

FLAGS_SCHEMA = "doc_id long, modality string, status string, batch_id long"


def _band_schema(kind: str) -> str:
    """The state schema of a band index of one probe kind."""
    hash_col = BAND_PROBES[kind][1]
    return f"doc_id long, {hash_col} long, band int, byte long, batch_id long"


def _flags(
    verdicts: DataFrame,
    modalities: tuple,
    batch_id: int,
    displaced: DataFrame | None = None,
    reordered=(),
) -> DataFrame:
    """Per-doc flag rows (doc_id, modality, status, batch_id) of node
    verdicts (doc_id = node = len(modalities) * doc + modality index,
    is_kept), of the keepers they displaced (doc_id = node) and of the
    ``reordered`` dropped nodes."""
    status = F.when(F.col("is_kept"), F.lit("kept"))
    if reordered:
        status = status.when(
            F.col("doc_id").isin(sorted(reordered)),
            F.lit("dropped:near_dup:reordered"),
        )
    nodes = verdicts.select(
        F.col("doc_id").alias("node"),
        status.otherwise(F.lit("dropped:near_dup")).alias("status"),
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


def _claim_state(fam: MediaFamily, state_dir: str) -> None:
    """A family with a layout token claims ``state_dir`` for it,
    guarded by every index it maintains."""
    if fam.layout is not None:
        claim_state_layout(
            state_dir,
            fam.layout,
            guard_tables=[t for t, _, _ in fam.nodes]
            + [t for _, t in fam.bands],
        )


def _clip_rows(fam: MediaFamily, frames: DataFrame, vsig: DataFrame):
    """The rows the family's clip index stores: every decoded frame
    when it keys on frame_idx, else the distinct clip signature."""
    return frames if "frame_idx" in fam.nodes[1][1] else vsig


def _reordered(
    fam: MediaFamily, kmap: dict, v_new: DataFrame, clip_idx: DataFrame
) -> set:
    """The media family's temporal-order check: of the batch clips the
    resolve dropped (``kmap`` keys), the nodes none of whose pairs of
    >= VIDEO_SHARED_T shared frame hashes has an order-aligned run of
    VIDEO_SHARED_T frames (media_dedup.aligned_runs_of, the batch
    query's algebra) — a re-cut, not a copy. ``clip_idx``: the probed
    per-frame clip index."""
    n, v = len(fam.modalities), fam.modalities.index("video")
    dropped = sorted(node // n for node in kmap if node % n == v)
    if not fam.verify_order or not dropped:
        return set()
    frames = clip_idx.select(*v_new.columns).unionByName(v_new)
    a, b = F.col("a.doc_id"), F.col("b.doc_id")
    fm = (
        F.broadcast(v_new.filter(F.col("doc_id").isin(dropped))).alias("a")
        .join(
            frames.alias("b"),
            (F.col("a.frame_dhash") == F.col("b.frame_dhash")) & (a != b),
        )
        .select(
            F.least(a, b).alias("id_a"),
            F.greatest(a, b).alias("id_b"),
            F.when(a < b, F.col("a.frame_idx"))
            .otherwise(F.col("b.frame_idx"))
            .alias("ia"),
            F.when(a < b, F.col("b.frame_idx"))
            .otherwise(F.col("a.frame_idx"))
            .alias("ib"),
            F.col("a.frame_dhash").alias("fd"),
        )
        # both orientations appear when both sides are dropped clips
        .distinct()
    )
    aligned = (
        fm.select("id_a", "id_b", "fd")
        .distinct()
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= VIDEO_SHARED_T)
        .join(aligned_runs_of(fm.drop("fd")), ["id_a", "id_b"])
        .filter(F.col("aligned_run") >= VIDEO_SHARED_T)
    )
    touched = {d for r in aligned.collect() for d in (r["id_a"], r["id_b"])}
    return {d * n + v for d in dropped if d not in touched}


def _stage(
    spark: SparkSession,
    fam: MediaFamily,
    docs: DataFrame,
    state_dir: str,
    batch_id: int,
    **media,
) -> None:
    """Tick-0 backfill: run the batch closure of the family over the
    base corpus and persist its full resolution as the maintained
    state."""
    _claim_state(fam, state_dir)
    # backfill is job-count bound too: the decode checkpoints and the
    # state writes each run as one concurrent wave
    t, v, *audio = checkpoint_wave(*mixed_fingerprints_of(fam, docs, **media))
    kb = mixed_keep_best_of(fam, t, v, *audio).localCheckpoint(eager=True)
    tag = batch_tag(batch_id)
    vsig = v.select("doc_id", "frame_dhash").distinct()
    # a clip's frame count is the rule column its quality reads as
    # n_frames
    video_quality = fam.quality[fam.modalities.index("video")]
    units = F.col(fam.rule[video_quality.index("n_frames")]).alias("n_frames")
    writes = [
        (
            table,
            schema,
            kb.filter(F.col("modality") == m)
            .select("node", "doc_id", "keep_node", units)
            .join(rows, "doc_id"),
        )
        for m, (table, schema, _), rows in zip(
            fam.modalities, fam.nodes, (t, _clip_rows(fam, v, vsig), *audio)
        )
    ]
    writes += [
        (table, _band_schema(kind), bands)
        for (kind, table), bands in zip(
            fam.bands, mixed_probes_of(fam, t, vsig, *audio)[1:]
        )
    ]
    run_concurrent(
        *(
            lambda table=table, schema=schema, df=df: overwrite_state(
                df.select(*state_cols(schema), tag), f"{state_dir}/{table}"
            )
            for table, schema, df in writes
        )
    )
    overwrite_state(
        _flags(
            kb.select(
                F.col("node").alias("doc_id"),
                (F.col("node") == F.col("keep_node")).alias("is_kept"),
            ),
            fam.modalities,
            batch_id,
        ),
        f"{state_dir}/{fam.flags}",
    )


def _tick(
    spark: SparkSession,
    fam: MediaFamily,
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
    _claim_state(fam, state_dir)
    n = len(fam.modalities)
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
        fam, batch_docs, vfp=vfp, **media
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
    new = mixed_probes_of(fam, t_new, vsig_new, *audio_new)
    band_indexes = [
        (table, _band_schema(kind), f)
        for (kind, table), f in zip(fam.bands, new[1:])
    ]

    with TickState(spark, state_dir, bid) as st:
        idx = [st.probe(table, schema) for table, schema, _ in fam.nodes]
        # probed side = stored band rows (hash carried) + the batch's own
        # bands (batch-mate edges). No DISTINCT on the clip signature:
        # the clip<->clip family re-distincts its (pair, frame) rows
        # before counting
        full = [idx[1].select("doc_id", "frame_dhash").unionByName(vsig_new)]
        full += [
            st.probe(table, schema).select(*state_cols(schema)).unionByName(f)
            for table, schema, f in band_indexes
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
                lambda table=table, schema=schema, f=f: st.append(
                    table, schema, f, "doc_id", state_cols(schema)
                )
                for table, schema, f in band_indexes
            )
        )

        # the probing side is the batch — micro-batch-bounded, so every
        # edge family broadcasts it and the state side never shuffles.
        # The edge builder is looked up at call time.
        edges = MD.mixed_edges_of(
            fam, [F.broadcast(f) for f in new], full
        ).localCheckpoint(eager=True)
        mark("edges")

        # joint resolution over the node-tagged ids
        rule = list(fam.rule)
        new_q = mixed_nodes_of(fam, t_new, v_new, *audio_new[:1]).select(
            F.col("node").alias("doc_id"), *rule
        )
        # per-frame rows: bounded resolve dedupes the endpoint rows it
        # reads — no state-wide shuffle
        idx_q = reduce(
            DataFrame.unionByName,
            (
                df.select(
                    F.col("node").alias("doc_id"),
                    F.col("keep_node").alias("keep_id"),
                    *keep_quality(fam, m),
                )
                for m, df in zip(fam.modalities, idx)
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
        reordered = _reordered(fam, kmap, v_new, idx[1])
        flags = _flags(verdicts, fam.modalities, bid, displaced, reordered)
        # the flags merge touches only the flags table — disjoint from
        # the repoints (node indexes) and every append — so it overlaps
        st.start(
            lambda: st.merge(
                fam.flags, FLAGS_SCHEMA, flags, ["doc_id", "modality"]
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
                    lambda table=table, schema=schema, keys=keys: st.repoint(
                        table, schema, moves, "keep_node", list(keys)
                    )
                    for table, schema, keys in fam.nodes
                )
            )
        mark("repoint")

        # ---- 3) append the batch (kept AND dropped; anti-joined) --------
        # every batch node keeps itself unless its verdict says otherwise
        rows = (
            t_new,
            _clip_rows(fam, v_new, vsig_new).join(n_new, "doc_id"),
            *audio_new[:1],
        )
        # the node appends run as one concurrent wave; the band appends
        # (started after decode) and the flags merge (started after
        # resolve) join as the block exits, before maintenance can
        # compact the tables they write
        run_concurrent(
            *(
                lambda table=table, schema=schema, df=df, i=i: st.append(
                    table,
                    schema,
                    df.select(
                        (F.col("doc_id") * n + i).alias("node"),
                        *state_cols(schema)[1:-1],
                    ).withColumn("keep_node", remap(F.col("node"), kmap)),
                    "node",
                    state_cols(schema),
                )
                for i, ((table, schema, _), df) in enumerate(
                    zip(fam.nodes, rows)
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
        spark, CM_FAMILY, docs, state_dir, batch_id,
        stills=thumbs, clips=clips,
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
        spark, CM_FAMILY, batch_docs, state_dir, batch_id, vfp,
        maintenance_file_threshold, stills=thumbs, clips=clips,
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
        spark, CM3_FAMILY, docs, state_dir, batch_id,
        stills=thumbs, clips=clips, recordings=recordings, tracks=tracks,
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
        spark, CM3_FAMILY, batch_docs, state_dir, batch_id, vfp,
        maintenance_file_threshold, stills=thumbs, clips=clips,
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

    The media family (streaming/media_tick.py — photo corpus with
    quality-scored image argmax, clip corpus with temporal-order
    verification) and a cross-modal family (mixed closure: a still is
    displaced the tick its source footage arrives) run the same tick
    body but maintain distinct state because their proven invariants
    differ — each hash-matches its own oracled batch twin
    (media/video_keep_best_delta vs cross_modal_keep_best_delta) and
    the two keep rules disagree in corner cases (a pure-image cluster
    resolves on (area, detail); a mixed cluster on n_frames). What a
    user running both SHOULD share is the expensive part: the batch's
    Y4M clip decode, by far the heaviest stage (full frame walk per
    clip). This entry decodes the clip frames once (driver data for a
    batch within DRIVER_DECODE_DOCS docs, an eager checkpoint past it)
    and injects them into both ticks; the stills differ per family
    (photos vs keyframe thumbnails) and decode once each either way.

    Mutation semantics are unchanged — each family's tick runs its
    own flags/repoint/append steps under the replay contract, so
    replaying this unified tick replays both families idempotently.

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
