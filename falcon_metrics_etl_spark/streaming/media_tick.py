"""Incremental perceptual-media ingest tick — the delta shape of the
image/video dedup family, QUALITY-AWARE since r12 (r11 verdict #2):
admission is no longer greedy keep-first but replace-if-better, so
the tick's keep set stays row-identical to the batch pipeline's
quality-scored keep-best (media_dedup_keep_best /
video_dedup_keep_best) recomputed over everything processed so far —
the IVM invariant proven by the oracled ``media_keep_best_delta`` /
``video_keep_best_delta`` twins (plans/media_dedup.py) and the
resolution operator they share with this tick
(operators/keep_best.resolve_keep_best).

A batch of NEW media documents is decoded and fingerprinted
DELTA-ONLY, probes the MAINTAINED perceptual indexes, and its
verified duplicate edges are resolved by connected components +
quality argmax over {batch docs} ∪ {matched incumbents' cluster
keepers}: the component winner keeps, losing batch docs drop, and a
losing incumbent keeper is DISPLACED — flagged, and every index row
pointing at it repointed to the winner (a keyed MERGE). This also
removes the r11 advisor's batch-composition dependence: a rejected
batch mate can no longer gate another doc, because admission depends
only on the match graph and qualities, never on id order or how docs
were split across mates.

State under ``state_dir`` (plain parquet; production lands the
indexes through sinks/bucketed.py keyed on their join columns, where
the repoint MERGE rewrites partitions, not the table):

- ``fp_index``    (doc_id, codec, dhash, width, height, detail,
  keep_id, batch_id) — one row per PROCESSED image, kept AND dropped:
  keeping dropped docs' fingerprints is what makes the cluster
  closure exact across ticks (a new doc matching only a dropped copy
  must still be scored against that copy's cluster keeper — the
  corpus tick's canonical_id design, generalized). keep_id always
  references the row's current cluster keeper.
- ``band_index``  (doc_id, band, byte, batch_id) — the 8x8-bit LSH
  bands of every processed image's hash (the probe side).
- ``frame_index`` (doc_id, frame_idx, frame_dhash, n_frames, keep_id,
  batch_id) — per-frame rows of every processed clip; frame_idx
  feeds the aligned-run verification, n_frames is the clip quality.
- ``media_flags`` (doc_id, modality, status, batch_id) — per-doc
  verdicts through the keyed MERGE writer: 'kept',
  'dropped:near_dup', 'dropped:near_dup:reordered' (video whose
  duplicate evidence is entirely ORDER-BROKEN — see below),
  'displaced:near_dup' (an incumbent keeper beaten by a better
  arrival).

Video admission additionally runs the TEMPORAL-ORDER verification
(r11 verdict #5) with the batch family's exact algebra
(plans/media_dedup.aligned_runs_of): candidate pairs sharing >=
VIDEO_SHARED_T distinct frames still dedup (matching the batch keep
rule), but a clip whose every candidate pair has aligned_run <
VIDEO_SHARED_T — shared content, order destroyed: a re-cut, not a
trim — is flagged 'dropped:near_dup:reordered' so downstream can
treat re-edits differently from copies.

Replay safety: the contract of ``state.TickState``, flags keyed on
(doc_id, modality); a replayed winner's matches lift to itself through
keep_id and drop out as self-loops.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from falcon_metrics_etl_spark.functions import multimodal as MM
from falcon_metrics_etl_spark.operators.keep_best import resolve_keep_best
from falcon_metrics_etl_spark.plans.media_dedup import (
    DHASH_HAMMING_T,
    VIDEO_SHARED_T,
    aligned_runs_of,
    image_bands_of,
    image_keep_best_of,
    video_keep_best_of,
)
from falcon_metrics_etl_spark.session import run_concurrent
from falcon_metrics_etl_spark.state import (
    TickState,
    maintain_state_dir,
    overwrite_state,
)

FP_SCHEMA = (
    "doc_id long, codec string, dhash long, width int, height int, "
    "detail long, keep_id long, batch_id long"
)
BAND_SCHEMA = "doc_id long, band int, byte long, batch_id long"
FRAME_SCHEMA = (
    "doc_id long, frame_idx int, frame_dhash long, n_frames long, "
    "keep_id long, batch_id long"
)


def _status(is_kept_col):
    return (
        F.when(is_kept_col, F.lit("kept"))
        .otherwise(F.lit("dropped:near_dup"))
    )


def stage_media_state(
    spark: SparkSession,
    docs: DataFrame,
    state_dir: str,
    batch_id: int = 0,
    images: DataFrame | None = None,
    clips: DataFrame | None = None,
) -> None:
    """Tick-0 backfill: run the BATCH keep-best closure over the base
    corpus and persist its full resolution — every processed row with
    its cluster keeper — as the maintained state. This is the batch
    pipeline run once; every later tick maintains its result
    incrementally.

    ``images`` / ``clips`` override the fixture payload corpora with
    explicit (doc_id, media_type, codec, payload) frames — production
    passes its real media here; the fixture attach is the default."""
    if images is None:
        images = MM.attach_payload_dhash_corpus(docs)
    if clips is None:
        clips = MM.attach_payload_video_clips(docs)
    tag = F.lit(int(batch_id)).alias("batch_id")
    # backfill is job-count bound too (r14): the two modality decodes,
    # their independent keep-best closures, and the three state writes
    # each run as one concurrent wave
    fp = MM.media_dhash(images, with_detail=True)
    vfp = MM.video_frame_dhash(clips).select(
        "doc_id", "frame_idx", "frame_dhash"
    )
    fp, vfp = run_concurrent(
        lambda: fp.localCheckpoint(eager=True),
        lambda: vfp.localCheckpoint(eager=True),
    )
    kb, vkb = run_concurrent(
        lambda: image_keep_best_of(fp).localCheckpoint(eager=True),
        lambda: video_keep_best_of(vfp).localCheckpoint(eager=True),
    )
    run_concurrent(
        lambda: overwrite_state(
            kb.select(
                "doc_id", "codec", "dhash", "width", "height",
                "detail", "keep_id", tag,
            ),
            f"{state_dir}/fp_index",
        ),
        lambda: overwrite_state(
            image_bands_of(kb).select("doc_id", "band", "byte", tag),
            f"{state_dir}/band_index",
        ),
        lambda: overwrite_state(
            vfp.join(
                vkb.select("doc_id", "n_frames", "keep_id"), "doc_id"
            ).select(
                "doc_id", "frame_idx", "frame_dhash", "n_frames",
                "keep_id", tag,
            ),
            f"{state_dir}/frame_index",
        ),
    )

    flags = (
        kb.select(
            "doc_id",
            F.lit("image").alias("modality"),
            _status(F.col("status") == "kept").alias("status"),
        )
        .unionByName(
            vkb.select(
                "doc_id",
                F.lit("video").alias("modality"),
                _status(F.col("status") == "kept").alias("status"),
            )
        )
        .withColumn("batch_id", F.lit(int(batch_id)))
    )
    overwrite_state(flags, f"{state_dir}/media_flags")


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
    """Process ONE delta batch of media docs end to end (decode ->
    probe -> resolve keep-best -> flag/repoint/append), idempotent
    under replay of the same (batch_docs, batch_id). ``images`` /
    ``clips`` override the fixture payload corpora (see
    stage_media_state); ``vfp`` injects ALREADY-DECODED clip frames
    (doc_id, frame_idx, frame_dhash) so a caller running this tick
    beside the cross-modal tick decodes the batch's Y4M streams ONCE
    (streaming/cross_modal_tick.unified_media_ingest_tick — r13
    consolidation)."""
    bid = int(batch_id)
    if images is None:
        images = MM.attach_payload_dhash_corpus(batch_docs)
    if clips is None and vfp is None:
        clips = MM.attach_payload_video_clips(batch_docs)

    # ---- delta decode: both modalities checkpoint concurrently -----
    fp_new = MM.media_dhash(images, with_detail=True).select(
        "doc_id", "codec", "dhash", "width", "height", "detail"
    )
    if vfp is not None:
        vfp_new = vfp.select("doc_id", "frame_idx", "frame_dhash")
        (fp_new,) = run_concurrent(
            lambda: fp_new.localCheckpoint(eager=True)
        )
    else:
        vfp_new = MM.video_frame_dhash(clips).select(
            "doc_id", "frame_idx", "frame_dhash"
        )
        fp_new, vfp_new = run_concurrent(
            lambda: fp_new.localCheckpoint(eager=True),
            lambda: vfp_new.localCheckpoint(eager=True),
        )

    with TickState(spark, state_dir, bid) as st:
        # ---- image side: band probe -> Hamming edges --------------------
        fp_idx = st.probe("fp_index", FP_SCHEMA)
        band_idx = st.probe("band_index", BAND_SCHEMA)
        new_bands = image_bands_of(fp_new)

        # ---- band append, overlapped (r17, guide §2.6) ------------------
        # the band-index append depends ONLY on the decoded batch — it
        # runs WHILE the edge/resolve jobs compute and joins as the
        # block exits. Safe against the concurrent probes: every
        # state-side read filters batch_id != bid (the replay contract
        # already tolerates this batch's rows), and band_idx above listed
        # its file set before this write lands.
        st.start(
            lambda: st.append(
                "band_index", BAND_SCHEMA, new_bands, "doc_id",
                ["doc_id", "band", "byte"],
            )
        )
        probe_side = band_idx.select("doc_id", "band", "byte").unionByName(
            new_bands.select("doc_id", "band", "byte")
        )
        # the probing side is the batch — micro-batch-bounded, so the
        # band probe broadcasts it and the state side never shuffles
        cand = (
            F.broadcast(new_bands).alias("a")
            .join(
                probe_side.alias("b"),
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.byte") == F.col("b.byte"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_a"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_b"),
            )
            .distinct()
        )
        hashes = fp_idx.select("doc_id", "dhash").unionByName(
            fp_new.select("doc_id", "dhash")
        )
        # no broadcast HINT on the candidate side: cand is bounded by
        # batch x bucket occupancy, not by the batch (a hot band bucket
        # makes it state-proportional) — AQE broadcasts the post-shuffle
        # stage when it measures small and degrades gracefully otherwise
        e1 = cand.join(
            hashes.select(
                F.col("doc_id").alias("id_a"), F.col("dhash").alias("h_a")
            ),
            "id_a",
        )
        edges = (
            e1
            .join(
                hashes.select(
                    F.col("doc_id").alias("id_b"), F.col("dhash").alias("h_b")
                ),
                "id_b",
            )
            .filter(F.bit_count(F.expr("h_a ^ h_b")) <= DHASH_HAMMING_T)
            .select("id_a", "id_b")
        )
        # ---- video side: delta frames probe the inverted index ---------
        n_new = vfp_new.groupBy("doc_id").agg(
            F.count(F.lit(1)).cast("long").alias("n_frames")
        )
        frame_idx_state = st.probe("frame_index", FRAME_SCHEMA)
        vprobe = frame_idx_state.select(
            "doc_id", "frame_idx", "frame_dhash"
        ).unionByName(vfp_new)
        fm = (
            F.broadcast(vfp_new).alias("a")
            .join(
                vprobe.alias("b"),
                (F.col("a.frame_dhash") == F.col("b.frame_dhash"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_a"),
                F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("id_b"),
                F.when(
                    F.col("a.doc_id") < F.col("b.doc_id"), F.col("a.frame_idx")
                )
                .otherwise(F.col("b.frame_idx"))
                .alias("ia"),
                F.when(
                    F.col("a.doc_id") < F.col("b.doc_id"), F.col("b.frame_idx")
                )
                .otherwise(F.col("a.frame_idx"))
                .alias("ib"),
                F.col("a.frame_dhash").alias("fd"),
            )
            # both orientations appear when both sides are batch docs
            .distinct()
            .localCheckpoint(eager=True)
        )
        vpairs = (
            fm.select("id_a", "id_b", "fd")
            .distinct()
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
            .filter(F.col("n_shared") >= VIDEO_SHARED_T)
        )
        # temporal-order verification with the batch query's exact algebra
        vpairs = vpairs.join(
            aligned_runs_of(fm.select("id_a", "id_b", "ia", "ib")),
            ["id_a", "id_b"],
        ).withColumn(
            "is_aligned", F.col("aligned_run") >= VIDEO_SHARED_T
        ).localCheckpoint(eager=True)

        # ---- ONE joint resolution on modality-tagged nodes (r12) --------
        # image and video edges live on disjoint parities (2*doc_id vs
        # 2*doc_id + 1), so a single resolve_keep_best call — one
        # component loop, one argmax — reproduces the two per-modality
        # resolutions exactly: clusters never mix parities, images compare
        # on (wh, detail), clips on (n_frames, 0), and the -node tiebreak
        # is -doc_id within each parity class. Halves the iterative
        # clustering + checkpoint job count per tick (measured on the
        # sf0.1 runner; the cross_modal_tick uses the same node algebra).
        node_edges = edges.select(
            (F.col("id_a") * 2).alias("id_a"),
            (F.col("id_b") * 2).alias("id_b"),
        ).unionByName(
            vpairs.select(
                (F.col("id_a") * 2 + 1).alias("id_a"),
                (F.col("id_b") * 2 + 1).alias("id_b"),
            )
        )
        wh_q1 = (F.col("width").cast("long") * F.col("height")).alias("q1")
        new_q = fp_new.select(
            (F.col("doc_id") * 2).alias("doc_id"),
            wh_q1,
            F.col("detail").alias("q2"),
        ).unionByName(
            n_new.select(
                (F.col("doc_id") * 2 + 1).alias("doc_id"),
                F.col("n_frames").alias("q1"),
                F.lit(0).cast("long").alias("q2"),
            )
        )
        idx_q = fp_idx.select(
            (F.col("doc_id") * 2).alias("doc_id"),
            (F.col("keep_id") * 2).alias("keep_id"),
            wh_q1,
            F.col("detail").alias("q2"),
        ).unionByName(
            # per-frame rows: bounded resolve dedupes per doc after its
            # endpoint semi-join (r16) — no state-wide shuffle per tick
            frame_idx_state.select("doc_id", "keep_id", "n_frames")
            .select(
                (F.col("doc_id") * 2 + 1).alias("doc_id"),
                (F.col("keep_id") * 2 + 1).alias("keep_id"),
                F.col("n_frames").alias("q1"),
                F.lit(0).cast("long").alias("q2"),
            )
        )
        verdicts, displaced = resolve_keep_best(
            new_q, idx_q, node_edges, ["q1", "q2"], bounded_batch=True
        )
        # freeze the decisions BEFORE any state mutation: their lineage
        # reads the index parquet the repoint/appends are about to rewrite
        verdicts, displaced = run_concurrent(
            lambda: verdicts.localCheckpoint(eager=True),
            lambda: displaced.localCheckpoint(eager=True),
        )
        half = F.expr("doc_id div 2").cast("long").alias("doc_id")
        keep_half = F.expr("keep_id div 2").cast("long").alias("keep_id")
        img_verdicts = verdicts.filter(F.col("doc_id") % 2 == 0).select(
            half, keep_half, "is_kept"
        )
        vid_verdicts = verdicts.filter(F.col("doc_id") % 2 == 1).select(
            half, keep_half, "is_kept"
        )
        img_displaced = displaced.filter(F.col("doc_id") % 2 == 0).select(
            half, F.expr("new_keep div 2").cast("long").alias("new_keep")
        )
        vid_displaced = displaced.filter(F.col("doc_id") % 2 == 1).select(
            half, F.expr("new_keep div 2").cast("long").alias("new_keep")
        )

        # ---- 1) land flags (keyed merge) --------------------------------
        # a dropped clip NONE of whose candidate pairs is order-aligned is
        # a re-cut, not a copy — flag the distinction
        aligned_touch = (
            vpairs.filter(F.col("is_aligned"))
            .select(F.col("id_a").alias("doc_id"))
            .unionByName(
                vpairs.filter(F.col("is_aligned")).select(
                    F.col("id_b").alias("doc_id")
                )
            )
            .distinct()
            .withColumn("al", F.lit(1))
        )
        img_flags = img_verdicts.select(
            "doc_id",
            F.lit("image").alias("modality"),
            _status(F.col("is_kept")).alias("status"),
        ).unionByName(
            img_displaced.select(
                "doc_id",
                F.lit("image").alias("modality"),
                F.lit("displaced:near_dup").alias("status"),
            )
        )
        vid_flags = (
            vid_verdicts.join(aligned_touch, "doc_id", "left")
            .select(
                "doc_id",
                F.lit("video").alias("modality"),
                F.when(F.col("is_kept"), F.lit("kept"))
                .when(
                    F.col("al").isNull(), F.lit("dropped:near_dup:reordered")
                )
                .otherwise(F.lit("dropped:near_dup"))
                .alias("status"),
            )
            .unionByName(
                vid_displaced.select(
                    "doc_id",
                    F.lit("video").alias("modality"),
                    F.lit("displaced:near_dup").alias("status"),
                )
            )
        )
        flags = img_flags.unionByName(vid_flags).withColumn(
            "batch_id", F.lit(bid)
        )
        # r17: the flags merge touches only media_flags — disjoint from
        # the repoints and appends — so it overlaps them
        st.start(
            lambda: st.merge("media_flags", flags, ["doc_id", "modality"])
        )

        # ---- 2) repoint displaced keepers (keyed merge) -------------
        # the two index repoints touch disjoint tables — concurrent
        if not displaced.isEmpty():
            run_concurrent(
                lambda: st.repoint(
                    "fp_index", FP_SCHEMA, img_displaced, "keep_id",
                    ["doc_id"],
                ),
                lambda: st.repoint(
                    "frame_index", FRAME_SCHEMA, vid_displaced, "keep_id",
                    ["doc_id", "frame_idx"],
                ),
            )

        # ---- 3) append the batch (kept AND dropped; anti-joined) --------
        # (the band append was started after decode)
        new_fp = fp_new.join(
            F.broadcast(img_verdicts.select("doc_id", "keep_id")), "doc_id"
        )
        new_fr = vfp_new.join(F.broadcast(n_new), "doc_id").join(
            F.broadcast(vid_verdicts.select("doc_id", "keep_id")), "doc_id"
        )
        # the two node appends run as one concurrent wave; the band append
        # and the flags merge join as the block exits, before maintenance
        # can compact the tables they write
        run_concurrent(
            lambda: st.append(
                "fp_index", FP_SCHEMA, new_fp, "doc_id",
                ["doc_id", "codec", "dhash", "width", "height", "detail",
                 "keep_id"],
            ),
            lambda: st.append(
                "frame_index", FRAME_SCHEMA, new_fr, "doc_id",
                ["doc_id", "frame_idx", "frame_dhash", "n_frames", "keep_id"],
            ),
        )

    # ---- in-cadence maintenance (r15, verdict #1): GC retired state
    # snapshots, compact tables past the live-file threshold
    if maintenance_file_threshold is not None:
        maintain_state_dir(
            spark, state_dir, file_threshold=maintenance_file_threshold
        )
