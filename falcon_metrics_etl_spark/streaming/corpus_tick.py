"""Incremental training-corpus ingest tick — the composed delta shape
of bench.py's ``corpus_e2e`` (r9 verdict #5): a batch of NEW documents
is cleaned, near-dup-checked against the MAINTAINED LSH band index,
and tokenized with the FROZEN byte-BPE merge table; only then do its
fingerprints/bands/shingles append to the indexes. Tick cost scales
with the delta: every gate is map-only on the batch, the band probe
is a delta-keyed equi-join into the persisted index, exact-Jaccard
verification joins only candidate base docs, and the tokenizer
encodes the batch's distinct pre-tokens against a broadcast
dictionary. The full-corpus recompute (``corpus_e2e``) only remains
for backfills.

State under ``state_dir`` (all plain parquet; production lands the
indexes through sinks/bucketed.py keyed on their join columns so the
probe side plans with no Exchange):

- ``fp_index``    (fp, canonical_id, batch_id) — prefix-fingerprint
  exact-dup canon, the cleaning audit's duplicate gate made
  incremental; ADMITTED docs only, so canonical_id always references
  a corpus member (an exact copy of a near-dup-rejected doc falls
  through to the near-dup gate and is rejected against the same
  corpus doc its original was)
- ``band_index``  (doc_id, band, bkey, batch_id) — MinHash LSH
  buckets of every ADMITTED doc
- ``shingle_index`` (doc_id, shs array, batch_id) — admitted docs'
  distinct shingles, fetched only for verification candidates
- ``merges``      (merge_rank, lhs, rhs) — the frozen byte-BPE
  tokenizer; OR ``ulm_vocab`` (piece, piece_count, cost) — the frozen
  unigram-LM vocabulary (r11: the tokenizer is pluggable; the tick
  encodes deltas with whichever the corpus was trained with)
- ``flags``       (doc_id, status, n_tokens, batch_id) — per-doc
  verdicts, landed through the keyed MERGE writer

Replay safety: the contract of ``state.TickState``, flags keyed on doc_id.

Admission policy for near-dups is greedy keep-first: a batch doc is
rejected when it near-dups the admitted corpus (the corpus always
wins) or ANY smaller-id batch doc that passed the cleaning gates —
deterministic and one-pass, the standard ingest-side simplification
of the batch pipeline's cluster keep-best.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from falcon_metrics_etl_spark.functions import text as TX
from falcon_metrics_etl_spark.plans.bpe import byte_token_budgets, byte_words_of
from falcon_metrics_etl_spark.plans.dedup_lsh import (
    MINHASH_JACCARD_T,
    lsh_frames_of,
)
from falcon_metrics_etl_spark.session import run_concurrent
from falcon_metrics_etl_spark.state import (
    TickState,
    batch_tag,
    maintain_state_dir,
    overwrite_state,
)

FP_SCHEMA = "fp string, canonical_id long, batch_id long"
BAND_SCHEMA = "doc_id long, band int, bkey string, batch_id long"
SHINGLE_SCHEMA = "doc_id long, shs array<string>, batch_id long"
FLAGS_SCHEMA = "doc_id long, status string, n_tokens long, batch_id long"
# the frozen tokenizer tables, in the types plans/bpe._merges_df and
# plans/ulm._ulm_vocab_df produce; staging casts to them and every tick
# reads them pinned, so no read runs a footer-inference job
MERGES_SCHEMA = "merge_rank int, lhs string, rhs string"
ULM_VOCAB_SCHEMA = "piece string, piece_count long, cost long"


def _gate_status(docs: DataFrame) -> DataFrame:
    """Map-only cleaning gates (lang / quality / classifier-fast) —
    the SAME gate expressions as corpus_cleaning_audit_fast via the
    shared functions/text.py helpers (advisor r10: one definition, so
    a threshold change can never diverge the tick from the batch
    audit); the corpus-dependent duplicate gate is applied by the
    caller via the fp index. Output: (doc_id, text, fp, gate_status)."""
    return TX.cleaning_gate_frame(docs, fast=True).select(
        "doc_id",
        "text",
        "fp",
        TX.cleaning_gate_verdict().alias("gate_status"),
    )


def stage_corpus_state(
    spark: SparkSession,
    docs: DataFrame,
    merges: DataFrame | None,
    state_dir: str,
    batch_id: int = 0,
    ulm_vocab: DataFrame | None = None,
) -> None:
    """Tick-0 backfill: persist the corpus state the incremental
    ingest maintains, from an already-cleaned base corpus (the
    caller runs the batch pipeline once; this lands its indexes).

    The frozen tokenizer is PLUGGABLE (r11): pass ``merges`` for the
    byte-BPE corpus or ``ulm_vocab`` (piece, piece_count, cost) for a
    unigram-LM corpus — exactly one; the tick detects which state
    exists and encodes its deltas with the tokenizer the corpus was
    trained with."""
    if (merges is None) == (ulm_vocab is None):
        raise ValueError(
            "stage_corpus_state: pass exactly one of merges / ulm_vocab"
        )
    gated = _gate_status(docs).localCheckpoint(eager=True)
    passed = gated.filter(F.col("gate_status") == "pass")
    canon = passed.withColumn(
        "canonical_id", F.min("doc_id").over(Window.partitionBy("fp"))
    )
    admitted = canon.filter(F.col("doc_id") == F.col("canonical_id")).select(
        "doc_id", "text"
    )
    tag = batch_tag(batch_id)
    overwrite_state(
        canon.select("fp", "canonical_id").distinct().select(
            "fp", "canonical_id", tag
        ),
        f"{state_dir}/fp_index",
    )
    toks, _sh, bands = lsh_frames_of(admitted)
    overwrite_state(
        bands.select("doc_id", "band", "bkey", tag),
        f"{state_dir}/band_index",
    )
    overwrite_state(
        toks.select("doc_id", "shs", tag), f"{state_dir}/shingle_index"
    )
    name, table, schema = (
        ("merges", merges, MERGES_SCHEMA)
        if merges is not None
        else ("ulm_vocab", ulm_vocab, ULM_VOCAB_SCHEMA)
    )
    fields = (f.split() for f in schema.split(", "))
    overwrite_state(
        table.select(*(F.col(c).cast(t).alias(c) for c, t in fields)),
        f"{state_dir}/{name}",
    )


def corpus_ingest_tick(
    spark: SparkSession,
    batch_df: DataFrame,
    state_dir: str,
    batch_id: int,
    maintenance_file_threshold: int | None = 64,
) -> None:
    """Process ONE delta batch end to end (clean -> near-dup admit ->
    tokenize -> index append), idempotent under replay of the same
    (batch_df, batch_id).

    ``maintenance_file_threshold`` (r15): after the appends, GC
    retired state snapshots and compact any state table whose live
    file count crossed the threshold (state.maintain_state_dir), so
    a 5-minute-cadence deployment keeps probe scans file-count-
    bounded without manual sweeps. None disables (a deployment that
    schedules compaction in its own window)."""
    bid = int(batch_id)
    gated = _gate_status(batch_df).localCheckpoint(eager=True)
    st = TickState(spark, state_dir, bid)

    # --- exact-dup gate: probe the fp index (excluding own batch) ---
    fp_idx = st.probe("fp_index", FP_SCHEMA)
    batch_canon = F.min(
        F.when(F.col("gate_status") == "pass", F.col("doc_id"))
    ).over(Window.partitionBy("fp"))
    # r16 (guide §3.2/§2.4): the batch's fps probe the index through a
    # broadcast semi-join, so the fp index is SCANNED, never shuffled —
    # the old shape (index-wide distinct + shuffle join) paid a
    # state-proportional Exchange+HashAgg every tick. The hit set is
    # batch-bounded, so the outer join broadcasts too; the distinct
    # after the semi keeps the old duplicate-fp armor at hit-set size.
    in_index = (
        fp_idx.select("fp")
        .join(
            F.broadcast(gated.select("fp").distinct()), "fp", "left_semi"
        )
        .distinct()
        .withColumn("fp_hit", F.lit(1))
        # lazy checkpoint: ``deduped`` is consumed by the flag, append
        # and admission branches — without it each consumer re-inlines
        # (and re-runs) the index probe; the hit set is batch-bounded,
        # so the checkpointed blocks are tiny
        .localCheckpoint(eager=False)
    )
    deduped = (
        gated.withColumn("batch_canonical", batch_canon)
        .join(F.broadcast(in_index), "fp", "left")
        .select(
            "doc_id",
            "text",
            "fp",
            F.when(F.col("gate_status") != "pass", F.col("gate_status"))
            .when(
                F.col("fp_hit").isNotNull()
                | (F.col("doc_id") != F.col("batch_canonical")),
                F.lit("dropped:duplicate"),
            )
            .otherwise(F.lit("pass"))
            .alias("gate_status"),
        )
    )
    survivors = deduped.filter(F.col("gate_status") == "pass").select(
        "doc_id", "text"
    )

    # --- near-dup gate: delta bands probe the maintained index ------
    toks, sh, bands = lsh_frames_of(survivors)
    # three independent materializations of the batch's LSH frames —
    # one concurrent wave (r14: tick cost is job-count dominated)
    toks, sh, bands = run_concurrent(
        lambda: toks.localCheckpoint(eager=True),
        lambda: sh.localCheckpoint(eager=True),
        lambda: bands.localCheckpoint(eager=True),
    )
    band_idx = st.probe("band_index", BAND_SCHEMA)
    # candidates vs the admitted corpus + smaller-id batch mates
    # the probing side is the batch — micro-batch-bounded, broadcast
    cand = (
        F.broadcast(bands).alias("a")
        .join(
            band_idx.select("doc_id", "band", "bkey").unionByName(
                bands.select("doc_id", "band", "bkey")
            ).alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bkey") == F.col("b.bkey"))
            & (F.col("a.doc_id") > F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_new"),
            F.col("b.doc_id").alias("id_old"),
        )
        .distinct()
    )
    # exact verification: batch shingles vs (index ∪ batch) shingles,
    # fetched ONLY for candidate ids
    sh_idx = st.probe("shingle_index", SHINGLE_SCHEMA)
    old_toks = sh_idx.select("doc_id", "shs").unionByName(
        toks.select("doc_id", "shs")
    )
    # no broadcast HINT: candidate ids are occupancy-bounded, not
    # batch-bounded — AQE decides (broadcasts when measured small)
    old_toks = old_toks.join(
        cand.select(F.col("id_old").alias("doc_id")).distinct(),
        "doc_id",
        "left_semi",
    )
    old_sh = old_toks.select("doc_id", F.explode("shs").alias("sh"))
    old_sizes = old_toks.select("doc_id", F.size("shs").alias("n"))
    shared = (
        cand.join(sh.alias("sa"), F.col("sa.doc_id") == F.col("id_new"))
        .join(
            old_sh.alias("sb"),
            (F.col("sb.doc_id") == F.col("id_old"))
            & (F.col("sb.sh") == F.col("sa.sh")),
        )
        .groupBy("id_new", "id_old")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    new_sizes = toks.select("doc_id", F.size("shs").alias("n"))
    jac = F.col("n_shared").cast("double") / (
        F.col("na.n") + F.col("nb.n") - F.col("n_shared")
    )
    near_dups = (
        shared.join(
            new_sizes.alias("na"), F.col("na.doc_id") == F.col("id_new")
        )
        .join(old_sizes.alias("nb"), F.col("nb.doc_id") == F.col("id_old"))
        .filter(jac >= MINHASH_JACCARD_T)
        .select(F.col("id_new").alias("doc_id"))
        .distinct()
    )
    admitted = survivors.join(near_dups, "doc_id", "left_anti").select(
        "doc_id", "text"
    )

    # --- tokenize admitted docs with the FROZEN tokenizer -----------
    # whichever the corpus was trained with: byte-BPE merge table or
    # unigram-LM vocabulary (r11 — never retrain inside a tick)
    if st.exists("ulm_vocab"):
        from falcon_metrics_etl_spark.plans.ulm import (
            ulm_token_budgets,
            words_of,
        )

        vocab = st.read("ulm_vocab", ULM_VOCAB_SCHEMA)
        budgets = ulm_token_budgets(words_of(admitted), vocab=vocab)
    else:
        merges = st.read("merges", MERGES_SCHEMA)
        budgets = byte_token_budgets(
            byte_words_of(admitted), merges=merges
        )

    # --- land flags (keyed merge) + append indexes (anti-joined) ----
    status = (
        deduped.select("doc_id", "gate_status")
        .join(
            near_dups.withColumn("nd", F.lit(1)), "doc_id", "left"
        )
        .select(
            "doc_id",
            F.when(F.col("nd").isNotNull(), F.lit("dropped:near_dup"))
            .otherwise(F.col("gate_status"))
            .alias("status"),
        )
        .withColumn(
            "status",
            F.when(F.col("status") == "pass", F.lit("kept")).otherwise(
                F.col("status")
            ),
        )
    )
    flags = status.join(
        budgets.select("doc_id", "n_tokens"), "doc_id", "left"
    ).select("doc_id", "status", "n_tokens", batch_tag(bid))
    # only ADMITTED docs register their fp (advisor r10: a near-dup-
    # rejected doc must not become canonical_id for future exact
    # copies — those copies now fall through to the near-dup gate and
    # are rejected against the same corpus doc their original was)
    new_fps = deduped.filter(F.col("gate_status") == "pass").join(
        near_dups, "doc_id", "left_anti"
    ).select("fp", F.col("doc_id").alias("canonical_id"))
    admitted_ids = F.broadcast(admitted.select("doc_id"))
    with st:
        # r17: the flags merge (which carries the tokenize compute in
        # its lineage) touches only the flags table — disjoint from the
        # three index appends — so it overlaps them
        st.start(
            lambda: st.merge("flags", FLAGS_SCHEMA, flags, ["doc_id"])
        )
        # the three appends target disjoint tables — one concurrent wave
        run_concurrent(
            lambda: st.append(
                "fp_index", FP_SCHEMA, new_fps, "fp", ["fp", "canonical_id"]
            ),
            lambda: st.append(
                "band_index", BAND_SCHEMA,
                bands.join(admitted_ids, "doc_id", "left_semi"),
                "doc_id", ["doc_id", "band", "bkey"],
            ),
            lambda: st.append(
                "shingle_index", SHINGLE_SCHEMA,
                toks.join(admitted_ids, "doc_id", "left_semi"),
                "doc_id", ["doc_id", "shs"],
            ),
        )

    # ---- in-cadence maintenance (r15, verdict #1) -------------------
    if maintenance_file_threshold is not None:
        maintain_state_dir(
            spark, state_dir, file_threshold=maintenance_file_threshold
        )
