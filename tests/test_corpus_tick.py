"""Incremental corpus ingest tick (streaming/corpus_tick.py): the
delta batch is cleaned, near-dup-admitted against the maintained band
index, tokenized with the FROZEN merge table, and appended to the
indexes — idempotent under replay, gate verdicts agreeing with the
batch audit where semantics coincide.

The sf0.001 corpus admits ~nothing through the cleaning gates (the
classifier gate is a many-sigma filter on this synthetic text — the
audit keeps 0/500 here and 3/5000 at sf0.1), so the admission and
near-dup paths are exercised through PLANTED gate-passing documents:
a deterministic search evaluates _gate_status over candidate texts
and keeps the first passers (xxhash64 weights are fixed, so the
fixture is stable).
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from falcon_metrics_etl_spark.plans.bpe import (
    _byte_merges_df,
    byte_words_of,
)
from falcon_metrics_etl_spark.plans.registry import all_queries
from falcon_metrics_etl_spark.sources import load_table
from falcon_metrics_etl_spark.state import read_state
from falcon_metrics_etl_spark.streaming.corpus_tick import (
    MERGES_SCHEMA,
    ULM_VOCAB_SCHEMA,
    _gate_status,
    corpus_ingest_tick,
    stage_corpus_state,
)

SF = "/root/testdata/sf0.001"
DELTA_MOD = 17
N_PLANTED = 4


def _passing_texts(spark, k: int) -> list[str]:
    """First k candidate texts that pass every map-only cleaning gate
    (lang: 'the'/'a'/'value' markers; quality: 37 tokens; classifier:
    the distinct filler tokens draw fresh hashed weights per i, ~7%
    pass rate, so 200 candidates comfortably yield k)."""
    cands = [
        (
            i,
            "the "
            + " ".join(f"tok{i}w{j}" for j in range(33))
            + " the a value",
        )
        for i in range(200)
    ]
    df = spark.createDataFrame(cands, "doc_id long, text string")
    rows = (
        _gate_status(df)
        .filter(F.col("gate_status") == "pass")
        .orderBy("doc_id")
        .limit(k)
        .collect()
    )
    assert len(rows) == k, f"only {len(rows)} candidates passed"
    return [r.text for r in rows]


@pytest.fixture(scope="module")
def state(spark, tmp_path_factory):
    state_dir = str(tmp_path_factory.mktemp("corpus_state"))
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    planted = _passing_texts(spark, N_PLANTED)
    base = docs.filter(F.col("doc_id") % DELTA_MOD != 0).unionByName(
        spark.createDataFrame(
            [(800000, planted[0]), (800001, planted[1])],
            "doc_id long, text string",
        )
    )
    toks = planted[0].split(" ")
    near_copy = " ".join([toks[0], "zzzz"] + toks[2:])
    delta = docs.filter(F.col("doc_id") % DELTA_MOD == 0).unionByName(
        spark.createDataFrame(
            [
                (900001, planted[0]),   # exact copy -> fp duplicate
                (900002, near_copy),    # token-2 edit -> near_dup
                (900003, planted[2]),   # fresh passer -> kept
                (900004, planted[3]),   # fresh passer -> kept
            ],
            "doc_id long, text string",
        )
    )
    merges = _byte_merges_df(byte_words_of(base))
    stage_corpus_state(spark, base, merges, state_dir, batch_id=0)
    corpus_ingest_tick(spark, delta, state_dir, batch_id=1)
    return state_dir, base, delta


def _flags(spark, state_dir):
    return {
        r.doc_id: (r.status, r.n_tokens)
        for r in read_state(spark, f"{state_dir}/flags").collect()
    }


def test_every_delta_doc_flagged(spark, state):
    state_dir, base, delta = state
    flags = _flags(spark, state_dir)
    delta_ids = {r.doc_id for r in delta.select("doc_id").collect()}
    assert set(flags) == delta_ids
    allowed = {
        "kept",
        "dropped:lang",
        "dropped:quality",
        "dropped:classifier",
        "dropped:duplicate",
        "dropped:near_dup",
    }
    assert {s for s, _ in flags.values()} <= allowed
    # admission outcomes of the planted docs
    assert flags[900001][0] == "dropped:duplicate"
    assert flags[900002][0] == "dropped:near_dup"
    assert flags[900003][0] == "kept"
    assert flags[900004][0] == "kept"
    # kept docs carry a frozen-tokenizer budget; dropped docs none
    assert all(
        (n is not None and n > 0) == (s == "kept")
        for s, n in flags.values()
    )


def test_admitted_docs_join_the_indexes(spark, state):
    """Kept delta docs' fingerprints/bands/shingles are appended with
    the tick's batch_id; rejected docs never enter an index."""
    state_dir, base, delta = state
    flags = _flags(spark, state_dir)
    kept = {d for d, (s, _) in flags.items() if s == "kept"}
    assert kept  # the planted passers
    b1 = {
        r.doc_id
        for r in read_state(spark, f"{state_dir}/band_index")
        .filter(F.col("batch_id") == 1)
        .select("doc_id")
        .distinct()
        .collect()
    }
    assert b1 == kept
    s1 = {
        r.doc_id
        for r in read_state(spark, f"{state_dir}/shingle_index")
        .filter(F.col("batch_id") == 1)
        .select("doc_id")
        .collect()
    }
    assert s1 == kept


def test_gate_verdicts_match_batch_audit(spark, state):
    """lang/quality/classifier are per-doc map gates shared with
    corpus_cleaning_audit_fast — where the audit drops a delta doc on
    one of those, the tick must agree exactly (the corpus-dependent
    duplicate/near-dup gates legitimately diverge)."""
    state_dir, base, delta = state
    flags = _flags(spark, state_dir)
    audit = {
        r.doc_id: r.status
        for r in all_queries()["corpus_cleaning_audit_fast"]
        .spark(spark, SF)
        .filter(F.col("doc_id") % DELTA_MOD == 0)
        .collect()
    }
    for d, s in audit.items():
        if s in ("dropped:lang", "dropped:quality", "dropped:classifier"):
            assert flags[d][0] == s, (d, s, flags[d])


def test_replay_is_idempotent(spark, state):
    state_dir, base, delta = state
    before_flags = _flags(spark, state_dir)
    counts_before = {
        t: read_state(spark, f"{state_dir}/{t}").count()
        for t in ("fp_index", "band_index", "shingle_index", "flags")
    }
    corpus_ingest_tick(spark, delta, state_dir, batch_id=1)
    assert _flags(spark, state_dir) == before_flags
    counts_after = {
        t: read_state(spark, f"{state_dir}/{t}").count()
        for t in ("fp_index", "band_index", "shingle_index", "flags")
    }
    assert counts_after == counts_before


def test_tokenizer_stays_frozen(spark, state):
    """The tick encodes with the staged merge table and never
    retrains it; the table lands on disk in exactly the schema the
    tick pins its read to."""
    state_dir, base, delta = state
    on_disk = read_state(spark, f"{state_dir}/merges")
    assert on_disk.schema == StructType.fromDDL(MERGES_SCHEMA)
    staged = sorted(tuple(r) for r in on_disk.collect())
    fresh = sorted(
        tuple(r)
        for r in _byte_merges_df(byte_words_of(base))
        .select("merge_rank", "lhs", "rhs")
        .collect()
    )
    assert staged == fresh


def test_second_batch_sees_first_batch_admissions(spark, state):
    """A batch-2 exact copy of a doc ADMITTED IN BATCH 1 is rejected
    by the fp gate — the maintained state, not just the backfill,
    guards later ticks."""
    state_dir, base, delta = state
    flags = _flags(spark, state_dir)
    kept_delta = sorted(d for d, (s, _) in flags.items() if s == "kept")
    src_text = {r.doc_id: r.text for r in delta.collect()}[kept_delta[0]]
    batch2 = spark.createDataFrame(
        [(910001, src_text)], "doc_id long, text string"
    )
    corpus_ingest_tick(spark, batch2, state_dir, batch_id=2)
    assert _flags(spark, state_dir)[910001][0] == "dropped:duplicate"


def test_tick_with_frozen_ulm_vocab(spark, tmp_path):
    """The pluggable-tokenizer path (r11): stage the corpus state with
    a frozen unigram-LM vocabulary instead of BPE merges — the tick
    must detect it, Viterbi-encode admitted deltas against it, and
    produce n_tokens matching the direct batch encode."""
    from falcon_metrics_etl_spark.plans.ulm import (
        _ulm_vocab_df,
        ulm_token_budgets,
        words_of,
    )

    state_dir = str(tmp_path / "ulm_state")
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    planted = _passing_texts(spark, 2)
    base = docs.filter(F.col("doc_id") % DELTA_MOD != 0)
    vocab = _ulm_vocab_df(words_of(base)).localCheckpoint(eager=True)
    stage_corpus_state(
        spark, base, None, state_dir, batch_id=0, ulm_vocab=vocab
    )
    assert read_state(
        spark, f"{state_dir}/ulm_vocab"
    ).schema == StructType.fromDDL(ULM_VOCAB_SCHEMA)
    delta = spark.createDataFrame(
        [(910001, planted[0]), (910002, planted[1])],
        "doc_id long, text string",
    )
    corpus_ingest_tick(spark, delta, state_dir, batch_id=1)
    flags = {
        r.doc_id: (r.status, r.n_tokens)
        for r in read_state(spark, f"{state_dir}/flags").collect()
    }
    assert flags[910001][0] == "kept" and flags[910002][0] == "kept"
    # n_tokens must equal the direct frozen-vocab batch encode
    expected = {
        r.doc_id: r.n_tokens
        for r in ulm_token_budgets(words_of(delta), vocab=vocab).collect()
    }
    assert flags[910001][1] == expected[910001]
    assert flags[910002][1] == expected[910002]
    # replay idempotence holds on the ULM path too
    before = read_state(spark, f"{state_dir}/band_index").count()
    corpus_ingest_tick(spark, delta, state_dir, batch_id=1)
    assert read_state(spark, f"{state_dir}/band_index").count() == before


def test_stage_requires_exactly_one_tokenizer(spark, tmp_path):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        stage_corpus_state(spark, docs, None, str(tmp_path / "s1"))
