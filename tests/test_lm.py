"""Bigram-LM cross-entropy scoring: DuckDB builder parity (the same
check the driver's oracle gate runs), hand-computed ground truth on a
tiny corpus, and the quality-signal sanity property the operator
exists for."""

from __future__ import annotations

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from mrbf_spark.functions.lm import lm_cross_entropy, lm_score
from mrbf_spark.registry import BUILDER_SQL

from conftest import SF_ORACLE


def test_lm_cross_entropy_matches_duckdb(spark):
    got = lm_cross_entropy(spark, SF_ORACLE).toPandas()
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_ORACLE}/documents.parquet'"
    )
    exp = con.sql(BUILDER_SQL["lm_cross_entropy"]).df()
    assert sorted(got.columns) == sorted(exp.columns)
    assert len(got) == len(exp)
    cols = sorted(got.columns)
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = exp[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        assert (av == bv).all(), f"col {c} mismatch"


def test_lm_score_tiny_corpus_ground_truth(spark):
    """2-doc corpus small enough to hand-roll: 'a b a b' and 'a b'.
    Bigrams: doc1 {ab:2, ba:1}, doc2 {ab:1}. Model: c(ab)=3, c(ba)=1;
    c(a)=3, c(b)=1; V=2. Terms come from the exact intlog kernel:
    −log2 p(ab) = L2Q(3+2) − L2Q(3+1) etc."""
    from mrbf_spark.functions.intlog import L2_SCALE, LN2, l2q_int

    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in lm_score(docs).collect()}
    q_ab = l2q_int(3 + 2) - l2q_int(3 + 1)  # −log2 p_ab, ≥ 0
    q_ba = l2q_int(1 + 2) - l2q_int(1 + 1)
    assert rows[1]["n_bigrams"] == 3 and rows[2]["n_bigrams"] == 1
    assert rows[1]["nll_q"] == 2 * q_ab + q_ba
    assert rows[2]["nll_q"] == q_ab
    # bit-exact: the engine must derive cross_entropy by the pinned
    # IEEE op order (q/2^24)/n·LN2
    assert rows[2]["cross_entropy"] == q_ab / L2_SCALE / 1.0 * LN2
    # and the value still approximates true nats: −ln(0.8)
    assert rows[2]["cross_entropy"] == pytest.approx(-math.log(4 / 5), rel=1e-6)


def test_lm_score_flags_out_of_distribution_text(spark):
    """The operator's purpose: a doc made of corpus-typical bigrams
    must score LOWER cross-entropy than a doc of never-seen bigrams.
    Uses a synthetic corpus with strongly repeated bigrams — the sf
    testdata's ~31-token vocabulary makes every bigram roughly
    uniformly likely (p ≈ 1/V ≈ an unseen bigram's smoothed mass), so
    it cannot separate in-distribution from out-of-distribution."""
    corpus = [(i, "the cat sat on the mat near the cat") for i in range(40)]
    corpus.append((900001, "the cat sat on the mat"))  # typical
    corpus.append((900002, "zzq0 xxv0 zzq1 xxv1 zzq2 xxv2"))  # out-of-dist
    docs = spark.createDataFrame(corpus, "doc_id long, text string")
    scores = {
        r["doc_id"]: r["cross_entropy"]
        for r in lm_score(docs).filter(F.col("doc_id") >= 900001).collect()
    }
    assert scores[900001] < scores[900002]


def test_lm_score_partition_invariant(spark):
    """Integer fixed-point per-doc sums ⇒ bit-identical output no
    matter how the corpus arrives partitioned."""
    from mrbf_spark.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents").limit(120)
    one = {r["doc_id"]: (r["nll_q"], r["cross_entropy"]) for r in lm_score(docs.coalesce(1)).collect()}
    many = {r["doc_id"]: (r["nll_q"], r["cross_entropy"]) for r in lm_score(docs.repartition(17)).collect()}
    assert one == many


def test_frozen_model_self_training_equals_lm_score(spark):
    """score_with_model(docs, train_bigram_lm(docs)) must reproduce
    lm_score(docs) bit-for-bit: every scored bigram exists in the
    self-trained model, so the left-join smoothing path is never
    taken and LEFT == INNER."""
    from mrbf_spark.functions.lm import score_with_model, train_bigram_lm
    from mrbf_spark.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents").limit(150)
    model, v = train_bigram_lm(docs)
    got = {
        r["doc_id"]: (r["n_bigrams"], r["nll_q"], r["cross_entropy"])
        for r in score_with_model(docs, model, v).collect()
    }
    exp = {
        r["doc_id"]: (r["n_bigrams"], r["nll_q"], r["cross_entropy"])
        for r in lm_score(docs).collect()
    }
    assert got == exp


def test_frozen_model_split_matches_duckdb(spark):
    """Train on the even-doc_id half, score the odd half — the real
    frozen-artifact deployment — and hash-compare against the DuckDB
    twin that replays training, left-join smoothing, and the
    fixed-point sums."""
    from mrbf_spark.functions.lm import (
        lm_train_score_sql,
        score_with_model,
        train_bigram_lm,
    )
    from mrbf_spark.tables import load_table

    docs = load_table(spark, SF_ORACLE, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    score = docs.filter(F.col("doc_id") % 2 == 1)
    model, v = train_bigram_lm(train)
    got = score_with_model(score, model, v).toPandas()
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_ORACLE}/documents.parquet'"
    )
    con.sql("CREATE VIEW train AS SELECT * FROM documents WHERE doc_id % 2 = 0")
    con.sql("CREATE VIEW score AS SELECT * FROM documents WHERE doc_id % 2 = 1")
    exp = con.sql(lm_train_score_sql("train", "score")).df()
    assert len(got) == len(exp) > 0
    cols = sorted(got.columns)
    assert cols == sorted(exp.columns)
    a = got[cols].sort_values(cols).reset_index(drop=True)
    b = exp[cols].sort_values(cols).reset_index(drop=True)
    for c in cols:
        assert (a[c].to_numpy() == b[c].to_numpy()).all(), f"col {c} mismatch"


def test_frozen_model_unseen_tokens_hand_truth(spark):
    """A scored doc whose tokens the model never saw: every bigram
    has c_bg=0 and unseen prev (c_prev=0), so each term is
    −log2(1/V) = L2Q(V) − L2Q(1) exactly (the coalesced-constant
    smoothing path)."""
    from mrbf_spark.functions.intlog import l2q_int
    from mrbf_spark.functions.lm import score_with_model, train_bigram_lm

    train = spark.createDataFrame(
        [(1, "a b a b"), (2, "a c")], "doc_id long, text string"
    )
    score = spark.createDataFrame([(9, "x y z")], "doc_id long, text string")
    model, v = train_bigram_lm(train)
    assert v == 3  # {a, b, c}
    row = score_with_model(score, model, v).collect()[0]
    term = l2q_int(3) - l2q_int(1)  # L2Q(1) = 0
    assert row["n_bigrams"] == 2
    assert row["nll_q"] == 2 * term
