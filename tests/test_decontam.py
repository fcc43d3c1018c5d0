"""Decontamination operator: n-gram semantics, equivalence of the
n-gram report to the plain intersection, threshold flagging and
laziness (no Spark job before the caller's action)."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from mrbf_spark.functions.decontam import (
    NGRAM_N,
    decontaminate_cut,
    decontaminate_docs,
    doc_ngrams,
    semantic_decontaminate,
)

from conftest import SF_SMOKE


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_ngram_extraction_semantics(spark):
    rows = _docs(
        spark,
        [
            (1, "a b c d"),  # 2 trigrams
            (2, "a b"),  # too short -> none
            (3, "x x x x"),  # duplicate grams collapse to 1 distinct
        ],
    )
    got = {
        (r["doc_id"], r["g"])
        for r in doc_ngrams(rows, NGRAM_N).collect()
    }
    assert got == {(1, "a b c"), (1, "b c d"), (3, "x x x")}


def test_exact_intersection_and_flag(spark):
    corpus = _docs(
        spark,
        [
            (10, "the quick brown fox jumps"),  # shares 'the quick brown'
            (11, "entirely disjoint text here now"),
        ],
    )
    eval_docs = _docs(spark, [(99, "the quick brown cat")])
    out = {
        r["doc_id"]: r
        for r in decontaminate_docs(corpus, eval_docs, threshold=0.3).collect()
    }
    # doc 10: 3 distinct trigrams, 1 contaminated ('the quick brown')
    assert out[10]["n_grams"] == 3 and out[10]["n_contaminated"] == 1
    assert abs(out[10]["contamination_rate"] - 1 / 3) < 1e-12
    assert out[10]["flagged"] == 1
    assert out[11]["n_contaminated"] == 0 and out[11]["flagged"] == 0


def test_ngram_report_equals_plain_intersection(spark):
    """The n-gram report must equal the naive join intersection on
    real data."""
    from mrbf_spark.tables import load_table

    d = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text")
    eval_docs = d.filter(F.col("doc_id") % 11 == 0)
    corpus = d.filter(F.col("doc_id") % 11 != 0).limit(60)
    got = decontaminate_docs(corpus, eval_docs).toPandas()

    cg = doc_ngrams(corpus)
    eg = doc_ngrams(eval_docs).select("g").distinct()
    naive = (
        cg.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"))
        .join(
            cg.join(eg, "g", "left_semi")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_contaminated")),
            "doc_id",
            "left",
        )
        .fillna(0, ["n_contaminated"])
        .toPandas()
    )
    g = got.sort_values("doc_id").reset_index(drop=True)
    n = naive.sort_values("doc_id").reset_index(drop=True)
    assert list(g["doc_id"]) == list(n["doc_id"])
    assert list(g["n_grams"]) == list(n["n_grams"])
    assert list(g["n_contaminated"]) == list(n["n_contaminated"])


def test_ngram_and_cut_run_no_job_before_the_action(spark):
    """decontaminate_docs and decontaminate_cut only build a plan: no
    Spark job runs until the caller's action."""
    import time

    corpus = _docs(spark, [(10, "the quick brown fox jumps")])
    eval_docs = _docs(spark, [(99, "the quick brown cat")])
    sc = spark.sparkContext
    group = "decontam-lazy-call"
    sc.setJobGroup(group, group)
    try:
        decontaminate_docs(corpus, eval_docs)
        decontaminate_cut(corpus, eval_docs)
        # The status store fills from the async listener bus, in event
        # order: once a later sentinel job shows, any job the calls ran
        # shows too.
        sc.setJobGroup(group + "-sentinel", group)
        spark.range(1).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not tracker.getJobIdsForGroup(group + "-sentinel"):
        assert time.monotonic() < deadline, "sentinel job never reached the status store"
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(group) == []


def test_semantic_flags_paraphrase_missed_by_ngrams(spark):
    """The semantic channel's reason to exist: a near-verbatim eval
    copy whose token stream shares bigram structure but (in the
    extreme, word-swapped case below) shifts every 3-gram still lands
    at high cosine — while an unrelated doc stays near 0."""
    base = (
        "alpha beta gamma delta epsilon zeta eta theta "
        "iota kappa lambda mu nu xi omicron pi"
    )
    eval_docs = _docs(spark, [(99, base)])
    corpus = _docs(
        spark,
        [
            # verbatim copy of the eval doc
            (1, base),
            # near-copy: one word changed mid-stream (breaks 2 of 15
            # bigrams -> cosine ~ 13/15, above tau; every 3-gram
            # around the edit is new, so the ngram channel undercounts)
            (2, base.replace("theta", "OMEGA")),
            # disjoint vocabulary
            (3, "one two three four five six seven eight"),
        ],
    )
    out = {
        r["doc_id"]: r for r in semantic_decontaminate(corpus, eval_docs).collect()
    }
    assert set(out) == {1, 2, 3}  # every corpus doc reported
    assert out[1]["flagged"] == 1 and out[1]["max_eval_cosine"] > 0.999
    assert out[2]["flagged"] == 1  # near-copy still above tau
    assert out[3]["flagged"] == 0 and out[3]["max_eval_cosine"] < 0.5
    assert all(r["closest_eval_id"] == 99 for r in out.values())


def test_semantic_argmax_tiebreak_is_min_eval_id(spark):
    """Two identical eval docs tie on cosine exactly; the reported
    closest_eval_id must be the LOWER id (deterministic two-step
    max-then-min, no arg_max tie luck)."""
    eval_docs = _docs(
        spark,
        [(7, "alpha beta gamma delta"), (3, "alpha beta gamma delta")],
    )
    corpus = _docs(spark, [(1, "alpha beta gamma delta")])
    row = semantic_decontaminate(corpus, eval_docs).collect()[0]
    assert row["closest_eval_id"] == 3 and row["flagged"] == 1


def test_semantic_covers_subngram_docs(spark):
    """Docs too short for the 3-gram report still get a semantic row
    (the two channels complement on coverage, not just signal)."""
    eval_docs = _docs(spark, [(99, "alpha beta")])
    corpus = _docs(spark, [(1, "alpha beta"), (2, "solo")])
    ng = decontaminate_docs(corpus, eval_docs)
    sem = semantic_decontaminate(corpus, eval_docs)
    assert ng.count() == 0  # all docs below NGRAM_N tokens
    got = {r["doc_id"]: r for r in sem.collect()}
    assert set(got) == {1, 2}
    assert got[1]["flagged"] == 1  # verbatim bigram copy


# ---------------- IVF-pruned semantic channel (r7, VERDICT r6 #6)

def _splits(spark):
    d = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").select(
        "doc_id", "text"
    )
    return d.filter(F.col("doc_id") % 3 != 0), d.filter(F.col("doc_id") % 3 == 0)


def _rows(df):
    return {
        r.doc_id: (r.closest_eval_id, float(r.max_eval_cosine), r.flagged)
        for r in df.collect()
    }


def test_semantic_pruned_full_probe_equals_exact(spark):
    """n_probe = n_cells ⇒ candidates are ALL pairs ⇒ the pruned
    channel is bit-identical to the exact one (structural equality at
    catalog scale, the r6 #6 done criterion)."""
    from mrbf_spark.functions.decontam import semantic_decontaminate_pruned
    from mrbf_spark.registry import release_scoped_caches

    corpus, evals = _splits(spark)
    exact = _rows(semantic_decontaminate(corpus, evals))
    pruned = _rows(
        semantic_decontaminate_pruned(corpus, evals, n_cells=8, n_probe=8)
    )
    release_scoped_caches()
    assert pruned == exact


@pytest.mark.slow
def test_semantic_pruned_is_one_sided_and_flags_planted(spark):
    """Narrow probing (n_probe=2 of 16 cells): per doc the pruned max
    cosine never exceeds the exact one (candidates ⊆ all pairs ⇒ no
    false flags), every doc is still reported (totality fallback), and
    PLANTED near-copies of eval docs — the rows that matter — are
    flagged with the same argmax row as the exact channel."""
    from mrbf_spark.functions.decontam import semantic_decontaminate_pruned
    from mrbf_spark.registry import release_scoped_caches

    corpus, evals = _splits(spark)
    ev = {r.doc_id: r.text for r in evals.limit(40).collect()}
    planted_ids = sorted(ev)[:3]
    planted = _docs(
        spark,
        [
            (100000 + i, ev[i] + " tailword")  # near-copy, J < 1, cos ≈ 1
            for i in planted_ids
        ],
    )
    corpus = corpus.unionByName(planted)
    exact = _rows(semantic_decontaminate(corpus, evals))
    pruned = _rows(
        semantic_decontaminate_pruned(corpus, evals, n_cells=16, n_probe=2)
    )
    release_scoped_caches()
    assert set(pruned) == set(exact)  # totality
    for k, (_, cos, flg) in pruned.items():
        assert cos <= exact[k][1] + 1e-12, k  # one-sided
        assert flg <= exact[k][2], k  # no false flags
    for i in planted_ids:  # the contaminated rows survive pruning
        assert pruned[100000 + i] == exact[100000 + i]
        assert pruned[100000 + i][2] == 1
        assert pruned[100000 + i][0] == i


def test_cut_rewrites_planted_spans(spark):
    """decontaminate_cut (r7): hand-checked span removal — mid-doc
    hit, full contamination, clean doc, and a doc too short to gram."""
    from mrbf_spark.registry import release_scoped_caches

    ev = spark.createDataFrame(
        [(0, "alpha beta gamma")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "x alpha beta gamma y"),
            (2, "alpha beta gamma"),
            (3, "no overlap here at all"),
            (4, "al be"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_removed"])
        for r in decontaminate_cut(corpus, ev).collect()
    }
    release_scoped_caches()
    assert rows[1] == ("x y", 2, 3)  # pos-1 hit cuts tokens 1..3
    assert rows[2] == ("", 0, 3)  # fully contaminated
    assert rows[3] == ("no overlap here at all", 5, 0)
    assert rows[4] == ("al be", 2, 0)  # shorter than n: no grams


def test_cut_overlapping_hits_union_not_double_cut(spark):
    """Two overlapping eval 3-grams cover 4 tokens, not 6."""
    from mrbf_spark.registry import release_scoped_caches

    ev = spark.createDataFrame(
        [(0, "a b c"), (1, "b c d")], "doc_id long, text string"
    )
    corpus = spark.createDataFrame(
        [(1, "z a b c d z")], "doc_id long, text string"
    )
    r = decontaminate_cut(corpus, ev).collect()[0]
    release_scoped_caches()
    assert (r["text"], r["n_tokens"], r["n_removed"]) == ("z z", 2, 4)


@pytest.mark.slow
def test_curate_decontam_cut_mode(spark):
    """curate_corpus(decontam_action='cut'): the contaminated doc
    SURVIVES with its span removed; drop mode removes it."""
    from mrbf_spark.functions.curate import curate_corpus
    from mrbf_spark.registry import release_scoped_caches

    ev = spark.createDataFrame(
        [(0, "alpha beta gamma", "en")], "doc_id long, text string, lang string"
    )
    corpus = spark.createDataFrame(
        [
            (1, "keep this alpha beta gamma document here ok", "en"),
            (2, "totally clean words only nothing shared", "en"),
        ],
        "doc_id long, text string, lang string",
    )
    kw = dict(semantic=False, min_tokens=2)
    cut_docs, census = curate_corpus(
        corpus, ev, decontam_action="cut", **kw
    )
    release_scoped_caches()
    rows = {r["doc_id"]: r["text"] for r in cut_docs.collect()}
    assert dict(census)["decontaminate_cut"] == 1
    assert rows[1] == "keep this document here ok"
    assert rows[2] == "totally clean words only nothing shared"

    drop_docs, census2 = curate_corpus(
        corpus, ev, decontam_action="drop", **kw
    )
    release_scoped_caches()
    assert [r["doc_id"] for r in drop_docs.collect()] == [2]


def test_curate_cli_cut_census_line(spark, tmp_path, capsys):
    """`curate --decontam-action cut` prints the cut stage's count as
    docs cut: the stage drops no doc, so no survivor delta is shown."""
    from mrbf_spark.__main__ import main

    src, evp, out = (str(tmp_path / d) for d in ("corpus", "eval", "out"))
    spark.createDataFrame(
        [
            (1, "keep this alpha beta gamma document here ok", "en"),
            (2, "totally clean words only nothing shared", "en"),
        ],
        "doc_id long, text string, lang string",
    ).write.parquet(src)
    spark.createDataFrame(
        [(0, "alpha beta gamma", "en")], "doc_id long, text string, lang string"
    ).write.parquet(evp)
    assert main(["curate", "--input", src, "--eval", evp, "--out", out,
                 "--decontam-action", "cut", "--no-semantic",
                 "--min-tokens", "2"]) == 0
    lines = capsys.readouterr().out.splitlines()
    assert "decontaminate_cut\t1 docs cut, none dropped" in lines, lines
    assert "neardup_jaccard\t2  (-0)" in lines, lines
    assert spark.read.parquet(out).count() == 2


def test_decontam_cli(spark, tmp_path, capsys):
    from pyspark.sql import functions as F
    from mrbf_spark.__main__ import main

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = str(tmp_path / "corpus"); evp = str(tmp_path / "eval")
    d.filter(F.col("doc_id") % 97 != 0).write.parquet(corpus)
    d.filter(F.col("doc_id") % 97 == 0).write.parquet(evp)
    out = str(tmp_path / "cut")
    assert main(["decontam", "--input", corpus, "--eval", evp,
                 "--out", out, "--action", "cut"]) == 0
    assert "decontam cut:" in capsys.readouterr().out
    res = spark.read.parquet(out)
    assert res.count() == spark.read.parquet(corpus).count()
    assert set(res.columns) == {"doc_id", "text", "n_tokens", "n_removed"}
