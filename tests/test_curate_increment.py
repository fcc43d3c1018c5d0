"""Incremental curation (r8): a NEW shard judged against an immutable
curated HISTORY. Pins the planted drop cases (exact-vs-history,
near-vs-history, near-within-shard keeper), the empty-history
equivalence with the batch chain, and the CLI."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from conftest import SF_SMOKE


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


def _base_text(i):
    return f"alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo{i}"


def test_planted_increment_cases(spark):
    from mrbf_spark.functions.curate import curate_increment
    from mrbf_spark.registry import release_scoped_caches

    history = _docs(
        spark,
        [
            (1, _base_text(1), "en"),
            (2, "november oscar papa quebec romeo sierra tango uniform victor whiskey", "en"),
        ],
    )
    new = _docs(
        spark,
        [
            # verbatim dup of history doc 1 → exact_dedup drop
            (100, _base_text(1), "en"),
            # near-dup of history doc 2 (one word changed) → near drop
            (101, "november oscar papa quebec romeo sierra tango uniform victor xray", "en"),
            # near-dup PAIR within the shard: 102 < 103 → 102 kept, 103 dropped
            (102, "one two three four five six seven eight nine ten eleven", "en"),
            (103, "one two three four five six seven eight nine ten twelve", "en"),
            # clean doc → survives
            (104, "zulu yankee whiskey victor uniform tango sierra unique words here", "en"),
            # wrong lang → quality gate drop
            (105, "uno dos tres cuatro cinco seis siete ocho nueve diez", "es"),
        ],
    )
    survivors, census = curate_increment(new, history)
    got = sorted(r["doc_id"] for r in survivors.select("doc_id").collect())
    release_scoped_caches()
    assert got == [102, 104], got
    stages = dict(census)
    assert stages["input"] == 6
    assert stages["exact_dedup"] == 5      # 100 dropped
    assert stages["quality_gate"] == 4     # 105 dropped
    assert stages["neardup_jaccard"] == 2  # 101, 103 dropped


def test_empty_history_equals_batch_chain(spark):
    """With no history and the batch chain's optional stages off, the
    incremental survivors equal curate_corpus's (same exact → quality
    → pairwise-near-dup semantics)."""
    from mrbf_spark.functions.curate import curate_corpus, curate_increment
    from mrbf_spark.registry import release_scoped_caches

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet").filter(
        F.col("doc_id") < 250
    )
    empty = docs.filter(F.lit(False))
    inc_ids = sorted(
        r["doc_id"]
        for r in curate_increment(docs, empty)[0].select("doc_id").collect()
    )
    release_scoped_caches()
    batch_ids = sorted(
        r["doc_id"]
        for r in curate_corpus(docs, semantic=False)[0]
        .select("doc_id")
        .collect()
    )
    release_scoped_caches()
    assert inc_ids == batch_ids and len(inc_ids) > 0


def test_incremental_hot_list_respects_broadcast_ceiling(spark, monkeypatch):
    """The incremental near-dup join (cocount_pairs with a history)
    caps hot shingles like the batch join: past
    dedup._MAX_HOT_BROADCAST_ROWS it plans the shuffled keep-list
    semi-join instead of broadcasting the drop-list, with the same
    drops."""
    from mrbf_spark.functions import dedup
    from mrbf_spark.registry import release_scoped_caches

    hot = "the same boilerplate text repeated verbatim across every shard"
    history = _docs(spark, [(1, _base_text(1), "en"), (2, hot, "en")])
    new = _docs(
        spark,
        # 10: near-dup of history doc 1 (last word changed, J = 0.8)
        [(10, _base_text(1).replace("kilo1", "lima"), "en")]
        # 20-23: verbatim copies of history doc 2 — every shingle has
        # df 5 > max_df, so these pairs are capped away
        + [(20 + i, hot, "en") for i in range(4)]
        + [(30, "zulu yankee xray whiskey victor uniform tango sierra", "en")],
    )

    def run():
        pairs = dedup.cocount_pairs(
            dedup.shingle_index(new), 0.5, max_df=2,
            history=dedup.shingle_index(history),
        )
        got = {r["doc_b"] for r in pairs.collect()}
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        release_scoped_caches()
        return got, plan

    bcast, bcast_plan = run()
    monkeypatch.setattr(dedup, "_MAX_HOT_BROADCAST_ROWS", 0)
    semi, semi_plan = run()
    assert bcast == semi == {10}
    assert "LeftAnti" in bcast_plan and "LeftSemi" not in bcast_plan
    assert "LeftSemi" in semi_plan and "LeftAnti" not in semi_plan


@pytest.mark.slow
def test_history_index_equals_recompute(spark, tmp_path):
    """curate_increment(history_index=path) must be BYTE-IDENTICAL to
    curate_increment(history=docs) — survivors (all columns) and the
    per-stage census — on a slice with real exact-, near-, and
    census-relevant structure (VERDICT r8 next-round #4 done
    criterion). Also pins the exactly-one-of-history/index contract."""
    import pytest

    from mrbf_spark.functions.curate import curate_increment, curate_index_build
    from mrbf_spark.registry import release_scoped_caches

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    history = docs.filter(F.col("doc_id") < 300)
    new = docs.filter(F.col("doc_id") >= 300)

    path = str(tmp_path / "cidx")
    report = curate_index_build(history, path)
    assert report["fingerprints"] > 0 and report["shingle_index"] > 0

    ref_s, ref_c = curate_increment(new, history)
    ref = sorted(map(tuple, ref_s.collect()))
    release_scoped_caches()
    idx_s, idx_c = curate_increment(new, history_index=path)
    idx = sorted(map(tuple, idx_s.collect()))
    release_scoped_caches()
    assert idx == ref and len(idx) > 0
    assert idx_c == ref_c

    with pytest.raises(ValueError, match="exactly one"):
        curate_increment(new)
    with pytest.raises(ValueError, match="exactly one"):
        curate_increment(new, history, history_index=path)


@pytest.mark.slow
def test_curate_inc_cli(spark, tmp_path, capsys):
    from mrbf_spark.__main__ import main

    hist = str(tmp_path / "hist")
    new = str(tmp_path / "new")
    out = str(tmp_path / "out")
    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    docs.filter(F.col("doc_id") < 300).write.parquet(hist)
    docs.filter(F.col("doc_id") >= 300).write.parquet(new)
    assert (
        main(
            [
                "curate-inc",
                "--input", new,
                "--history", hist,
                "--out", out,
            ]
        )
        == 0
    )
    text = capsys.readouterr().out
    assert "curate-inc: input\t200" in text
    assert "curate-inc: neardup_jaccard" in text
    assert spark.read.parquet(out).count() > 0

    # index-based flow (r9): build once, append via --history-index —
    # identical survivors to the --history run above
    idx = str(tmp_path / "idx")
    out2 = str(tmp_path / "out2")
    assert main(["curate-index-build", "--history", hist, "--out", idx]) == 0
    text = capsys.readouterr().out
    assert "curate-index-build: fingerprints" in text
    assert (
        main(
            [
                "curate-inc",
                "--input", new,
                "--history-index", idx,
                "--out", out2,
            ]
        )
        == 0
    )
    a = sorted(map(tuple, spark.read.parquet(out).collect()))
    b = sorted(map(tuple, spark.read.parquet(out2).collect()))
    assert a == b
