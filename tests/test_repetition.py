"""Gopher repetition signals (r7): hand-computed planted docs for
every signal family (the synthetic corpus is single-line, so the
line/paragraph and dup-5..10 paths only fire here), DuckDB twin
parity on those planted docs, and edge cases (empty doc, doc shorter
than n)."""

from __future__ import annotations

import duckdb
import pandas as pd

PLANTED = [
    # (doc_id, text)
    (1, "hello world\nfoo bar\nhello world\nbaz"),  # dup lines
    (2, "p one\n\np two\n\np one"),  # dup paragraphs
    (3, "a b c d e a b c d e"),  # dup 5-gram covers everything
    (4, "x y"),  # shorter than every DUP_N
    (5, ""),  # empty doc: all denominators zero
    (6, "one two three four five six seven"),  # no repetition at all
    (7, None),  # NULL text: must behave exactly like the empty doc
]


def _planted_df(spark):
    return spark.createDataFrame(PLANTED, "doc_id long, text string")


def _collect(df):
    rows = {r["doc_id"]: r.asDict() for r in df.collect()}
    return rows


def test_planted_hand_computed(spark):
    from mrbf_spark.functions.repetition import repetition_signals

    rows = _collect(repetition_signals(_planted_df(spark)))

    # doc 1: 4 lines, 'hello world' twice -> 2/4 by count;
    # chars 11+7+11+3=32, dup 22 -> trunc(22e6/32)=687500
    assert rows[1]["dup_line_frac_q"] == 500_000
    assert rows[1]["dup_line_char_q"] == 687_500
    assert rows[1]["r_dup_line"] is False  # 0.5 > 0.30
    assert rows[1]["r_dup_line_char"] is False  # 0.6875 > 0.20
    assert rows[1]["dup_para_frac_q"] == 0  # one paragraph, unique

    # doc 2: 3 paragraphs, 'p one' twice -> 2/3; chars 5+5+5, dup 10
    assert rows[2]["dup_para_frac_q"] == 666_666
    assert rows[2]["dup_para_char_q"] == 666_666
    assert rows[2]["r_dup_para"] is False
    # its 3 lines are 'p one','p two','p one' -> also dup lines
    assert rows[2]["dup_line_frac_q"] == 666_666

    # doc 3: 10 words, 'a b c d e' 5-gram twice covering all positions
    assert rows[3]["dup5_char_q"] == 1_000_000
    assert rows[3]["r_dup5"] is False  # 1.0 > 0.15
    # top bigram 'a b' (count 2, ties broken by key asc), word-chars 2,
    # swl 10 -> 2*2/10
    assert rows[3]["top2_char_q"] == 400_000
    assert rows[3]["r_top2"] is False  # 0.4 > 0.20
    # 10-grams: only one ('a b c d e a b c d e'), unique -> 0
    assert rows[3]["dup10_char_q"] == 0

    # doc 4: shorter than every dup-n -> no n-grams, vacuous passes
    assert rows[4]["dup5_char_q"] == 0 and rows[4]["r_dup5"] is True
    assert rows[4]["top2_char_q"] == 1_000_000  # 'x y' once: 2/2 chars
    assert rows[4]["r_top2"] is False  # degenerate short doc, > 0.20

    # doc 5: empty -> every denominator 0 -> -1 ratios, all rules pass
    for c in ("dup_line_frac_q", "dup_para_char_q", "top3_char_q",
              "dup7_char_q"):
        assert rows[5][c] == -1
    assert rows[5]["rep_pass"] is True

    # doc 6: no DUPLICATION (all dup signals 0 and pass), but the
    # top-n-gram rules still fail — on a 7-word doc even a
    # once-occurring bigram covers > 20% of the characters (top bigram
    # 'five six' by key-asc tie-break: 7 word-chars / 27 total).
    # The paper's thresholds assume long documents; r_nwords is the
    # rule that screens out docs this short.
    assert rows[6]["dup_line_frac_q"] == 0
    assert rows[6]["dup5_char_q"] == 0
    assert rows[6]["r_dup_line"] is True and rows[6]["r_dup5"] is True
    assert rows[6]["top2_char_q"] == 259_259  # trunc(7e6/27)
    assert rows[6]["r_top2"] is False
    assert rows[6]["rep_pass"] is False

    # doc 7: NULL text == empty doc (the twin's COALESCE convention)
    assert rows[7]["dup5_char_q"] == -1
    assert rows[7]["rep_pass"] is True


def test_planted_duckdb_twin_parity(spark):
    from mrbf_spark.functions.repetition import (
        repetition_duckdb_sql,
        repetition_signals,
    )

    got = (
        repetition_signals(_planted_df(spark))
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register(
        "planted", pd.DataFrame(PLANTED, columns=["doc_id", "text"])
    )
    want = (
        con.sql(repetition_duckdb_sql(src="planted"))
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    got = got.reindex(sorted(got.columns), axis=1)
    want = want.reindex(sorted(want.columns), axis=1)
    assert list(got.columns) == list(want.columns)
    for c in got.columns:
        assert (got[c].values == want[c].values).all(), c


def test_curate_repetition_gate(spark):
    from mrbf_spark.functions.curate import curate_corpus
    from mrbf_spark.registry import release_scoped_caches

    # 60 distinct 3-char words -> passes every top-n threshold; the
    # spammy doc repeats one 6-word phrase ten times -> fails several
    clean = " ".join(f"a{i:02d}" for i in range(60))
    spam = " ".join(["the spam phrase repeats here again"] * 10)
    docs = spark.createDataFrame(
        [(1, clean, "en"), (2, spam, "en")],
        "doc_id long, text string, lang string",
    )
    cur, census = curate_corpus(
        docs, None, repetition=True, semantic=False
    )
    release_scoped_caches()
    stages = dict(census)
    assert stages["quality_gate"] == 2
    assert stages["repetition_gate"] == 1
    assert [r["doc_id"] for r in cur.collect()] == [1]

    # gate off (the default): both docs survive to the near-dup stage
    cur2, census2 = curate_corpus(docs, None, semantic=False)
    release_scoped_caches()
    assert "repetition_gate" not in dict(census2)
    assert cur2.count() == 2


def test_overlapping_dup_ngrams_not_double_counted(spark):
    from mrbf_spark.functions.repetition import repetition_signals

    # 'a a a a a a' (6 words): every 5-gram is 'a a a a a' (x2,
    # overlapping at positions 1-4). Position-union coverage = all 6
    # words -> exactly 1.0, NOT 10/6 (which naive occurrence-sum gives).
    df = spark.createDataFrame([(1, "a a a a a a")], "doc_id long, text string")
    row = repetition_signals(df).collect()[0]
    assert row["dup5_char_q"] == 1_000_000
