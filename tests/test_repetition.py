"""Gopher repetition signals (r7): hand-computed planted docs for
every signal family (the synthetic corpus is single-line, so the
line/paragraph and dup-5..10 paths only fire here), all-column DuckDB
twin parity on those planted docs, on separator / tie-break edge
cases and on the smoke documents table, and edge cases (empty doc,
doc shorter than n, a 50k-word doc)."""

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


def _twin_parity(spark, rows):
    """Every output column of repetition_signals equals the DuckDB
    twin's, value for value, on the (doc_id, text) rows given."""
    from mrbf_spark.functions.repetition import (
        repetition_duckdb_sql,
        repetition_signals,
    )

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = (
        repetition_signals(df).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    con = duckdb.connect()
    con.register("planted", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = (
        con.sql(repetition_duckdb_sql(src="planted"))
        .df()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    assert list(got.columns) == list(want.columns)
    assert len(got) == len(want) == len(rows)
    for c in got.columns:
        assert (got[c].values == want[c].values).all(), c
    return {r["doc_id"]: r for r in got.to_dict("records")}


def test_planted_duckdb_twin_parity(spark):
    _twin_parity(spark, PLANTED)


def _long_doc(n_words: int) -> str:
    """Paragraphs of periodic text (every n-gram repeats) alternating
    with paragraphs drawn at random from a small vocab (n-grams mostly
    unique), 1000 words to a paragraph and 100 to a line."""
    import random

    rng = random.Random(17)
    vocab = [f"v{i}" for i in range(300)] + ["über", "naïve", "x\r"]
    words = []
    for block in range(n_words // 1000):
        if block % 2:
            words += [vocab[rng.randrange(len(vocab))] for _ in range(1000)]
        else:
            words += [f"p{i % 37}" for i in range(1000)]
    lines = [" ".join(words[i : i + 100]) for i in range(0, len(words), 100)]
    paras = ["\n".join(lines[i : i + 10]) for i in range(0, len(lines), 10)]
    return "\n\n".join(paras)


EDGE = [
    # tab-only lines are NOT blank: only spaces are trimmed
    (11, "x\n\t\ny\n\t"),
    # lines ending in \r keep it (in the line and in the last word)
    (12, "foo bar\r\nfoo bar\nfoo bar\r\na\r z a zzz"),
    # the top bigram tie picks the joined key 'a\r z' over 'a zzz'
    # because \r sorts below the joining space (word-tuple order
    # would pick 'a zzz')
    (17, "a\r z a zzz"),
    # leading / trailing separators of every kind, space-only lines
    # and paragraphs (blank), a lone '\n' paragraph (not blank)
    (13, "\n\n  \n\t lead and trail \t\n   \n\n\nlead and trail\n\n \t"),
    # top bigram tie between 'q zz' and 'q é': UTF-8 / code point
    # order puts 'z' (0x7a) before 'é' (0xe9), so the winner has 3
    # word characters, not 2
    (14, "q é q zz"),
    # the same tie between keys differing only in a non-ASCII char
    (15, "r è r é"),
    # the twin's memory grows with the square of a document's word
    # count (~1.2 GB at 5k words), so its parity check stops at 3k
    (16, _long_doc(3_000)),
]


def test_edge_cases_match_twin(spark):
    rows = _twin_parity(spark, EDGE)
    # doc 11: lines x, \t, y, \t -> the tab line is a duplicate
    assert rows[11]["dup_line_frac_q"] == 500_000
    # doc 12: 'foo bar\r' twice among 4 lines of 8+7+8+10 chars
    assert rows[12]["dup_line_frac_q"] == 500_000
    assert rows[12]["dup_line_char_q"] == 16_000_000 // 33
    # doc 14: top bigram 'q zz' (3 word chars) of 5
    assert rows[14]["top2_char_q"] == 600_000
    # doc 17: 'a\r z' (3 word chars) of 7
    assert rows[17]["top2_char_q"] == 3_000_000 // 7
    assert rows[16]["dup10_char_q"] > 0


# repetition_signals on _long_doc(50_000): the twin cannot hold a doc
# this long, so these values were recorded from the explode + window +
# groupBy plan that preceded the Arrow kernel (hash-matched with the
# twin on every oracle corpus) and pin the kernel to it.
LONG_DOC_50K = {
    "dup_line_frac_q": 500000,
    "dup_line_char_q": 445812,
    "dup_para_frac_q": 500000,
    "dup_para_char_q": 445928,
    "top2_char_q": 16975,
    "top3_char_q": 25463,
    "top4_char_q": 33951,
    "dup5_char_q": 428998,
    "dup6_char_q": 428998,
    "dup7_char_q": 428998,
    "dup8_char_q": 428998,
    "dup9_char_q": 428998,
    "dup10_char_q": 428998,
    "r_dup_line": False,
    "r_dup_line_char": False,
    "r_dup_para": False,
    "r_dup_para_char": False,
    "r_top2": True,
    "r_top3": True,
    "r_top4": True,
    "r_dup5": False,
    "r_dup6": False,
    "r_dup7": False,
    "r_dup8": False,
    "r_dup9": False,
    "r_dup10": False,
    "rep_pass": False,
}


def test_50k_word_doc_pinned(spark):
    from mrbf_spark.functions.repetition import repetition_signals

    df = spark.createDataFrame(
        [(1, _long_doc(50_000))], "doc_id long, text string"
    )
    row = repetition_signals(df).collect()[0].asDict()
    del row["doc_id"]
    assert row == LONG_DOC_50K


def test_smoke_documents_match_twin(spark):
    from conftest import SF_SMOKE

    docs = [
        (int(r["doc_id"]), r["text"])
        for r in spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select("doc_id", "text")
        .collect()
    ]
    _twin_parity(spark, docs)


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
