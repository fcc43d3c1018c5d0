"""Near-dup keeper election in the curate chain (r7, VERDICT r6
next-round #3): `neardup_keeper="pairwise"|"cluster"|"greedy"`.

Planted structures (word-trigram Jaccard, τ=0.3):
  * chain  A~B~C with A≁C      (ids 1 < 2 < 3)
  * star   P~R, Q~R with P≁Q   (ids 10 < 11 < 12, R the high id)
Expected survivors (besides untouched filler docs):
  * pairwise: {A, P, Q}    — B,C drop on smaller partners; R on P
  * cluster:  {A, P}       — one keeper per component (min id)
  * greedy:   {A, C, P, Q} — maximal independent set: C's only
                             partner B is dropped, so C survives
                             (the VERDICT r6 "C survives" criterion);
                             Q's only partner R is dropped.
Also: DuckDB parity for the cluster mode on real sf0.001 documents
(recursive-CTE components over the SAME capped exact-Jaccard pair
rule), and a randomized lex-MIS equivalence vs a sequential Python
greedy replay.
"""

from __future__ import annotations

import random

import duckdb
import pytest
from pyspark.sql import functions as F

from mrbf_spark.functions.curate import curate_corpus
from mrbf_spark.functions.dedup import lex_min_independent_set
from mrbf_spark.registry import release_scoped_caches

from conftest import SF_SMOKE

TAU = 0.3

# word-trigram shingles; see the derivation in the module docstring
_CHAIN = [
    (1, "a1 a2 a3 a4 a5 a6"),          # A: {a123 a234 a345 a456}
    (2, "a1 a2 a3 a4 a5 b6"),          # B: J(A,B) = 3/5 = 0.6
    (3, "a3 a4 a5 b6 c5 c6"),          # C: J(B,C) = 2/6 = 0.33, J(A,C) = 1/7
]
_STAR = [
    (10, "p1 p2 p3 p4 p5 p6"),         # P
    (11, "q1 q2 q3 q4 q5 q6"),         # Q: J(P,Q) = 0
    (12, "p1 p2 p3 p4 p5 p6 q1 q2 q3 q4 q5 q6"),  # R: J(R,P)=J(R,Q)=4/10
]
_FILLER = [(90 + i, f"f{i}a f{i}b f{i}c f{i}d f{i}e f{i}f") for i in range(4)]


def _planted(spark):
    rows = [(i, t, "en") for i, t in _CHAIN + _STAR + _FILLER]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string")


@pytest.mark.parametrize(
    "keeper,expected",
    [
        ("pairwise", {1, 10, 11}),
        ("cluster", {1, 10}),
        ("greedy", {1, 3, 10, 11}),
    ],
)
def test_keeper_modes_on_planted_graph(spark, keeper, expected):
    docs = _planted(spark)
    cur, census = curate_corpus(
        docs, None, jaccard_tau=TAU, neardup_keeper=keeper, semantic=False
    )
    release_scoped_caches()
    survivors = {r.doc_id for r in cur.select("doc_id").collect()}
    filler_ids = {i for i, _ in _FILLER}
    assert survivors == expected | filler_ids
    c = dict(census)
    # stages 1-2 drop nothing on this corpus; stage 3 is the election
    assert c["input"] == c["exact_dedup"] == c["quality_gate"] == 10
    assert c["neardup_jaccard"] == len(expected) + len(filler_ids)


def test_keeper_containment_on_planted_graph(spark):
    # cluster ⊆ pairwise ⊆ greedy (docstring claim), checked directly
    outs = {}
    for keeper in ("cluster", "pairwise", "greedy"):
        cur, _ = curate_corpus(
            _planted(spark), None, jaccard_tau=TAU,
            neardup_keeper=keeper, semantic=False,
        )
        release_scoped_caches()
        outs[keeper] = {r.doc_id for r in cur.select("doc_id").collect()}
    assert outs["cluster"] <= outs["pairwise"] <= outs["greedy"]


def test_keeper_rejects_unknown_mode(spark):
    with pytest.raises(ValueError, match="neardup_keeper"):
        curate_corpus(_planted(spark), None, neardup_keeper="best")


def test_cluster_keeper_duckdb_parity(spark):
    """Cluster mode vs a DuckDB recursive-CTE twin at sf0.001: stages
    1-3 of the chain (semantic off, no eval set), components over the
    same df-capped exact word-trigram Jaccard-≥τ pair rule, keeper =
    component min."""
    from mrbf_spark.functions.text import FINGERPRINT_SQL, TOKEN_COUNT_SQL

    docs = spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
    cur, _ = curate_corpus(
        docs, None, jaccard_tau=0.5,
        neardup_keeper="cluster", semantic=False,
    )
    release_scoped_caches()
    got = sorted(r.doc_id for r in cur.select("doc_id").collect())

    fp = FINGERPRINT_SQL.format(e="text")
    tok = TOKEN_COUNT_SQL.format(e="text")
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF_SMOKE}/documents.parquet')"
    )
    want = [
        r[0]
        for r in con.sql(
            f"""
    WITH RECURSIVE
    s1 AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY {fp}),
    s1docs AS (SELECT d.* FROM documents d JOIN s1 USING (doc_id)),
    s2docs AS (SELECT * FROM s1docs
               WHERE lang = 'en' AND {tok} >= 5
                 AND CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) / {tok}
                       <= 15.0),
    toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM s2docs),
    sh AS (SELECT doc_id,
                  list_distinct([array_to_string(t[i:i+2], ' ')
                                 for i in generate_series(1, greatest(len(t)-2, 1))])
                    AS shingles
           FROM toks),
    inv AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh),
    ok AS (SELECT s FROM inv GROUP BY s HAVING COUNT(*) <= 200),
    cap AS (SELECT i.doc_id, i.n, i.s FROM inv i JOIN ok USING (s)),
    co AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                  a.n AS na, b.n AS nb, COUNT(*) AS c
           FROM cap a JOIN cap b ON a.s = b.s AND a.doc_id < b.doc_id
           GROUP BY 1, 2, 3, 4),
    edges AS (SELECT doc_a, doc_b FROM co
              WHERE CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE) >= 0.5),
    esym AS (SELECT doc_a AS src, doc_b AS dst FROM edges
             UNION ALL SELECT doc_b, doc_a FROM edges),
    reach(dst, lbl) AS (SELECT doc_id, doc_id FROM s2docs
                        UNION
                        SELECT e.dst, reach.lbl
                        FROM reach JOIN esym e ON e.src = reach.dst),
    comp AS (SELECT dst AS doc_id, MIN(lbl) AS cluster_id
             FROM reach GROUP BY dst)
    SELECT doc_id FROM comp WHERE doc_id = cluster_id ORDER BY doc_id
    """
        ).fetchall()
    ]
    assert got == want


def test_lex_mis_matches_sequential_greedy(spark):
    """lex_min_independent_set == the sequential greedy-by-ascending-id
    election, on seeded random graphs including long paths (multi-round
    convergence)."""
    rng = random.Random(7)
    graphs = []
    for trial in range(3):
        n = 40
        edges = {
            (a, b)
            for _ in range(60)
            for a, b in [sorted(rng.sample(range(n), 2))]
        }
        graphs.append((n, sorted(edges)))
    # a 30-node path: needs ~15 MIS rounds, exercises the loop bound
    graphs.append((30, [(i, i + 1) for i in range(29)]))

    for n, edges in graphs:
        adj: dict[int, set[int]] = {v: set() for v in range(n)}
        for a, b in edges:
            adj[a].add(b)
            adj[b].add(a)
        kept: set[int] = set()
        for v in range(n):
            if not adj[v] & kept:
                kept.add(v)
        incident = {v for e in edges for v in e}
        df = spark.createDataFrame(edges, "doc_a long, doc_b long")
        got = {r.doc_id for r in lex_min_independent_set(df).collect()}
        release_scoped_caches()
        assert got == kept & incident, f"graph with {len(edges)} edges"


def test_curate_cli_neardup_keeper_flag(spark, tmp_path):
    """`python -m mrbf_spark curate --neardup-keeper greedy` end to
    end: the CLI writes exactly the greedy survivor set."""
    from mrbf_spark.__main__ import main

    src = str(tmp_path / "docs")
    out = str(tmp_path / "curated")
    _planted(spark).write.parquet(src)
    assert (
        main(
            [
                "curate",
                "--input", src,
                "--out", out,
                "--jaccard-tau", str(TAU),
                "--no-semantic",
            ]
        )
        == 0
    )
    pairwise = {r.doc_id for r in spark.read.parquet(out).collect()}
    out2 = str(tmp_path / "curated_greedy")
    main(
        [
            "curate",
            "--input", src,
            "--out", out2,
            "--jaccard-tau", str(TAU),
            "--neardup-keeper", "greedy",
            "--no-semantic",
        ]
    )
    greedy = {r.doc_id for r in spark.read.parquet(out2).collect()}
    filler_ids = {i for i, _ in _FILLER}
    assert pairwise == {1, 10, 11} | filler_ids
    assert greedy == {1, 3, 10, 11} | filler_ids
