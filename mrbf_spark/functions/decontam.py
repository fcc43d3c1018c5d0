"""Benchmark decontamination (north-star extension): flag training
documents that share word n-grams with a held-out evaluation set —
the standard contamination check an LLM data pipeline runs before
training (n-gram overlap, as popularized by the GPT-3 and PaLM
appendix procedures; public methodology).

  1. Extract distinct word n-grams per eval document (pure JVM
     expressions: split → transform(sequence) → explode — no Python
     in the row path).
  2. Extract the corpus n-grams the same way.
  3. Keep the corpus n-grams that occur in the eval set: one
     left-semi join against the broadcast distinct eval gram set —
     exactly the n-gram intersection, which is what makes the query
     DuckDB-oracle-checkable. No Bloom filter sits in front of it: a
     pre-filter over the same gram set removes no row this join
     keeps and saves no shuffle (the corpus side is never shuffled
     either way), so it would only add a build.
  4. Per-document contamination rate + threshold flag.

Scale shape: the corpus (the 100 TB side) is scanned once and meets
the eval gram set map-side; the only broadcast is eval-set-sized
(benchmark suites are thousands of docs). The first shuffle carries
the (doc_id) hit rows into the per-document count. A hot document
cannot skew anything: grams are distinct-per-doc and the aggregations
key on doc_id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..registry import builder, register, scoped_cache
from ..tables import load_table

NGRAM_N = 3
# Deterministic eval split: doc_id % EVAL_MOD == 0 stands in for "the
# benchmark set" (TESTDATA has no separate eval table); any DataFrame
# of (doc_id, text) works for `eval_docs` in the library API.
EVAL_MOD = 97
FLAG_THRESHOLD = 0.05
# Semantic-contamination threshold: hashed-bigram cosines of unrelated
# docs sit near 0 (text_embedding.py measured p99.9 ≈ 0.45); verbatim
# and near-verbatim eval copies sit near 1.0 — same operating point as
# TEXT_SEM_TAU.
SEM_TAU = 0.8


def ngrams_col(tokens: Column, n: int = NGRAM_N) -> Column:
    """array<string> tokens → array<string> of space-joined word
    n-grams. Guarded: < n tokens ⇒ empty array (F.sequence would
    descend on a negative stop and fabricate grams)."""
    idx = F.sequence(F.lit(0), F.size(tokens) - n)
    make = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)))
    return F.when(F.size(tokens) >= n, make).otherwise(
        F.array_repeat(F.lit(""), 0)
    )


def doc_ngrams(docs: DataFrame, n: int = NGRAM_N) -> DataFrame:
    """(doc_id, text) → distinct (doc_id, g) word-n-gram pairs.

    Distinctness is per document, so it's computed INSIDE the row
    (array_distinct before explode) — zero shuffle, versus a
    .distinct() over the exploded corpus grams which would shuffle
    the whole 100 TB side."""
    toks = F.split(F.col("text"), " ")
    return docs.select(
        "doc_id", F.explode(F.array_distinct(ngrams_col(toks, n))).alias("g")
    )


def decontaminate_docs(
    corpus: DataFrame,
    eval_docs: DataFrame,
    *,
    n: int = NGRAM_N,
    threshold: float = FLAG_THRESHOLD,
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """Library API: per-corpus-document eval-overlap report.

    Returns (doc_id, n_grams, n_contaminated, contamination_rate,
    flagged) — exact n-gram intersection counts from one broadcast
    left-semi join against the distinct eval gram set. Lazy: no Spark
    job runs until the caller's action.

    `eval_grams`: the distinct eval-gram table of eval_docs at this n,
    when the caller already built it — the registered `decontaminate`
    entry shares one checkpointed table between this channel and
    decontaminate_cut instead of scanning the eval set twice.
    """
    corpus_grams = doc_ngrams(corpus, n)
    if eval_grams is None:
        eval_grams = doc_ngrams(eval_docs, n).select("g").distinct()
    hits = corpus_grams.join(F.broadcast(eval_grams), "g", "left_semi")

    # Per-doc gram totals come from the array length at scan time —
    # no explode, no shuffle (docs with zero grams are excluded, same
    # as the exploded-groupBy form they replace). The exclusion filter
    # is `tokens >= n` (⟺ n_grams > 0) on purpose: filtering on
    # `n_grams > 0` directly would make Catalyst push the whole
    # gram-transform expression into the scan filter and evaluate it a
    # second time in the projection.
    toks = F.split(F.col("text"), " ")
    totals = corpus.filter(F.size(toks) >= n).select(
        "doc_id",
        F.size(F.array_distinct(ngrams_col(toks, n))).cast("long").alias("n_grams"),
    )
    contaminated = hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_contaminated")
    )
    rate = F.col("n_contaminated").cast("double") / F.col("n_grams").cast("double")
    return (
        totals.join(contaminated, "doc_id", "left")
        .withColumn("n_contaminated", F.coalesce("n_contaminated", F.lit(0).cast("long")))
        .withColumn("contamination_rate", rate)
        .withColumn("flagged", (rate >= threshold).cast("int"))
    )


def decontaminate_cut(
    corpus: DataFrame,
    eval_docs: DataFrame,
    *,
    n: int = NGRAM_N,
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """Span-level decontamination — the surgical alternative to
    dropping whole documents (what production pipelines do when a doc
    is valuable but contains a verbatim benchmark snippet): every
    corpus token covered by ANY n-gram that appears verbatim in the
    eval set is removed, overlapping hits merging by position-set
    union; the document is rewritten from the surviving tokens.

    Returns one row per corpus document:
      (doc_id, text [rewritten, '' if fully contaminated],
       n_tokens [surviving], n_removed).

    Same exact broadcast semi-join as decontaminate_docs — but over
    POSITIONAL grams (every occurrence, not the per-doc distinct set),
    since the cut needs locations. Lazy, like decontaminate_docs.
    100 TB shape: the corpus is scanned twice (gram join; token
    reassembly), shuffles carry (doc_id, position) int pairs for the
    hit set and the per-doc reassembly groupBy — the same bounds as
    substring_dedup's CUT, whose reassembly pattern this reuses.
    `eval_grams`: see decontaminate_docs."""
    if eval_grams is None:
        eval_grams = doc_ngrams(eval_docs, n).select("g").distinct()
    toks_arr = F.split(F.col("text"), " ")
    pos_grams = corpus.select(
        "doc_id", F.posexplode(ngrams_col(toks_arr, n)).alias("pos", "g")
    )
    hits = pos_grams.join(F.broadcast(eval_grams), "g", "left_semi")
    cut_pos = hits.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))).alias(
            "idx"
        ),
    ).distinct()
    toks = corpus.select(
        "doc_id", F.posexplode(toks_arr).alias("idx", "tok")
    )
    kept = toks.join(cut_pos, ["doc_id", "idx"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.array_sort(F.collect_list(F.struct("idx", "tok"))).tok, " "
        ).alias("text"),
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
    )
    base = corpus.select("doc_id", F.size(toks_arr).cast("long").alias("__orig"))
    return base.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.coalesce(F.col("n_tokens"), F.lit(0).cast("long")).alias("n_tokens"),
        (F.col("__orig") - F.coalesce(F.col("n_tokens"), F.lit(0)))
        .cast("long")
        .alias("n_removed"),
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_docs: DataFrame,
    *,
    tau: float = SEM_TAU,
) -> DataFrame:
    """Embedding-cosine contamination: per corpus document, the
    nearest eval document under the deterministic hashed-bigram text
    embedding (text_embedding.py) — the SEMANTIC complement of the
    n-gram check above (an eval answer paraphrased past 3-gram overlap
    still lands at high cosine; conversely shared boilerplate trigrams
    don't fire this one).

    Returns (doc_id, closest_eval_id, max_eval_cosine, flagged) —
    every corpus doc appears (each doc has ≥1 shingle), unlike the
    n-gram report which excludes sub-n-token docs.

    Determinism: cosines are fixed-point decimal dots (similarity.py's
    proven representation) over integer-valued hashed vectors, so the
    argmax is engine-portable; ties on cosine resolve to the LOWEST
    eval_id via an explicit max-then-min two-step (no reliance on
    arg_max tie behavior).

    100 TB shape: the eval side is benchmark-sized (thousands of docs)
    → its embedding table broadcasts; the corpus is embedded in one
    scan (two bounded int-triple shuffles, text never shuffles) and
    then crosses the broadcast eval side map-side — no corpus shuffle.
    The per-doc max is a partial-aggregable groupBy on doc_id."""
    from .similarity import _arrow_pair_cosine, _decimal_dot
    from .text_embedding import text_hash_embeddings

    c = text_hash_embeddings(corpus).select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("c_emb"),
        _decimal_dot(F.col("embedding"), F.col("embedding")).alias("c_nrm"),
    )
    e = text_hash_embeddings(eval_docs).select(
        F.col("vec_id").alias("eval_id"),
        F.col("embedding").alias("e_emb"),
        _decimal_dot(F.col("embedding"), F.col("embedding")).alias("e_nrm"),
    )
    # |corpus|×|evals| fixed-point dots through the vectorized Arrow
    # kernel (r10 — bit-identical to the interpreted HOF fold, see
    # similarity._arrow_pair_cosine)...
    pairs = scoped_cache(
        _arrow_pair_cosine(
            c.crossJoin(F.broadcast(e)),
            "doc_id", "c_emb", "c_nrm", "eval_id", "e_emb", "e_nrm",
        )
    )
    # ...and MATERIALIZED: the max pass and the argmax tie-break join
    # raced the previously-lazy cache, re-running the cross per branch
    pairs.count()
    mx = pairs.groupBy("doc_id").agg(F.max("cosine").alias("max_eval_cosine"))
    closest = (
        pairs.join(mx, "doc_id")
        .filter(F.col("cosine") == F.col("max_eval_cosine"))
        .groupBy("doc_id", "max_eval_cosine")
        .agg(F.min("eval_id").alias("closest_eval_id"))
    )
    return closest.select(
        "doc_id",
        "closest_eval_id",
        "max_eval_cosine",
        (F.col("max_eval_cosine") >= tau).cast("int").alias("flagged"),
    )


def semantic_decontaminate_pruned(
    corpus: DataFrame,
    eval_docs: DataFrame,
    *,
    tau: float = SEM_TAU,
    n_cells: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-pruned semantic decontamination (r7, VERDICT r6 next-round
    #6): same report schema and semantics as semantic_decontaminate,
    but candidate generation routes through spherical-kmeans cells
    over the EVAL embeddings instead of the exact corpus×evals cross —
    the scale path when the eval suite itself is large (millions of
    held-out docs), where the exact channel's per-corpus-doc cost is
    linear in |evals| and this one's is |evals|·n_probe/n_cells.

    Shape (the ann_index_probe pattern, eval side indexed):
      1. kmeans centroids on a bounded eval-embedding sample
         (IVF_SAMPLE rows via the deterministic seeded Lloyd) — one
         driver-side n_cells×dim matrix, broadcast;
      2. each eval doc assigns to its nearest cell (map-only);
      3. each corpus doc probes its n_probe nearest cells and meets
         only those cells' eval docs in a cell-keyed broadcast join;
      4. the EXACT fixed-point cosine + per-doc max + min-eval_id
         tie-break runs on the surviving candidates — identical
         arithmetic to the exact path, so whenever the true nearest
         eval doc is inside a probed cell the output row is
         bit-identical;
      5. corpus docs whose probed cells hold no eval doc (possible
         when kmeans leaves cells empty) fall back to the exact
         broadcast cross for JUST that residue, keeping the report
         total over the corpus — the residue is empty on any corpus
         where probes land in occupied cells, and bounded by it
         otherwise.

    100 TB: the corpus embeds in one scan and never shuffles (the
    probe explode is map-side, ×n_probe on int-keyed rows); the eval
    side broadcasts per-cell instead of whole. Recall: pruning can
    only LOWER max_eval_cosine (candidates ⊆ all pairs), so a doc
    flagged by this channel is always flagged by the exact one — the
    approximation is one-sided (no false flags)."""
    import numpy as np

    from .similarity import (
        IVF_SAMPLE,
        _arrow_pair_cosine,
        _decimal_dot,
        _kmeans_centroids,
        ivf_cell_col,
        ivf_probes_col,
        with_matrix,
    )
    from .text_embedding import text_hash_embeddings

    spark = corpus.sparkSession
    e = scoped_cache(
        text_hash_embeddings(eval_docs).select(
            F.col("vec_id").alias("eval_id"),
            F.col("embedding").alias("e_emb"),
            _decimal_dot(F.col("embedding"), F.col("embedding")).alias("e_nrm"),
        )
    )
    e.count()
    sample = np.array(
        [
            r["e_emb"]
            for r in e.orderBy("eval_id").limit(IVF_SAMPLE).collect()
        ],
        dtype=np.float64,
    )
    cent = _kmeans_centroids(sample, n_cells)
    e_cells = with_matrix(e, spark, cent).select(
        "eval_id",
        "e_emb",
        "e_nrm",
        ivf_cell_col(F.col("e_emb"), F.col("mat")).alias("cell"),
    )

    c = scoped_cache(
        text_hash_embeddings(corpus).select(
            F.col("vec_id").alias("doc_id"),
            F.col("embedding").alias("c_emb"),
            _decimal_dot(F.col("embedding"), F.col("embedding")).alias("c_nrm"),
        )
    )
    c.count()
    c_probed = with_matrix(c, spark, cent).select(
        "doc_id",
        "c_emb",
        "c_nrm",
        F.explode(ivf_probes_col(F.col("c_emb"), F.col("mat"), n_probe)).alias("cell"),
    )
    # Arrow kernel for the candidate dots (r10, bit-identical — see
    # _arrow_pair_cosine), and the cache MATERIALIZED before
    # _argmax_report's two scans race it.
    cands = scoped_cache(
        _arrow_pair_cosine(
            c_probed.join(F.broadcast(e_cells), "cell"),
            "doc_id", "c_emb", "c_nrm", "eval_id", "e_emb", "e_nrm",
        )
    )
    cands.count()
    report = _argmax_report(cands, tau)

    # totality fallback: the (normally empty) residue of corpus docs
    # whose probed cells were all eval-empty meets the whole eval side
    missing = c.join(report.select("doc_id"), "doc_id", "left_anti")
    fb_pairs = _arrow_pair_cosine(
        missing.crossJoin(F.broadcast(e)),
        "doc_id", "c_emb", "c_nrm", "eval_id", "e_emb", "e_nrm",
    )
    return report.unionByName(_argmax_report(fb_pairs, tau))


def _argmax_report(pairs: DataFrame, tau: float) -> DataFrame:
    """(doc_id, eval_id, cosine) → the exact-channel report: per-doc
    max cosine, min-eval_id tie-break, threshold flag."""
    mx = pairs.groupBy("doc_id").agg(F.max("cosine").alias("max_eval_cosine"))
    closest = (
        pairs.join(mx, "doc_id")
        .filter(F.col("cosine") == F.col("max_eval_cosine"))
        .groupBy("doc_id", "max_eval_cosine")
        .agg(F.min("eval_id").alias("closest_eval_id"))
    )
    return closest.select(
        "doc_id",
        "closest_eval_id",
        "max_eval_cosine",
        (F.col("max_eval_cosine") >= tau).cast("int").alias("flagged"),
    )


_GRAMS_CTE = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[u.i + 1 : u.i + {n}], ' ') AS g
  FROM toks, LATERAL UNNEST(range(greatest(len(t) - {n1}, 0))) AS u(i)
),
ev AS (SELECT DISTINCT g FROM grams WHERE doc_id % {mod} = 0),
corpus AS (SELECT doc_id, g FROM grams WHERE doc_id % {mod} <> 0),
tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM corpus GROUP BY doc_id),
hits AS (
  SELECT c.doc_id, COUNT(*) AS n_contaminated
  FROM corpus c
  WHERE EXISTS (SELECT 1 FROM ev WHERE ev.g = c.g)
  GROUP BY c.doc_id)
""".format(n=NGRAM_N, n1=NGRAM_N - 1, mod=EVAL_MOD)


_CUT_CTE = """,
ctoks AS MATERIALIZED (SELECT doc_id, string_split(text, ' ') AS t
                       FROM documents WHERE doc_id % {mod} <> 0),
cposg AS MATERIALIZED (
  SELECT doc_id, u.i AS pos, array_to_string(t[u.i + 1 : u.i + {n}], ' ') AS g
  FROM ctoks, LATERAL UNNEST(range(greatest(len(t) - {n1}, 0))) AS u(i)),
cutidx AS (SELECT DISTINCT doc_id, idx FROM (
  SELECT c.doc_id, UNNEST(generate_series(c.pos, c.pos + {n1})) AS idx
  FROM cposg c WHERE EXISTS (SELECT 1 FROM ev WHERE ev.g = c.g))),
ctokpos AS MATERIALIZED (
  SELECT doc_id, u.i AS idx, t[u.i + 1] AS tok
  FROM ctoks, LATERAL UNNEST(range(len(t))) AS u(i)),
ckept AS (SELECT k.doc_id, k.idx, k.tok FROM ctokpos k
          ANTI JOIN cutidx USING (doc_id, idx)),
crebuilt AS (SELECT doc_id, array_to_string(LIST(tok ORDER BY idx), ' ') AS txt,
                    CAST(COUNT(*) AS BIGINT) AS n_tokens
             FROM ckept GROUP BY doc_id),
cutdocs AS (SELECT b.doc_id, COALESCE(r.txt, '') AS txt,
                   COALESCE(r.n_tokens, CAST(0 AS BIGINT)) AS n_tokens,
                   CAST(len(b.t) AS BIGINT)
                     - COALESCE(r.n_tokens, CAST(0 AS BIGINT)) AS n_removed
            FROM ctoks b LEFT JOIN crebuilt r USING (doc_id))
""".format(n=NGRAM_N, n1=NGRAM_N - 1, mod=EVAL_MOD)


def _sem_cte() -> str:
    """CTE block replaying semantic_decontaminate: hashed-bigram
    embeddings of both splits, fixed-point pair cosines, per-doc max,
    min-eval_id tie-break."""
    from .text_embedding import text_embeddings_sql

    corpus_src = f"(SELECT * FROM documents WHERE doc_id % {EVAL_MOD} <> 0)"
    eval_src = f"(SELECT * FROM documents WHERE doc_id % {EVAL_MOD} = 0)"
    fixsum = (
        "CAST(CAST(SUM(CAST(TRUNC(CAST({a} AS DOUBLE) * CAST({b} AS DOUBLE)"
        " * 1000000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0"
    )
    return f""",
ce AS ({text_embeddings_sql(src=corpus_src)}),
ee AS ({text_embeddings_sql(src=eval_src)}),
cn AS (SELECT vec_id, {fixsum.format(a='x', b='x')} AS nrm
       FROM (SELECT vec_id, UNNEST(embedding) AS x FROM ce) GROUP BY vec_id),
en AS (SELECT vec_id, {fixsum.format(a='x', b='x')} AS nrm
       FROM (SELECT vec_id, UNNEST(embedding) AS x FROM ee) GROUP BY vec_id),
semdots AS (
  SELECT doc_id, eval_id, {fixsum.format(a='xa', b='xb')} AS dot
  FROM (SELECT a.vec_id AS doc_id, b.vec_id AS eval_id,
               UNNEST(a.embedding) AS xa, UNNEST(b.embedding) AS xb
        FROM ce a, ee b)
  GROUP BY 1, 2),
semcos AS (SELECT d.doc_id, d.eval_id,
                  d.dot / (SQRT(cn.nrm) * SQRT(en.nrm)) AS cosine
           FROM semdots d
           JOIN cn ON cn.vec_id = d.doc_id
           JOIN en ON en.vec_id = d.eval_id),
semmax AS (SELECT doc_id, MAX(cosine) AS max_eval_cosine
           FROM semcos GROUP BY doc_id),
semclosest AS (SELECT c.doc_id, m.max_eval_cosine,
                      MIN(c.eval_id) AS closest_eval_id
               FROM semcos c
               JOIN semmax m ON m.doc_id = c.doc_id
                            AND c.cosine = m.max_eval_cosine
               GROUP BY 1, 2)
"""


# The registered entry is a three-part union: part='ngram' is the
# exact 3-gram-overlap report (broadcast semi-join), part='semantic'
# is the embedding-cosine nearest-eval report and part='cut' is the
# span-level rewrite — the contamination channels a pipeline actually
# checks (token overlap AND paraphrase-level similarity). Normalized
# columns: n1 = n_grams / closest_eval_id / n_tokens, n2 =
# n_contaminated / NULL / n_removed, x1 = contamination_rate /
# max_eval_cosine / NULL.
@register(
    "decontaminate",
    _GRAMS_CTE
    + _sem_cte()
    + _CUT_CTE
    + f"""
SELECT 'ngram' AS part, t.doc_id, t.n_grams AS n1,
       COALESCE(h.n_contaminated, CAST(0 AS BIGINT)) AS n2,
       CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE) / CAST(t.n_grams AS DOUBLE)
         AS x1,
       CAST(CAST(COALESCE(h.n_contaminated, 0) AS DOUBLE)
              / CAST(t.n_grams AS DOUBLE) >= {FLAG_THRESHOLD} AS INT) AS flagged,
       CAST(NULL AS VARCHAR) AS txt
FROM tot t LEFT JOIN hits h USING (doc_id)
UNION ALL
SELECT 'semantic' AS part, doc_id, closest_eval_id AS n1,
       CAST(NULL AS BIGINT) AS n2, max_eval_cosine AS x1,
       CAST(max_eval_cosine >= {SEM_TAU} AS INT) AS flagged,
       CAST(NULL AS VARCHAR) AS txt
FROM semclosest
UNION ALL
SELECT 'cut' AS part, doc_id, n_tokens AS n1, n_removed AS n2,
       CAST(NULL AS DOUBLE) AS x1, CAST(n_removed > 0 AS INT) AS flagged,
       txt
FROM cutdocs
""",
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog entry: documents with doc_id % EVAL_MOD == 0 play the
    eval set; the rest are the training corpus. Three-part union —
    'ngram' (exact 3-gram overlap report), 'semantic'
    (hashed-embedding nearest-eval cosine), and 'cut' (r7: the
    span-level rewrite — surviving text, token counts)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_docs = d.filter(F.col("doc_id") % EVAL_MOD == 0)
    corpus = d.filter(F.col("doc_id") % EVAL_MOD != 0)
    nb = F.lit(None).cast("long")
    ns = F.lit(None).cast("string")
    # ONE checkpointed eval-gram table shared by the ngram and cut
    # channels: both join against the same distinct gram set.
    eval_grams = (
        doc_ngrams(eval_docs, NGRAM_N).select("g").distinct().localCheckpoint()
    )
    ng = decontaminate_docs(corpus, eval_docs, eval_grams=eval_grams).select(
        F.lit("ngram").alias("part"),
        "doc_id",
        F.col("n_grams").alias("n1"),
        F.col("n_contaminated").alias("n2"),
        F.col("contamination_rate").alias("x1"),
        "flagged",
        ns.alias("txt"),
    )
    sem = semantic_decontaminate(corpus, eval_docs).select(
        F.lit("semantic").alias("part"),
        "doc_id",
        F.col("closest_eval_id").alias("n1"),
        nb.alias("n2"),
        F.col("max_eval_cosine").alias("x1"),
        "flagged",
        ns.alias("txt"),
    )
    cut = decontaminate_cut(corpus, eval_docs, eval_grams=eval_grams).select(
        F.lit("cut").alias("part"),
        "doc_id",
        F.col("n_tokens").alias("n1"),
        F.col("n_removed").alias("n2"),
        F.lit(None).cast("double").alias("x1"),
        (F.col("n_removed") > 0).cast("int").alias("flagged"),
        F.col("text").alias("txt"),
    )
    return ng.unionByName(sem).unionByName(cut)


@builder("semantic_decontam", None)  # oracle composed into the entry above
def semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone builder (bench row + library twin) for the semantic
    part under the same deterministic eval split."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return semantic_decontaminate(
        d.filter(F.col("doc_id") % EVAL_MOD != 0),
        d.filter(F.col("doc_id") % EVAL_MOD == 0),
    )


@builder("semantic_decontam_pruned", None)  # r7: the large-eval-suite path
def semantic_decontam_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone builder (bench row) for the IVF-pruned semantic
    channel under the same split — tracks what the cell routing costs
    relative to the exact cross (semantic_decontam) round over round."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return semantic_decontaminate_pruned(
        d.filter(F.col("doc_id") % EVAL_MOD != 0),
        d.filter(F.col("doc_id") % EVAL_MOD == 0),
    )
