"""End-to-end corpus curation: the materializing big brother of the
`curation_pipeline` catalog entry. That entry computes per-source
SURVIVOR STATS in one Catalyst plan; this module actually BUILDS the
curated training set, chaining every cleaning family the engine
implements, each stage composed from the already-tested library ops:

    input
      → exact dedup          (fingerprint, keep min doc_id)
      → quality / lang gate  (lang, token floor, chars-per-token cap)
      → repetition gate      (optional: the 13-threshold Gopher
                              repetition battery, functions/repetition)
      → near-dup removal     (exact n-gram Jaccard ≥ τ pairs, drop
                              any doc with a smaller-id partner)
      → semantic dedup       (text_semdedup: hashed-bigram vectors →
                              SemDeDup keeper rule)
      → decontamination      (optional: exact eval n-gram overlap via
                              a broadcast semi-join)

and returns the surviving documents plus a per-stage census. This is
the `curate` CLI job (python -m mrbf_spark curate …) — optionally
followed by the reproducible shuffle-shard export.

Every stage is deterministic (md5 fingerprints, integer Jaccard,
fixed-point cosines), so two runs over the same corpus emit the same
training set — the property that makes a 100 TB data build auditable.
Scale shape: each stage is one of the already-ledgered plans
(SCALING.md); stage handoffs are checkpointed (see _handoff: an
accumulated five-stage tree OOMs plan stringification on a default
driver heap), and the text crosses stages as materialized blocks,
never as re-derived lineage. curate_increment runs the same stage
helpers and the same co-count join against an immutable history.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..registry import (
    checkpointed,
    register,
    release_scoped_caches,
    scoped_cache,
)
from ..tables import load_table
from .decontam import EVAL_MOD, FLAG_THRESHOLD, NGRAM_N, decontaminate_docs
from .dedup import (
    assign_clusters,
    cocount_pairs,
    exact_jaccard_pairs,
    fingerprint_index,
    incremental_dedup,
    lex_min_independent_set,
    shingle_index,
)
from .similarity import semdedup_verdicts
from .text import fingerprint_col, token_count_col
from .text_embedding import TEXT_SEM_TAU, text_hash_embeddings

# The chain's settings, shared by curate_corpus, curate_increment and
# the registered entry's oracle. lang, min_tokens and jaccard_tau are
# also parameters (the CLI sets them); the chars-per-token cap, the
# near-dup df cap, the semantic τ and the contamination threshold
# (decontam.FLAG_THRESHOLD) are fixed.
_LANG = "en"
_MIN_TOKENS = 5
_MAX_CHARS_PER_TOKEN = 15.0
_JACCARD_TAU = 0.5
_JACCARD_MAX_DF = 200


def _handoff(
    census: list[tuple[str, int]], stage: str, df: DataFrame
) -> DataFrame:
    """Materialize a stage's output and append its row count to the
    census.

    Stage handoffs are checkpointed (registry.checkpointed), not
    cache()'d (r6): each stage's plan then reads the previous stage's
    materialized blocks instead of accumulating a five-stage logical
    tree. The accumulated tree is not just slow to optimize — .cache()
    renders it to a STRING for the cache name
    (CachedRDDBuilder.cachedName), and with semdedup's wide fixed-point
    expression subtrees inside, that stringification alone OOMs a
    default-1g driver-parity session (measured: vanilla session,
    sf0.01). The census count was already materializing the stage, so
    eager checkpointing adds no extra pass and stores the same rows
    the old cache stored."""
    cur = checkpointed(df)
    census.append((stage, cur.count()))
    return cur


def _quality_gate(lang: str | None, min_tokens: int) -> Column:
    """The map-only quality / language predicate: token floor,
    chars-per-token cap, and (unless lang is None) a lang match."""
    t = F.col("text")
    n_tok = token_count_col(t)
    gate = (n_tok >= min_tokens) & (
        F.length(F.replace(t, F.lit(" "), F.lit(""))).cast("double") / n_tok
        <= _MAX_CHARS_PER_TOKEN
    )
    if lang is not None:
        gate = (F.col("lang") == lang) & gate
    return gate


def _pairwise_losers(pairs: DataFrame) -> DataFrame:
    """The pairwise keeper rule over cocount_pairs output: drop every
    doc_b (it has a Jaccard-≥τ partner with a smaller id, or — in the
    incremental case — a history partner)."""
    return pairs.select(F.col("doc_b").alias("doc_id")).distinct()


def _decontaminate_drop(
    census: list[tuple[str, int]], cur: DataFrame, eval_docs: DataFrame
) -> DataFrame:
    """Drop-mode decontamination: remove every doc whose eval n-gram
    contamination rate reaches FLAG_THRESHOLD (docs too short to
    produce an n-gram have no report row = clean)."""
    # flagged is INT (0/1 — the NULL-portable oracle convention)
    flagged = (
        decontaminate_docs(cur, eval_docs)
        .filter(F.col("flagged") == 1)
        .select("doc_id")
    )
    # the final checkpoint doubles as the consumer handoff: the
    # returned plan reads materialized blocks, so downstream actions
    # (driver compare, writes) cost ~0.1 s instead of re-running the
    # semdedup/decontamination tail (measured ~17 s per action when a
    # plain .cache() failed to serve under AQE plan canonicalization)
    return _handoff(
        census, "decontaminate", cur.join(flagged, "doc_id", "left_anti")
    )


def curate_corpus(
    docs: DataFrame,
    eval_docs: DataFrame | None = None,
    *,
    lang: str | None = _LANG,
    min_tokens: int = _MIN_TOKENS,
    jaccard_tau: float = _JACCARD_TAU,
    neardup_keeper: str = "pairwise",
    repetition: bool = False,
    semantic: bool = True,
    decontam_action: str = "drop",
    classifier_weights: list[int] | None = None,
) -> tuple[DataFrame, list[tuple[str, int]]]:
    """Run the full curation chain; returns (curated_docs, census)
    where census = [(stage, docs_surviving_after_stage), ...].

    `classifier_weights` (r8, opt-in): frozen weights from
    quality_classifier.qlr_train (the `quality-train` CLI) add a
    LEARNED quality gate right after the heuristic quality gate —
    drop every doc the hard-sigmoid model scores below 1/2. Map-only
    (hashed features + integer margin), so the stage costs one corpus
    pass. The weights are a training-run config like the temperature
    rates; the chain never trains in-line (a chain that trained on
    its own input would make the survivor set depend on the corpus's
    label mix — the caller owns the reference distribution).

    The returned DataFrame carries the input's full schema. Rows are
    only ever filtered, never rewritten — EXCEPT under
    `decontam_action="cut"`, which rewrites `text` in place (the
    eval-overlap spans are excised, every other column is untouched)
    and whose census entry counts docs-actually-cut rather than
    docs-surviving (no docs are dropped by a cut stage). The frame
    reads its own materialized checkpoint blocks — cheap to consume
    repeatedly; the blocks are lineage-safe when the session has a
    checkpoint directory (registry.checkpointed).
    Caller owns releasing the scoped caches the in-stage machinery
    leaves (`registry.release_scoped_caches()`); checkpoint blocks
    free when the returned DataFrame is garbage-collected.

    Near-dup stage semantics — `neardup_keeper` (r7, VERDICT r6
    next-round #3) selects the keeper election:
      * "pairwise" (default, the registered entry's oracle): drop a
        doc when ANY smaller-id doc is Jaccard-≥τ similar.
        Transitive-lossy on chains: A~B~C (A≁C) loses both B and C
        even though C's only partner B is itself dropped.
      * "cluster": one keeper (min doc_id) per CONNECTED COMPONENT of
        the pair graph (assign_clusters). The most aggressive rule —
        a star P~R~Q keeps only P although P≁Q; right when "near-dup
        of a near-dup" should still dedup (boilerplate families).
      * "greedy": lexicographically-first maximal-independent-set
        election (lex_min_independent_set) — the least lossy rule:
        every dropped doc is Jaccard-≥τ similar to a doc that
        actually SURVIVES, so no content disappears without a kept
        representative. A~B~C keeps A and C; P~R~Q keeps P and Q.
    Survivor-set containment: cluster ⊆ pairwise ⊆ greedy (component
    min has no smaller neighbor; a pairwise survivor is its
    neighborhood's minimum, hence greedy-kept)."""
    census: list[tuple[str, int]] = []
    cur = _handoff(census, "input", docs)

    # 1 — exact dedup: one fingerprint shuffle, survivors carry ids only
    survivors = (
        cur.groupBy(fingerprint_col(F.col("text")).alias("fingerprint"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    cur = _handoff(census, "exact_dedup", cur.join(survivors, "doc_id", "left_semi"))

    # 2 — quality / language gate: map-only predicates
    gate = _quality_gate(lang, min_tokens)
    cur = _handoff(census, "quality_gate", cur.filter(gate))

    # 2a — optional LEARNED quality gate (r8): frozen qlr weights,
    # map-only scoring, keep pred == 1 (docstring)
    if classifier_weights is not None:
        from .quality_classifier import qlr_score

        keep_scored = (
            qlr_score(cur, classifier_weights)
            .filter(F.col("pred") == 1)
            .select("doc_id")
        )
        cur = _handoff(
            census, "classifier_gate", cur.join(keep_scored, "doc_id", "left_semi")
        )

    # 2b — optional Gopher repetition gate (r7): drop docs failing any
    # of the 13 repetition thresholds (functions/repetition.py). Off by
    # default — the paper's top-n-gram thresholds assume long documents
    # and are aggressive on short corpora; the registered entry runs
    # WITH it so the stage is driver-checked.
    if repetition:
        from .repetition import repetition_signals

        rep_keep = (
            repetition_signals(cur)
            .filter(F.col("rep_pass"))
            .select("doc_id")
        )
        cur = _handoff(
            census, "repetition_gate", cur.join(rep_keep, "doc_id", "left_semi")
        )

    # 3 — near-dup removal: complete Jaccard-≥τ pairs (bounded by the
    # df cap), keeper election per `neardup_keeper` (docstring). All
    # three modes consume the SAME bounded pair set; the election
    # machinery (components / MIS rounds) runs over edges only, never
    # the corpus.
    pairs = exact_jaccard_pairs(cur, jaccard_tau, max_df=_JACCARD_MAX_DF)
    if neardup_keeper == "pairwise":
        losers = _pairwise_losers(pairs)
    elif neardup_keeper == "cluster":
        # assign_clusters labels every doc (singletons label
        # themselves), so "not the component min" is the drop set
        losers = (
            assign_clusters(cur, pairs.select("doc_a", "doc_b"))
            .filter(F.col("doc_id") != F.col("cluster_id"))
            .select("doc_id")
        )
    elif neardup_keeper == "greedy":
        incident = (
            pairs.select(F.col("doc_a").alias("doc_id"))
            .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        kept = lex_min_independent_set(pairs)
        losers = incident.join(kept, "doc_id", "left_anti")
    else:
        raise ValueError(
            f"neardup_keeper must be pairwise|cluster|greedy, got"
            f" {neardup_keeper!r}"
        )
    cur = _handoff(census, "neardup_jaccard", cur.join(losers, "doc_id", "left_anti"))

    # 4 — semantic dedup over hashed-bigram embeddings
    if semantic:
        emb = scoped_cache(text_hash_embeddings(cur))
        emb.count()
        keep = (
            semdedup_verdicts(emb, tau=TEXT_SEM_TAU)
            .filter(F.col("keep"))
            .select(F.col("vec_id").alias("doc_id"))
        )
        cur = _handoff(census, "semantic_dedup", cur.join(keep, "doc_id", "left_semi"))

    # 5 — decontamination against an eval set. decontam_action (r7):
    #   * "drop" (default, the registered entry's oracle): remove any
    #     doc whose contamination rate crosses the threshold — rows
    #     are only ever filtered, never rewritten.
    #   * "cut": SPAN-level surgery (decontaminate_cut) — every doc
    #     survives, but tokens covered by verbatim eval n-grams are
    #     removed and `text` is REWRITTEN from the survivors (the one
    #     stage that may rewrite rows; census counts docs actually
    #     cut). threshold is not consulted: any verbatim overlap cuts.
    if eval_docs is not None:
        if decontam_action == "drop":
            cur = _decontaminate_drop(census, cur, eval_docs)
        elif decontam_action == "cut":
            from .decontam import decontaminate_cut

            rewritten = decontaminate_cut(cur, eval_docs).select(
                "doc_id",
                F.col("text").alias("__new_text"),
                "n_removed",
            )
            cur = checkpointed(
                cur.join(rewritten, "doc_id", "left")
                .withColumn(
                    "text", F.coalesce(F.col("__new_text"), F.col("text"))
                )
                .drop("__new_text")
            )
            census.append(
                ("decontaminate_cut",
                 cur.filter(F.col("n_removed") > 0).count())
            )
            cur = cur.drop("n_removed")
        else:
            raise ValueError(
                f"decontam_action must be drop|cut, got {decontam_action!r}"
            )

    return cur, census


# ---------------------------------------------- incremental curation (r8)
#
# The production growing-corpus shape: HISTORY is an already-curated,
# immutable corpus; a NEW shard arrives and must be judged against it
# (the dedup_incremental contract, extended to the whole chain). Every
# check is increment-proportional where the data allows: the exact
# stage joins increment-sized fingerprints against the history index;
# the near-dup stage's co-count join costs Σ df_new·df_all; and since
# r9 (VERDICT r8 next-round #4) the history-derived artifacts persist
# once — curate_index_build(history, path) writes the fingerprint
# index, the shingle inverted index, and the per-shingle df census to
# parquet, and curate_increment(..., history_index=path) replays every
# judgment from those columnar tables without ever re-reading or
# re-shingling history TEXT (the ann-append frozen-artifact pattern).
# Byte-identical to the recompute path (test-pinned): the persisted
# rows ARE the rows the recompute would derive, and the union df cap
# equals df_hist (persisted) + df_new (one increment scan).


def curate_index_build(history: DataFrame, path: str) -> dict[str, int]:
    """Persist the history-derived judgment artifacts at `path` (r9,
    VERDICT r8 next-round #4 — the ann-append frozen-artifact pattern):

      {path}/fingerprints  (fingerprint, hist_id)    — exact-dedup index
      {path}/shingle_index (doc_id, n, s)            — near-dup inverted index
      {path}/shingle_census (s, df)                  — per-shingle history df

    One history scan per artifact family (fingerprints; shingles — the
    census groupBy reuses the index read, not the text). Every
    subsequent curate_increment(..., history_index=path) call is then
    increment-proportional: history TEXT is never re-read or
    re-shingled. Returns row counts per artifact (the build report)."""
    fingerprint_index(history).write.mode("overwrite").parquet(
        f"{path}/fingerprints"
    )
    shingle_index(history).write.mode("overwrite").parquet(
        f"{path}/shingle_index"
    )
    spark = history.sparkSession
    idx = spark.read.parquet(f"{path}/shingle_index")
    idx.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("df")).write.mode(
        "overwrite"
    ).parquet(f"{path}/shingle_census")
    return {
        "fingerprints": spark.read.parquet(f"{path}/fingerprints").count(),
        "shingle_index": idx.count(),
        "shingle_census": spark.read.parquet(f"{path}/shingle_census").count(),
    }


def curate_increment(
    new_docs: DataFrame,
    history: DataFrame | None = None,
    eval_docs: DataFrame | None = None,
    *,
    lang: str | None = _LANG,
    jaccard_tau: float = _JACCARD_TAU,
    history_index: str | None = None,
) -> tuple[DataFrame, list[tuple[str, int]]]:
    """Curate a NEW shard against an immutable curated HISTORY:

        new → exact dedup (within shard AND vs history fingerprints)
            → quality / lang gate (same predicate as the batch chain)
            → near-dup vs (history ∪ shard survivors), pairwise rule
            → decontamination (drop, threshold-gated)

    History arrives either as `history` (the docs frame — fingerprints
    and shingles derived per call) or as `history_index` (a path
    written by curate_index_build, r9 — the frequent-append deployment:
    every judgment replays from the persisted columnar artifacts and
    the call never re-reads history text; byte-identical results,
    test-pinned). Exactly one of the two must be given.

    Returns (survivors, census) like curate_corpus, whose stage
    helpers and co-count join (dedup.cocount_pairs) it shares. History
    rows are never re-judged (the incremental contract — matches
    dedup_incremental's semantics); with an EMPTY history and the
    batch chain's repetition/semantic stages off, the survivor set
    equals curate_corpus's (test-pinned equivalence)."""
    if (history is None) == (history_index is None):
        raise ValueError(
            "curate_increment needs exactly one of history / history_index"
        )
    if history_index is not None:
        spark = new_docs.sparkSession
        index = spark.read.parquet(f"{history_index}/fingerprints")
        hist_inv = spark.read.parquet(f"{history_index}/shingle_index")
        hist_df = spark.read.parquet(f"{history_index}/shingle_census")
    else:
        index = fingerprint_index(history)
        hist_inv, hist_df = shingle_index(history), None
    census: list[tuple[str, int]] = []
    cur = _handoff(census, "input", new_docs)

    # 1 — exact dedup within the shard and against history
    fresh = (
        incremental_dedup(index, cur.select("doc_id", "text"))
        .filter(F.col("status") == "new")
        .select("doc_id")
    )
    cur = _handoff(census, "exact_dedup", cur.join(fresh, "doc_id", "left_semi"))

    # 2 — quality / language gate
    gate = _quality_gate(lang, _MIN_TOKENS)
    cur = _handoff(census, "quality_gate", cur.filter(gate))

    # 3 — near-dup vs history ∪ shard survivors (pairwise rule)
    pairs = cocount_pairs(
        shingle_index(cur),
        jaccard_tau,
        _JACCARD_MAX_DF,
        history=hist_inv,
        history_df=hist_df,
    )
    losers = _pairwise_losers(pairs)
    cur = _handoff(census, "neardup_jaccard", cur.join(losers, "doc_id", "left_anti"))

    # 4 — decontamination (drop mode)
    if eval_docs is not None:
        cur = _decontaminate_drop(census, cur, eval_docs)

    return cur, census


# ------------------------------------- the driver-checked catalog entry
#
# r6 (VERDICT r5 next-round #1): the end-to-end curated-training-set
# build as ONE hash-matched entry — the survivor doc_id set AND the
# per-stage census, against a DuckDB oracle that composes every
# stage's already-proven twin (fingerprint dedup, quality gate, capped
# exact-Jaccard pairs, text-SemDeDup over hashed-bigram embeddings,
# n-gram decontamination) into a single WITH chain. The oracle reads
# the chain's module constants; eval set = doc_id % EVAL_MOD == 0 (the
# decontaminate entry's convention), input = the complement.


def _curate_oracle() -> str:
    from fractions import Fraction

    from .repetition import repetition_duckdb_sql
    from .similarity import _semdedup_oracle
    from .text import FINGERPRINT_SQL, TOKEN_COUNT_SQL
    from .text_embedding import text_embeddings_sql

    fp = FINGERPRINT_SQL.format(e="text")
    tok = TOKEN_COUNT_SQL.format(e="text")
    rep = repetition_duckdb_sql(src="s2docs")
    sem = _semdedup_oracle(
        tau=TEXT_SEM_TAU,
        src="tvecs",
        pre_cte=f"tvecs AS ({text_embeddings_sql(src='s3docs')}),",
    )
    n, n1 = NGRAM_N, NGRAM_N - 1
    tau = Fraction(_JACCARD_TAU)
    nb = "CAST(NULL AS BIGINT)"
    return f"""
    WITH input AS (SELECT * FROM documents WHERE doc_id % {EVAL_MOD} <> 0),
    s1 AS (SELECT MIN(doc_id) AS doc_id FROM input GROUP BY {fp}),
    s1docs AS MATERIALIZED (SELECT i.* FROM input i JOIN s1 USING (doc_id)),
    s2docs AS MATERIALIZED (SELECT * FROM s1docs
               WHERE lang = '{_LANG}' AND {tok} >= {_MIN_TOKENS}
                 AND CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) / {tok}
                       <= {_MAX_CHARS_PER_TOKEN}),
    s2rep AS MATERIALIZED (SELECT doc_id FROM ({rep}) WHERE rep_pass),
    s2bdocs AS MATERIALIZED (SELECT * FROM s2docs
                WHERE doc_id IN (SELECT doc_id FROM s2rep)),
    toks3 AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM s2bdocs),
    sh3 AS (SELECT doc_id,
                   list_distinct([array_to_string(t[i:i+2], ' ')
                                  for i in generate_series(1, greatest(len(t)-2, 1))])
                     AS shingles
            FROM toks3),
    inv3 AS (SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s FROM sh3),
    ok3 AS (SELECT s FROM inv3 GROUP BY s HAVING COUNT(*) <= {_JACCARD_MAX_DF}),
    cap3 AS (SELECT i.doc_id, i.n, i.s FROM inv3 i JOIN ok3 USING (s)),
    co3 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.n AS na, b.n AS nb, COUNT(*) AS c
            FROM cap3 a JOIN cap3 b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2, 3, 4),
    losers3 AS (SELECT DISTINCT doc_b FROM co3
                WHERE CAST(c AS DOUBLE) / CAST(na + nb - c AS DOUBLE)
                      >= CAST({tau.numerator} AS DOUBLE) / {tau.denominator}),
    s3docs AS MATERIALIZED (SELECT * FROM s2bdocs
               WHERE doc_id NOT IN (SELECT doc_b FROM losers3)),
    sem AS ({sem}),
    keep4 AS (SELECT vec_id AS doc_id FROM sem WHERE keep),
    s4docs AS MATERIALIZED (SELECT d.* FROM s3docs d JOIN keep4 USING (doc_id)),
    toks5 AS (SELECT doc_id, string_split(text, ' ') AS t FROM s4docs),
    grams5 AS (SELECT DISTINCT doc_id,
                      array_to_string(t[u.i + 1 : u.i + {n}], ' ') AS g
               FROM toks5, LATERAL UNNEST(range(greatest(len(t) - {n1}, 0))) AS u(i)),
    evtoks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
               WHERE doc_id % {EVAL_MOD} = 0),
    ev5 AS (SELECT DISTINCT array_to_string(t[u.i + 1 : u.i + {n}], ' ') AS g
            FROM evtoks, LATERAL UNNEST(range(greatest(len(t) - {n1}, 0))) AS u(i)),
    tot5 AS (SELECT doc_id, COUNT(*) AS n_grams FROM grams5 GROUP BY doc_id),
    hits5 AS (SELECT c.doc_id, COUNT(*) AS n_contaminated
              FROM grams5 c
              WHERE EXISTS (SELECT 1 FROM ev5 WHERE ev5.g = c.g)
              GROUP BY c.doc_id),
    flagged5 AS (SELECT t.doc_id FROM tot5 t JOIN hits5 h USING (doc_id)
                 WHERE CAST(h.n_contaminated AS DOUBLE)
                         / CAST(t.n_grams AS DOUBLE) >= {FLAG_THRESHOLD}),
    s5docs AS MATERIALIZED (SELECT * FROM s4docs
               WHERE doc_id NOT IN (SELECT doc_id FROM flagged5))
    SELECT 'doc' AS part, CAST(NULL AS VARCHAR) AS stage,
           CAST(doc_id AS BIGINT) AS doc_id, {nb} AS n
    FROM s5docs
    UNION ALL SELECT 'census', 'input', {nb},
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM input)
    UNION ALL SELECT 'census', 'exact_dedup', {nb},
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM s1docs)
    UNION ALL SELECT 'census', 'quality_gate', {nb},
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM s2docs)
    UNION ALL SELECT 'census', 'repetition_gate', {nb},
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM s2bdocs)
    UNION ALL SELECT 'census', 'neardup_jaccard', {nb},
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM s3docs)
    UNION ALL SELECT 'census', 'semantic_dedup', {nb},
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM s4docs)
    UNION ALL SELECT 'census', 'decontaminate', {nb},
                     (SELECT CAST(COUNT(*) AS BIGINT) FROM s5docs)
    """


@register("curate_corpus", _curate_oracle())
def curate_corpus_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shipped artifact, driver-checked: run curate_corpus with
    library defaults (eval slice = doc_id % EVAL_MOD == 0) and emit
    the surviving doc_id set ('doc' part) plus the per-stage census
    ('census' part) — every stage's survivor arithmetic hash-matched
    against the composed oracle."""
    d = load_table(spark, sf_dir, "documents")
    eval_docs = d.filter(F.col("doc_id") % EVAL_MOD == 0)
    cur, census = curate_corpus(
        d.filter(F.col("doc_id") % EVAL_MOD != 0), eval_docs, repetition=True
    )
    doc_part = cur.select(
        F.lit("doc").alias("part"),
        F.lit(None).cast("string").alias("stage"),
        F.col("doc_id").cast("long").alias("doc_id"),
        F.lit(None).cast("long").alias("n"),
    )
    # an Arrow table plans as a LocalTableScan, no Python-worker job
    census_part = spark.createDataFrame(
        pa.table(
            {
                "stage": pa.array([s for s, _ in census], pa.string()),
                "n": pa.array([c for _, c in census], pa.int64()),
            }
        ),
        "stage string, n long",
    ).select(
        F.lit("census").alias("part"),
        "stage",
        F.lit(None).cast("long").alias("doc_id"),
        "n",
    )
    return doc_part.unionByName(census_part)


__all__ = ["curate_corpus", "release_scoped_caches"]
