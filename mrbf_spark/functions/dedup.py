"""Deduplication operators over `documents` (north-star extension):
exact, MinHash+LSH, SimHash, and n-gram Jaccard — the staples of a
training-data pipeline, each designed so the candidate-generation step
is a bounded equi-join (never an O(n²) cross join) at 100 TB.

Every registered dedup entry is hash-matched against an independent
DuckDB oracle:
- `dedup_exact` / `dedup_clusters`: deterministic fingerprints/edges.
- `dedup_minhash_lsh`: complete inverted-index co-count blocking
  (exact_jaccard_pairs) — output is the EXACT Jaccard-≥τ pair set,
  independent of the hash family (the oracle computes the exact
  all-pairs set, feasible at oracle scale).
- `dedup_simhash`: the signature's per-token bits come from md5 (a
  portable hash both engines share), so the oracle replays the whole
  signature → quarter-band → hamming-verify pipeline bit-for-bit.
"""

from __future__ import annotations

import logging
from fractions import Fraction

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..registry import builder, register, scoped_cache
from ..tables import load_table
from .text import FINGERPRINT_SQL, fingerprint_col

# Broadcast ceiling for the exact-Jaccard max_df drop-list (hot
# shingles, bounded by |index|/max_df): 1M 8-byte keys ≈ 8 MB payload,
# comfortably under any executor's broadcast budget.
_MAX_HOT_BROADCAST_ROWS = 1_000_000


# ---------------------------------------------------------------- exact


# Exact dedup: group by normalized-text fingerprint, keep min doc_id.
# The groupBy is a hash shuffle on the digest — uniform keys, no skew;
# at 100 TB this is the cheapest possible full-corpus dedup.
#
# keep_id_pref (late r6) is the SOURCE-PRIORITY keeper — the C4/
# RefinedWeb rule of retaining the copy from the most-trusted source
# when a passage appears in several (curated dump beats crawl), with
# doc_id as the deterministic tie-break. Both keepers ride the SAME
# single aggregate: the priority keeper is a struct-ordered MIN over
# (priority, doc_id) — lexicographic struct comparison, so no packing
# limit and no doc_id-range contract on the Spark side (ADVICE r6:
# the previous packed-BIGINT MIN silently decoded a wrong keep id
# past doc_id ≥ 1e12). The DuckDB twin keeps the packed-integer MIN
# (exact BIGINT arithmetic; testdata doc_ids ≪ 1e12, asserted by
# test_advice_guards) — both formulations are MIN over the same
# total order, so they agree wherever the oracle itself is valid.
#
# PREFERRED_SOURCES is only the TEST DEFAULT used by the registered
# entry (the synthetic corpus's source names); a deployment passes
# its own ranking via the `priority_sources` parameter.
PREFERRED_SOURCES = ("src7", "src3")  # rank 0, 1; everything else 99
_PRIO_PACK = 10**12

_PRIO_SQL = (
    "CASE source WHEN '{s0}' THEN 0 WHEN '{s1}' THEN 1 ELSE 99 END".format(
        s0=PREFERRED_SOURCES[0], s1=PREFERRED_SOURCES[1]
    )
)


def source_priority_col(
    source: Column, priority_sources: tuple[str, ...] = PREFERRED_SOURCES
) -> Column:
    """Rank of `source` in `priority_sources` (0 = most trusted);
    unlisted sources rank 99 + their would-be position so any listed
    source always beats any unlisted one."""
    expr = F.lit(99 + len(priority_sources))
    for rank in range(len(priority_sources) - 1, -1, -1):
        expr = F.when(source == priority_sources[rank], F.lit(rank)).otherwise(expr)
    return expr.cast("long")


@register(
    "dedup_exact",
    f"""
    SELECT {FINGERPRINT_SQL.format(e='text')} AS fingerprint,
           MIN(doc_id) AS keep_id,
           CAST(MIN({_PRIO_SQL} * {_PRIO_PACK} + doc_id) % {_PRIO_PACK} AS BIGINT)
             AS keep_id_pref,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup_exact_report(load_table(spark, sf_dir, "documents"))


def dedup_exact_report(
    docs: DataFrame, priority_sources: tuple[str, ...] = PREFERRED_SOURCES
) -> DataFrame:
    """(fingerprint, keep_id, keep_id_pref, n_copies) — the library
    form: one fingerprint-hash aggregate; keep_id_pref is the
    source-priority keeper under `priority_sources` (see the section
    comment). The struct-ordered MIN has no doc_id-range limit."""
    prio = source_priority_col(F.col("source"), priority_sources)
    return (
        docs.select(
            "doc_id",
            fingerprint_col(F.col("text")).alias("fingerprint"),
            F.struct(prio.alias("p"), F.col("doc_id").alias("d")).alias("__prio_key"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.min("__prio_key")["d"].alias("keep_id_pref"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


# ---------------------------------------------------- incremental dedup

# The production shape at 100 TB: a DAILY INCREMENT deduped against a
# persisted historical index, never re-scanning the corpus. The
# registered entry models history/increment with the deterministic
# doc_id % 10 < 7 split (the bloom-suite twin — SQL-replayable on any
# vintage) and builds the history index inline at test scale; the
# library form (incremental_dedup) takes the index as a DataFrame, so
# a real deployment joins the increment against the stored index
# directly. Statuses: 'dup_of_history' (fingerprint already indexed),
# 'dup_in_batch' (a smaller doc_id in the same increment owns the
# fingerprint), 'new' (first sighting — the rows that extend the
# index). keep_id is the surviving representative either way.
_INC_SPLIT = 7


def fingerprint_index(history: DataFrame) -> DataFrame:
    """(fingerprint, hist_id) — the history index incremental_dedup
    joins against: one row per fingerprint, keeping the min doc_id."""
    return (
        history.select(fingerprint_col(F.col("text")).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("hist_id"))
    )


def incremental_dedup(index: DataFrame, new_docs: DataFrame) -> DataFrame:
    """Dedup `new_docs` (doc_id, text) against `index` (fingerprint,
    hist_id — fingerprint_index) + itself. Scale shape: the increment
    is small relative to history, so both joins shuffle only
    increment-sized inputs — `index` arrives pre-partitioned by
    fingerprint from its store. At extreme index/increment ratios the
    index scan needs no hand-built prune: Catalyst's runtime filter
    injects a Bloom filter of the increment's fingerprints into the
    history side of the first join when its size heuristics fire."""
    inc = new_docs.select(
        "doc_id", fingerprint_col(F.col("text")).alias("fingerprint")
    )
    batch_min = inc.groupBy("fingerprint").agg(F.min("doc_id").alias("batch_id"))
    return (
        inc.join(index, "fingerprint", "left")
        .join(batch_min, "fingerprint")
        .select(
            "doc_id",
            F.when(F.col("hist_id").isNotNull(), F.lit("dup_of_history"))
            .when(F.col("doc_id") > F.col("batch_id"), F.lit("dup_in_batch"))
            .otherwise(F.lit("new"))
            .alias("status"),
            F.coalesce(F.col("hist_id"), F.col("batch_id")).alias("keep_id"),
        )
    )


@register(
    "dedup_incremental",
    f"""
    WITH fp AS (SELECT doc_id, {FINGERPRINT_SQL.format(e='text')} AS f
                FROM documents),
    hist AS (SELECT f, MIN(doc_id) AS hist_id FROM fp
             WHERE doc_id % 10 < {_INC_SPLIT} GROUP BY f),
    inc AS (SELECT doc_id, f FROM fp WHERE doc_id % 10 >= {_INC_SPLIT}),
    batch_min AS (SELECT f, MIN(doc_id) AS batch_id FROM inc GROUP BY f)
    SELECT i.doc_id,
           CASE WHEN h.hist_id IS NOT NULL THEN 'dup_of_history'
                WHEN i.doc_id > b.batch_id THEN 'dup_in_batch'
                ELSE 'new' END AS status,
           COALESCE(h.hist_id, b.batch_id) AS keep_id
    FROM inc i
    LEFT JOIN hist h ON h.f = i.f
    JOIN batch_min b ON b.f = i.f
    """,
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Increment-vs-history dedup over the deterministic 70/30 split
    (see the section comment). The history index is built inline here
    (test scale); incremental_dedup is the library entry point that
    takes a persisted index."""
    d = load_table(spark, sf_dir, "documents")
    hist_docs = d.filter(F.pmod(F.col("doc_id"), F.lit(10)) < _INC_SPLIT)
    new_docs = d.filter(F.pmod(F.col("doc_id"), F.lit(10)) >= _INC_SPLIT)
    return incremental_dedup(fingerprint_index(hist_docs), new_docs)


# ------------------------------------------------------------- shingles

# Word n-gram shingles as a JVM expression: tokens → sliding windows.
def shingles_col(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (array<string>), pure SQL exprs."""
    tokens = F.split(F.lower(text), " ")
    return F.array_distinct(
        F.transform(
            # start positions 0..T-n inclusive (sequence() is inclusive;
            # greatest(...,0) keeps docs shorter than n as one short shingle)
            F.sequence(F.lit(0), F.greatest(F.size(tokens) - n, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice(tokens, i + 1, n)),
        )
    )


def jaccard_col(a: Column, b: Column) -> Column:
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


# ---------------------------------------------------------- minhash/LSH

MINHASH_PERMS = 64
LSH_BANDS = 16  # 16 bands × 4 rows: catches jaccard ≳ 0.5 w.h.p.


def shingle_hashes_col(token_hashes: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as 64-bit hashes (array<long>):
    combine n consecutive token hashes per position — O(tokens)
    fixed-width integer work instead of building every shingle
    *string* (slice+concat_ws allocates ~n× the document text again).
    Collision odds at 64 bits are negligible next to minhash noise:
    the combiner is xxhash64 over the n token hashes (a true 64-bit
    space — F.hash is 32-bit murmur3, whose ~2^32 space would collide
    thousands of times across a 50k-doc corpus's ~5M shingles and
    slightly inflate estimated Jaccard in the verify stage).

    `token_hashes` MUST be a materialized column (array<long> of
    per-token hashes), not an inline expression: it is referenced n+1
    times here, and inlining it re-evaluates the token pass per
    reference (and per array element inside the lambda — O(T²)/doc,
    measured 15× slower at sf0.1). Use shingled_docs() which stages
    the two projections so CollapseProject keeps them apart."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(token_hashes) - n, F.lit(0))),
            # try_element_at, not element_at: docs shorter than n keep
            # one short shingle whose tail positions are OOB — ANSI
            # element_at THROWS there (latent until a <n-token doc
            # appeared); try_element_at restores the NULL padding the
            # injectivity certificate replays on its side.
            lambda i: F.xxhash64(
                *[F.try_element_at(token_hashes, i + j + 1) for j in range(n)]
            ),
        )
    )


def shingled_docs(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingles: array<long>) — tokenize+hash in one
    projection, shingle-combine in a second (see shingle_hashes_col)."""
    return docs.select(
        "doc_id",
        F.transform(F.split(F.lower(F.col("text")), " "), lambda t: F.xxhash64(t)).alias(
            "__th"
        ),
    ).select("doc_id", shingle_hashes_col(F.col("__th"), n).alias("shingles"))


def minhash_signatures(docs_shingled: DataFrame, num_perm: int = MINHASH_PERMS) -> DataFrame:
    """MinHash signatures as 64 columns h0..h{63}: explode shingles
    once, take per-permutation mins with plain aggregates.

    This shape matters for both engines and scale: the per-row
    alternative (array_min over transform, ×64) materializes 64
    arrays per document; the explode+agg form hashes each shingle 64
    ways in one codegen'd projection and the mins partial-aggregate
    map-side — shuffle is 64×8 B per (doc, partition), not the
    shingle sets. Works for string or hashed-long shingle arrays
    (murmur3 has a fast fixed-width path for longs).

    NB: the per-perm hash must come from a plain expression, never a
    default-arg lambda in transform() — PySpark treats `lambda s,
    i=i:` as the two-parameter (element, index) form and binds i to
    the array index column (silent wrong results).

    explode_outer, NOT explode: plain explode makes the optimizer
    infer a `size(shingles) > 0` filter (InferFiltersFromGenerate)
    and push it below the shingle projections, INLINING the whole
    shingle expression into the filter — the corpus pays the token
    pass twice (plan-verified; this filter dominated the stage at
    sf0.1). Our shingle arrays are never empty by construction
    (greatest(...,0) keeps one shingle even for short docs), so outer
    explode is semantically identical and infers nothing.
    """
    ex = docs_shingled.select("doc_id", F.explode_outer("shingles").alias("sh"))
    return ex.groupBy("doc_id").agg(
        *[F.min(F.hash("sh", F.lit(i))).alias(f"h{i}") for i in range(num_perm)]
    )


def _banded(sigs: DataFrame, bands: int = LSH_BANDS) -> DataFrame:
    """(doc_id, band_id, band_hash) bucket keys from h0..h63 columns;
    rows/band = num_perm/bands."""
    rows_per_band = MINHASH_PERMS // bands
    band_cols = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.hash(
                    *[F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).alias("band_hash"),
            )
            for b in range(bands)
        ]
    )
    return sigs.select("doc_id", F.explode(band_cols).alias("band")).select(
        "doc_id", "band.band_id", "band.band_hash"
    )


def _hash_injectivity_certified(docs: DataFrame, n: int = 3) -> bool:
    """Certify that the collapsed 64-bit shingle hashing is injective
    ON THIS CORPUS, so Jaccard over hashed-long shingle sets is
    bit-identical to Jaccard over the portable string shingles (which
    an independent oracle can compute): #distinct raw token n-tuples
    == #distinct collapsed xxhash64 shingle hashes ⟹ the map
    shingle string ↔ collapsed long is a bijection on the realized
    shingle set. One agg-only scan, two scalars — string shingles are
    never materialized (building them costs more than the whole
    hashed pipeline; measured 7× on the verify join alone). At 100 TB
    you would run this once per corpus vintage — the distinct
    partial-aggregates map-side and are shingle-space-bounded — or
    skip it and accept the 2^-64 risk."""
    base = docs.select(F.split(F.lower(F.col("text")), " ").alias("toks")).select(
        "toks", F.transform("toks", lambda t: F.xxhash64(t)).alias("th")
    )
    # One explode carries BOTH the raw token n-tuple (≡ the shingle
    # string: tokens are space-free so the ' '-join is reversible) and
    # the collapsed hash built exactly as shingle_hashes_col builds it
    # (try_element_at on the materialized hash array — OOB padding for
    # short docs is NULL on both sides; ANSI element_at would throw).
    tup = base.select(
        # explode_outer: avoids the InferFiltersFromGenerate size>0
        # filter that would inline (and double-evaluate) the whole
        # tuple-struct expression; the sequence() array is never empty.
        F.explode_outer(
            F.transform(
                F.sequence(F.lit(0), F.greatest(F.size("toks") - n, F.lit(0))),
                lambda i: F.struct(
                    *[
                        F.try_element_at("toks", i + j + 1).alias(f"t{j}")
                        for j in range(n)
                    ],
                    F.xxhash64(
                        *[F.try_element_at("th", i + j + 1) for j in range(n)]
                    ).alias("hh"),
                ),
            )
        ).alias("e")
    )
    r = tup.agg(
        F.countDistinct(F.struct(*[f"e.t{j}" for j in range(n)])).alias("d"),
        F.countDistinct("e.hh").alias("h"),
    ).collect()[0]
    return r["d"] == r["h"]


def exact_jaccard_pairs(
    docs: DataFrame,
    threshold: float,
    n: int = 3,
    hashed: bool = False,
    max_df: int | None = None,
) -> DataFrame:
    """COMPLETE exact word-n-gram Jaccard-≥τ pairs via one
    inverted-index co-count join: explode each doc's distinct shingle
    set, self-join on the shingle, and count matches per (doc_a,
    doc_b) — the count IS |x∩y| exactly (sets are distinct), so
    jaccard = c/(na+nb−c) with no second pass over the arrays.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard ≥
    threshold. Recall is 1.0 trivially (any pair with J > 0 shares a
    shingle); precision is exact (the count is the true intersection).

    Strategy selection, by τ:
      * τ ≲ 0.4: THIS. Prefix filtering (AllPairs/PPJoin blocking,
        since deleted) indexes n−⌈τ·n⌉+1 ≈ (1−τ)·n shingles per doc —
        at τ=0.2 that is 80% of the full index, so its join costs
        ~0.64× this one and then still needs a per-pair verify over
        the arrays (measured: prefix+array-verify 8.6 s vs 3.0 s for
        this at sf0.1). The co-count join's verify is free.
      * τ ≳ 0.5: prefix filtering is the textbook pick (prefix
        shrinks to (1−τ)·n), but MEASURED at τ=0.5/sf0.1 the co-count
        join still wins 7× (1.4 s vs 10.5 s): the prefix join emits
        120k candidates that must then verify against full shingle
        arrays, while the co-count's verify is free. Prefix filtering
        is the right tool only when the candidate set (not the final
        pair set) must be small — e.g. feeding a bounded-memory
        verifier.
      * 100 TB with probabilistic recall acceptable: MinHash+LSH
        (minhash_candidates(guaranteed=False)) — join volume is bucket
        collisions, independent of Σ df².
    Join cost here is Σ_s C(df(s), 2) over shingle document
    frequencies; the length filter (q·min(n) ≥ p·max(n), integer
    arithmetic: float τ·n can land an ulp above an integer, 0.2×15 →
    3.0000000000000004) prunes inside the join. Hot shingles
    (boilerplate) are the skew risk at scale: a text shared verbatim
    by f·N docs makes the join C(f·N, 2)-quadratic — AND the exact
    pair-set OUTPUT itself is quadratic in that group, so no
    implementation of these semantics escapes it. Two mitigations:

      * max_df=D (this function): drop shingles with document
        frequency > D from the index before the self-join. Join cost
        becomes ≤ Σ min(df,D)·df /2 and the semantics relax to "J≥τ
        among pairs sharing at least one non-boilerplate (df ≤ D)
        shingle" — genuine near-dup pairs share many rare shingles
        and survive any reasonable D (test-pinned); only pairs whose
        ENTIRE overlap is boilerplate are lost. measured: a corpus
        with 30% of docs sharing one verbatim text completes at
        uniform-corpus speed (tools/stress_skew.py) where the uncapped
        join would materialize ~10^10 rows.
      * compose with exact dedup first (curate_corpus's first stage,
        or dedup_exact_report's keep_id): verbatim-duplicate groups
        collapse to one representative, so the hot text contributes
        ONE doc and near-dup semantics over distinct texts stay exact
        — the standard curation-pipeline ordering (exact pass, then
        fuzzy pass).

    hashed=False joins on the portable shingle STRING — one corpus
    scan, independently replayable by any engine. hashed=True joins on
    the collapsed 64-bit shingle hash (8 B keys instead of ~n-word
    strings — the shuffle-volume choice at 100 TB) after certifying
    injectivity on this corpus (_hash_injectivity_certified; falls
    back to strings on the 2^-64 failure). Both produce bit-identical
    pairs and IEEE-identical jaccard doubles.

    The inverted index is scoped_cache'd AND materialized (count)
    before the self-join: a lazy cache is raced by the two join sides
    — both recompute the corpus scan concurrently, one wins the cache
    slot (measured 2×; at 100 TB it is a full duplicate corpus pass).
    """
    return cocount_pairs(shingle_index(docs, n, hashed), threshold, max_df)


def shingle_index(docs: DataFrame, n: int = 3, hashed: bool = False) -> DataFrame:
    """(doc_id, n, s) — the inverted index the co-count join consumes:
    one row per (doc, distinct shingle), n = the doc's distinct-shingle
    count. s is the shingle string, or with hashed=True its certified
    64-bit hash (see exact_jaccard_pairs). The string form is the
    artifact curate_index_build persists."""
    if hashed and _hash_injectivity_certified(docs, n):
        sh = shingled_docs(docs, n)
    else:
        sh = docs.select("doc_id", shingles_col(F.col("text"), n).alias("shingles"))
    # explode_outer, NOT explode: plain explode makes the optimizer
    # infer `size(shingles) > 0` (InferFiltersFromGenerate) and inline
    # the ENTIRE shingle expression into that filter below the
    # Generate — the corpus pays the shingle pass twice (plan-verified
    # here: 7.8 s → 3.9 s for the index build at sf0.1). Shingle
    # arrays are never empty by construction (greatest(...,0) keeps
    # one shingle even for short docs), so outer explode is identical.
    return sh.select(
        "doc_id", F.size("shingles").alias("n"), F.explode_outer("shingles").alias("s")
    )


def cocount_pairs(
    inv: DataFrame,
    threshold: float,
    max_df: int | None = None,
    history: DataFrame | None = None,
    history_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard ≥ threshold) from the co-count self-join
    of the inverted index `inv` (shingle_index rows) — the core of
    exact_jaccard_pairs, whose docstring covers the df cap, the cached
    index and the cost model.

    history=None (the batch case): pairs of `inv` docs, doc_a < doc_b.
    `history` = shingle_index rows of an already-curated corpus (the
    incremental case): doc_b is always an `inv` doc, doc_a a history
    doc or a smaller-id `inv` doc, so doc_b is the pairwise keeper
    rule's loser either way. The df cap then counts history ∪ inv —
    what the batch rule would see on the combined corpus; `history_df`
    (s, df — the census curate_index_build persists) supplies the
    history part without a history-wide groupBy."""
    frac = Fraction(threshold).limit_denominator(10**6)
    p, q = frac.numerator, frac.denominator
    new_inv = inv
    if history is not None:
        inv = inv.withColumn("is_hist", F.lit(False)).unionByName(
            history.select("doc_id", "n", "s").withColumn("is_hist", F.lit(True))
        )
    if max_df is not None:
        # Apply the cap as a broadcast ANTI-join on the DROP-list, not
        # a shuffled semi-join on the keep-list. The keep-list is the
        # long tail (most shingles are rare) — joining on it shuffles
        # the whole inverted index by shingle, and the hot shingle's
        # f·N rows land in ONE reduce partition before the cap drops
        # them (the 2.03× skew ratio in SCALING.md r4). The drop-list
        # is bounded by |index|/max_df and on any real corpus is the
        # boilerplate set — broadcasting it keeps the cap map-side, so
        # the hot rows die in place without ever shuffling on the hot
        # key. The census groupBy itself is partial-agg'd (hot shingle
        # collapses to one row per map task). Plan-time count guards
        # the broadcast ceiling; past it, fall back to the shuffled
        # keep-list semi-join (identical semantics: every index row's
        # shingle appears in the census, so anti(df>D) == semi(df<=D)).
        if history_df is None:
            dfs = inv.groupBy("s").agg(F.count(F.lit(1)).alias("__df"))
        else:
            dfs = (
                new_inv.groupBy("s")
                .agg(F.count(F.lit(1)).alias("__dfn"))
                .join(history_df, "s", "full_outer")
                .select(
                    "s",
                    (
                        F.coalesce(F.col("__dfn"), F.lit(0))
                        + F.coalesce(F.col("df"), F.lit(0))
                    ).alias("__df"),
                )
            )
        hot = scoped_cache(dfs.filter(F.col("__df") > max_df).select("s"))
        if hot.count() <= _MAX_HOT_BROADCAST_ROWS:
            inv = inv.join(F.broadcast(hot), "s", "left_anti")
        else:
            inv = inv.join(dfs.filter(F.col("__df") <= max_df), "s", "left_semi")
    # Cache the index ALREADY hash-partitioned by shingle: the cached
    # relation's outputPartitioning satisfies the self-join's
    # requirement on BOTH aliases, so the join adds zero Exchange
    # (plan-pinned in tests). One uniform shuffle here replaces two
    # post-cache shuffles — and under max_df it runs on the CAPPED
    # rows, after the broadcast anti-join dropped the hot shingles
    # map-side (the r4 semi-join shuffled the pre-cap index, hot key
    # included — SCALING.md's 2× skew ratio was exactly that).
    inv = scoped_cache(inv.repartition("s"))
    inv.count()  # materialize — see exact_jaccard_pairs' docstring
    a, b = inv.alias("a"), inv.alias("b")
    if history is None:
        order, tag = F.col("a.doc_id") < F.col("b.doc_id"), []
    else:
        b = inv.filter(~F.col("is_hist")).alias("b")
        order = F.col("a.is_hist") | (F.col("a.doc_id") < F.col("b.doc_id"))
        tag = [F.col("a.is_hist")]
    raw = a.join(
        b,
        (F.col("a.s") == F.col("b.s"))
        & order
        & (
            F.lit(q) * F.least(F.col("a.n"), F.col("b.n"))
            >= F.lit(p) * F.greatest(F.col("a.n"), F.col("b.n"))
        ),
    )
    g = raw.groupBy(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.n").alias("na"),
        F.col("b.n").alias("nb"),
        *tag,
    ).agg(F.count(F.lit(1)).alias("c"))
    jaccard = F.col("c").cast("double") / (
        F.col("na") + F.col("nb") - F.col("c")
    ).cast("double")
    return (
        g.select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


# guaranteed="auto" routes exact→LSH when the co-count join volume
# Σ_s C(df(s), 2) — the EXACT row count of the inverted-index
# self-join, known from a one-scan df census before any join runs —
# exceeds this budget. 2e8 rows keeps the catalog/bench/sf1 regimes on
# the exact path (sf1 Zipf corpus: ~6e7) while a boilerplate-heavy
# corpus whose hot-shingle head would quadratically dominate
# (C(f·N, 2) ≈ 1e10 at f·N ≈ 140k verbatim copies) routes to the
# probabilistic LSH path whose join volume is bucket collisions,
# independent of Σ df² (VERDICT r8 next-round #3, the mining
# method="auto" pattern).
MINHASH_AUTO_COCOUNT = 200_000_000

_LOG = logging.getLogger(__name__)


def minhash_candidates(
    docs: DataFrame,
    threshold: float = 0.5,
    guaranteed: bool | str = "auto",
    auto_cocount: int = MINHASH_AUTO_COCOUNT,
) -> DataFrame:
    """Near-dup pairs (doc_a, doc_b, jaccard), doc_a < doc_b, jaccard
    ≥ threshold.

    guaranteed="auto" (the library default, r9): run the one-scan
    shingle df census, compute the exact co-count join volume
    Σ C(df, 2), and route — ≤ `auto_cocount` takes the exact path
    (guaranteed=True), above it the probabilistic LSH path, logging
    the decision. The census is agg-only (two scalars to the driver)
    and partial-aggregates map-side; it is the same statistic the
    exact path's max_df cap consults, spent up front so a Zipf-head
    corpus never starts the quadratic join it cannot finish.

    guaranteed=False — the 100 TB probabilistic path: MinHash+LSH.
    shingle → 64-perm signature → band → bucket self-join →
    exact-Jaccard verify. The self-join is on (band_id, band_hash) — a
    bounded equi-join: only docs sharing a bucket ever pair, so no
    cross join at any scale; recall is the LSH S-curve at the chosen
    bands×rows.

    guaranteed=True — the oracle-checkable path: delegates to
    exact_jaccard_pairs (complete inverted-index co-count), whose
    output is exactly {pairs : exact word-3-gram Jaccard ≥ τ},
    hash-family-independent. See its docstring for the τ-based
    strategy selection between co-count, prefix filtering, and LSH —
    at the registered τ=0.2 the co-count join dominates both
    alternatives (measured 2.8× faster than prefix+verify) BECAUSE the
    prefix of a τ=0.2 doc is 80% of its shingles.

    Plan shape (LSH path): shingles are hashed longs
    (shingle_hashes_col), and the signature table — 64 longs per doc,
    ~0.1% of corpus bytes — is cached before the bucket self-join.
    Without the cache the self-join broadcasts one alias and
    re-executes the whole explode+min-agg subplan for BOTH sides (no
    ReusedExchange across a broadcast); measured 2× the signature cost
    at sf0.1, and at 100 TB it would be two extra corpus scans. The
    exact-Jaccard verify re-scans documents twice, but each join's
    other side is the tiny candidate-pair set (broadcast), so no
    corpus shuffle anywhere.
    """
    if guaranteed == "auto":
        cocount = int(
            shingled_docs(docs)
            .select(F.explode_outer("shingles").alias("s"))
            .groupBy("s")
            .agg(F.count(F.lit(1)).alias("df"))
            .agg(
                F.coalesce(
                    F.sum(F.col("df") * (F.col("df") - 1)), F.lit(0)
                ).alias("c2x2")
            )
            .collect()[0]["c2x2"]
            // 2
        )
        guaranteed = cocount <= auto_cocount
        _LOG.info(
            "minhash_candidates auto: sum C(df,2) = %d co-count rows "
            "(budget %d) -> %s",
            cocount,
            auto_cocount,
            "exact" if guaranteed else "lsh",
        )
    if guaranteed:
        # hashed=True: the certified 8-byte-key variant — measured
        # 1.7× the string path at sf0.1 even INCLUDING the
        # injectivity-certificate scan (string shingle building
        # allocates ~3× the corpus text; the cert is two scalars).
        return exact_jaccard_pairs(docs, threshold, hashed=True)
    shingled = shingled_docs(docs)
    sigs = scoped_cache(minhash_signatures(shingled))
    # count() (r10): the cache alone stops subplan re-execution only
    # AFTER it is populated — the two bucket-join sides race a LAZY
    # cache and can both run the explode+min-agg signature scan
    # concurrently (the simhash census defect). Materialize first.
    sigs.count()
    banded = _banded(sigs)
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sh_a = shingled.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a")
    )
    sh_b = shingled.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b")
    )
    # Jaccard via intersect only: |a∪b| = |a|+|b|−|a∩b| (sets are
    # distinct by construction) — halves the per-pair array work.
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = (F.size("sh_a") + F.size("sh_b")).cast("double") - inter
    return (
        pairs.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("jaccard", inter / union)
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


_MINHASH_TAU = 0.2

# Oracle: the EXACT all-pairs Jaccard set — computable in DuckDB at
# oracle scale (500 docs ⇒ 125k pairs) precisely because the engine's
# output is guaranteed to equal it (inverted-index co-count blocking
# is complete and its count is the exact intersection). Shingle CTE
# identical to the proven dedup_clusters oracle; the division is the
# same double(int)/double(int) IEEE op the Spark side computes.
_MINHASH_ORACLE = f"""
    WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct([array_to_string(t[i:i+2], ' ')
                                 for i in generate_series(1, greatest(len(t)-2, 1))])
                    AS shingles
           FROM toks),
    j AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                   / len(list_distinct(list_concat(a.shingles, b.shingles))) AS jaccard
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
    SELECT doc_a, doc_b, jaccard FROM j WHERE jaccard >= {_MINHASH_TAU}
    """


def _cocount_pairs_sql(tau: float, src: str = "documents", pfx: str = "cc") -> str:
    """SCALE-oracle formulation of the exact Jaccard-≥τ pair set (r8,
    VERDICT r7 next-round #1): the inverted-index CO-COUNT join — one
    shingle explode, an equi-join on the shingle with the integer
    length filter, jaccard = c/(na+nb−c) — mirroring
    exact_jaccard_pairs' blocking so the DuckDB side scales like the
    engine (Σ df² instead of |docs|² list_intersect). Semantics equal
    the all-pairs _MINHASH_ORACLE form: any J>0 pair shares a shingle
    (complete) and the co-count IS the exact intersection (the same
    argument the engine's docstring carries); equality is test-pinned
    at sf0.01 (tests/test_scale_oracles.py). `pfx` namespaces the CTEs
    so the block composes into larger WITH chains."""
    frac = Fraction(tau).limit_denominator(10**6)
    p, q = frac.numerator, frac.denominator
    return f"""
    WITH {pfx}_toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t
                        FROM {src}),
    {pfx}_sh AS (SELECT doc_id,
                        list_distinct([array_to_string(t[i:i+2], ' ')
                                       for i in generate_series(1, greatest(len(t)-2, 1))])
                          AS shingles
                 FROM {pfx}_toks),
    {pfx}_inv AS MATERIALIZED (
        SELECT doc_id, len(shingles) AS n, unnest(shingles) AS s
        FROM {pfx}_sh),
    {pfx}_co AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n AS na, b.n AS nb,
               COUNT(*) AS c
        FROM {pfx}_inv a JOIN {pfx}_inv b
          ON a.s = b.s AND a.doc_id < b.doc_id
         AND {q} * least(a.n, b.n) >= {p} * greatest(a.n, b.n)
        GROUP BY 1, 2, 3, 4)
    SELECT doc_a, doc_b, CAST(c AS DOUBLE) / (na + nb - c) AS jaccard
    FROM {pfx}_co
    WHERE CAST(c AS DOUBLE) / (na + nb - c) >= {tau}
    """


@register(
    "dedup_minhash_lsh",
    _MINHASH_ORACLE,
    scale_oracle=_cocount_pairs_sql(_MINHASH_TAU),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with EXACT word-3-gram Jaccard at the LOWER 0.2
    threshold: the output carries the exact jaccard per pair, so it
    subsumes both the r1 `dedup_minhash_lsh` (≥ 0.5 — filter the
    jaccard column) and the r1 `dedup_ngram_jaccard` precision pass
    (≥ 0.2), and equals the exact Jaccard-≥τ pair set (hash-matched
    oracle) regardless of Spark's hash family. Computed by the
    complete inverted-index co-count (exact_jaccard_pairs) — at τ=0.2
    the measured-fastest of the module's three blockers; the MinHash+
    LSH machinery this entry is named for is the guaranteed=False
    scale path (same verify, probabilistic recall), pinned by the
    planted-duplicate and signature tests."""
    return minhash_candidates(
        load_table(spark, sf_dir, "documents"), threshold=_MINHASH_TAU, guaranteed=True
    )


# -------------------------------------------------------------- simhash


_SIMHASH_HAMMING = 6


def simhash_signatures(docs: DataFrame, bits: int = 64) -> DataFrame:
    """(doc_id, q0..q3, simhash) — 64-bit Charikar SimHash: per bit,
    the sign of the sum of ±1 across token hashes, carried as four
    16-bit quarter ints (the LSH band keys) plus the packed long.

    The per-token 64 bits come from md5 (first 16 hex chars → 4×16-bit
    ints via conv) — a PORTABLE hash family both Spark and DuckDB
    evaluate identically, so the entire signature → band → verify
    pipeline has an independent oracle twin (the r3 xxhash64 family
    was Spark-private, forcing a rows-only check). md5-per-token costs
    more than xxhash64 but the token explode is one corpus scan either
    way; swap the hash expr back for a throughput-critical deployment.

    Shape: explode tokens → one md5 per token occurrence → 64
    conditional-sum aggregates → fold signs into quarter words. The
    per-row alternative (64 F.aggregate passes over an inline
    token-hash array) re-evaluates the tokenize+hash pass once per bit
    — 64 corpus scans' worth of work fused into one stage; measured
    12 s vs ~1 s at sf0.1. A hash-the-vocab-then-join-back variant
    (md5 once per DISTINCT token) was also measured SLOWER (4.9 s vs
    3.1 s entry total): the vocab subplan is a second full
    tokenize+explode of the corpus — there is no subplan reuse across
    a broadcast exchange — and that dwarfs the md5 savings (md5+parse
    is only ~0.8 s of the stage). The explode form hashes each token
    once in one scan and the ±1 sums partial-agg map-side (shuffle =
    64×8 B per doc per partition)."""
    assert bits == 64, "the portable quarter layout is fixed at 64 bits"
    toks = docs.select(
        "doc_id", F.explode_outer(F.split(F.lower(F.col("text")), " ")).alias("t")
    )
    m = F.md5("t")
    tq = toks.select(
        "doc_id",
        *[
            F.conv(F.substring(m, 4 * j + 1, 4), 16, 10).cast("int").alias(f"tq{j}")
            for j in range(4)
        ],
    )
    sums = tq.groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(
                    F.shiftright(F.col(f"tq{i // 16}"), i % 16).bitwiseAND(F.lit(1)) == 1,
                    1,
                ).otherwise(-1)
            ).alias(f"b{i}")
            for i in range(bits)
        ]
    )
    qcols = []
    for j in range(4):
        w = F.lit(0)
        for b in range(16):
            w = w.bitwiseOR(
                F.when(F.col(f"b{16 * j + b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
            )
        qcols.append(w.alias(f"q{j}"))
    sig = sums.select("doc_id", *qcols)
    packed = (
        F.shiftleft(F.col("q3").cast("long"), 48)
        .bitwiseOR(F.shiftleft(F.col("q2").cast("long"), 32))
        .bitwiseOR(F.shiftleft(F.col("q1").cast("long"), 16))
        .bitwiseOR(F.col("q0").cast("long"))
    )
    return sig.select("doc_id", "q0", "q1", "q2", "q3", packed.alias("simhash"))


def _simhash_oracle() -> str:
    """DuckDB twin of simhash_pairs, generated from the same layout
    constants: md5-quarter token bits → ±1 sums → sign packing →
    quarter-band candidate join → exact hamming ≤ threshold. Because
    the prune (quarter equality) is part of the replayed definition,
    the match is exact with no recall caveat (the
    deterministic-membership-twin pattern)."""
    tq = ",\n           ".join(
        f"('0x' || substr(md5(t), {4 * j + 1}, 4))::INTEGER AS tq{j}" for j in range(4)
    )
    bitsums = ",\n           ".join(
        f"SUM(CASE WHEN (tq{i // 16} >> {i % 16}) & 1 = 1 THEN 1 ELSE -1 END) AS b{i}"
        for i in range(64)
    )
    packs = ",\n           ".join(
        "("
        + " | ".join(
            f"(CASE WHEN b{16 * j + b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(16)
        )
        + f") AS q{j}"
        for j in range(4)
    )
    quarters_union = " UNION ALL ".join(
        f"SELECT doc_id, {j} AS qi, q{j} AS qv FROM sig" for j in range(4)
    )
    ham = " + ".join(f"bit_count(xor(sa.q{j}, sb.q{j}))" for j in range(4))
    return f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
                  FROM documents),
    tq AS (SELECT doc_id, {tq} FROM toks),
    sums AS (SELECT doc_id, {bitsums} FROM tq GROUP BY doc_id),
    sig AS (SELECT doc_id, {packs} FROM sums),
    quarters AS ({quarters_union}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM quarters a JOIN quarters b
               ON a.qi = b.qi AND a.qv = b.qv AND a.doc_id < b.doc_id),
    ham AS (SELECT c.doc_a, c.doc_b, {ham} AS hamming
            FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
                        JOIN sig sb ON sb.doc_id = c.doc_b)
    SELECT doc_a, doc_b, CAST(hamming AS INTEGER) AS hamming
    FROM ham WHERE hamming <= {_SIMHASH_HAMMING}
    """


@builder("dedup_simhash_pairs", _simhash_oracle())
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL SimHash near-dup pair dump (doc_a, doc_b, hamming) —
    the explicit materialize-everything option (builder since r9; the
    registered entry is the bounded census below). On boilerplate-
    heavy corpora the pair count is output-superlinear: 70.5M pairs
    (5.6% of all pairs) on the Zipfian sf1 corpus — computing it is
    fine, *collecting* it is the 100 TB hazard (VERDICT r8 next-round
    #2)."""
    return simhash_pairs(load_table(spark, sf_dir, "documents"))


def _simhash_census_oracle() -> str:
    """DuckDB twin of the census entry — composes the full-pair twin
    and reduces it to the same three bounded parts. The pair CTE is
    referenced three times (and degall twice), so both carry the
    MATERIALIZED hint: without it DuckDB may inline and recompute the
    70.5M-pair join per reference, which is exactly what timed the
    sf1 gate out (~4× the single-compute 262 s). The survivor
    predicate is NOT EXISTS rather than NOT IN — same semantics
    (doc_b is never NULL), planned as one hash anti-join."""
    return f"""
    WITH pairs AS MATERIALIZED ({_simhash_oracle()}),
    deg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
            FROM (SELECT doc_a AS doc_id FROM pairs
                  UNION ALL SELECT doc_b AS doc_id FROM pairs)
            GROUP BY doc_id),
    degall AS MATERIALIZED (
               SELECT d.doc_id, COALESCE(deg.degree, 0) AS degree
               FROM (SELECT doc_id FROM documents) d
               LEFT JOIN deg USING (doc_id))
    SELECT 'hamming_census' AS part, CAST(hamming AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY hamming
    UNION ALL
    SELECT 'degree' AS part, degree AS k, CAST(COUNT(*) AS BIGINT) AS n
    FROM degall GROUP BY degree
    UNION ALL
    SELECT 'survivor' AS part, doc_id AS k, degree AS n
    FROM degall
    WHERE NOT EXISTS (SELECT 1 FROM pairs WHERE pairs.doc_b = degall.doc_id)
    """


def _simhash_census_scale_oracle() -> str:
    """Cost-aware second formulation for the sf≥1 gate (the
    SCALE_ORACLES pattern): three INDEPENDENT branches, each
    recomputing the streaming pair join instead of sharing a
    materialized CTE. At sf1 the single-pass pair join streams in
    ~25 s, while the shared-CTE census — materialized or not — ran
    6–20+ min in DuckDB 1.0 (un-materialized it re-plans the
    composed query into out-of-core spills; materialized it paid a
    slow buffered write + multi-read). Three cheap recomputes beat
    one expensive share. The survivor branch folds per-doc degree
    AND appeared-as-higher-id into ONE unpivot+aggregate pass, so no
    branch touches the pair set twice. Equality with the naive
    census oracle is pinned at sf0.01 (tests/test_scale_oracles.py)."""
    degall = f"""
        SELECT d.doc_id, COALESCE(u.degree, 0) AS degree,
               COALESCE(u.as_b, 0) AS as_b
        FROM (SELECT doc_id FROM documents) d
        LEFT JOIN (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree,
                 CAST(SUM(is_b) AS BIGINT) AS as_b
          FROM (SELECT unnest([p.doc_a, p.doc_b]) AS doc_id,
                       unnest([0, 1]) AS is_b
                FROM ({_simhash_oracle()}) p)
          GROUP BY doc_id) u USING (doc_id)"""
    return f"""
    SELECT 'hamming_census' AS part, CAST(hamming AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM ({_simhash_oracle()}) GROUP BY hamming
    UNION ALL
    SELECT 'degree' AS part, degree AS k, CAST(COUNT(*) AS BIGINT) AS n
    FROM ({degall}) GROUP BY degree
    UNION ALL
    SELECT 'survivor' AS part, doc_id AS k, degree AS n
    FROM ({degall}) WHERE as_b = 0
    """


@register(
    "dedup_simhash",
    _simhash_census_oracle(),
    scale_oracle=_simhash_census_scale_oracle(),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup CENSUS (r9, VERDICT r8 next-round #2) — the
    bounded-output contract a 100 TB pipeline actually wants, replacing
    the registered full pair dump (still available:
    dedup_simhash_pairs builder / simhash_pairs library fn). Parts:

    - 'hamming_census': k=hamming distance, n=pair count — ≤ 7 rows
      however duplicated the corpus is (the dup-mass report).
    - 'degree': k=#near-dup partners, n=docs with that degree —
      bounded by distinct degree values (the skew report).
    - 'survivor': k=doc_id, n=its degree — the docs KEPT under the
      greedy lowest-doc_id-wins rule (any doc never appearing as the
      higher id of a pair), i.e. the dedup answer itself. Bounded by
      n_docs, never by n_pairs.

    The 70.5M-pair intermediate still streams through the engine at
    sf1, but every part reduces engine-side — nothing pair-shaped is
    ever collected (the r8 sf1 gate needed a 24g driver.maxResultSize
    purely to COMPARE the old pair dump)."""
    pairs = scoped_cache(simhash_pairs(load_table(spark, sf_dir, "documents")))
    # Materialize before fan-out (r10, VERDICT r9 next-round #8): the
    # census unions FOUR consumers of `pairs` (deg reads it twice,
    # ham_census once, survivors once) into ONE action — a lazy cache
    # is raced by all of them and the quarter-band verify join can
    # execute up to 4× concurrently (the exact hazard simhash_pairs
    # documents for its signature cache). One count() pins the pair
    # table; every branch then reads cached rows.
    pairs.count()
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    deg = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    degall = docs.join(deg, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("degree"), F.lit(0)).cast("long").alias("degree")
    )
    ham_census = pairs.groupBy(F.col("hamming").cast("long").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    deg_census = degall.groupBy(F.col("degree").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    survivors = degall.join(
        pairs.select(F.col("doc_b").alias("doc_id")), "doc_id", "left_anti"
    ).select(F.col("doc_id").alias("k"), F.col("degree").alias("n"))
    return (
        ham_census.select(F.lit("hamming_census").alias("part"), "k", "n")
        .unionByName(deg_census.select(F.lit("degree").alias("part"), "k", "n"))
        .unionByName(survivors.select(F.lit("survivor").alias("part"), "k", "n"))
    )


def simhash_pairs(d: DataFrame) -> DataFrame:
    """SimHash near-dup buckets: docs sharing any 16-bit quarter of
    their simhash (hamming ≤ 3 over 64 bits is caught by ≥1 equal
    quarter by pigeonhole; ≤ 6 w.h.p. — the standard Charikar
    banding), then exact-hamming verify ≤ 6."""
    sh = scoped_cache(simhash_signatures(d))
    # Materialize before the self-join: a lazy cache is raced by the
    # two quarter-join sides and the two verify sides — each would
    # recompute the full signature scan concurrently (measured ~2×).
    sh.count()
    quarters = sh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(j).alias("qi"), F.col(f"q{j}").alias("qv"))
                    for j in range(4)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.qi", "b.qv")
    a, b = quarters.alias("a"), quarters.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.qi") == F.col("b.qi"))
            & (F.col("a.qv") == F.col("b.qv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sa = sh.select(
        F.col("doc_id").alias("doc_a"), *[F.col(f"q{j}").alias(f"qa{j}") for j in range(4)]
    )
    sb = sh.select(
        F.col("doc_id").alias("doc_b"), *[F.col(f"q{j}").alias(f"qb{j}") for j in range(4)]
    )
    hamming = sum(
        F.bit_count(F.col(f"qa{j}").bitwiseXOR(F.col(f"qb{j}"))) for j in range(4)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= _SIMHASH_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


# ------------------------------------------------- connected components

# Duplicate-cluster assignment: pairs aren't what a pipeline consumes —
# survivor selection needs the transitive closure (A≈B, B≈C ⇒ one
# cluster even when A≉C). Edges here are fully deterministic and
# SQL-portable (no Spark-private hash families), so the whole component
# computation is oracle-checked against a DuckDB recursive CTE:
#   exact edges:  same normalized-text fingerprint;
#   near edges:   the COMPLETE exact word-3-gram Jaccard-≥CLUSTER_TAU
#                 pair set via the inverted-index co-count
#                 (exact_jaccard_pairs, hashed keys). r4: replaced the
#                 r3 rare-shingle blocking + array-verify — carrying
#                 full shingle arrays through two joins measured
#                 ~10 s at sf0.1 vs ~3 s for the co-count, AND the
#                 blocked edge set was an ill-specified subset (pairs
#                 had to share a df≤10 shingle); semantics are now
#                 exactly "J ≥ τ", the same guarantee the
#                 dedup_minhash_lsh entry carries. Boilerplate-hot
#                 corpora: pass max_df through (see
#                 exact_jaccard_pairs' skew ledger) or exact-dedup
#                 first — the registered entry needs neither at
#                 catalog scale.
CLUSTER_TAU = 0.5
_CC_MAX_ITERS = 25

# leakage-safe split knobs (defined up here: the dedup_clusters
# oracle composes the split layer at registration time)
SPLIT_SEED = 11
# percent boundaries for (train, val, test) — hash < 90 → train, etc.
SPLIT_BOUNDS = (90, 95)


def _cluster_edges(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) undirected dedup edges, doc_a < doc_b — a
    connectivity-equivalent SPARSIFICATION of (exact-fingerprint pairs
    ∪ Jaccard-≥τ pairs), r6:

    * verbatim-duplicate groups contribute STAR edges (group-min →
      member), not all C(n,2) pairs — a fingerprint self-join on a
      group of n identical docs materializes n²/2 rows (the 30%-hot
      stress corpus would emit ~10^8 edges from ONE text), while the
      star's n−1 edges connect exactly the same component;
    * the Jaccard stage runs on exact-dedup SURVIVORS only (one
      representative per fingerprint): a non-survivor has the SAME
      text as its representative, hence the same Jaccard similarity
      to everything, so every old edge X—Y is replaced by the path
      X—star—S(X)—jaccard—S(Y)—star—Y. Components — and therefore
      cluster ids and the split — are IDENTICAL (the all-pairs
      recursive-CTE oracle stays the registered twin; equality is
      what the driver hash-match certifies), and the co-count join
      never sees a verbatim group's quadratic shingle blow-up.
    """
    fp = scoped_cache(
        docs.select("doc_id", fingerprint_col(F.col("text")).alias("f"))
    )
    fp.count()  # two consumers below — materialize before the fan-out
    mins = scoped_cache(fp.groupBy("f").agg(F.min("doc_id").alias("m")))
    mins.count()
    star = (
        fp.join(mins, "f")
        .filter(F.col("doc_id") != F.col("m"))
        .select(F.col("m").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )
    survivors = docs.join(
        mins.select(F.col("m").alias("doc_id")), "doc_id", "left_semi"
    )
    near = exact_jaccard_pairs(survivors, CLUSTER_TAU, hashed=True).select(
        "doc_a", "doc_b"
    )
    return near.unionByName(star).dropDuplicates(["doc_a", "doc_b"])


# The recursive-CTE connected-components twin, a module constant so
# both the registered entry's oracle and leakage_safe_split_duckdb_sql
# compose it without a circular ORACLES lookup (r6 restructure).
_CLUSTERS_SQL = f"""
    WITH RECURSIVE
    toks AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
    sh AS (SELECT doc_id,
                  list_distinct([array_to_string(t[i:i+2], ' ')
                                 for i in generate_series(1, greatest(len(t)-2, 1))])
                    AS shingles
           FROM toks),
    near AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM sh a JOIN sh b ON a.doc_id < b.doc_id
             WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                     / len(list_distinct(list_concat(a.shingles, b.shingles)))
                   >= {CLUSTER_TAU}),
    fp AS (SELECT doc_id, {FINGERPRINT_SQL.format(e='text')} AS f FROM documents),
    exact_e AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM fp a JOIN fp b ON a.f = b.f AND a.doc_id < b.doc_id),
    edges AS (SELECT doc_a, doc_b FROM near UNION SELECT doc_a, doc_b FROM exact_e),
    esym AS (SELECT doc_a AS src, doc_b AS dst FROM edges
             UNION ALL SELECT doc_b, doc_a FROM edges),
    reach(dst, lbl) AS (SELECT doc_id, doc_id FROM documents
                        UNION
                        SELECT e.dst, reach.lbl
                        FROM reach JOIN esym e ON e.src = reach.dst)
    SELECT dst AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY dst
    """


_SPLIT_CASE_SQL = f"""CASE
             WHEN ('0x' || substr(md5('split{SPLIT_SEED}' || ':' ||
                    CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 100
                  < {SPLIT_BOUNDS[0]} THEN 'train'
             WHEN ('0x' || substr(md5('split{SPLIT_SEED}' || ':' ||
                    CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT % 100
                  < {SPLIT_BOUNDS[1]} THEN 'val'
             ELSE 'test'
           END"""


def _clusters_split_oracle() -> str:
    """dedup_clusters oracle + the leakage-safe split layer (r6: the
    registered entry carries all three columns, so leakage_safe_split
    is driver hash-checked without a new slot)."""
    return f"""
    WITH clusters AS ({_CLUSTERS_SQL})
    SELECT doc_id, cluster_id, {_SPLIT_CASE_SQL} AS split
    FROM clusters
    """


def _clusters_split_scale_oracle() -> str:
    """SCALE twin of _clusters_split_oracle (r8): edge discovery
    mirrors the engine's _cluster_edges sparsification — STAR edges
    per verbatim-fingerprint group plus co-count Jaccard edges over
    exact-dedup SURVIVORS only — so the DuckDB side never pays the
    all-pairs list_intersect join that times out at sf1. Components
    (and therefore cluster ids and the split) are identical to the
    naive formulation by the engine's connectivity argument
    (_cluster_edges docstring); equality is test-pinned at sf0.01."""
    near = _cocount_pairs_sql(CLUSTER_TAU, src="surv", pfx="nn")
    return f"""
    WITH RECURSIVE
    fp AS MATERIALIZED (
        SELECT doc_id, {FINGERPRINT_SQL.format(e='text')} AS f FROM documents),
    mins AS MATERIALIZED (SELECT f, MIN(doc_id) AS m FROM fp GROUP BY f),
    star AS (SELECT mins.m AS doc_a, fp.doc_id AS doc_b
             FROM fp JOIN mins USING (f) WHERE fp.doc_id <> mins.m),
    surv AS (SELECT d.doc_id, d.text FROM documents d
             JOIN mins ON mins.m = d.doc_id),
    near AS MATERIALIZED (SELECT doc_a, doc_b FROM ({near})),
    edges AS (SELECT doc_a, doc_b FROM near
              UNION SELECT doc_a, doc_b FROM star),
    esym AS (SELECT doc_a AS src, doc_b AS dst FROM edges
             UNION ALL SELECT doc_b, doc_a FROM edges),
    reach(dst, lbl) AS (SELECT doc_id, doc_id FROM documents
                        UNION
                        SELECT e.dst, reach.lbl
                        FROM reach JOIN esym e ON e.src = reach.dst),
    clusters AS (SELECT dst AS doc_id, MIN(lbl) AS cluster_id
                 FROM reach GROUP BY dst)
    SELECT doc_id, cluster_id, {_SPLIT_CASE_SQL} AS split
    FROM clusters
    """


@register(
    "dedup_clusters",
    _clusters_split_oracle(),
    scale_oracle=_clusters_split_scale_oracle(),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc duplicate-cluster id (= min doc_id of the connected
    component) over exact-fingerprint + complete Jaccard-≥τ edges,
    plus (r6) the leakage-safe train/val/test split keyed on that
    cluster (leakage_safe_split) — so the split assignment is driver
    hash-checked per document, not just suite-pinned.

    Spark side is iterative min-label propagation — the standard
    distributed connected-components loop (GraphX/GraphFrames CC
    shape), with two scale properties worth the loop's driver actions:
    - only EDGE-INCIDENT docs iterate: docs with no dedup edge keep
      cluster_id = doc_id and join back in one final left join, so the
      per-iteration shuffle is over the (far smaller) candidate node
      set, not the corpus;
    - convergence is detected by the monotone sum of labels (labels
      only ever decrease; equal sum ⇒ fixpoint), one cheap scalar agg
      per iteration instead of a change-count join;
    - localCheckpoint each iteration truncates the growing lineage
      (without it, iteration i replays all i-1 predecessor joins).
    Iterations = component diameter (dedup clusters are shallow: a
    handful), bounded by _CC_MAX_ITERS as a runaway guard.
    """
    docs = load_table(spark, sf_dir, "documents")
    return leakage_safe_split(docs)


def assign_clusters(docs: DataFrame, edges: DataFrame) -> DataFrame:
    """(doc_id, cluster_id) for every doc, cluster_id = min doc_id of
    its connected component over `edges` (doc_a, doc_b). See
    dedup_clusters for the iteration's scale properties."""
    # Materialize the edge pipeline ONCE before the symmetric union:
    # its two branches otherwise race a lazy cache and both recompute
    # the full candidate join (the exact_jaccard_pairs docstring's
    # measured-2× trap, same cure).
    edges = scoped_cache(edges)
    edges.count()
    esym = scoped_cache(
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(
            edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
        )
    )
    labels = (
        esym.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("cluster_id", F.col("doc_id"))
        .localCheckpoint()
    )
    prev_sum = None
    for _ in range(_CC_MAX_ITERS):
        prop = labels.join(esym, labels["doc_id"] == esym["src"]).select(
            esym["dst"].alias("doc_id"), "cluster_id"
        )
        labels = (
            labels.unionByName(prop)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("cluster_id")).collect()[0][0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    return (
        docs.select("doc_id")
        .join(labels.withColumnRenamed("cluster_id", "__c"), "doc_id", "left")
        .select(
            "doc_id", F.coalesce(F.col("__c"), F.col("doc_id")).alias("cluster_id")
        )
    )


def lex_min_independent_set(
    edges: DataFrame, max_iters: int = _CC_MAX_ITERS
) -> DataFrame:
    """Kept node ids (one column, `doc_id`) of the LEXICOGRAPHICALLY-
    FIRST maximal independent set over the undirected graph `edges`
    (doc_a, doc_b; doc_a < doc_b required) — bit-identical to the
    sequential greedy election "walk ids ascending, keep a node iff
    none of its neighbors is already kept".

    This is the near-dup keeper rule under which every DROPPED doc is
    similar to a doc that actually SURVIVES (maximality), unlike
    either the pairwise rule (drop on any smaller-id partner — a chain
    A~B~C loses C although C's only partner B is itself dropped) or
    the one-keeper-per-component rule (a star P~R~Q keeps only P
    although Q is not similar to P). Nodes not incident to any edge
    are NOT returned — the caller keeps them unconditionally.

    Parallel form: the classic deterministic-priority MIS round —
    select every node with no smaller ACTIVE neighbor (with doc_a <
    doc_b that is exactly "never appears as doc_b"), retire the
    selected nodes and their neighborhoods, drop edges with a retired
    endpoint, repeat; when no edges remain, every still-active node is
    isolated and kept. Equivalence to the sequential greedy is the
    standard lex-first-MIS argument: a node selected in round k is
    the minimum of its remaining neighborhood, which is precisely when
    the sequential walk keeps it.

    Scale: every per-round frame is bounded by the EDGE set (itself
    bounded by the df-capped pair generation upstream), never the
    corpus; each round localCheckpoints the shrinking active/edge
    frames so round i does not replay rounds 0..i-1 (the
    assign_clusters lineage lesson). Rounds needed = greedy rounds of
    the component structure — near-dup components are shallow
    (assign_clusters' measured property); a path component of 2k
    nodes needs k rounds, bounded loudly by max_iters.
    """
    edges = scoped_cache(edges.select("doc_a", "doc_b"))
    edges.count()
    active = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .unionByName(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .localCheckpoint()
    )
    cur = edges.localCheckpoint()
    kept: DataFrame | None = None
    for _ in range(max_iters):
        if cur.isEmpty():
            break
        # S = active nodes with no smaller active neighbor: doc_a <
        # doc_b everywhere, so "appears as doc_b in a live edge" IS
        # "has a smaller active neighbor".
        s = active.join(
            cur.select(F.col("doc_b").alias("doc_id")), "doc_id", "left_anti"
        ).localCheckpoint()
        kept = s if kept is None else kept.unionByName(s)
        neigh = (
            cur.join(
                s.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi"
            )
            .select(F.col("doc_b").alias("doc_id"))
            .unionByName(
                cur.join(
                    s.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi"
                ).select(F.col("doc_a").alias("doc_id"))
            )
        )
        active = active.join(
            s.unionByName(neigh).distinct(), "doc_id", "left_anti"
        ).localCheckpoint()
        cur = (
            cur.join(
                active.withColumnRenamed("doc_id", "doc_a"), "doc_a", "left_semi"
            )
            .join(
                active.withColumnRenamed("doc_id", "doc_b"), "doc_b", "left_semi"
            )
            .localCheckpoint()
        )
    else:
        raise RuntimeError(
            f"lex_min_independent_set did not converge in {max_iters} rounds —"
            " a component needs more greedy rounds than the guard allows;"
            " raise max_iters (rounds ≈ half the longest path)"
        )
    # edges empty ⇒ every remaining active node is isolated: keep all.
    return active if kept is None else kept.unionByName(active)


# ------------------------------------------------ leakage-safe split

def leakage_safe_split(docs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, split): a train/val/test split in which
    near-duplicate and verbatim-duplicate documents NEVER straddle a
    boundary — the split key is the dedup CLUSTER, not the document.

    A per-document random split leaks training text into eval: a
    train doc's near-copy lands in test with probability
    2·p_train·p_test per duplicate pair, and contaminated eval scores
    are the Lee et al. 2022 headline result. Assigning by connected
    dedup component (exact-fingerprint ∪ Jaccard-≥τ edges, the
    dedup_clusters engine) makes leakage structurally impossible at
    any duplication rate, while singleton docs (the overwhelming
    majority) still split i.i.d. — the realized fractions converge to
    the targets because components are a vanishing fraction of docs.

    The assignment is a pure function of the corpus: portable md5
    over the cluster id against fixed percent bounds — reproducible
    across runs/engines/partitionings, and replayable in SQL on top
    of the recursive-CTE cluster oracle (in-suite DuckDB parity).

    100 TB: clusters cost what dedup_clusters costs (edge-incident
    docs only iterate); the split layer adds ONE map-side projection.
    """
    clusters = assign_clusters(docs, _cluster_edges(docs))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ":", F.lit(f"split{SPLIT_SEED}"), F.col("cluster_id").cast("string")
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    bucket = F.pmod(h, F.lit(100))
    split = (
        F.when(bucket < SPLIT_BOUNDS[0], F.lit("train"))
        .when(bucket < SPLIT_BOUNDS[1], F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return clusters.select("doc_id", "cluster_id", split.alias("split"))


def leakage_safe_split_duckdb_sql() -> str:
    """DuckDB twin: the recursive-CTE cluster oracle with the split
    hash layered on top. Since r6 this IS the registered
    dedup_clusters oracle — the split is driver hash-checked."""
    return _clusters_split_oracle()
