"""Corpus sampling / mixture / sharding operators (north-star
extension): the dataset-mixing and export steps of a training-data
pipeline — upweight scarce sources by integer replication, downsample
by per-stratum fractions, and shuffle+shard the corpus into balanced,
reproducibly-ordered training shards. All deterministic forms are
hash-matched against the DuckDB oracle; the seeded Bernoulli form is
the library variant with statistical tests.

Generalizes the reference's P5 random split (util/split-dataset.py:36,
a single unweighted Bernoulli partition) to per-stratum control.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..registry import BUILDER_SQL, builder, register
from ..tables import load_table

# Sources upweighted 3x in the mixture (scarce-but-valuable strata).
UPWEIGHTED = ("src0", "src1", "src2")
UPWEIGHT = 3

SAMPLE_FRACTIONS = {"en": 1.0, "de": 0.5, "fr": 0.5, "es": 0.5, "zh": 0.25}

# shard/consistent-sample knobs (defined up here: the sampling_suite
# oracle composes the consistent-sample SQL at import time)
N_SHARDS = 8
SHARD_SEED = 42


def replicate_by_weight(df: DataFrame, weight_col) -> DataFrame:
    """One output row per input row per unit of integer weight —
    explode(array_repeat) keeps it a single codegen'd Generate, no
    join, no shuffle; at 100 TB the blow-up factor is exactly the
    mixture weight, applied streamingly per partition."""
    return df.withColumn(
        "__rep", F.explode(F.array_repeat(F.lit(1), weight_col.cast("int")))
    ).drop("__rep")


# --- deterministic mixture: upweight selected sources 3x; the oracle
# reproduces the replication with a LATERAL generate_series.
# Builder since r4: registered via `sampling_suite` (with
# stratified_sample) to free a catalog slot for global_shuffle_shard.
@builder(
    "corpus_mixture",
    f"""
    SELECT source, COUNT(*) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT d.source, d.n_chars,
             UNNEST(range(CASE WHEN d.source IN {UPWEIGHTED}
                          THEN {UPWEIGHT} ELSE 1 END))
      FROM documents d)
    GROUP BY source
    """,
)
def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    w = F.when(F.col("source").isin(*UPWEIGHTED), F.lit(UPWEIGHT)).otherwise(F.lit(1))
    mixed = replicate_by_weight(d.select("source", "n_chars"), w)
    return mixed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# --- registered form (hash-matched, r2 VERDICT #4): systematic
# stratified sampling — keep a row iff doc_id % 100 < rate·100 for its
# stratum. Content-deterministic membership is reproducible from SQL
# (so the oracle is exact, not rows-only) and is what a 100 TB corpus
# pipeline wants anyway: the sample survives re-reads, repartitioning,
# and engine swaps, unlike partition-order-dependent Bernoulli RNG.
_PCT = {lang: int(frac * 100) for lang, frac in SAMPLE_FRACTIONS.items()}


@builder(
    "stratified_sample",
    f"""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sampled
    FROM documents
    WHERE doc_id % 100 < CASE lang
        WHEN 'en' THEN {_PCT['en']} WHEN 'de' THEN {_PCT['de']}
        WHEN 'fr' THEN {_PCT['fr']} WHEN 'es' THEN {_PCT['es']}
        WHEN 'zh' THEN {_PCT['zh']} ELSE 0 END
    GROUP BY lang
    """,
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    thr = F.coalesce(
        F.element_at(
            F.create_map(*[F.lit(x) for kv in _PCT.items() for x in kv]), F.col("lang")
        ),
        F.lit(0),
    )
    sampled = d.filter(F.col("doc_id") % 100 < thr)
    return sampled.groupBy("lang").agg(F.count(F.lit(1)).alias("n_sampled"))


# --- the sampling forms in one registration (r4 consolidation, same
# pattern as stats_aggregates): a `part` discriminator over a shared
# (key, n1, v1) shape; each branch's oracle is composed verbatim from
# its builder SQL, so the per-branch checks are unchanged. r5 added
# the bottom-k consistent sample (the exact doc_id membership — every
# selected id is independently hash-checked), promoting
# consistent_sample_k into the driver-checked tier without a new slot.
_NULL_BIGINT = "CAST(NULL AS BIGINT)"
CONSISTENT_K = 100


def _consistent_k_sql() -> str:
    key = (
        "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':"
        f"{SHARD_SEED}'), 1, 15))::BIGINT"
    )
    return f"""
    SELECT 'consistent_k' AS part, CAST(doc_id AS VARCHAR) AS key,
           doc_id AS n1, {_NULL_BIGINT} AS v1
    FROM (SELECT doc_id FROM documents ORDER BY {key}, doc_id
          LIMIT {CONSISTENT_K})
    """


_SHARD_SQL = f"""
    SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id) AS INT)
             AS pos
    FROM (SELECT doc_id,
                 ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{SHARD_SEED}'),
                                 1, 15))::BIGINT AS k,
                 CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':{SHARD_SEED}'),
                                      1, 15))::BIGINT % {N_SHARDS} AS INT) AS shard
          FROM documents)
    """


# --- temperature-weighted mixture (the multilingual-LLM sampling
# rule: XLM-R / mBERT exponentiated sampling, Conneau et al. 2020,
# q_s ∝ p_s^α): rebalance skewed strata by upsampling scarce ones
# toward the largest. α is fixed at 1/2 and the rates normalized so
# the LARGEST stratum keeps rate 1 — rate_s = (n_max/n_s)^α =
# sqrt(n_max/n_s) — because sqrt/division are CORRECTLY-ROUNDED IEEE
# ops on both engines (a free-α POWER is not), which is what lets the
# fractional replication be hash-matched instead of rows-only.
# Realization is deterministic: every doc gets floor(rate_s) copies
# plus one more iff its portable md5 bucket (doc_id:temp, % 1e6)
# falls under trunc(frac(rate_s)·1e6) — content-addressed like the
# stratified sampler, so membership survives repartitioning and
# engine swaps. 100 TB shape: one tiny per-stratum census (broadcast
# back), then a map-only codegen'd Generate — the corpus never
# shuffles.
TEMP_FRAC_SCALE = 1_000_000
_TEMP_MD5 = "('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':temp'), 1, 15))::BIGINT"

_TEMP_SQL = f"""
    SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (
      SELECT d.lang, d.n_chars,
             UNNEST(range(r.base + CASE WHEN {_TEMP_MD5} % {TEMP_FRAC_SCALE}
                                             < r.tfrac
                                        THEN 1 ELSE 0 END))
      FROM documents d
      JOIN (SELECT lang,
                   CAST(FLOOR(SQRT(CAST(MAX(n_s) OVER () AS DOUBLE)
                                   / CAST(n_s AS DOUBLE))) AS INT) AS base,
                   CAST(TRUNC((SQRT(CAST(MAX(n_s) OVER () AS DOUBLE)
                                    / CAST(n_s AS DOUBLE))
                               - FLOOR(SQRT(CAST(MAX(n_s) OVER () AS DOUBLE)
                                            / CAST(n_s AS DOUBLE))))
                              * {float(TEMP_FRAC_SCALE)}) AS BIGINT) AS tfrac
            FROM (SELECT lang, COUNT(*) AS n_s FROM documents GROUP BY lang)) r
        USING (lang))
    GROUP BY lang
    """


def temperature_rates(docs: DataFrame, stratum: str = "lang") -> DataFrame:
    """Per-stratum replication rates (stratum, __base, __tfrac) from a
    census of `docs` — the tiny broadcast side of the temperature
    rule."""
    counts = docs.groupBy(stratum).agg(F.count(F.lit(1)).alias("n_s"))
    # the empty-partition window runs over the ≤|strata|-row AGG
    # OUTPUT (a driver-sized frame), not the corpus — bounded by the
    # stratum count like the bloom sizing collect
    rate = F.sqrt(
        F.max("n_s").over(Window.partitionBy()).cast("double")
        / F.col("n_s").cast("double")
    )
    return counts.select(
        stratum,
        F.floor(rate).cast("int").alias("__base"),
        ((rate - F.floor(rate)) * F.lit(float(TEMP_FRAC_SCALE)))
        .cast("long")
        .alias("__tfrac"),
    )


def temperature_copies_col() -> Column:
    """Copy count per row once joined to the rates frame: base copies
    plus one iff the row's portable md5 bucket falls under the
    fractional-rate threshold (content-addressed — survives
    repartitioning, engine swaps, and batch/stream boundaries)."""
    bucket = F.pmod(
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.col("doc_id").cast("string"), F.lit("temp")
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(TEMP_FRAC_SCALE),
    )
    return F.col("__base") + (bucket < F.col("__tfrac")).cast("int")


def temperature_replicate(docs: DataFrame, stratum: str = "lang") -> DataFrame:
    """The materializing form (the `temp-mix` CLI job): every input
    row replicated per the temperature rule, full schema preserved.
    Requires a `doc_id` column (the content-addressed fractional-copy
    key)."""
    keyed = docs.join(F.broadcast(temperature_rates(docs, stratum)), stratum)
    return replicate_by_weight(keyed, temperature_copies_col()).drop(
        "__base", "__tfrac"
    )


def temperature_replicate_indexed(
    docs: DataFrame, stratum: str = "lang", id_stride: int = 64
) -> DataFrame:
    """temperature_replicate with UNIQUE re-keyed doc ids: copy k of
    doc d becomes doc_id = d * id_stride + k, so consumers that need a
    unique orderable key — the contiguous packer's doc_id-ordered
    token stream — can run on a mixed corpus. Replicas get ADJACENT
    ids (they pack next to each other; the shard shuffle at the end of
    pretrain-build is what separates them for training).

    Loud guards, never silent corruption (the keep_id_pref lesson,
    ADVICE r6): a copy count reaching id_stride or a doc_id that would
    overflow BIGINT under the stride raises inside the plan."""
    keyed = docs.join(F.broadcast(temperature_rates(docs, stratum)), stratum)
    copies = temperature_copies_col().cast("int")
    checked = F.when(copies < id_stride, copies).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    f"temperature_replicate_indexed: copy count >= "
                    f"id_stride ({id_stride}) for doc_id="
                ),
                F.col("doc_id").cast("string"),
            )
        ).cast("int")
    )
    id_max = (2**62) // id_stride
    new_id = F.when(
        F.col("doc_id") < id_max,
        F.col("doc_id") * id_stride + F.col("__copy_pos"),
    ).otherwise(
        F.raise_error(
            F.lit(
                f"temperature_replicate_indexed: doc_id >= 2^62/"
                f"{id_stride} overflows the re-keying"
            )
        ).cast("long")
    )
    # Collision-proof posexplode output names: an input frame that
    # already carries a `pos`/`col` column must survive unchanged
    # (matches replicate_by_weight's __rep sentinel convention).
    return (
        keyed.select(
            "*",
            F.posexplode(F.array_repeat(F.lit(1), checked)).alias(
                "__copy_pos", "__copy_one"
            ),
        )
        .withColumn("doc_id", new_id)
        .drop("__copy_pos", "__copy_one", "__base", "__tfrac")
    )


@builder("temperature_mixture", _TEMP_SQL)
def temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    mixed = temperature_replicate(d.select("doc_id", "lang", "n_chars"))
    return mixed.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


@register(
    "sampling_suite",
    f"""
    SELECT 'mixture' AS part, source AS key,
           CAST(n_rows AS BIGINT) AS n1, total_chars AS v1
    FROM ({BUILDER_SQL['corpus_mixture']})
    UNION ALL
    SELECT 'stratified' AS part, lang AS key, n_sampled AS n1, {_NULL_BIGINT} AS v1
    FROM ({BUILDER_SQL['stratified_sample']})
    UNION ALL
    {_consistent_k_sql()}
    UNION ALL
    SELECT 'shard' AS part, CAST(doc_id AS VARCHAR) AS key,
           CAST(shard AS BIGINT) AS n1, CAST(pos AS BIGINT) AS v1
    FROM ({_SHARD_SQL})
    UNION ALL
    SELECT 'temp' AS part, lang AS key, n_rows AS n1, total_chars AS v1
    FROM ({_TEMP_SQL})
    """,
)
def sampling_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    mix = corpus_mixture(spark, sf_dir).select(
        F.lit("mixture").alias("part"),
        F.col("source").alias("key"),
        F.col("n_rows").cast("long").alias("n1"),
        F.col("total_chars").alias("v1"),
    )
    strat = stratified_sample(spark, sf_dir).select(
        F.lit("stratified").alias("part"),
        F.col("lang").alias("key"),
        F.col("n_sampled").alias("n1"),
        F.lit(None).cast("long").alias("v1"),
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    cons = consistent_sample_k(d, "doc_id", CONSISTENT_K).select(
        F.lit("consistent_k").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("doc_id").alias("n1"),
        F.lit(None).cast("long").alias("v1"),
    )
    # 'shard' part (r6 consolidation): the full global shuffle+shard
    # layout — every doc's shard and reproducible within-shard
    # position independently hash-checked; frees the standalone slot
    # for the promoted bpe_suite.
    shard = global_shuffle_shard(spark, sf_dir).select(
        F.lit("shard").alias("part"),
        F.col("doc_id").cast("string").alias("key"),
        F.col("shard").cast("long").alias("n1"),
        F.col("pos").cast("long").alias("v1"),
    )
    # 'temp' part (late r6): the temperature-weighted mixture census.
    temp = temperature_mixture(spark, sf_dir).select(
        F.lit("temp").alias("part"),
        F.col("lang").alias("key"),
        F.col("n_rows").cast("long").alias("n1"),
        F.col("total_chars").alias("v1"),
    )
    return (
        mix.unionByName(strat)
        .unionByName(cons)
        .unionByName(shard)
        .unionByName(temp)
    )


# ------------------------------------------------- global shuffle+shard

# Training-data export: a reproducible global shuffle of the corpus
# into N balanced shards, each with a deterministic within-shard
# order. The shuffle key is md5 over (doc_id, seed) — a PORTABLE hash
# (the simhash/dedup precedent), so shard assignment and order are
# pure functions of the table that survive re-reads, repartitioning,
# and engine swaps, and the DuckDB oracle replays them exactly.
#
# 100 TB shape: ONE hash shuffle on `shard` + a per-shard sort — the
# exact exchange a sharded writer (write.partitionBy / bucketBy) needs
# anyway, so the layout is free at write time. The 60-bit key is
# uniform ⇒ shards are balanced within ~√n; no skew, no salting
# needed. N_SHARDS here is 8 for the testdata; a real export sizes it
# to target-file-size (corpus_bytes / ~1 GB), which only changes the
# modulus. Per-shard order = (key, doc_id): scanning a shard replays
# the same document permutation every epoch — what reproducible
# training runs require. (N_SHARDS/SHARD_SEED are defined at the top
# of the module.)


def shard_key_col(doc_id: Column) -> Column:
    """60-bit portable shuffle key: first 15 hex chars of
    md5('<doc_id>:<seed>') — non-negative, so % and pmod agree."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", doc_id.cast("string"), F.lit(str(SHARD_SEED)))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


@builder("global_shuffle_shard", _SHARD_SQL)
def global_shuffle_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, shard, pos): the full shard layout — which shard each
    document lands in and its position in that shard's reproducible
    scan order. See the section comment for the 100 TB write shape.
    Builder since r6: registered as sampling_suite's 'shard' part
    (identical output, part-tagged), freeing the slot for bpe_suite."""
    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id",
        shard_key_col(F.col("doc_id")).alias("__k"),
    ).select(
        "doc_id",
        "__k",
        F.pmod(F.col("__k"), F.lit(N_SHARDS)).cast("int").alias("shard"),
    )
    w = Window.partitionBy("shard").orderBy("__k", "doc_id")
    return keyed.select(
        "doc_id", "shard", F.row_number().over(w).alias("pos")
    )


def consistent_sample_k(
    df: DataFrame, id_col: str, k: int, seed: int = SHARD_SEED
) -> DataFrame:
    """Deterministic fixed-size uniform sample: the k rows with the
    smallest md5 shuffle key (min-wise / bottom-k consistent sampling).
    Engine-portable and stable across re-reads and repartitionings —
    unlike `sample()`/`TABLESAMPLE`, whose membership depends on
    partition order — and monotone in k (the k=100 sample contains the
    k=50 sample), which lets a pipeline grow an eval slice without
    resampling. Compiles to TakeOrderedAndProject: per-partition
    bottom-k, k-row driver merge, no global sort."""
    key = shard_key_col(F.col(id_col))
    return (
        df.withColumn("__k", key)
        .orderBy("__k", id_col)
        .limit(k)
        .drop("__k")
    )


def write_shuffled_shards(df: DataFrame, doc_id: str, path: str, n_shards: int = N_SHARDS) -> None:
    """Materialize the shuffle+shard layout: one directory per shard
    (parquet partitionBy), rows sorted by the shuffle key inside each
    shard so a sequential shard read replays the layout's `pos` order.
    repartition(n, shard) + sortWithinPartitions is the single
    exchange+sort the layout already implies — no extra shuffle."""
    keyed = df.withColumn("__k", shard_key_col(F.col(doc_id))).withColumn(
        "shard", F.pmod(F.col("__k"), F.lit(n_shards)).cast("int")
    )
    (
        keyed.repartition(n_shards, "shard")
        .sortWithinPartitions("shard", "__k", doc_id)
        .drop("__k")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path)
    )
