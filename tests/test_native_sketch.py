"""Comparison mode vs Spark's built-in Bloom sketch
(df.stat.bloomFilter, spark.util.sketch.BloomFilter) — SURVEY §7 B4:
our packed-bitset filters must behave statistically like the JVM
sketch at the same geometry.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from mrbf_spark.bloom import build_bloom_filters, probe_bloom_filters
from mrbf_spark.bloom.pipeline import train_test_split
from mrbf_spark.tables import load_table

from conftest import SF_SMOKE


def test_fp_rate_comparable_to_spark_native_sketch(spark):
    """Same train/test split, same p: our filter's FP count and the
    JVM sketch's must both land within a generous binomial band of p
    (they use different hash families, so only the statistics match)."""
    p = 0.05
    orders = load_table(spark, SF_SMOKE, "orders")
    train, test = train_test_split(orders)
    n_train = train.count()
    n_test = test.count()

    # ours (single key covering the whole table)
    f = build_bloom_filters(
        train.withColumn("__g", F.lit("all")), "__g", "o_orderkey", p
    )
    probed = probe_bloom_filters(
        test.withColumn("__g", F.lit("all")), "__g", "o_orderkey", f, k=5
    )
    ours_fp = probed.filter(F.col("bloom_hit") == 1).count()

    # Spark's sketch at the same expected insertions + fpp. The
    # Python stat API doesn't expose bloomFilter; go through the JVM
    # handle (same sketch class a Scala job would use).
    jdf = train.select(F.col("o_orderkey").cast("string").alias("v"))._jdf
    sketch = jdf.stat().bloomFilter("v", n_train, float(p))
    native_fp = sum(
        1
        for r in test.select(F.col("o_orderkey").cast("string").alias("v")).collect()
        if sketch.mightContainString(r["v"])
    )

    sigma = (n_test * p * (1 - p)) ** 0.5
    for name, fp in (("ours", ours_fp), ("native", native_fp)):
        assert abs(fp - n_test * p) < 5 * sigma, f"{name}: fp={fp}, n={n_test}, p={p}"
