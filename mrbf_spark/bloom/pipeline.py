"""End-to-end Bloom pipeline — the reference's four-job sequence
(sh-scripts/0..3: split → linecount → builder → tester) as one
declarative dataflow.

The reference runs this over IMDb ratings keyed by the half-up-rounded
average rating (bloomfilters_util.py:96-98). The TESTDATA instantiation
keys `orders` by `o_orderpriority` and uses `o_orderkey` as the element
(unique per row, so the 60/40 split's halves are value-disjoint and
every probe hit in the test half is by construction a false positive —
exactly the property the reference tester measures,
bloomfilters_tester.py:27-42).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .core import build_bloom_filters, fp_report, probe_bloom_filters
from ..registry import scoped_cache

DEFAULT_P = 0.01
SPLIT_SEED = 42


def train_test_split(
    df: DataFrame, weights=(0.6, 0.4), seed: int = SPLIT_SEED
) -> tuple[DataFrame, DataFrame]:
    """60/40 random split (util/split-dataset.py:36 — which is
    unseeded; we seed for determinism, SURVEY.md §1.6)."""
    train, test = df.randomSplit(list(weights), seed=seed)
    return train, test


def half_up_key(col) -> F.Column:
    """Half-up rounding key — floor(x + 0.5), NOT round() (banker's /
    half-even in some engines). Reproduces bloomfilters_util.py:98 and
    BloomFilterMapper.java:84; see SURVEY.md §1.3."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(c + F.lit(0.5)).cast("int")


def bloom_fp_pipeline(
    df: DataFrame,
    key_col: str,
    value_col: str,
    p: float = DEFAULT_P,
    seed: int = SPLIT_SEED,
) -> DataFrame:
    """split → build on train → probe test → per-key FP report.

    Output: (key, false_positives, total_tests, fp_rate), the tester's
    result shape (bloomfilters_tester.py:107-112). With a unique
    value_col the measured fp_rate should be ≈ p.
    """
    from .sizing import num_hashes

    train, test = train_test_split(df, seed=seed)
    filters = build_bloom_filters(train, key_col, value_col, p)
    probed = probe_bloom_filters(
        test, key_col, value_col, filters, k=num_hashes(p), broadcast=True
    )
    return fp_report(probed, key_col)


def bloom_fp_sweep(
    df: DataFrame,
    key_col: str,
    value_col: str,
    ps: list[float],
    seed: int = SPLIT_SEED,
) -> DataFrame:
    """The reference's p-sweep (sh-scripts/{2,3}{a,b}.sh loop p over
    {0.01, 0.05, 0.1}, one spark-submit pair each) as ONE application:
    split once, build+probe per p over the same cached halves, union
    the per-key reports tagged by p.

    Output: (key, p, false_positives, total_tests, fp_rate) — the long
    form of the report's §6 accuracy table. The split is shared across
    p (the reference reuses its HDFS split output the same way), so a
    sweep costs one split + |ps| build/probe passes, not |ps| splits.
    """
    from .sizing import num_hashes

    train, test = train_test_split(df, seed=seed)
    train, test = scoped_cache(train), scoped_cache(test)
    reports = []
    for p in ps:
        filters = build_bloom_filters(train, key_col, value_col, p)
        probed = probe_bloom_filters(
            test, key_col, value_col, filters, k=num_hashes(p), broadcast=True
        )
        reports.append(
            fp_report(probed, key_col).withColumn("p", F.lit(float(p)))
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.select("key", "p", "false_positives", "total_tests", "fp_rate")
