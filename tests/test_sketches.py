"""Deterministic sketch family (functions/sketches.py): KMV distinct
and count-min frequency. The md5 hash family makes every property
testable as exact VALUE equality, not a distributional claim."""

import pytest
from pyspark.sql import functions as F

from mrbf_spark.functions.sketches import (
    CMS_DEPTH,
    KMV_K,
    cms_counters,
    cms_probe,
    kmv_estimate,
    kmv_sketch,
)


@pytest.fixture(scope="module")
def items(spark):
    # 3 groups × overlapping item universes; > KMV_K distinct in g0 so
    # the estimation path engages, < KMV_K in g2 so the exact path does.
    rows = (
        [("g0", i) for i in range(500) for _ in (0, 1)]
        + [("g1", i) for i in range(64, 364)]
        + [("g2", i) for i in range(40)]
    )
    return spark.createDataFrame(rows, "grp string, item long")


def test_kmv_estimate_within_envelope_and_exact_below_k(items):
    est = {r["grp"]: r for r in kmv_estimate(kmv_sketch(items, "grp", "item")).collect()}
    # g2 has 40 < k distinct: the sketch saw every hash, estimate exact.
    assert est["g2"]["kmv_n"] == 40 and est["g2"]["est"] == 40.0
    # g0/g1 engage the (k-1)·2^60/h_(k) estimator: within 4/√k ≈ 50%.
    for grp, true_n in (("g0", 500), ("g1", 300)):
        assert est[grp]["kmv_n"] == KMV_K
        assert abs(est[grp]["est"] - true_n) / true_n < 0.5, (grp, est[grp]["est"])


def test_kmv_partition_invariant(items):
    one = {(r["grp"], r["rnk"]): r["h"] for r in kmv_sketch(items.coalesce(1), "grp", "item").collect()}
    many = {(r["grp"], r["rnk"]): r["h"] for r in kmv_sketch(items.repartition(13), "grp", "item").collect()}
    assert one == many


def test_cms_never_underestimates_and_exact_when_sparse(spark):
    # 30 distinct items in a 4×512 grid: collisions possible but the
    # min over 4 rows almost surely isolates; CMS >= truth ALWAYS.
    rows = [(f"u{i % 30}",) for i in range(3000)]
    df = spark.createDataFrame(rows, "item string")
    truth = {r["item"]: r["n"] for r in df.groupBy("item").agg(F.count(F.lit(1)).alias("n")).collect()}
    grid = cms_counters(df, "item")
    probes = spark.createDataFrame([(k,) for k in truth], "item string")
    got = {r["item"]: r["cms_n"] for r in cms_probe(grid, probes).collect()}
    assert set(got) == set(truth)
    assert all(got[k] >= truth[k] for k in truth)
    # total grid mass per depth row == row count (counters partition the stream)
    mass = {
        r["i"]: r["s"]
        for r in grid.groupBy("i").agg(F.sum("cnt").alias("s")).collect()
    }
    assert mass == {i: 3000 for i in range(CMS_DEPTH)}


def test_cms_grid_merge_is_counter_addition(spark):
    """CMS(A ∪ B) == elementwise CMS(A) + CMS(B): the merge is a
    groupBy-sum over grids — associative, partition-invariant."""
    rows = [(f"u{i % 50}",) for i in range(2000)]
    df = spark.createDataFrame(rows, "item string")
    a = df.filter(F.abs(F.hash("item")) % 2 == 0)
    b = df.filter(F.abs(F.hash("item")) % 2 == 1)
    summed = {
        (r["i"], r["bucket"]): r["cnt"]
        for r in cms_counters(a, "item")
        .unionByName(cms_counters(b, "item"))
        .groupBy("i", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    }
    direct = {
        (r["i"], r["bucket"]): r["cnt"] for r in cms_counters(df, "item").collect()
    }
    assert summed == direct


def test_stats_aggregates_sketch_parts_flags_green(spark):
    """The registered union's kmv/cms parts at sf0.001: every ok flag
    is 1 (KMV inside its envelope, CMS never underestimates)."""
    from mrbf_spark.operators.relational import stats_aggregates

    rows = stats_aggregates(spark, "/root/testdata/sf0.001").collect()
    parts = {r["part"] for r in rows}
    assert {"approx", "median", "kmv", "cms", "qtl"} <= parts
    sk = [r for r in rows if r["part"] in ("kmv", "cms", "qtl")]
    assert sk and all(r["ok1"] == 1 for r in sk)


def test_quantile_sketch_estimates_land_near_the_median(spark):
    """The registered builder at sf0.001: every group's estimate sits
    within the 0.5±0.12 quantile-position envelope (ok=1), and the
    position statistic is consistent with (n, n_le)."""
    from mrbf_spark.functions.sketches import quantile_sketch

    rows = quantile_sketch(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        assert r["ok"] == 1, (r["key"], r["stat"], r["n"])
        assert abs(r["stat"] / r["n"] - 0.5) <= 0.12


def test_sample_median_rank_semantics(spark):
    """Discrete median = value at rank ⌈m/2⌉ of the sample, ties by
    hash — checked against a hand-computed tiny sample."""
    from mrbf_spark.functions.sketches import sample_median

    rows = [("g", h, float(v)) for h, v in [(1, 50.0), (2, 10.0), (3, 40.0), (4, 20.0), (5, 30.0)]]
    s = spark.createDataFrame(rows, "grp string, h long, value double")
    got = sample_median(s).collect()
    assert [(r["grp"], r["est"]) for r in got] == [("g", 30.0)]
    even = spark.createDataFrame(rows[:4], "grp string, h long, value double")
    got2 = sample_median(even).collect()
    # m=4 -> rank floor(5/2)=2 -> second smallest value = 20.0
    assert [(r["grp"], r["est"]) for r in got2] == [("g", 20.0)]


def test_sketch_builders_match_duckdb_with_null_items(spark, tmp_path):
    """The NULL-portability rule pinned end-to-end: on a corpus where
    NULL user_id is frequent enough to matter (even top-10-frequent),
    the kmv_distinct and cms_frequencies builders still hash-match
    their DuckDB twins (NULLs dropped identically on both engines)."""
    import os as _os
    import sys as _sys

    import duckdb
    from pyspark.sql import functions as F2

    _sys.path.insert(
        0,
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "tools"
        ),
    )
    from check_correctness import compare

    from mrbf_spark.functions.sketches import cms_frequencies, kmv_distinct
    from mrbf_spark.registry import BUILDER_SQL
    from mrbf_spark.tables import load_table
    from conftest import SF_SMOKE

    ev = load_table(spark, SF_SMOKE, "events").withColumn(
        "user_id",
        F2.when(F2.col("event_id") % 3 == 0, F2.lit(None).cast("long")).otherwise(
            F2.col("user_id")
        ),
    )
    null_dir = str(tmp_path / "nullev")
    ev.write.parquet(null_dir)

    # builders load via load_table(spark, sf_dir, 'events') — stage a
    # sf-dir-shaped directory holding only the nulled events table
    sf_dir = str(tmp_path / "sf")
    _os.makedirs(sf_dir)
    _os.symlink(null_dir, _os.path.join(sf_dir, "events.parquet"))

    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM read_parquet('{null_dir}/*.parquet')"
    )
    for name, fn in (("kmv_distinct", kmv_distinct), ("cms_frequencies", cms_frequencies)):
        spark_pdf = fn(spark, sf_dir).toPandas()
        duck_pdf = con.sql(BUILDER_SQL[name]).df()
        problems = compare(name, spark_pdf, duck_pdf)
        assert not problems, problems
        assert len(spark_pdf) > 0


def test_cms_heavy_hitters_exact_and_complete(spark):
    """Sketch-pruned aggregation: output == the naive
    groupBy-count-filter EXACTLY (completeness is the
    never-underestimates theorem, precision is the final exact
    filter), and the map-side prune drops most of the long tail
    before the shuffle."""
    from mrbf_spark.functions.sketches import (
        CMS_WIDTH,
        _bucketed_items,
        _grid_estimate,
        _grid_from_buckets,
        cms_heavy_hitters,
    )

    # Zipf-ish: a few heavy items over a long unique tail
    rows = (
        [(f"hot{i % 5}",) for i in range(5000)]
        + [(f"warm{i % 50}",) for i in range(2000)]
        + [(f"tail{i}",) for i in range(8000)]
    )
    df = spark.createDataFrame(rows, "item string")
    for t in (100, 900):
        got = {
            r["item"]: r["n"] for r in cms_heavy_hitters(df, "item", t).collect()
        }
        want = {
            r["item"]: r["n"]
            for r in df.groupBy("item")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") >= t)
            .collect()
        }
        assert got == want and got, (t, len(got))

    # the prune actually prunes: tail rows whose estimate < t never
    # reach the exact aggregation (the bucket rows and grid-estimate
    # filter cms_heavy_hitters applies)
    b = _bucketed_items(df, "item", CMS_DEPTH, CMS_WIDTH)
    grid = _grid_from_buckets(b, CMS_DEPTH).collect()
    survivors = b.filter(_grid_estimate(grid, CMS_DEPTH, CMS_WIDTH) >= 900).count()
    assert survivors < len(rows) // 2, survivors  # most of 15k rows dropped
