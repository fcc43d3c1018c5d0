"""Accuracy bounds for the sketch aggregates vs their exact twins."""

from __future__ import annotations

import pyspark.sql.functions as F

from mrbf_spark.catalog import queries
from mrbf_spark.tables import load_table

from conftest import SF_SMOKE


def test_approx_aggregates_within_bounds(spark):
    from mrbf_spark.operators.relational import approx_aggregates_raw

    approx = {
        r["l_returnflag"]: r
        for r in approx_aggregates_raw(spark, SF_SMOKE).collect()
    }
    li = load_table(spark, SF_SMOKE, "lineitem")
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("parts"),
            F.expr("percentile(l_extendedprice, 0.5)").alias("median_price"),
        )
        .collect()
    }
    for flag, a in approx.items():
        e = exact[flag]
        assert abs(a["approx_parts"] - e["parts"]) / e["parts"] < 0.1  # HLL ~2% rsd
        assert abs(a["approx_median_price"] - e["median_price"]) / e["median_price"] < 0.2


def test_session_window_consistent_with_lag_cumsum(spark):
    """Two session formulations (built-in session_window vs
    lag/cumsum) must agree on sessions-per-user."""
    from mrbf_spark.streaming.windows import session_window_agg

    sw = session_window_agg(spark, SF_SMOKE)
    per_user_sw = {
        r["user_id"]: r["n"]
        for r in sw.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    lag = queries()["sessionization"](spark, SF_SMOKE)
    per_user_lag = {r["user_id"]: r["n_sessions"] for r in lag.collect()}
    assert per_user_sw == per_user_lag
