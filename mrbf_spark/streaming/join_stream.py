"""Batch interval join over `events`: click → purchase attribution
within a horizon (the reference has no event-time operators,
SURVEY.md §2.8).

Semantics: inner join of clicks and purchases on user_id with the
purchase inside [click_ts, click_ts + JOIN_HORIZON). It is the
interval part of the `temporal_joins` entry, hash-matched against the
DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..tables import load_table

JOIN_HORIZON = "30 minutes"


def clicks_to_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every (click, purchase) pair per user with the purchase within
    JOIN_HORIZON after the click."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id"),
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return clicks.join(purchases, "user_id").filter(
        (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") < F.col("click_ts") + F.expr(f"INTERVAL {JOIN_HORIZON}"))
    )

