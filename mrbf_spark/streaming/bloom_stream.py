"""Streaming Bloom probe: a static per-key filter table joined into a
Structured Streaming pipeline — the streaming half of the semi-join
pruning story (e.g. drop already-seen document ids from an ingest
stream before the expensive exact dedup).

Static-stream joins are Catalyst-native: the stream goes through the
batch `probe_bloom_filters` unchanged — the static side is broadcast
once and every micro-batch runs the same bit-test expression. That
`forall` is a higher-order function, so it is evaluated outside
whole-stage codegen (ROADMAP Open item 1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..bloom.core import probe_bloom_filters
from ..tables import load_events_stream


def streaming_bloom_probe(
    spark: SparkSession,
    sf_dir: str,
    filters: DataFrame,
    k: int,
    *,
    key_col: str = "event_type",
    value_col: str = "user_id",
    query_name: str = "bloom_stream",
):
    """readStream(events) → broadcast-probe the static filter table →
    per-key hit/miss counts → memory sink. Returns the started query.
    With `k` given and broadcast forced, the probe runs no action, so
    it plans on a stream.
    """
    raw = load_events_stream(spark, f"{sf_dir}/events.parque[t]")
    probed = probe_bloom_filters(raw, key_col, value_col, filters, k=k, broadcast=True)
    counts = probed.groupBy(F.col(key_col).cast("string").alias("key")).agg(
        F.sum("bloom_hit").cast("long").alias("hits"),
        F.count(F.lit(1)).alias("n"),
    )
    return (
        counts.writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .start()
    )
