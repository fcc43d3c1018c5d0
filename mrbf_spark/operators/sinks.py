"""Source/sink operators (SURVEY.md §2.1): the reference's text/TSV
scans (S1/S2), text sinks (S7), pickle/SequenceFile filter persistence
(S8/S9 → parquet here), and the getmerge coalesce (S11) — each as a
write→read round-trip whose final result is oracle-checkable against
the original parquet tables (the round-trip must be lossless, so the
oracle never sees the intermediate file).

Round-trip scratch space lives under the repo (.tmp/, gitignored);
paths are sf-suffixed so concurrent runs at different scale factors
don't collide.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ..bloom import build_bloom_filters
from ..exprs import dsum, dsum_sql
from ..registry import register
from ..tables import load_table

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".tmp")


def scratch(sf_dir: str, name: str) -> str:
    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1]
    return os.path.join(_SCRATCH, f"{name}_{tag}")


# --- S1+S7+S11: TSV sink → TSV scan (the reference's native format:
# header'd, tab-separated; coalesce(1) mirrors the getmerge step).
# The round trip must preserve values exactly: longs and strings are
# textually lossless, and the double column is round-tripped via
# Spark's shortest-repr formatting which parses back to the same bits.
def tsv_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.text_files import read_tsv, write_tsv

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_extendedprice"
    )
    path = scratch(sf_dir, "tsv_lineitem")
    write_tsv(li, path, single_file=True)
    schema = T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_extendedprice", T.DoubleType()),
        ]
    )
    back = read_tsv(spark, path, schema)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_extendedprice").alias("sum_price")
    )


# --- S8/S9: filter persistence. The reference pickles `(rating,
# list[bool])` (bloomfilters_builder.py:100) / writes SequenceFiles
# (BloomFilterBuilder.java:74-75); here the packed filter table goes to
# parquet and comes back bit-identical. Oracle = the sizing oracle
# (geometry survives the round trip).
def filter_parquet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    filters = build_bloom_filters(orders, "o_orderpriority", "o_orderkey", 0.01)
    path = scratch(sf_dir, "filters")
    filters.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).select("key", "n", "m", "k")


# --- M8: output formatting — the reference's "rating\tcount" text
# render (count-number-of-keys.py:37, TesterResultsWritable.java:45-49).
def formatted_output(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.format_string(
            "%s\t%d", F.col("o_orderpriority"), F.count(F.lit(1))
        ).alias("line")
    ).select("line")


# --- all four format/sink round-trips in ONE registration (merged to
# keep the catalog inside the driver's 50-query correctness window —
# VERDICT r1 #1). Each branch still runs its full write→read→agg plan:
# TSV (S1/S7/S11 getmerge), JSONL, filter-table parquet (S8/S9), and
# the reference's "key\tcount" text render (M8). Branch outputs are
# normalized to one schema; NULL columns mark not-applicable slots.
@register(
    "format_roundtrips",
    f"""
    SELECT 'tsv' AS fmt, l_returnflag AS key, COUNT(*) AS n,
           {dsum_sql('l_extendedprice')} AS v1,
           CAST(NULL AS BIGINT) AS l1, CAST(NULL AS BIGINT) AS l2
    FROM lineitem GROUP BY l_returnflag
    UNION ALL
    SELECT 'jsonl' AS fmt, lang AS key, COUNT(*) AS n,
           CAST(NULL AS DOUBLE) AS v1,
           CAST(SUM(n_chars) AS BIGINT) AS l1, CAST(NULL AS BIGINT) AS l2
    FROM documents GROUP BY lang
    UNION ALL
    SELECT 'filters' AS fmt, CAST(o_orderpriority AS VARCHAR) AS key,
           COUNT(*) AS n, CAST(NULL AS DOUBLE) AS v1,
           CAST(CEIL(-COUNT(*) * LN(0.01) / (LN(2) * LN(2))) AS BIGINT) AS l1,
           CAST(CEIL(-LN(0.01) / LN(2)) AS BIGINT) AS l2
    FROM orders GROUP BY o_orderpriority
    UNION ALL
    SELECT 'formatted' AS fmt, printf('%s\t%d', o_orderpriority, COUNT(*)) AS key,
           CAST(NULL AS BIGINT) AS n, CAST(NULL AS DOUBLE) AS v1,
           CAST(NULL AS BIGINT) AS l1, CAST(NULL AS BIGINT) AS l2
    FROM orders GROUP BY o_orderpriority
    """,
)
def format_roundtrips(spark: SparkSession, sf_dir: str) -> DataFrame:
    nl = lambda: F.lit(None).cast("long")  # noqa: E731
    nd = lambda: F.lit(None).cast("double")  # noqa: E731
    tsv = tsv_roundtrip_agg(spark, sf_dir).select(
        F.lit("tsv").alias("fmt"), F.col("l_returnflag").alias("key"), "n",
        F.col("sum_price").alias("v1"), nl().alias("l1"), nl().alias("l2"),
    )
    jsonl = jsonl_roundtrip_agg(spark, sf_dir).select(
        F.lit("jsonl").alias("fmt"), F.col("lang").alias("key"),
        F.col("n_docs").alias("n"), nd().alias("v1"),
        F.col("total_chars").alias("l1"), nl().alias("l2"),
    )
    filt = filter_parquet_roundtrip(spark, sf_dir).select(
        F.lit("filters").alias("fmt"), "key", "n", nd().alias("v1"),
        F.col("m").alias("l1"), F.col("k").cast("long").alias("l2"),
    )
    fmt = formatted_output(spark, sf_dir).select(
        F.lit("formatted").alias("fmt"), F.col("line").alias("key"),
        nl().alias("n"), nd().alias("v1"), nl().alias("l1"), nl().alias("l2"),
    )
    return tsv.unionByName(jsonl).unionByName(filt).unionByName(fmt)


# --- bucketed tables + co-located join: both sides written
# bucketBy(orderkey) + sortBy, so the join needs NO Exchange on
# either side (plan-pinned in test_plans) — the repeated-join
# workhorse at 100 TB: pay the bucketing shuffle once at write time,
# join shuffle-free forever after. On the tuned session (session.py
# sets spark.sql.legacy.bucketedTableScan.outputOrdering, honored
# because repartition-before-bucketBy guarantees ONE file per bucket)
# the SMJ's per-partition Sort is elided too — zero Sort, one
# Exchange (the final agg) in the whole plan; on a vanilla session
# Spark re-sorts the already-sorted buckets, a cheap linear pass.
# Local-mode in-memory catalog backs saveAsTable with native parquet
# bucketing (no Hive).
N_BUCKETS = 8


@register(
    "bucketed_join_agg",
    f"""
    SELECT o.o_orderpriority, COUNT(*) AS n_items,
           {dsum_sql('l.l_extendedprice')} AS total_price
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    tag = sf_dir.rstrip("/").rsplit("/", 1)[-1].replace(".", "_")
    li_tbl, o_tbl = f"li_bucketed_{tag}", f"o_bucketed_{tag}"
    # A fresh session's in-memory catalog forgets tables but their
    # warehouse directories survive — drop both layers before writing.
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse").replace(
        "file:", ""
    )
    for tbl in (li_tbl, o_tbl):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        shutil.rmtree(os.path.join(warehouse, tbl), ignore_errors=True)
    # repartition on the bucket key first → exactly one file per
    # bucket, which is what lets the read side trust sortBy's order
    # and elide the per-partition Sort under the join (with multiple
    # files per bucket Spark must re-sort).
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice")
        .repartition(N_BUCKETS, "l_orderkey")
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority")
        .repartition(N_BUCKETS, "o_orderkey")
    )
    (
        li.write.bucketBy(N_BUCKETS, "l_orderkey")
        .sortBy("l_orderkey")
        .mode("overwrite")
        .saveAsTable(li_tbl)
    )
    (
        o.write.bucketBy(N_BUCKETS, "o_orderkey")
        .sortBy("o_orderkey")
        .mode("overwrite")
        .saveAsTable(o_tbl)
    )
    # MERGE hint: at small SFs Catalyst would broadcast the dim and
    # never exercise the bucket layout; the point of this query is the
    # co-located sort-merge path (at 100 TB neither side broadcasts).
    lib, ob = spark.table(li_tbl).hint("merge"), spark.table(o_tbl)
    return (
        lib.join(ob, lib.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum("l_extendedprice").alias("total_price"),
        )
    )


# --- JSONL sink → JSONL scan: the training-data interchange staple
# (one JSON object per line). String escaping is lossless for
# arbitrary document text; longs round-trip textually. Schema'd read
# (never inferSchema at scale — it double-scans the input).
def jsonl_roundtrip_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "n_chars"
    )
    path = scratch(sf_dir, "jsonl_documents")
    docs.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    )
    back = spark.read.schema(schema).json(path)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


# --- partitioned sink + partition-pruned scan: write partitioned by a
# key, read back with a partition predicate — the scan must touch only
# the matching directory (PartitionFilters; pinned in test_plans).
@register(
    "partitioned_sink_prune",
    f"""
    SELECT l_linestatus, COUNT(*) AS n, {dsum_sql('l_extendedprice')} AS sum_price
    FROM lineitem WHERE l_returnflag = 'R'
    GROUP BY l_linestatus
    """,
)
def partitioned_sink_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_linestatus", "l_extendedprice"
    )
    path = scratch(sf_dir, "li_partitioned")
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(path)
    back = spark.read.parquet(path).filter(F.col("l_returnflag") == "R")
    return back.groupBy("l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_extendedprice").alias("sum_price")
    )
