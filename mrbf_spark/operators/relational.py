"""Relational operator catalog (SURVEY.md §2, group B1) — the
reference's scan/project/filter/map/reduce/join inventory re-expressed
as Catalyst plans over the TESTDATA star schema, each with a DuckDB
oracle.

Design notes per operator cite the reference operator IDs from
SURVEY.md §2 (P=predicate, M=map, A=aggregation, J=join, S=source,
O=order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W, functions as F

from ..exprs import davg, davg_sql, dfix, dfix_sql, dsum, dsum_sql
from ..registry import BUILDER_SQL, builder, register, scoped_cache
from ..tables import load_table
from .tpch_ext import (
    CUSTOMER_EXT_SQL,
    LINEITEM_EXT_SQL,
    PART_EXT_SQL,
    PARTSUPP_SQL,
    SUPPLIER_EXT_SQL,
    customer_ext,
    lineitem_ext,
    part_ext,
    partsupp,
    supplier_ext,
)


# --- A1+A3+M7: grouped aggregation, TPC-H Q1 shape. The reference's
# linecount (grouped count) and tester reduce (grouped sums + ratio)
# generalized to the canonical pricing-summary query. Catalyst gives
# partial aggregation (the reference hand-rolls it via reduceByKey)
# and pushes the shipdate filter into the parquet scan.
@register(
    "q1_pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
           {dsum_sql('l_quantity')} AS sum_qty,
           {dsum_sql('l_extendedprice')} AS sum_base_price,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {dsum_sql('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
           {davg_sql('l_quantity')} AS avg_qty,
           {davg_sql('l_extendedprice')} AS avg_price,
           {davg_sql('l_discount')} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(disc_price * (1 + F.col("l_tax")), 6).alias("sum_charge"),
            davg("l_quantity").alias("avg_qty"),
            davg("l_extendedprice").alias("avg_price"),
            davg("l_discount").alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --- A1 + M2: grouped count keyed by the half-up rounding the
# reference hard-codes (floor(x+0.5), bloomfilters_util.py:98 — NOT
# round(), which is half-even for doubles in both engines).
# Builder since r4: registered via the consolidated
# `grouped_ratio_metrics` (with M7 ratio_metric) to free catalog slots
# for the LLM-pipeline entries; bench still times it by name.
@builder(
    "grouped_count_halfup",
    """
    SELECT CAST(FLOOR(value + 0.5) AS BIGINT) AS value_key, COUNT(*) AS n
    FROM events GROUP BY 1
    """,
)
def grouped_count_halfup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.floor(F.col("value") + 0.5).cast("long").alias("value_key"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


# --- P1+P2: projection + predicate; filter and 3-column ReadSchema
# push down to the parquet scan (verified via explain in tests).
# Builder since r4: registered via `projection_union_scan` (with S6).
@builder(
    "projection_filter",
    """
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem WHERE l_shipdate < TIMESTAMP '1996-01-01'
    """,
)
def projection_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp")).select(
        "l_orderkey", "l_linenumber", "l_extendedprice"
    )


# --- J1: the reference tester's hand-rolled build-side-first join
# (secondary sort + custom partitioner, ~140 LoC of Java) is exactly a
# broadcast hash join on the small side. Dims (nation, customer at
# this scale) are broadcast explicitly; at 100 TB orders stays the
# probe side and never shuffles for the dim joins.
@register(
    "broadcast_join_agg",
    f"""
    SELECT n.n_name, COUNT(*) AS n_orders,
           {dsum_sql('o.o_totalprice')} AS revenue
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def broadcast_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("revenue"))
    )


# --- J3: semi-join — the reference's implicit keep-if-key-known
# filter (BloomFilterMapper.java:89-93) as a first-class LEFT SEMI.
@builder(
    "semi_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


# --- anti-join (extension: NOT EXISTS twin of J3): customers who
# never placed an urgent order — nontrivial at every sf.
@builder(
    "anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    """,
)
def anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


# --- O1 generalized: top-k per group via window row_number (the
# reference's secondary sort is the degenerate k=1 of this). Unique
# (orderkey, linenumber) tie-break keeps the result deterministic.
#
# Scale note: the `rn <= 3` filter triggers Spark's WindowGroupLimit
# rewrite (3.5+): a PARTIAL per-partition top-k runs below the window
# Exchange, so shuffle input is bounded at partitions x groups x k
# rows no matter the fact-table size — the per-group analogue of
# TakeOrderedAndProject, entirely JVM-side. Pinned by
# test_topk_prunes_locally_before_window_shuffle; an Arrow
# mapInPandas pre-prune was measured 2x SLOWER at sf0.1 (adds a
# Python round trip to do what the JVM already does).
@builder(
    "topk_per_group",
    """
    SELECT * FROM (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS INT) AS rn
      FROM lineitem) t
    WHERE rn <= 3
    """,
)
def topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_returnflag").orderBy(
        F.col("l_extendedprice").desc(), "l_orderkey", "l_linenumber"
    )
    return (
        li.select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


# --- O3 + global sort/limit (TopK physical operator in Spark —
# no full sort at scale, each partition keeps 10 then driver merges).
@builder(
    "order_limit",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(10)
    )


# --- O1+O3 merged catalog entry: per-group top-k (WindowGroupLimit
# bounded shuffle) and global order+limit (TakeOrderedAndProject) are
# the two top-k physical strategies; one part-tagged registration
# keeps both driver-checked inside the 50-query window (the freed slot
# goes to `decontaminate`). Plan shapes stay pinned per-builder in
# test_plans.py.
@register(
    "topk_order_limit",
    """
    SELECT 'topk' AS part, l_returnflag AS flag, l_orderkey AS id,
           CAST(l_linenumber AS INT) AS ln, l_extendedprice AS price, rn
    FROM (
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             CAST(ROW_NUMBER() OVER (PARTITION BY l_returnflag
               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS INT) AS rn
      FROM lineitem) t
    WHERE rn <= 3
    UNION ALL
    SELECT 'order_limit' AS part, CAST(NULL AS VARCHAR) AS flag,
           o_orderkey AS id, CAST(NULL AS INT) AS ln,
           o_totalprice AS price, CAST(NULL AS INT) AS rn
    FROM (SELECT o_orderkey, o_totalprice FROM orders
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 10) o
    """,
)
def topk_order_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    topk = topk_per_group(spark, sf_dir).select(
        F.lit("topk").alias("part"),
        F.col("l_returnflag").alias("flag"),
        F.col("l_orderkey").alias("id"),
        F.col("l_linenumber").cast("int").alias("ln"),
        F.col("l_extendedprice").alias("price"),
        "rn",
    )
    ol = order_limit(spark, sf_dir).select(
        F.lit("order_limit").alias("part"),
        F.lit(None).cast("string").alias("flag"),
        F.col("o_orderkey").alias("id"),
        F.lit(None).cast("int").alias("ln"),
        F.col("o_totalprice").alias("price"),
        F.lit(None).cast("int").alias("rn"),
    )
    return topk.unionByName(ol)


# --- distinct aggregation (A1 extension): exact distinct per group.
@builder(
    "distinct_count",
    """
    SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS distinct_parts,
           COUNT(*) AS n_rows
    FROM lineitem GROUP BY l_returnflag
    """,
)
def distinct_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# --- S6: multi-source union scan (the Hadoop tester's MultipleInputs
# text+seqfile union) as unionByName over heterogeneous projections.
# Builder since r4: registered via `projection_union_scan` (with P1).
@builder(
    "union_scan",
    """
    SELECT p_partkey AS id, p_name AS name, 'part' AS src FROM part
    UNION ALL
    SELECT s_suppkey AS id, s_name AS name, 'supplier' AS src FROM supplier
    """,
)
def union_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("id"), F.col("p_name").alias("name"), F.lit("part").alias("src")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"), F.col("s_name").alias("name"), F.lit("supplier").alias("src")
    )
    return p.unionByName(s)


# --- §2.7 extension: JSON extraction (events.props) — semi-structured
# scalar path, JVM-side get_json_object.
@builder(
    "json_extract_agg",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("k_val", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(F.sum("k_val").alias("sum_k"), F.count(F.lit(1)).alias("n"))
    )


# --- M7: ratio / derived metric (the tester's fp_rate generalized):
# integer conditional sum / count, divided in double.
# Builder since r4: registered via `grouped_ratio_metrics` (with A1/M2).
@builder(
    "ratio_metric",
    """
    SELECT event_type,
           CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           COUNT(*) AS n,
           CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS high_ratio
    FROM events GROUP BY event_type
    """,
)
def ratio_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    flag = F.when(F.col("value") > 100, 1).otherwise(0)
    return ev.groupBy("event_type").agg(
        F.sum(flag).alias("n_high"),
        F.count(F.lit(1)).alias("n"),
        (F.sum(flag).cast("double") / F.count(F.lit(1))).alias("high_ratio"),
    )


# --- grouping-sets extension: ROLLUP (subtotals + grand total).
@builder(
    "rollup_agg",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           {dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")
    )


# --- pivot extension: per-returnflag quantity by linestatus.
@builder(
    "pivot_sum",
    f"""
    SELECT l_returnflag,
           {dsum_sql('l_quantity', filter_where="l_linestatus = 'O'")} AS qty_O,
           {dsum_sql('l_quantity', filter_where="l_linestatus = 'F'")} AS qty_F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(dsum("l_quantity"))
        .withColumnRenamed("O", "qty_O")
        .withColumnRenamed("F", "qty_F")
    )


# --- date/time extension: monthly revenue (date_trunc; cast to DATE on
# both sides — DuckDB's date_trunc returns DATE, Spark's TIMESTAMP).
# Builder since r4: registered as the 'trunc' part of `temporal_joins`.
@builder(
    "date_trunc_month",
    f"""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           COUNT(*) AS n_orders,
           {dsum_sql('o_totalprice')} AS revenue
    FROM orders GROUP BY 1
    """,
)
def date_trunc_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy(F.to_date(F.date_trunc("month", "o_orderdate")).alias("order_month"))
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("revenue"))
    )


# --- sessionization (gap > 30 min ⇒ new session) via lag + cumsum —
# the lag/cumsum formulation of `session_window_agg`'s session windows.
@register(
    "sessionization",
    """
    SELECT user_id,
           CAST(SUM(new_sess) + 1 AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM (
      SELECT user_id,
             CASE WHEN epoch(ts) - epoch(lag(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id)) > 1800.0
                  THEN 1 ELSE 0 END AS new_sess
      FROM events) t
    GROUP BY user_id
    """,
)
def sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ts_s = F.col("ts").cast("double")
    new_sess = F.when(ts_s - F.lag(ts_s).over(w) > 1800.0, 1).otherwise(0)
    return (
        ev.withColumn("new_sess", new_sess)
        .groupBy("user_id")
        .agg(
            (F.sum("new_sess") + 1).alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# --- set operations (extension; the reference's split halves are
# complementary samples, these are the declarative set-op forms).
@builder(
    "set_intersect",
    """
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return urgent.intersect(low)


@builder(
    "set_except",
    """
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    # subtract = set EXCEPT (drops ALL matching rows); exceptAll would
    # keep surplus duplicates from the left side.
    return urgent.subtract(low)


# --- bag-semantics set ops: EXCEPT ALL keeps left-side surplus
# duplicates (multiset difference), INTERSECT ALL keeps min
# multiplicities — counted per key, so the whole comparison is one
# aggregated row per custkey (deterministic, hash-matchable).
@builder(
    "bag_set_ops",
    """
    WITH ea AS (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      EXCEPT ALL
      SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'),
    ia AS (
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      INTERSECT ALL
      SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW')
    SELECT o_custkey,
           (SELECT COUNT(*) FROM ea e WHERE e.o_custkey = k.o_custkey) AS n_except_all,
           (SELECT COUNT(*) FROM ia i WHERE i.o_custkey = k.o_custkey) AS n_intersect_all
    FROM (SELECT DISTINCT o_custkey FROM orders
          WHERE o_orderpriority = '1-URGENT') k
    """,
)
def bag_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    ea = urgent.exceptAll(low).groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_except_all")
    )
    ia = urgent.intersectAll(low).groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_intersect_all")
    )
    keys = urgent.distinct()
    return (
        keys.join(ea, "o_custkey", "left")
        .join(ia, "o_custkey", "left")
        .select(
            "o_custkey",
            F.coalesce("n_except_all", F.lit(0)).cast("long").alias("n_except_all"),
            F.coalesce("n_intersect_all", F.lit(0)).cast("long").alias("n_intersect_all"),
        )
    )


# --- CUBE (all grouping-set combinations; ROLLUP's big sibling).
@builder(
    "cube_agg",
    f"""
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           {dsum_sql('l_quantity')} AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), dsum("l_quantity").alias("sum_qty")
    )


# --- scalar math surface (§2.7): IEEE-exact ops only (sqrt is
# correctly-rounded per IEEE-754; transcendentals like exp/ln are NOT
# bit-specified across runtimes and stay out of row-level outputs).
@builder(
    "scalar_math",
    """
    SELECT o_orderkey,
           SQRT(o_totalprice) AS sqrt_price,
           ABS(o_totalprice - 100000.0) AS abs_dev,
           CAST(FLOOR(o_totalprice / 1000.0) AS BIGINT) AS price_bucket,
           CAST(o_orderkey % 7 AS BIGINT) AS key_mod
    FROM orders
    """,
)
def scalar_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.sqrt("o_totalprice").alias("sqrt_price"),
        F.abs(F.col("o_totalprice") - 100000.0).alias("abs_dev"),
        F.floor(F.col("o_totalprice") / 1000.0).cast("long").alias("price_bucket"),
        (F.col("o_orderkey") % 7).cast("long").alias("key_mod"),
    )


# --- string function surface (§2.7): the portable core.
@builder(
    "string_funcs",
    """
    SELECT c_custkey,
           UPPER(c_name) AS upper_name,
           LOWER(c_mktsegment) AS lower_seg,
           SUBSTRING(c_name, 1, 8) AS name_prefix,
           CONCAT(c_mktsegment, '#', c_name) AS tagged,
           CAST(STRPOS(c_name, '0') AS INT) AS zero_pos,
           TRIM(c_name) AS trimmed,
           REVERSE(c_mktsegment) AS rev_seg
    FROM customer
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("upper_name"),
        F.lower("c_mktsegment").alias("lower_seg"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat(F.col("c_mktsegment"), F.lit("#"), F.col("c_name")).alias("tagged"),
        F.instr(F.col("c_name"), "0").cast("int").alias("zero_pos"),
        F.trim(F.col("c_name")).alias("trimmed"),
        F.reverse(F.col("c_mktsegment")).alias("rev_seg"),
    )


# --- HAVING (post-aggregation predicate).
@builder(
    "having_filter",
    f"""
    SELECT o_custkey, COUNT(*) AS n_orders, {dsum_sql('o_totalprice')} AS spend
    FROM orders GROUP BY o_custkey
    HAVING COUNT(*) >= 12
    """,
)
def having_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"), dsum("o_totalprice").alias("spend"))
        .filter(F.col("n_orders") >= 12)
    )


# --- scalar subquery: orders above the global mean price. The mean is
# decimal-exact (order-insensitive) so both engines agree bitwise;
# Catalyst plans the inner aggregate as a one-row subquery broadcast
# into the filter, i.e. two passes over orders, no join shuffle.
@builder(
    "scalar_subquery",
    f"""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice > (
      SELECT {davg_sql('o_totalprice')}
      FROM orders)
    """,
)
def scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("__orders_sq")
    # the Spark-SQL rendering of davg_sql's fixed-point rule: per-row
    # toward-zero trunc ((long) x), exact integer sum, one final
    # int→double conversion — see exprs.py's r7 portability note
    return spark.sql(
        """
        SELECT o_orderkey, o_totalprice FROM __orders_sq
        WHERE o_totalprice > (
          SELECT CAST(SUM(CAST(CAST(o_totalprice * 10000.0D AS BIGINT)
                              AS DECIMAL(38,0))) AS DOUBLE) / 10000.0D
                 / COUNT(*)
          FROM __orders_sq)
        """
    )


# --- correlated subquery (per-group threshold): lineitems priced above
# their order's average — decorrelates to a join on the group key.
@builder(
    "correlated_subquery",
    f"""
    SELECT l.l_orderkey, l.l_linenumber FROM lineitem l
    WHERE l.l_extendedprice > (
      SELECT {davg_sql('l2.l_extendedprice')}
      FROM lineitem l2 WHERE l2.l_orderkey = l.l_orderkey)
    """,
)
def correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("__lineitem_cs")
    # Spark-SQL rendering of davg_sql's fixed-point rule (exprs.py r7)
    return spark.sql(
        """
        SELECT l.l_orderkey, l.l_linenumber FROM __lineitem_cs l
        WHERE l.l_extendedprice > (
          SELECT CAST(SUM(CAST(CAST(l2.l_extendedprice * 10000.0D AS BIGINT)
                              AS DECIMAL(38,0))) AS DOUBLE) / 10000.0D
                 / COUNT(*)
          FROM __lineitem_cs l2 WHERE l2.l_orderkey = l.l_orderkey)
        """
    )


# --- TPC-H Q3 shape: 3-way join + filter + agg + top-k by revenue.
@builder(
    "q3_shipping_priority",
    f"""
    SELECT l_orderkey,
           {dsum_sql('l_extendedprice * (1 - l_discount)')} AS revenue,
           CAST(o_orderdate AS DATE) AS order_date
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
      AND l.l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, CAST(o_orderdate AS DATE)
    ORDER BY revenue DESC, l_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", F.to_date("o_orderdate").alias("order_date"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("l_orderkey", "revenue", "order_date")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


# --- exact discrete median (quantile without interpolation — the
# interpolated form is engine-divergent in low bits; percentile_disc
# picks an actual data value, so it compares exactly).
@builder(
    "median_disc",
    """
    SELECT l_returnflag,
           quantile_disc(l_extendedprice, 0.5) AS median_price,
           COUNT(*) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
)
def median_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # percentile_disc semantics: smallest value with cume_dist >= q.
    # Expressed via window cume_dist + min — exact, engine-portable.
    w = W.partitionBy("l_returnflag").orderBy("l_extendedprice")
    ranked = li.select("l_returnflag", "l_extendedprice").withColumn(
        "cd", F.cume_dist().over(w)
    )
    return (
        ranked.filter(F.col("cd") >= 0.5)
        .groupBy("l_returnflag")
        .agg(F.min("l_extendedprice").alias("median_price"))
        .join(
            li.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n")),
            "l_returnflag",
        )
    )


# --- as-of join (Spark has no native one; the guide's pattern):
# latest prior 'click' per user for each 'error' event, via tagged
# union + running last_value — one shuffle on (user_id), no range
# explosion. The oracle uses DuckDB's NATIVE ASOF JOIN: two genuinely
# different implementations must agree row-for-row.
@builder(
    "asof_join",
    """
    SELECT e.event_id, e.user_id, c.ts AS last_click_ts
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    """,
)
def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_type").isin("error", "click")).select(
        "event_id",
        "user_id",
        "ts",
        (F.col("event_type") == "click").alias("is_click"),
    )
    # within a user, clicks sort before errors at equal ts (ASOF is
    # inclusive: e.ts >= c.ts)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts"), F.col("is_click").desc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    running = tagged.withColumn(
        "last_click_ts",
        F.last(F.when(F.col("is_click"), F.col("ts")), ignorenulls=True).over(w),
    )
    return running.filter(~F.col("is_click")).select(
        "event_id", "user_id", "last_click_ts"
    )


# --- left outer join with null-producing side + null-safe aggregate.
@builder(
    "outer_join_agg",
    """
    SELECT c.c_custkey,
           CAST(COALESCE(o.n_urgent, 0) AS BIGINT) AS n_urgent
    FROM customer c
    LEFT JOIN (SELECT o_custkey, COUNT(*) AS n_urgent FROM orders
               WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey) o
      ON o.o_custkey = c.c_custkey
    """,
)
def outer_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_urgent"))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left").select(
        "c_custkey", F.coalesce(F.col("n_urgent"), F.lit(0)).cast("long").alias("n_urgent")
    )


# --- sketch aggregates. At 100 TB these replace their exact twins:
# one pass, bounded state. (Unregistered raw form — sketch outputs are
# engine-specific; the accuracy bound vs exact is pinned in tests.)
def approx_aggregates_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("approx_median_price"),
        F.count(F.lit(1)).alias("n"),
    )


# --- registered form is fully hash-matched (r2 VERDICT #4): emit the
# exact aggregates alongside booleans asserting the sketches landed
# inside their error bounds — the oracle predicts the exact columns
# from SQL and the booleans as literal TRUE. Bounds are generous
# multiples of the documented error (HLL rsd=5%, percentile_approx
# rank error 1e-4), so a TRUE here is deterministic while a sketch
# regression (wrong rsd, broken merge) still flips it red.
#
# DATA DEPENDENCY (ADVICE r3): the 0.15 bound below is 3× the HLL rsd
# (0.05) — ≥3σ slack, exceeded with probability ~0.3% per group IF the
# sketch behaved like its Gaussian model. HLL is deterministic per
# dataset, so on any FIXED testdata vintage the booleans are constant;
# a future vintage could in principle land a group outside 3σ with no
# code bug. If this entry ever fails with every exact column matching,
# re-check |approx−exact|/exact against the bound before suspecting
# the sketch — widening to 4σ is the fix, not a regression.
# Builder since r4: registered via `stats_aggregates` (with the exact
# medians) to free a catalog slot for pii_redaction.
@builder(
    "approx_aggregates",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE AS approx_parts_ok,
           TRUE AS approx_median_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    # Two-stage exact distinct (pre-agg on the pair, then count) keeps
    # the plan out of Expand-based multi-distinct, which would replicate
    # every input row per distinct aggregate; the sketch/percentile agg
    # has no distinct, so both passes stay partial-aggregated. The final
    # join is group-cardinality (6 rows).
    parts = (
        li.groupBy("l_returnflag", "l_partkey")
        .agg(F.lit(1))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("exact_parts"))
    )
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.approx_count_distinct("l_partkey").alias("__approx_parts"),
        F.percentile_approx("l_extendedprice", 0.5).alias("__approx_median"),
        F.expr("percentile(l_extendedprice, 0.5)").alias("__exact_median"),
    )
    return agg.join(parts, "l_returnflag").select(
        "l_returnflag",
        "n",
        "exact_parts",
        (
            F.abs(F.col("__approx_parts") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= F.lit(0.15)
        ).alias("approx_parts_ok"),
        (
            F.abs(F.col("__approx_median") - F.col("__exact_median"))
            / F.col("__exact_median")
            <= F.lit(0.01)
        ).alias("approx_median_ok"),
    )


# --- array explode (LATERAL VIEW / UNNEST): per-vector element stats
# without sums — min/max/size are exact across engines for float32.
@register(
    "array_explode_stats",
    """
    SELECT vec_id,
           CAST(COUNT(*) AS BIGINT) AS dims,
           MIN(x) AS min_val,
           MAX(x) AS max_val
    FROM (SELECT vec_id, UNNEST(embedding) AS x FROM embeddings)
    GROUP BY vec_id
    """,
)
def array_explode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.select("vec_id", F.explode("embedding").alias("x"))
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("dims"),
            F.min("x").alias("min_val"),
            F.max("x").alias("max_val"),
        )
    )


# --- null semantics: COALESCE, NULLIF, null-safe equality. The
# missing-JSON-key path produces real nulls to exercise.
@builder(
    "null_semantics",
    """
    SELECT event_id,
           COALESCE(CAST(json_extract_string(props, '$.missing') AS BIGINT), -1) AS k_or_default,
           NULLIF(event_type, 'error') AS type_not_error,
           (CAST(json_extract_string(props, '$.missing') AS BIGINT)
              IS NOT DISTINCT FROM NULL) AS is_missing
    FROM events
    """,
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    missing = F.get_json_object("props", "$.missing").cast("long")
    return ev.select(
        "event_id",
        F.coalesce(missing, F.lit(-1)).alias("k_or_default"),
        F.nullif(F.col("event_type"), F.lit("error")).alias("type_not_error"),
        missing.eqNullSafe(F.lit(None).cast("long")).alias("is_missing"),
    )


# --- TPC-H Q5 shape: 6-way star join (fact chain orders→lineitem with
# four dims) + region filter + grouped revenue. The deepest join tree
# in the catalog: dims are broadcast so the only shuffle is the final
# per-nation aggregation; the region filter prunes nation/supplier
# BEFORE the fact join (Catalyst pushes it through the broadcast
# chain), so at 100 TB lineitem is scanned once and never shuffled.
@builder(
    "q5_local_supplier_volume",
    f"""
    SELECT n.n_name,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), (o.o_custkey == c.c_custkey))
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


# --- TPC-H Q6 shape: ungrouped single-pass scan-aggregate behind
# three conjunctive predicates — the canonical pushdown probe. All
# three predicates and the 3-column ReadSchema reach the parquet
# scan; no shuffle at all except the single-row final agg.
@builder(
    "q6_forecast_revenue",
    f"""
    SELECT {dsum_sql('l_extendedprice * l_discount')} AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_discount").between(0.05, 0.07))
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount")).alias("revenue"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# --- TPC-H Q18 shape: agg→having as a join filter (large-volume
# orders). The qualifying-orderkey set is tiny after HAVING, so the
# second lineitem pass joins against a broadcast of it — the same
# build-small/probe-big shape as the reference's tester (J1), derived
# from an aggregation instead of a file.
@builder(
    "q18_large_volume_customer",
    f"""
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           {dsum_sql('l.l_quantity')} AS sum_qty
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem GROUP BY l_orderkey
      HAVING SUM({dfix_sql('l_quantity')}) > 250 * 10000)
    GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
    """,
)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    # fixed-point HAVING (exprs.py r7 portability rule): the sum and
    # the threshold compare as exact integers on both engines
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dfix("l_quantity").cast("decimal(38,0)")).alias("q"))
        .filter(F.col("q") > 250 * 10000)
        .select("l_orderkey")
    )
    return (
        li.join(F.broadcast(big), "l_orderkey")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(dsum("l_quantity").alias("sum_qty"))
    )


# --- TPC-H Q7 shape: bidirectional nation-pair filter applied through
# TWO independent broadcast joins of the same dim (supplier-side and
# customer-side nation), plus a date-part grouping. The nation filter
# prunes supplier/customer before they touch the fact chain.
@builder(
    "q7_volume_shipping",
    f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(YEAR(l.l_shipdate) AS INT) AS l_year,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
    FROM supplier s
    JOIN lineitem l ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_9' AND n2.n_name = 'NATION_10')
       OR (n1.n_name = 'NATION_10' AND n2.n_name = 'NATION_9')
    GROUP BY 1, 2, 3
    """,
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    n1 = n.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = n.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_9") & (F.col("cust_nation") == "NATION_10")
    ) | ((F.col("supp_nation") == "NATION_10") & (F.col("cust_nation") == "NATION_9"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").cast("int").alias("l_year")
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
    )


# --- TPC-H Q10 shape: returned-item revenue ranking — join-agg with a
# deterministic global top-20 (TakeOrderedAndProject; no full sort at
# scale, each partition keeps 20 candidates).
@builder(
    "q10_returned_items",
    f"""
    SELECT c.c_custkey, c.c_name,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"))
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# --- TPC-H Q14 shape: conditional aggregation ratio (promo revenue
# share). One scan of the date-sliced fact, broadcast part dim,
# CASE-in-SUM — no second pass for the denominator.
@builder(
    "q14_promo_revenue",
    f"""
    SELECT CAST(100.0 * {dsum_sql("CASE WHEN p.p_type = 'PROMO' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0 END")}
             / {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS DOUBLE) AS promo_revenue_pct,
           COUNT(*) AS n_rows
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1996-03-01'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-03-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * dsum(F.when(F.col("p_type") == "PROMO", disc).otherwise(F.lit(0)))
                / dsum(disc)
            )
            .cast("double")
            .alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# --- TPC-H Q4 (order priority checking), EXACT FORM (r9): date-window
# scan + correlated EXISTS on the spec's own late-line predicate
# l_commitdate < l_receiptdate, over the derived date columns
# (operators/tpch_ext.py).
@builder(
    "q4_order_priority",
    f"""
    WITH {LINEITEM_EXT_SQL}
    SELECT o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem_ext l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_commitdate < l.l_receiptdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = lineitem_ext(spark, sf_dir).filter(
        F.col("l_commitdate") < F.col("l_receiptdate")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


# --- TPC-H Q12 (shipmode priority census), EXACT FORM (r9): the
# spec's shipmode grouping with its full three-date predicate chain
# (commit < receipt, ship < commit, receipt in the year) over the
# derived l_shipmode / l_commitdate / l_receiptdate columns.
@builder(
    "q12_priority_by_status",
    f"""
    WITH {LINEITEM_EXT_SQL}
    SELECT l_shipmode,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders o JOIN lineitem_ext l ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipmode IN ('MAIL', 'SHIP')
      AND l.l_commitdate < l.l_receiptdate
      AND l.l_shipdate < l.l_commitdate
      AND l.l_receiptdate >= TIMESTAMP '1997-01-01'
      AND l.l_receiptdate < TIMESTAMP '1998-01-01'
    GROUP BY l_shipmode
    """,
)
def q12_priority_by_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    li = lineitem_ext(spark, sf_dir).filter(
        F.col("l_shipmode").isin("MAIL", "SHIP")
        & (F.col("l_commitdate") < F.col("l_receiptdate"))
        & (F.col("l_shipdate") < F.col("l_commitdate"))
        & (F.col("l_receiptdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_receiptdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_shipmode")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# --- TPC-H Q22 (global sales opportunity), EXACT FORM except one
# documented predicate (r9): group by the phone COUNTRY CODE
# (substring(c_phone, 1, 2) over the derived c_phone), restrict to
# the spec's 7-code IN list, threshold on the average positive
# balance WITHIN those codes (exact decimal cross-multiplied —
# acctbal·n > sum ⇔ acctbal > avg — so membership can't flip on
# float-average low bits). The ONE remaining substitution is
# DATA-distribution, not schema: the spec's NOT EXISTS(orders) is
# empty at every TESTDATA SF (order-less customers effectively don't
# occur — 0 at sf0.001/sf0.01), so the anti-join drops customers with
# any URGENT order instead; swap the predicate back on data that has
# idle customers.
_Q22_CODES = "'11', '14', '17', '20', '23', '26', '29'"


def _q22_oracle() -> str:
    in_codes = f"SUBSTRING(c_phone, 1, 2) IN ({_Q22_CODES})"
    return f"""
    WITH {CUSTOMER_EXT_SQL},
    scoped AS (SELECT * FROM customer_ext WHERE {in_codes})
    SELECT SUBSTRING(c_phone, 1, 2) AS cntrycode,
           COUNT(*) AS n_custs,
           {dsum_sql('c_acctbal', 6)} AS total_acctbal
    FROM scoped c
    WHERE {dfix_sql('c_acctbal', 6)}
            * (SELECT COUNT(*) FROM scoped WHERE c_acctbal > 0.00)
          > (SELECT SUM({dfix_sql('c_acctbal', 6)})
             FROM scoped WHERE c_acctbal > 0.00)
      AND NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT')
    GROUP BY cntrycode
    """


@builder("q22_idle_rich_customers", _q22_oracle())
def q22_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    codes = [x.strip().strip("'") for x in _Q22_CODES.split(",")]
    c = customer_ext(spark, sf_dir).withColumn(
        "cntrycode", F.substring("c_phone", 1, 2)
    )
    scoped = scoped_cache(c.filter(F.col("cntrycode").isin(*codes)))
    pos = scoped.filter(F.col("c_acctbal") > 0).agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(dfix("c_acctbal", 6).cast("decimal(38,0)")).alias("__sum"),
    )
    # fixed-point cross-multiplied threshold (exprs.py r7): exact
    # integers on both engines, so membership can't flip on a
    # double→decimal rounding-boundary row
    rich = scoped.crossJoin(F.broadcast(pos)).filter(
        dfix("c_acctbal", 6).cast("decimal(38,0)") * F.col("__n")
        > F.col("__sum")
    )
    urgent = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return (
        rich.join(urgent, rich.c_custkey == F.col("o_custkey"), "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            dsum("c_acctbal", 6).alias("total_acctbal"),
        )
    )


# --- multiple DISTINCT aggregates in one pass: Catalyst compiles this
# to an Expand (one row replica per distinct set) + two-level agg —
# one shuffle, no self-join, the standard scale shape for multi-
# distinct reporting.
@builder(
    "multi_distinct_agg",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT CAST(FLOOR(value + 0.5) AS BIGINT)) AS n_value_keys,
           COUNT(*) AS n_events
    FROM events GROUP BY event_type
    """,
)
def multi_distinct_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.floor(F.col("value") + 0.5).cast("long")).alias("n_value_keys"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --- ranking-function family over one per-group window: rank,
# dense_rank, ntile, percent_rank share a single sort — one window
# spec, one shuffle. percent_rank's (rank-1)/(n-1) divides identical
# integer operands on both engines, so doubles hash-match.
@builder(
    "rank_funcs",
    """
    SELECT o_orderkey, o_orderpriority,
           CAST(RANK() OVER w AS BIGINT) AS rnk,
           CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
           CAST(NTILE(4) OVER w AS INT) AS quartile,
           PERCENT_RANK() OVER w AS prnk
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def rank_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), "o_orderkey"
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.ntile(4).over(w).cast("int").alias("quartile"),
        F.percent_rank().over(w).alias("prnk"),
    )


# --- explicit GROUPING SETS (beyond rollup/cube): two independent
# one-column summaries + grand total in ONE scan via Expand — vs three
# separate scans of a 100 TB fact.
@builder(
    "grouping_sets_agg",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
        .select("l_returnflag", "l_linestatus", "n", "g_flag", "g_status")
    )


# --- exact interpolated median (continuous percentile): both engines
# compute linear interpolation between the two middle order statistics
# — identical IEEE operands ⇒ hash-matchable. Complements the
# cume_dist discrete median (`median_disc`) and the sketch
# (`approx_aggregates`).
@builder(
    "median_cont",
    """
    SELECT l_returnflag, quantile_cont(l_quantity, 0.5) AS median_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def median_cont(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty")
    )


# --- windowed frame aggregate: per-user trailing mean over the last 4
# events (ROWS BETWEEN 3 PRECEDING AND CURRENT ROW). Frame sums go
# through decimal so both engines aggregate the frame exactly.
@builder(
    "moving_avg",
    f"""
    SELECT event_id, user_id,
           CAST(CAST(SUM({dfix_sql('value')}) OVER w AS DOUBLE) / 10000.0
                  / COUNT(*) OVER w AS DOUBLE) AS trailing_avg
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
    """,
)
def moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, W.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        (
            F.sum(dfix("value").cast("decimal(38,0)")).over(w).cast("double")
            / F.lit(10000.0)
            / F.count(F.lit(1)).over(w)
        )
        .cast("double")
        .alias("trailing_avg"),
    )


# --- bucketed range join (interval containment): events × hourly
# maintenance windows [hour, hour+7min). A naive range join is a
# nested-loop (O(events × windows)); the scale path equi-joins on the
# shared hour bucket and applies the residual bound — the fact table
# shuffles never, the windows are a broadcast dim. Windows here align
# to one bucket each; intervals spanning buckets would explode the
# interval into its covered buckets first (same plan shape).
@builder(
    "range_join_bucketed",
    f"""
    SELECT w.win_start, COUNT(*) AS n_events,
           {dsum_sql('e.value')} AS total_value
    FROM events e
    JOIN (SELECT UNNEST(generate_series(TIMESTAMP '2024-01-01',
                                        TIMESTAMP '2024-01-31',
                                        INTERVAL 1 HOUR)) AS win_start) w
      ON e.ts >= w.win_start AND e.ts < w.win_start + INTERVAL 7 MINUTES
    GROUP BY w.win_start
    """,
)
def range_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    windows = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("timestamp"),
                F.lit("2024-01-31").cast("timestamp"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("win_start")
    )
    bucketed = ev.withColumn("__bucket", F.date_trunc("hour", "ts"))
    return (
        bucketed.join(
            F.broadcast(windows), F.col("__bucket") == F.col("win_start")
        )
        .filter(F.col("ts") < F.col("win_start") + F.expr("INTERVAL 7 MINUTES"))
        .groupBy("win_start")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
    )


# =====================================================================
# Consolidated catalog registrations (round 2). The driver's
# CORRECTNESS run covers the first 50 registered queries; r1 registered
# 82 and left 32 unchecked (VERDICT r1 #1). Semantically-adjacent
# builder queries above are therefore composed into single
# registrations below — each branch still runs its full original plan
# (tagged union / keyed join; NULL columns mark not-applicable slots),
# and each oracle composes the original per-builder SQL retained in
# BUILDER_SQL, so per-operator verification strength is unchanged.
# =====================================================================

_NULL_L = "CAST(NULL AS BIGINT)"
_NULL_D = "CAST(NULL AS DOUBLE)"
_NULL_S = "CAST(NULL AS VARCHAR)"
_NULL_I = "CAST(NULL AS INTEGER)"


def _nl():
    return F.lit(None).cast("long")


def _nd():
    return F.lit(None).cast("double")


def _ns():
    return F.lit(None).cast("string")


# --- P1/P2 + S6 in one registration (r4: freed two catalog slots for
# the LLM-pipeline entries lm_cross_entropy / sequence_packing /
# substring_dedup_spans; each branch runs its full original plan).
@register(
    "projection_union_scan",
    f"""
    SELECT 'proj' AS part, l_orderkey AS id, CAST(l_linenumber AS BIGINT) AS c1,
           l_extendedprice AS price, {_NULL_S} AS name, {_NULL_S} AS src
    FROM ({BUILDER_SQL['projection_filter']})
    UNION ALL
    SELECT 'union' AS part, id, {_NULL_L} AS c1, {_NULL_D} AS price, name, src
    FROM ({BUILDER_SQL['union_scan']})
    """,
)
def projection_union_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = projection_filter(spark, sf_dir).select(
        F.lit("proj").alias("part"), F.col("l_orderkey").alias("id"),
        F.col("l_linenumber").cast("long").alias("c1"),
        F.col("l_extendedprice").alias("price"), _ns().alias("name"),
        _ns().alias("src"),
    )
    u = union_scan(spark, sf_dir).select(
        F.lit("union").alias("part"), F.col("id"), _nl().alias("c1"),
        _nd().alias("price"), "name", "src",
    )
    return p.unionByName(u)


# --- A1/M2 + M7/A3 in one registration (r4, same slot-freeing move):
# the half-up grouped count and the conditional-ratio metric.
@register(
    "grouped_ratio_metrics",
    f"""
    SELECT 'halfup' AS part, CAST(value_key AS VARCHAR) AS key, n,
           {_NULL_L} AS n_high, {_NULL_D} AS high_ratio
    FROM ({BUILDER_SQL['grouped_count_halfup']})
    UNION ALL
    SELECT 'ratio' AS part, event_type AS key, n, n_high, high_ratio
    FROM ({BUILDER_SQL['ratio_metric']})
    """,
)
def grouped_ratio_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = grouped_count_halfup(spark, sf_dir).select(
        F.lit("halfup").alias("part"), F.col("value_key").cast("string").alias("key"),
        "n", _nl().alias("n_high"), _nd().alias("high_ratio"),
    )
    r = ratio_metric(spark, sf_dir).select(
        F.lit("ratio").alias("part"), F.col("event_type").alias("key"),
        "n", "n_high", "high_ratio",
    )
    return g.unionByName(r)


# --- J3 semi + anti in one registration.
@register(
    "semi_anti_join",
    f"""
    SELECT 'semi' AS part, c_custkey, c_name FROM ({BUILDER_SQL['semi_join']})
    UNION ALL
    SELECT 'anti' AS part, c_custkey, c_name FROM ({BUILDER_SQL['anti_join']})
    """,
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = semi_join(spark, sf_dir).select(F.lit("semi").alias("part"), "c_custkey", "c_name")
    a = anti_join(spark, sf_dir).select(F.lit("anti").alias("part"), "c_custkey", "c_name")
    return s.unionByName(a)


# --- exact distinct aggregates: per-group distinct count + the
# multi-distinct Expand form.
@register(
    "distinct_aggs",
    f"""
    SELECT 'lineitem' AS part, l_returnflag AS key, distinct_parts AS c1,
           n_rows AS c2, {_NULL_L} AS c3
    FROM ({BUILDER_SQL['distinct_count']})
    UNION ALL
    SELECT 'events' AS part, event_type AS key, n_users AS c1,
           n_value_keys AS c2, n_events AS c3
    FROM ({BUILDER_SQL['multi_distinct_agg']})
    """,
)
def distinct_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    dc = distinct_count(spark, sf_dir).select(
        F.lit("lineitem").alias("part"), F.col("l_returnflag").alias("key"),
        F.col("distinct_parts").alias("c1"), F.col("n_rows").alias("c2"),
        _nl().alias("c3"),
    )
    md = multi_distinct_agg(spark, sf_dir).select(
        F.lit("events").alias("part"), F.col("event_type").alias("key"),
        F.col("n_users").alias("c1"), F.col("n_value_keys").alias("c2"),
        F.col("n_events").alias("c3"),
    )
    return dc.unionByName(md)


# --- semi-structured scalar path: JSON extraction agg + null
# semantics (COALESCE/NULLIF/null-safe equality) in one registration.
@register(
    "json_null_ops",
    f"""
    SELECT 'json_agg' AS part, {_NULL_L} AS id, event_type AS key,
           sum_k AS l1, n AS l2, {_NULL_I} AS flag
    FROM ({BUILDER_SQL['json_extract_agg']})
    UNION ALL
    SELECT 'null_sem' AS part, event_id AS id, type_not_error AS key,
           k_or_default AS l1, {_NULL_L} AS l2, CAST(is_missing AS INTEGER) AS flag
    FROM ({BUILDER_SQL['null_semantics']})
    """,
)
def json_null_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    j = json_extract_agg(spark, sf_dir).select(
        F.lit("json_agg").alias("part"), _nl().alias("id"),
        F.col("event_type").alias("key"), F.col("sum_k").alias("l1"),
        F.col("n").alias("l2"), F.lit(None).cast("int").alias("flag"),
    )
    ns = null_semantics(spark, sf_dir).select(
        F.lit("null_sem").alias("part"), F.col("event_id").alias("id"),
        F.col("type_not_error").alias("key"), F.col("k_or_default").alias("l1"),
        _nl().alias("l2"), F.col("is_missing").cast("int").alias("flag"),
    )
    return j.unionByName(ns)


# --- the whole grouping-sets family (ROLLUP, CUBE, explicit GROUPING
# SETS with GROUPING() markers, pivot) — four Expand-based plans, one
# registration.
@register(
    "grouping_family",
    f"""
    SELECT 'rollup' AS part, l_returnflag, l_linestatus, n, sum_qty,
           {_NULL_I} AS g_flag, {_NULL_I} AS g_status,
           {_NULL_D} AS qty_O, {_NULL_D} AS qty_F
    FROM ({BUILDER_SQL['rollup_agg']})
    UNION ALL
    SELECT 'cube' AS part, l_returnflag, l_linestatus, n, sum_qty,
           {_NULL_I}, {_NULL_I}, {_NULL_D}, {_NULL_D}
    FROM ({BUILDER_SQL['cube_agg']})
    UNION ALL
    SELECT 'gsets' AS part, l_returnflag, l_linestatus, n, {_NULL_D},
           g_flag, g_status, {_NULL_D}, {_NULL_D}
    FROM ({BUILDER_SQL['grouping_sets_agg']})
    UNION ALL
    SELECT 'pivot' AS part, l_returnflag, {_NULL_S}, {_NULL_L}, {_NULL_D},
           {_NULL_I}, {_NULL_I}, qty_O, qty_F
    FROM ({BUILDER_SQL['pivot_sum']})
    """,
)
def grouping_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    def norm(df, part, **cols):
        defaults = {
            "l_returnflag": _ns(), "l_linestatus": _ns(), "n": _nl(),
            "sum_qty": _nd(), "g_flag": F.lit(None).cast("int"),
            "g_status": F.lit(None).cast("int"), "qty_O": _nd(), "qty_F": _nd(),
        }
        sel = [F.lit(part).alias("part")]
        for name, default in defaults.items():
            sel.append(cols.get(name, default).alias(name) if name in cols else default.alias(name))
        return df.select(*sel)

    r = norm(rollup_agg(spark, sf_dir), "rollup",
             l_returnflag=F.col("l_returnflag"), l_linestatus=F.col("l_linestatus"),
             n=F.col("n"), sum_qty=F.col("sum_qty"))
    c = norm(cube_agg(spark, sf_dir), "cube",
             l_returnflag=F.col("l_returnflag"), l_linestatus=F.col("l_linestatus"),
             n=F.col("n"), sum_qty=F.col("sum_qty"))
    g = norm(grouping_sets_agg(spark, sf_dir), "gsets",
             l_returnflag=F.col("l_returnflag"), l_linestatus=F.col("l_linestatus"),
             n=F.col("n"), g_flag=F.col("g_flag"), g_status=F.col("g_status"))
    p = norm(pivot_sum(spark, sf_dir), "pivot",
             l_returnflag=F.col("l_returnflag"), qty_O=F.col("qty_O"),
             qty_F=F.col("qty_F"))
    return r.unionByName(c).unionByName(g).unionByName(p)


# --- set-operation family: INTERSECT / EXCEPT (set semantics) + the
# EXCEPT ALL / INTERSECT ALL multiplicity census (bag semantics).
@register(
    "set_ops",
    f"""
    SELECT 'intersect' AS part, o_custkey,
           {_NULL_L} AS n_except_all, {_NULL_L} AS n_intersect_all
    FROM ({BUILDER_SQL['set_intersect']})
    UNION ALL
    SELECT 'except' AS part, o_custkey, {_NULL_L}, {_NULL_L}
    FROM ({BUILDER_SQL['set_except']})
    UNION ALL
    SELECT 'bag' AS part, o_custkey, n_except_all, n_intersect_all
    FROM ({BUILDER_SQL['bag_set_ops']})
    """,
)
def set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    i = set_intersect(spark, sf_dir).select(
        F.lit("intersect").alias("part"), "o_custkey",
        _nl().alias("n_except_all"), _nl().alias("n_intersect_all"),
    )
    e = set_except(spark, sf_dir).select(
        F.lit("except").alias("part"), "o_custkey",
        _nl().alias("n_except_all"), _nl().alias("n_intersect_all"),
    )
    b = bag_set_ops(spark, sf_dir).select(
        F.lit("bag").alias("part"), "o_custkey", "n_except_all", "n_intersect_all"
    )
    return i.unionByName(e).unionByName(b)


# --- §2.7 scalar surface: math over orders + strings over customer.
@register(
    "scalar_string_funcs",
    f"""
    SELECT 'math' AS part, o_orderkey AS id, sqrt_price AS d1, abs_dev AS d2,
           price_bucket AS l1, key_mod AS l2,
           {_NULL_S} AS s1, {_NULL_S} AS s2, {_NULL_S} AS s3,
           {_NULL_S} AS s4, {_NULL_S} AS s5, {_NULL_S} AS s6
    FROM ({BUILDER_SQL['scalar_math']})
    UNION ALL
    SELECT 'string' AS part, c_custkey AS id, {_NULL_D}, {_NULL_D},
           CAST(zero_pos AS BIGINT), {_NULL_L},
           upper_name, lower_seg, name_prefix, tagged, trimmed, rev_seg
    FROM ({BUILDER_SQL['string_funcs']})
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    m = scalar_math(spark, sf_dir).select(
        F.lit("math").alias("part"), F.col("o_orderkey").alias("id"),
        F.col("sqrt_price").alias("d1"), F.col("abs_dev").alias("d2"),
        F.col("price_bucket").alias("l1"), F.col("key_mod").alias("l2"),
        _ns().alias("s1"), _ns().alias("s2"), _ns().alias("s3"),
        _ns().alias("s4"), _ns().alias("s5"), _ns().alias("s6"),
    )
    s = string_funcs(spark, sf_dir).select(
        F.lit("string").alias("part"), F.col("c_custkey").alias("id"),
        _nd().alias("d1"), _nd().alias("d2"),
        F.col("zero_pos").cast("long").alias("l1"), _nl().alias("l2"),
        F.col("upper_name").alias("s1"), F.col("lower_seg").alias("s2"),
        F.col("name_prefix").alias("s3"), F.col("tagged").alias("s4"),
        F.col("trimmed").alias("s5"), F.col("rev_seg").alias("s6"),
    )
    return m.unionByName(s)


# --- post-aggregation filters: HAVING + left-outer join with
# null-producing side.
@register(
    "agg_join_filters",
    f"""
    SELECT 'having' AS part, o_custkey AS custkey, n_orders AS n, spend
    FROM ({BUILDER_SQL['having_filter']})
    UNION ALL
    SELECT 'outer_urgent' AS part, c_custkey AS custkey, n_urgent AS n,
           {_NULL_D} AS spend
    FROM ({BUILDER_SQL['outer_join_agg']})
    """,
)
def agg_join_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = having_filter(spark, sf_dir).select(
        F.lit("having").alias("part"), F.col("o_custkey").alias("custkey"),
        F.col("n_orders").alias("n"), "spend",
    )
    o = outer_join_agg(spark, sf_dir).select(
        F.lit("outer_urgent").alias("part"), F.col("c_custkey").alias("custkey"),
        F.col("n_urgent").alias("n"), _nd().alias("spend"),
    )
    return h.unionByName(o)


# --- subquery family: scalar (one-row broadcast) + correlated
# (decorrelated to a join on the group key).
@register(
    "subquery_family",
    f"""
    SELECT 'scalar' AS part, o_orderkey AS k1, {_NULL_L} AS k2,
           o_totalprice AS v
    FROM ({BUILDER_SQL['scalar_subquery']})
    UNION ALL
    SELECT 'correlated' AS part, l_orderkey AS k1,
           CAST(l_linenumber AS BIGINT) AS k2, {_NULL_D} AS v
    FROM ({BUILDER_SQL['correlated_subquery']})
    """,
)
def subquery_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = scalar_subquery(spark, sf_dir).select(
        F.lit("scalar").alias("part"), F.col("o_orderkey").alias("k1"),
        _nl().alias("k2"), F.col("o_totalprice").alias("v"),
    )
    c = correlated_subquery(spark, sf_dir).select(
        F.lit("correlated").alias("part"), F.col("l_orderkey").alias("k1"),
        F.col("l_linenumber").cast("long").alias("k2"), _nd().alias("v"),
    )
    return s.unionByName(c)


# --- exact medians, discrete (order statistic) + continuous
# (interpolated), joined per group.
# Builder since r4: registered via `stats_aggregates` (below).
@builder(
    "median_stats",
    f"""
    SELECT d.l_returnflag, d.median_price, c.median_qty, d.n
    FROM ({BUILDER_SQL['median_disc']}) d
    JOIN ({BUILDER_SQL['median_cont']}) c ON d.l_returnflag = c.l_returnflag
    """,
)
def median_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = median_disc(spark, sf_dir)
    c = median_cont(spark, sf_dir)
    return d.join(c, "l_returnflag").select(
        "l_returnflag", "median_price", "median_qty", "n"
    )


# Imported for the BUILDER_SQL side effect (kmv_distinct /
# cms_frequencies oracles), composed into stats_aggregates below.
from ..functions import sketches as _sketches  # noqa: E402,F401

# --- statistical-aggregate family in one registration (r4, widened
# r5): HLL/percentile sketches with exact error bounds + exact
# disc/cont medians + the deterministic KMV distinct and count-min
# frequency sketches (functions/sketches.py — portable md5 hash
# family, so the whole sketch pipeline replays in the oracle).
# Generic union slots: key (string), n (BIGINT), stat (BIGINT:
# exact_parts / kth-min hash / CMS estimate), ok1/ok2 (nullable INT
# flags — the hash-proven NULL-slot pattern, bool+NULL pandas dtypes
# differ between the engines' toPandas paths), v1/v2 (doubles:
# medians / KMV estimate).
@register(
    "stats_aggregates",
    f"""
    SELECT 'approx' AS part, l_returnflag AS key, n, exact_parts AS stat,
           CAST(approx_parts_ok AS INTEGER) AS ok1,
           CAST(approx_median_ok AS INTEGER) AS ok2,
           {_NULL_D} AS v1, {_NULL_D} AS v2
    FROM ({BUILDER_SQL['approx_aggregates']})
    UNION ALL
    SELECT 'median' AS part, l_returnflag AS key, n, {_NULL_L} AS stat,
           {_NULL_I} AS ok1, {_NULL_I} AS ok2,
           median_price AS v1, median_qty AS v2
    FROM ({BUILDER_SQL['median_stats']})
    UNION ALL
    SELECT 'kmv' AS part, key, n, stat, ok AS ok1, {_NULL_I} AS ok2,
           v AS v1, {_NULL_D} AS v2
    FROM ({BUILDER_SQL['kmv_distinct']})
    UNION ALL
    SELECT 'cms' AS part, key, n, stat, ok AS ok1, {_NULL_I} AS ok2,
           {_NULL_D} AS v1, {_NULL_D} AS v2
    FROM ({BUILDER_SQL['cms_frequencies']})
    UNION ALL
    SELECT 'qtl' AS part, key, n, stat, ok AS ok1, {_NULL_I} AS ok2,
           v AS v1, {_NULL_D} AS v2
    FROM ({BUILDER_SQL['quantile_sketch']})
    UNION ALL
    SELECT 'hh' AS part, key, n, {_NULL_L} AS stat, {_NULL_I} AS ok1,
           {_NULL_I} AS ok2, {_NULL_D} AS v1, {_NULL_D} AS v2
    FROM ({BUILDER_SQL['cms_heavy_hitters_q']})
    """,
)
def stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.sketches import cms_frequencies, kmv_distinct

    ni = F.lit(None).cast("int")
    a = approx_aggregates(spark, sf_dir).select(
        F.lit("approx").alias("part"), F.col("l_returnflag").alias("key"),
        "n", F.col("exact_parts").alias("stat"),
        F.col("approx_parts_ok").cast("int").alias("ok1"),
        F.col("approx_median_ok").cast("int").alias("ok2"),
        _nd().alias("v1"), _nd().alias("v2"),
    )
    m = median_stats(spark, sf_dir).select(
        F.lit("median").alias("part"), F.col("l_returnflag").alias("key"),
        "n", _nl().alias("stat"), ni.alias("ok1"), ni.alias("ok2"),
        F.col("median_price").alias("v1"), F.col("median_qty").alias("v2"),
    )
    k = kmv_distinct(spark, sf_dir).select(
        F.lit("kmv").alias("part"), "key", "n", "stat",
        F.col("ok").alias("ok1"), ni.alias("ok2"),
        F.col("v").alias("v1"), _nd().alias("v2"),
    )
    c = cms_frequencies(spark, sf_dir).select(
        F.lit("cms").alias("part"), "key", "n", "stat",
        F.col("ok").alias("ok1"), ni.alias("ok2"),
        _nd().alias("v1"), _nd().alias("v2"),
    )
    q = _sketches.quantile_sketch(spark, sf_dir).select(
        F.lit("qtl").alias("part"), "key", "n", "stat",
        F.col("ok").alias("ok1"), ni.alias("ok2"),
        F.col("v").alias("v1"), _nd().alias("v2"),
    )
    hh = _sketches.cms_heavy_hitters_q(spark, sf_dir).select(
        F.lit("hh").alias("part"), "key", "n", _nl().alias("stat"),
        ni.alias("ok1"), ni.alias("ok2"), _nd().alias("v1"), _nd().alias("v2"),
    )
    return (
        a.unionByName(m).unionByName(k).unionByName(c)
        .unionByName(q).unionByName(hh)
    )


# --- temporal join family: as-of (running last_value vs DuckDB's
# native ASOF JOIN) + bucketed interval-containment range join +
# interval attribution join (`clicks_to_purchases` in
# streaming/join_stream.py).
@register(
    "temporal_joins",
    f"""
    SELECT 'asof' AS part, event_id AS k1, user_id AS k2,
           last_click_ts AS ts, {_NULL_L} AS n, {_NULL_D} AS v
    FROM ({BUILDER_SQL['asof_join']})
    UNION ALL
    SELECT 'range' AS part, {_NULL_L}, {_NULL_L}, win_start AS ts,
           n_events AS n, total_value AS v
    FROM ({BUILDER_SQL['range_join_bucketed']})
    UNION ALL
    SELECT 'interval', c.event_id, p.event_id, p.ts, {_NULL_L}, p.value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id AND p.ts >= c.ts
     AND p.ts < c.ts + INTERVAL 30 MINUTE
    UNION ALL
    SELECT 'trunc' AS part, {_NULL_L}, {_NULL_L},
           CAST(order_month AS TIMESTAMP) AS ts, n_orders AS n, revenue AS v
    FROM ({BUILDER_SQL['date_trunc_month']})
    """,
)
def temporal_joins(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = asof_join(spark, sf_dir).select(
        F.lit("asof").alias("part"), F.col("event_id").alias("k1"),
        F.col("user_id").alias("k2"), F.col("last_click_ts").alias("ts"),
        _nl().alias("n"), _nd().alias("v"),
    )
    r = range_join_bucketed(spark, sf_dir).select(
        F.lit("range").alias("part"), _nl().alias("k1"), _nl().alias("k2"),
        F.col("win_start").alias("ts"), F.col("n_events").alias("n"),
        F.col("total_value").alias("v"),
    )
    from ..streaming.join_stream import clicks_to_purchases

    i = clicks_to_purchases(spark, sf_dir).select(
        F.lit("interval").alias("part"), F.col("click_id").alias("k1"),
        F.col("purchase_id").alias("k2"), F.col("purchase_ts").alias("ts"),
        _nl().alias("n"), F.col("purchase_value").alias("v"),
    )
    # 'trunc' part (r4): date_trunc monthly rollup, folded here to free
    # its catalog slot; order_month (DATE) rides the ts column as
    # midnight timestamps on both sides.
    t = date_trunc_month(spark, sf_dir).select(
        F.lit("trunc").alias("part"), _nl().alias("k1"), _nl().alias("k2"),
        F.col("order_month").cast("timestamp").alias("ts"),
        F.col("n_orders").alias("n"), F.col("revenue").alias("v"),
    )
    return a.unionByName(r).unionByName(i).unionByName(t)


# --- TPC-H Q2 (minimum-cost supplier), EXACT FORM (r9, VERDICT r8
# next-round #6): correlated-MIN subquery over the 5-way
# part→partsupp→supplier→nation→region join, with partsupp the
# derived deterministic relation (operators/tpch_ext.py). Constants
# adapted to this data's domains (p_size = 13, p_type LIKE
# '%STANDARD', region 'EUROPE' — the TPC-H text uses 15/%BRASS/
# EUROPE). MIN over identical per-row doubles is order-insensitive,
# so the equality match is exact on both engines.
@builder(
    "q2_min_cost_supplier",
    f"""
    WITH {PARTSUPP_SQL}
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey,
           ps.ps_supplycost AS min_unit
    FROM part p
    JOIN partsupp ps ON ps.ps_partkey = p.p_partkey
    JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE p.p_size = 13 AND p.p_type LIKE '%STANDARD'
      AND r.r_name = 'EUROPE'
      AND ps.ps_supplycost = (
        SELECT MIN(ps2.ps_supplycost)
        FROM partsupp ps2
        JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
        JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
        JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
        WHERE ps2.ps_partkey = p.p_partkey AND r2.r_name = 'EUROPE')
    ORDER BY s.s_acctbal DESC, n.n_name, s.s_name, p.p_partkey LIMIT 100
    """,
)
def q2_min_cost_supplier(
    spark: SparkSession, sf_dir: str, ps: DataFrame | None = None
) -> DataFrame:
    ps = partsupp(spark, sf_dir) if ps is None else ps
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_type").like("%STANDARD")) & (F.col("p_size") == 13)
    )
    # region-scoped offers (the correlated subquery's domain), cached:
    # both the main join and the per-part MIN consume it
    offers = scoped_cache(
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .select("ps_partkey", "ps_supplycost", "s_name", "s_acctbal", "n_name")
    )
    best = offers.groupBy(F.col("ps_partkey").alias("__pk")).agg(
        F.min("ps_supplycost").alias("min_u")
    )
    return (
        offers.join(
            best,
            (offers.ps_partkey == best.__pk)
            & (offers.ps_supplycost == best.min_u),
        )
        .join(p, offers.ps_partkey == p.p_partkey)
        .select(
            "s_acctbal",
            "s_name",
            "n_name",
            "p_partkey",
            F.col("ps_supplycost").alias("min_unit"),
        )
        .orderBy(F.col("s_acctbal").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# --- TPC-H Q8 shape (national market share): 7-table star join,
# per-year share of one nation's revenue inside one region's market.
# Share = exact decimal CASE-sum / exact decimal sum, divided once in
# double (deterministic given identical operands).
@builder(
    "q8_market_share",
    f"""
    WITH vol AS (
      SELECT EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
             l.l_extendedprice * (1 - l.l_discount) AS volume,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn ON cn.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = cn.n_regionkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation sn ON sn.n_nationkey = s.s_nationkey
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE r.r_name = 'AMERICA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01')
    SELECT CAST(o_year AS BIGINT) AS o_year,
           {dsum_sql("CASE WHEN supp_nation = 'NATION_7' THEN volume ELSE 0 END")}
             / {dsum_sql('volume')} AS mkt_share
    FROM vol GROUP BY 1
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "AMERICA")
    s = load_table(spark, sf_dir, "supplier")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_region")
    )
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(cn, c.c_nationkey == F.col("cn_key"))
        .join(r, F.col("cn_region") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(sn, s.s_nationkey == F.col("sn_key"))
        .join(p, li.l_partkey == p.p_partkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"),
            "supp_nation",
        )
    )
    return vol.groupBy("o_year").agg(
        (
            dsum(F.when(F.col("supp_nation") == "NATION_7", F.col("volume")).otherwise(0))
            / dsum("volume")
        ).alias("mkt_share")
    )


# --- TPC-H Q9 (product-type profit), EXACT FORM (r9): the spec's
# 6-way join INCLUDING partsupp on (partkey, suppkey), with profit =
# revenue − ps_supplycost·l_quantity. The derived partsupp holds 4
# suppliers per part by dbgen's stride, so the double-keyed join
# keeps the ~4/|S| fraction of lines whose (partkey, suppkey) pair is
# in the relation — sparser than real TPC-H referential integrity,
# but non-empty at every SF and exercising the exact plan.
@builder(
    "q9_product_profit",
    f"""
    WITH {PARTSUPP_SQL}
    SELECT sn.n_name AS nation_name,
           CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           {dsum_sql('l.l_extendedprice * (1 - l.l_discount) - ps.ps_supplycost * l.l_quantity')}
             AS profit
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn ON sn.n_nationkey = s.s_nationkey
    JOIN partsupp ps ON ps.ps_suppkey = l.l_suppkey
                    AND ps.ps_partkey = l.l_partkey
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY 1, 2
    """,
)
def q9_product_profit(
    spark: SparkSession, sf_dir: str, ps: DataFrame | None = None
) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    ps = partsupp(spark, sf_dir) if ps is None else ps
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%gear%"))
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "ps_supplycost"
    ) * F.col("l_quantity")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(
            ps,
            (li.l_suppkey == ps.ps_suppkey) & (li.l_partkey == ps.ps_partkey),
        )
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(dsum(profit).alias("profit"))
    )


# --- TPC-H Q11 (important stock), EXACT FORM (r9): per-part
# ps_supplycost·ps_availqty value over one nation's partsupp rows,
# HAVING above a fraction of the scalar-subquery global total. The
# threshold compares cross-multiplied in exact decimal so membership
# can't flip on float low bits. The spec's fraction is 0.0001/SF —
# i.e. it SHRINKS with data size; a constant fraction would go empty
# at 10× scale, so the threshold here is the equivalent data-relative
# form "parts holding ≥ 2× the average per-part share"
# (value·n_parts > 2·total — exact integers), which selects the
# heavy tail at every SF.
@builder(
    "q11_important_stock",
    f"""
    WITH {PARTSUPP_SQL},
    scoped AS (
      SELECT ps.ps_partkey, {dfix_sql('ps.ps_supplycost * ps.ps_availqty')} AS v
      FROM partsupp ps
      JOIN supplier s ON s.s_suppkey = ps.ps_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      WHERE n.n_name = 'NATION_3')
    SELECT ps_partkey, CAST(SUM(v) AS DOUBLE) / 10000.0 AS stock_value
    FROM scoped
    GROUP BY ps_partkey
    HAVING SUM(v) * (SELECT COUNT(DISTINCT ps_partkey) FROM scoped)
           > 2 * (SELECT SUM(v) FROM scoped)
    """,
)
def q11_important_stock(
    spark: SparkSession, sf_dir: str, ps: DataFrame | None = None
) -> DataFrame:
    ps = partsupp(spark, sf_dir) if ps is None else ps
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_3")
    # per-row fixed point (exprs.py r7): the HAVING cross-multiply and
    # the reported value aggregate exact integers on both engines
    scoped = (
        ps.join(s, ps.ps_suppkey == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey)
        .select(
            "ps_partkey",
            dfix(F.col("ps_supplycost") * F.col("ps_availqty"))
            .cast("decimal(38,0)")
            .alias("v"),
        )
    )
    scoped = scoped_cache(scoped)
    total = scoped.agg(
        F.sum("v").alias("__total"),
        F.countDistinct("ps_partkey").alias("__nparts"),
    )
    return (
        scoped.groupBy("ps_partkey")
        .agg(F.sum("v").alias("__value"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("__value") * F.col("__nparts") > F.lit(2) * F.col("__total"))
        .select(
            "ps_partkey",
            (F.col("__value").cast("double") / F.lit(10000.0)).alias(
                "stock_value"
            ),
        )
    )


# --- TPC-H Q13 shape (customer order-count distribution): left outer
# join with an ON-clause filter, per-customer count, then a histogram
# of the counts (two-level aggregation).
@builder(
    "q13_order_count_distribution",
    """
    SELECT c_count, COUNT(*) AS custdist
    FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
          FROM customer c
          LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                             AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
)
def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# --- TPC-H Q15 shape (top supplier): windowed revenue view + scalar
# MAX subquery, equality-matched in EXACT decimal (ties all surface,
# as in the spec).
@builder(
    "q15_top_supplier",
    f"""
    WITH rev AS (
      SELECT l_suppkey,
             SUM({dfix_sql('l_extendedprice * (1 - l_discount)')}) AS r
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name, CAST(rev.r AS DOUBLE) / 10000.0
             AS total_revenue
    FROM supplier s JOIN rev ON rev.l_suppkey = s.s_suppkey
    WHERE rev.r = (SELECT MAX(r) FROM rev)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    # fixed-point revenue (exprs.py r7): the MAX-equality match and
    # the reported value ride exact integers on both engines
    rev = scoped_cache(
        li.groupBy("l_suppkey").agg(
            F.sum(
                dfix(
                    F.col("l_extendedprice") * (1 - F.col("l_discount"))
                ).cast("decimal(38,0)")
            ).alias("r")
        )
    )
    mx = rev.agg(F.max("r").alias("__mx"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("r") == F.col("__mx"))
        .join(s, F.col("l_suppkey") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("r").cast("double") / F.lit(10000.0)).alias(
                "total_revenue"
            ),
        )
    )


# --- TPC-H Q16 (part/supplier census), EXACT FORM (r9): partsupp is
# the part↔supplier relation (derived, tpch_ext.py) and the excluded
# suppliers are the spec's own s_comment LIKE '%Customer%Complaints%'
# NOT-IN subquery (over the derived s_comment).
@builder(
    "q16_part_supplier_census",
    f"""
    WITH {PARTSUPP_SQL},
    {SUPPLIER_EXT_SQL}
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.ps_suppkey) AS supplier_cnt
    FROM partsupp ps JOIN part p ON p.p_partkey = ps.ps_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type NOT LIKE 'PROMO%'
      AND p.p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
      AND ps.ps_suppkey NOT IN
          (SELECT s_suppkey FROM supplier_ext
           WHERE s_comment LIKE '%Customer%Complaints%')
    GROUP BY 1, 2, 3
    """,
)
def q16_part_supplier_census(
    spark: SparkSession, sf_dir: str, ps: DataFrame | None = None
) -> DataFrame:
    ps = partsupp(spark, sf_dir) if ps is None else ps
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 22))
    )
    bad = (
        supplier_ext(spark, sf_dir)
        .filter(F.col("s_comment").like("%Customer%Complaints%"))
        .select("s_suppkey")
    )
    return (
        ps.join(bad, ps.ps_suppkey == bad.s_suppkey, "left_anti")
        .join(p, ps.ps_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").alias("supplier_cnt"))
    )


# --- TPC-H Q17 shape (small-quantity-order revenue): correlated
# per-part AVG subquery as the row filter, single global aggregate.
# The 0.2·avg threshold is one double multiply of identical operands
# (decimal-sum / count) — deterministic both engines.
@builder(
    "q17_small_qty_revenue",
    f"""
    WITH pq AS (
      SELECT l_partkey, {davg_sql('l_quantity')} AS avg_qty
      FROM lineitem GROUP BY l_partkey)
    SELECT {dsum_sql('l.l_extendedprice')} / 7.0 AS avg_yearly,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN pq ON pq.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#3' AND l.l_quantity < 0.2 * pq.avg_qty
    """,
)
def q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
    pq = li.groupBy(F.col("l_partkey").alias("__pk")).agg(
        davg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(pq, li.l_partkey == F.col("__pk"))
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (dsum("l_extendedprice") / F.lit(7.0)).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --- TPC-H Q19 (discounted revenue), EXACT FORM (r9): the spec's
# three disjunctive brackets over p_brand + p_container + l_quantity
# + p_size, with the shared l_shipmode IN ('AIR','REG AIR') and
# l_shipinstruct = 'DELIVER IN PERSON' conjuncts — container, mode
# and instruct are the derived columns (tpch_ext.py).
@builder(
    "q19_bracket_revenue",
    f"""
    WITH {LINEITEM_EXT_SQL},
    {PART_EXT_SQL}
    SELECT {dsum_sql('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem_ext l JOIN part_ext p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipmode IN ('AIR', 'REG AIR')
      AND l.l_shipinstruct = 'DELIVER IN PERSON'
      AND ((p.p_brand = 'Brand#1'
            AND p.p_container IN ('SM CASE', 'SM BOX', 'SM PACK', 'SM PKG')
            AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size BETWEEN 1 AND 5)
        OR (p.p_brand = 'Brand#2'
            AND p.p_container IN ('MED BAG', 'MED BOX', 'MED PKG', 'MED PACK')
            AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size BETWEEN 1 AND 10)
        OR (p.p_brand = 'Brand#3'
            AND p.p_container IN ('LG CASE', 'LG BOX', 'LG PACK', 'LG PKG')
            AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size BETWEEN 1 AND 15))
    """,
)
def q19_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = lineitem_ext(spark, sf_dir).filter(
        F.col("l_shipmode").isin("AIR", "REG AIR")
        & (F.col("l_shipinstruct") == "DELIVER IN PERSON")
    )
    p = part_ext(spark, sf_dir)
    bracket = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_container").isin("SM CASE", "SM BOX", "SM PACK", "SM PKG")
        & F.col("l_quantity").between(1, 11)
        & F.col("p_size").between(1, 5)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_container").isin("MED BAG", "MED BOX", "MED PKG", "MED PACK")
        & F.col("l_quantity").between(10, 20)
        & F.col("p_size").between(1, 10)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_container").isin("LG CASE", "LG BOX", "LG PACK", "LG PKG")
        & F.col("l_quantity").between(20, 30)
        & F.col("p_size").between(1, 15)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(bracket)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# --- TPC-H Q20 (excess-stock suppliers), EXACT FORM (r9): supplier
# IN (partsupp rows whose ps_availqty exceeds half the supplier's
# 1997 shipped volume of that part), parts restricted by the spec's
# p_name prefix LIKE ('small%' here; the TPC-H text uses 'forest%').
# The 0.5·SUM compare is deterministic: l_quantity is integer-valued,
# so the double SUM is exact and order-independent, and 0.5·x is an
# exact IEEE op. Lines with no partsupp twin simply contribute a
# zero-volume pair (availqty > 0 ⇒ kept), matching the spec's
# semantics under the derived relation's sparser FK.
@builder(
    "q20_excess_stock_suppliers",
    f"""
    WITH {PARTSUPP_SQL}
    SELECT s.s_name, n.n_name
    FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE s.s_suppkey IN (
      SELECT ps.ps_suppkey
      FROM partsupp ps
      WHERE ps.ps_partkey IN
            (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
        AND ps.ps_availqty > (
          SELECT 0.5 * COALESCE(SUM(l.l_quantity), 0)
          FROM lineitem l
          WHERE l.l_partkey = ps.ps_partkey
            AND l.l_suppkey = ps.ps_suppkey
            AND l.l_shipdate >= TIMESTAMP '1997-01-01'
            AND l.l_shipdate < TIMESTAMP '1998-01-01'))
    ORDER BY s_name
    """,
)
def q20_excess_stock_suppliers(
    spark: SparkSession, sf_dir: str, ps: DataFrame | None = None
) -> DataFrame:
    ps = partsupp(spark, sf_dir) if ps is None else ps
    small = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    shipped = (
        load_table(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy(
            F.col("l_partkey").alias("__pk"), F.col("l_suppkey").alias("__sk")
        )
        .agg(F.sum("l_quantity").alias("__qty"))
    )
    excess = (
        ps.join(small, ps.ps_partkey == small.p_partkey, "left_semi")
        .join(
            shipped,
            (ps.ps_partkey == F.col("__pk")) & (ps.ps_suppkey == F.col("__sk")),
            "left",
        )
        .filter(
            F.col("ps_availqty").cast("double")
            > F.lit(0.5) * F.coalesce(F.col("__qty"), F.lit(0.0))
        )
        .select("ps_suppkey")
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    return (
        s.join(excess, s.s_suppkey == excess.ps_suppkey, "left_semi")
        .join(n, s.s_nationkey == n.n_nationkey)
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


# --- TPC-H Q21 (suppliers who kept orders waiting), EXACT FORM (r9):
# EXISTS + NOT-EXISTS double correlation on the same fact table (semi
# + anti join), grouped count, top-k — with the spec's own late-line
# predicate l_receiptdate > l_commitdate over the derived dates.
@builder(
    "q21_waiting_suppliers",
    f"""
    WITH {LINEITEM_EXT_SQL},
    lines AS (
      SELECT l.l_orderkey, l.l_suppkey,
             l.l_receiptdate > l.l_commitdate AS late
      FROM lineitem_ext l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F')
    SELECT s.s_name, COUNT(*) AS numwait
    FROM lines l1
    JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE l1.late
      AND n.n_name IN ('NATION_2', 'NATION_5')
      AND EXISTS (SELECT 1 FROM lines l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lines l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey AND l3.late)
    GROUP BY s.s_name
    ORDER BY numwait DESC, s_name LIMIT 20
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = lineitem_ext(spark, sf_dir)
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    lines = scoped_cache(
        li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey",
            "l_suppkey",
            (F.col("l_receiptdate") > F.col("l_commitdate")).alias("late"),
        )
    )
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_2", "NATION_5")
    )
    l1 = lines.filter(F.col("late")).select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("s_key")
    )
    l2 = lines.select(
        F.col("l_orderkey").alias("o2"), F.col("l_suppkey").alias("s2")
    )
    l3 = lines.filter(F.col("late")).select(
        F.col("l_orderkey").alias("o3"), F.col("l_suppkey").alias("s3")
    )
    cand = l1.join(
        l2, (F.col("o_key") == F.col("o2")) & (F.col("s_key") != F.col("s2")), "left_semi"
    ).join(
        l3, (F.col("o_key") == F.col("o3")) & (F.col("s_key") != F.col("s3")), "left_anti"
    )
    return (
        cand.join(s, F.col("s_key") == s.s_suppkey)
        .join(n, s.s_nationkey == n.n_nationkey, "left_semi")
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


# --- the TPC-H shape suite — all 21 non-Q1 queries (Q1 is its own
# catalog entry, q1_pricing_summary) in one registration: each branch
# runs its full original join/agg/top-k plan; outputs are normalized
# to (q, k1, k2, v1, v2, n). Dropped columns are functionally
# dependent on kept keys (q3 order_date↦k2; q10 c_name↦c_custkey; q18
# o_orderdate↦o_orderkey). Since r9 (VERDICT r8 next-round #6) the
# formerly-adapted Q2/Q4/Q9/Q11/Q12/Q16/Q19/Q20/Q21/Q22 run their
# EXACT TPC-H forms over the deterministically DERIVED missing
# attributes (partsupp, commit/receipt dates, shipmode/shipinstruct,
# container, phone, s_comment — operators/tpch_ext.py; constants
# adapted to this data's value domains). The one remaining predicate
# substitution is Q22's no-URGENT-order anti join (order-less
# customers don't occur in this data distribution — see its header).
@register(
    "tpch_suite",
    f"""
    SELECT 'q3' AS q, CAST(l_orderkey AS VARCHAR) AS k1,
           CAST(order_date AS VARCHAR) AS k2, revenue AS v1,
           {_NULL_D} AS v2, {_NULL_L} AS n
    FROM ({BUILDER_SQL['q3_shipping_priority']})
    UNION ALL
    SELECT 'q5', n_name, {_NULL_S}, revenue, {_NULL_D}, {_NULL_L}
    FROM ({BUILDER_SQL['q5_local_supplier_volume']})
    UNION ALL
    SELECT 'q6', {_NULL_S}, {_NULL_S}, revenue, {_NULL_D}, n_rows
    FROM ({BUILDER_SQL['q6_forecast_revenue']})
    UNION ALL
    SELECT 'q7', supp_nation || '->' || cust_nation,
           CAST(l_year AS VARCHAR), revenue, {_NULL_D}, {_NULL_L}
    FROM ({BUILDER_SQL['q7_volume_shipping']})
    UNION ALL
    SELECT 'q10', CAST(c_custkey AS VARCHAR), n_name, revenue,
           {_NULL_D}, {_NULL_L}
    FROM ({BUILDER_SQL['q10_returned_items']})
    UNION ALL
    SELECT 'q14', {_NULL_S}, {_NULL_S}, promo_revenue_pct, {_NULL_D}, n_rows
    FROM ({BUILDER_SQL['q14_promo_revenue']})
    UNION ALL
    SELECT 'q18', CAST(o_orderkey AS VARCHAR), c_name, sum_qty,
           o_totalprice, {_NULL_L}
    FROM ({BUILDER_SQL['q18_large_volume_customer']})
    UNION ALL
    SELECT 'q4', o_orderpriority, {_NULL_S}, {_NULL_D}, {_NULL_D}, n_orders
    FROM ({BUILDER_SQL['q4_order_priority']})
    UNION ALL
    SELECT 'q12', l_shipmode, CAST(high_line_count AS VARCHAR),
           {_NULL_D}, {_NULL_D}, low_line_count
    FROM ({BUILDER_SQL['q12_priority_by_status']})
    UNION ALL
    SELECT 'q22', cntrycode, {_NULL_S}, total_acctbal, {_NULL_D}, n_custs
    FROM ({BUILDER_SQL['q22_idle_rich_customers']})
    UNION ALL
    SELECT 'q2', CAST(p_partkey AS VARCHAR), s_name || '/' || n_name,
           s_acctbal, min_unit, {_NULL_L}
    FROM ({BUILDER_SQL['q2_min_cost_supplier']})
    UNION ALL
    SELECT 'q8', CAST(o_year AS VARCHAR), {_NULL_S}, mkt_share,
           {_NULL_D}, {_NULL_L}
    FROM ({BUILDER_SQL['q8_market_share']})
    UNION ALL
    SELECT 'q9', nation_name, CAST(o_year AS VARCHAR), profit,
           {_NULL_D}, {_NULL_L}
    FROM ({BUILDER_SQL['q9_product_profit']})
    UNION ALL
    SELECT 'q11', CAST(ps_partkey AS VARCHAR), {_NULL_S}, stock_value,
           {_NULL_D}, {_NULL_L}
    FROM ({BUILDER_SQL['q11_important_stock']})
    UNION ALL
    SELECT 'q13', CAST(c_count AS VARCHAR), {_NULL_S}, {_NULL_D},
           {_NULL_D}, custdist
    FROM ({BUILDER_SQL['q13_order_count_distribution']})
    UNION ALL
    SELECT 'q15', CAST(s_suppkey AS VARCHAR), s_name, total_revenue,
           {_NULL_D}, {_NULL_L}
    FROM ({BUILDER_SQL['q15_top_supplier']})
    UNION ALL
    SELECT 'q16', p_brand, p_type, CAST(p_size AS DOUBLE), {_NULL_D},
           supplier_cnt
    FROM ({BUILDER_SQL['q16_part_supplier_census']})
    UNION ALL
    SELECT 'q17', {_NULL_S}, {_NULL_S}, avg_yearly, {_NULL_D}, n_lines
    FROM ({BUILDER_SQL['q17_small_qty_revenue']})
    UNION ALL
    SELECT 'q19', {_NULL_S}, {_NULL_S}, revenue, {_NULL_D}, n_lines
    FROM ({BUILDER_SQL['q19_bracket_revenue']})
    UNION ALL
    SELECT 'q20', s_name, n_name, {_NULL_D}, {_NULL_D}, {_NULL_L}
    FROM ({BUILDER_SQL['q20_excess_stock_suppliers']})
    UNION ALL
    SELECT 'q21', s_name, {_NULL_S}, {_NULL_D}, {_NULL_D}, numwait
    FROM ({BUILDER_SQL['q21_waiting_suppliers']})
    """,
)
def tpch_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE partsupp derivation for the five consumers (r10, VERDICT r9
    # next-round #6): q2/q9/q11/q16/q20 each re-derived the 4×|part|
    # explode+distinct (plus a supplier.count() driver action apiece)
    # inside their own union branch. localCheckpoint materializes the
    # tiny derived relation once; every branch then reads the blocks
    # as a LEAF, which also shrinks the union-of-21 plan the analyzer
    # must chew through. Standalone builder calls are unchanged (ps
    # defaults to None → derive as before).
    from ..registry import checkpointed as _ckpt

    ps_shared = _ckpt(partsupp(spark, sf_dir))
    q3 = q3_shipping_priority(spark, sf_dir).select(
        F.lit("q3").alias("q"), F.col("l_orderkey").cast("string").alias("k1"),
        F.col("order_date").cast("string").alias("k2"), F.col("revenue").alias("v1"),
        _nd().alias("v2"), _nl().alias("n"),
    )
    q5 = q5_local_supplier_volume(spark, sf_dir).select(
        F.lit("q5").alias("q"), F.col("n_name").alias("k1"), _ns().alias("k2"),
        F.col("revenue").alias("v1"), _nd().alias("v2"), _nl().alias("n"),
    )
    q6 = q6_forecast_revenue(spark, sf_dir).select(
        F.lit("q6").alias("q"), _ns().alias("k1"), _ns().alias("k2"),
        F.col("revenue").alias("v1"), _nd().alias("v2"), F.col("n_rows").alias("n"),
    )
    q7 = q7_volume_shipping(spark, sf_dir).select(
        F.lit("q7").alias("q"),
        F.concat(F.col("supp_nation"), F.lit("->"), F.col("cust_nation")).alias("k1"),
        F.col("l_year").cast("string").alias("k2"),
        F.col("revenue").alias("v1"), _nd().alias("v2"), _nl().alias("n"),
    )
    q10 = q10_returned_items(spark, sf_dir).select(
        F.lit("q10").alias("q"), F.col("c_custkey").cast("string").alias("k1"),
        F.col("n_name").alias("k2"), F.col("revenue").alias("v1"),
        _nd().alias("v2"), _nl().alias("n"),
    )
    q14 = q14_promo_revenue(spark, sf_dir).select(
        F.lit("q14").alias("q"), _ns().alias("k1"), _ns().alias("k2"),
        F.col("promo_revenue_pct").alias("v1"), _nd().alias("v2"),
        F.col("n_rows").alias("n"),
    )
    q18 = q18_large_volume_customer(spark, sf_dir).select(
        F.lit("q18").alias("q"), F.col("o_orderkey").cast("string").alias("k1"),
        F.col("c_name").alias("k2"), F.col("sum_qty").alias("v1"),
        F.col("o_totalprice").alias("v2"), _nl().alias("n"),
    )
    q4 = q4_order_priority(spark, sf_dir).select(
        F.lit("q4").alias("q"), F.col("o_orderpriority").alias("k1"),
        _ns().alias("k2"), _nd().alias("v1"), _nd().alias("v2"),
        F.col("n_orders").alias("n"),
    )
    q12 = q12_priority_by_status(spark, sf_dir).select(
        F.lit("q12").alias("q"), F.col("l_shipmode").alias("k1"),
        F.col("high_line_count").cast("string").alias("k2"),
        _nd().alias("v1"), _nd().alias("v2"),
        F.col("low_line_count").alias("n"),
    )
    q22 = q22_idle_rich_customers(spark, sf_dir).select(
        F.lit("q22").alias("q"), F.col("cntrycode").alias("k1"),
        _ns().alias("k2"), F.col("total_acctbal").alias("v1"),
        _nd().alias("v2"), F.col("n_custs").alias("n"),
    )
    q2 = q2_min_cost_supplier(spark, sf_dir, ps=ps_shared).select(
        F.lit("q2").alias("q"), F.col("p_partkey").cast("string").alias("k1"),
        F.concat(F.col("s_name"), F.lit("/"), F.col("n_name")).alias("k2"),
        F.col("s_acctbal").alias("v1"), F.col("min_unit").alias("v2"),
        _nl().alias("n"),
    )
    q8 = q8_market_share(spark, sf_dir).select(
        F.lit("q8").alias("q"), F.col("o_year").cast("string").alias("k1"),
        _ns().alias("k2"), F.col("mkt_share").alias("v1"), _nd().alias("v2"),
        _nl().alias("n"),
    )
    q9 = q9_product_profit(spark, sf_dir, ps=ps_shared).select(
        F.lit("q9").alias("q"), F.col("nation_name").alias("k1"),
        F.col("o_year").cast("string").alias("k2"), F.col("profit").alias("v1"),
        _nd().alias("v2"), _nl().alias("n"),
    )
    q11 = q11_important_stock(spark, sf_dir, ps=ps_shared).select(
        F.lit("q11").alias("q"), F.col("ps_partkey").cast("string").alias("k1"),
        _ns().alias("k2"), F.col("stock_value").alias("v1"), _nd().alias("v2"),
        _nl().alias("n"),
    )
    q13 = q13_order_count_distribution(spark, sf_dir).select(
        F.lit("q13").alias("q"), F.col("c_count").cast("string").alias("k1"),
        _ns().alias("k2"), _nd().alias("v1"), _nd().alias("v2"),
        F.col("custdist").alias("n"),
    )
    q15 = q15_top_supplier(spark, sf_dir).select(
        F.lit("q15").alias("q"), F.col("s_suppkey").cast("string").alias("k1"),
        F.col("s_name").alias("k2"), F.col("total_revenue").alias("v1"),
        _nd().alias("v2"), _nl().alias("n"),
    )
    q16 = q16_part_supplier_census(spark, sf_dir, ps=ps_shared).select(
        F.lit("q16").alias("q"), F.col("p_brand").alias("k1"),
        F.col("p_type").alias("k2"), F.col("p_size").cast("double").alias("v1"),
        _nd().alias("v2"), F.col("supplier_cnt").alias("n"),
    )
    q17 = q17_small_qty_revenue(spark, sf_dir).select(
        F.lit("q17").alias("q"), _ns().alias("k1"), _ns().alias("k2"),
        F.col("avg_yearly").alias("v1"), _nd().alias("v2"),
        F.col("n_lines").alias("n"),
    )
    q19 = q19_bracket_revenue(spark, sf_dir).select(
        F.lit("q19").alias("q"), _ns().alias("k1"), _ns().alias("k2"),
        F.col("revenue").alias("v1"), _nd().alias("v2"),
        F.col("n_lines").alias("n"),
    )
    q20 = q20_excess_stock_suppliers(spark, sf_dir, ps=ps_shared).select(
        F.lit("q20").alias("q"), F.col("s_name").alias("k1"),
        F.col("n_name").alias("k2"), _nd().alias("v1"), _nd().alias("v2"),
        _nl().alias("n"),
    )
    q21 = q21_waiting_suppliers(spark, sf_dir).select(
        F.lit("q21").alias("q"), F.col("s_name").alias("k1"), _ns().alias("k2"),
        _nd().alias("v1"), _nd().alias("v2"), F.col("numwait").alias("n"),
    )
    out = q3
    for branch in (
        q5, q6, q7, q10, q14, q18, q4, q12, q22,
        q2, q8, q9, q11, q13, q15, q16, q17, q19, q20, q21,
    ):
        out = out.unionByName(branch)
    return out


# --- window-function family: ranking quartet over one window spec +
# trailing-frame aggregate.
@register(
    "window_funcs",
    f"""
    SELECT 'rank' AS part, o_orderkey AS id, o_orderpriority AS key,
           rnk AS l1, drnk AS l2, quartile AS i1, prnk AS d1
    FROM ({BUILDER_SQL['rank_funcs']})
    UNION ALL
    SELECT 'moving' AS part, event_id AS id, CAST(user_id AS VARCHAR) AS key,
           {_NULL_L}, {_NULL_L}, {_NULL_I}, trailing_avg
    FROM ({BUILDER_SQL['moving_avg']})
    """,
)
def window_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = rank_funcs(spark, sf_dir).select(
        F.lit("rank").alias("part"), F.col("o_orderkey").alias("id"),
        F.col("o_orderpriority").alias("key"), F.col("rnk").alias("l1"),
        F.col("drnk").alias("l2"), F.col("quartile").alias("i1"),
        F.col("prnk").alias("d1"),
    )
    m = moving_avg(spark, sf_dir).select(
        F.lit("moving").alias("part"), F.col("event_id").alias("id"),
        F.col("user_id").cast("string").alias("key"), _nl().alias("l1"),
        _nl().alias("l2"), F.lit(None).cast("int").alias("i1"),
        F.col("trailing_avg").alias("d1"),
    )
    return r.unionByName(m)
