"""Plan-shape regression tests: the scale properties (pushdown,
pruning, broadcast joins, JVM-only hot paths) asserted on the actual
physical plans — a perf bug that reintroduces a shuffle or a Python
stage in the probe path fails here long before a benchmark notices."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mrbf_spark.bloom import build_bloom_filters, probe_bloom_filters
from mrbf_spark.catalog import queries
from mrbf_spark.operators.relational import (
    order_limit,
    q5_local_supplier_volume,
    q6_forecast_revenue,
    q10_returned_items,
    semi_join,
    topk_per_group,
)
from mrbf_spark.tables import load_table

from conftest import SF_SMOKE

QS = queries()


def physical_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_and_projection_pushed_to_scan(spark):
    from mrbf_spark.operators.relational import projection_filter

    plan = physical_plan(projection_filter(spark, SF_SMOKE))
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate" in scan
    # column pruning: only the 3 projected + 1 filter column are read
    read_schema = scan.split("ReadSchema:")[1]
    for col in ("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"):
        assert col in read_schema
    assert "l_partkey" not in read_schema and "l_comment" not in read_schema


def test_dim_joins_are_broadcast(spark):
    plan = physical_plan(QS["broadcast_join_agg"](spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_semi_join_is_broadcast(spark):
    plan = physical_plan(semi_join(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_q1_uses_partial_aggregation(spark):
    # map-side combine (the reference hand-rolls this via reduceByKey;
    # Catalyst's HashAggregate partial→final must be present)
    plan = physical_plan(QS["q1_pricing_summary"](spark, SF_SMOKE))
    assert "partial_" in plan


def test_bloom_probe_path_is_jvm_only_broadcast(spark):
    """The probe side must be: scan → hash exprs → broadcast join →
    filter probe. No Python stage, no shuffle of the probe table."""
    orders = load_table(spark, SF_SMOKE, "orders")
    filters = build_bloom_filters(orders, "o_orderpriority", "o_orderkey", 0.05)
    probed = probe_bloom_filters(
        orders, "o_orderpriority", "o_orderkey", filters, k=5
    ).filter(F.col("bloom_hit") == 1)
    plan = physical_plan(probed)
    assert "BroadcastHashJoin" in plan
    # the filter table is a local table, so the whole plan is JVM-only
    assert "Python" not in plan
    assert "SortMergeJoin" not in plan


def test_bloom_build_has_one_python_stage_and_no_round_robin(spark, monkeypatch):
    """The build collects one mapInArrow fold per input partition
    feeding a JVM bit_or merge: exactly one Python stage, no pandas
    stage, and no round-robin repartition of the input rows. What it
    returns is a bare local table: no Python, no Exchange."""
    orders = load_table(spark, SF_SMOKE, "orders")
    collected = []
    to_arrow = type(orders).toArrow

    def spy(df):
        collected.append(physical_plan(df))
        return to_arrow(df)

    monkeypatch.setattr(type(orders), "toArrow", spy)
    filters = build_bloom_filters(orders, "o_orderpriority", "o_orderkey", 0.03)
    monkeypatch.undo()
    assert len(collected) == 1
    plan = collected[0]
    assert plan.count("MapInArrow") == 1
    assert "MapInPandas" not in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "RoundRobinPartitioning" not in plan
    assert "partial_bit_or" in plan
    out = physical_plan(filters)
    assert out.startswith("LocalTableScan") and len(out.strip().splitlines()) == 1
    assert "Python" not in out and "Exchange" not in out


def test_topk_uses_window_not_global_sort(spark):
    plan = physical_plan(topk_per_group(spark, SF_SMOKE))
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_topk_prunes_locally_before_window_shuffle(spark):
    """The fact scan must NOT feed the window's Exchange directly:
    Spark's WindowGroupLimit rewrite puts a Partial per-partition
    top-k below the Exchange, so shuffle input is bounded at
    partitions x groups x k rows regardless of table size. If a
    regression (e.g. losing the rank filter shape) drops the rewrite,
    this fails long before a benchmark notices."""
    plan = physical_plan(topk_per_group(spark, SF_SMOKE))
    lines = plan.splitlines()
    exchange_at = next(i for i, l in enumerate(lines) if "Exchange hashpartitioning" in l)
    partial_at = next(
        i for i, l in enumerate(lines) if "WindowGroupLimit" in l and "Partial" in l
    )
    scan_at = next(i for i, l in enumerate(lines) if "FileScan parquet" in l)
    # tree prints root-first: scan is deepest, partial prune above it,
    # exchange above that
    assert exchange_at < partial_at < scan_at


def test_order_limit_uses_topk_operator(spark):
    # global ORDER BY + LIMIT must compile to TakeOrderedAndProject
    # (per-partition top-k + driver merge), not a full sort
    plan = physical_plan(order_limit(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_q6_predicates_reach_the_scan(spark):
    # all three conjuncts push into the parquet scan, and only the 4
    # referenced columns are read (lift the 100-char metadata truncation
    # so the whole PushedFilters list is visible)
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    try:
        plan = physical_plan(q6_forecast_revenue(spark, SF_SMOKE))
    finally:
        spark.conf.unset("spark.sql.maxMetadataStringLength")
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    pushed = scan.split("PushedFilters:")[1]
    for frag in ("l_shipdate", "l_discount", "LessThan(l_quantity,24.0)"):
        assert frag in pushed, frag
    read_schema = scan.split("ReadSchema:")[1]
    assert "l_orderkey" not in read_schema and "l_returnflag" not in read_schema


def test_q5_fact_never_shuffles_before_agg(spark):
    # the four HINTED dim joins (customer/supplier/nation/region) must
    # broadcast, and no join may shuffle the fact chain. The fifth
    # (lineitem-orders) join broadcasts too at smoke scale, but only by
    # size-based auto-broadcast of the filtered orders side — so assert
    # >= 4 BHJ + zero shuffling joins rather than an exact count tied
    # to spark.sql.autoBroadcastJoinThreshold and fixture size.
    plan = physical_plan(q5_local_supplier_volume(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") >= 4
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_q10_uses_topk_operator(spark):
    plan = physical_plan(q10_returned_items(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_has_no_shuffle(spark):
    # both sides bucketed on the join key: the SMJ consumes the bucket
    # layout directly — NO Exchange below the join (the in-partition
    # Sort remains: Spark 3+ does not report bucketed-scan output
    # ordering without a legacy flag, and a sort of per-bucket-sorted
    # files is a cheap linear pass; the shuffle is the scale cost)
    df = QS["bucketed_join_agg"](spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "SortMergeJoin" in plan
    below = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in below
    assert "Bucketed: true" in plan and "SelectedBucketsCount" in plan


def test_partitioned_scan_prunes_directories(spark):
    df = QS["partitioned_sink_prune"](spark, SF_SMOKE)
    plan = physical_plan(df)
    scan = next(l for l in plan.splitlines() if "FileScan" in l and "li_partitioned" in l)
    assert "PartitionFilters" in scan and "l_returnflag" in scan.split("PartitionFilters:")[1].split("]")[0]


def test_embedding_neardup_joins_on_label_and_bucket(spark):
    """The near-dup self-join must key on (label, bucket), never label
    alone (VERDICT r1: label-only is O(group²) at a hot label). The
    physical hash join's build/stream keys must both include bucket."""
    from mrbf_spark.functions.similarity import embedding_neardup

    plan = physical_plan(embedding_neardup(spark, SF_SMOKE))
    join_line = next(
        l for l in plan.splitlines() if "Join" in l and "label" in l
    )
    assert "bucket" in join_line, join_line


# BroadcastNestedLoopJoin is legitimate ONLY where a 1-row/tiny
# broadcast side is attached to a stream (the bloom filter-table
# attach, the 8-query ANN crossJoin); anywhere else it's an accidental
# O(n·m) join.
_BNLJ_ALLOWED = {
    "bloom_build_invariants",
    "bloom_split_fp_report",
    "bloom_semijoin_prune",
    "decontaminate",  # bloom attach + the semantic part's broadcast
    # eval-embedding cross (benchmark-sized side by construction)
    "semantic_decontam",  # same broadcast eval cross, standalone builder
    "semantic_decontam_pruned",  # r7: the centroid-matrix broadcast
    # attach + the (normally EMPTY, edge-bounded) exact-fallback
    # residue cross — both deliberate broadcast-tiny-side shapes; the
    # candidate join itself is a cell-keyed equi-join, not a cross
    "bm25_topk",  # the dense branch's one-row query-embedding broadcast cross
    "ann_bruteforce_topk",
    "ann_approx_topk",
    "ann_pq_topk",  # the same 8-row broadcast query cross, standalone
    # builder (the PQ branch of ann_approx_topk)
    "embedding_dedup_suite",  # one-row hyperplane/centroid-matrix broadcast attach
    "contrastive_triplets",  # r7: the same one-row centroid-matrix
    # attach (ivf routing) — the candidate join itself is cell-keyed
    "embedding_neardup",  # same attach, standalone builder
    "semdedup",  # same attach, standalone builder
    "text_semdedup",  # same attach over derived text vectors
    "curate_corpus",  # composes text_semdedup's matrix attach +
    # decontaminate's one-row bloom-filter attach (both above)
    "tpch_suite",  # q22's one-row scalar-threshold broadcast attach
    "data_ops_suite",  # validate's 1-row x 1-row aggregate crossJoin
    "validate_events",  # 1-row scan-agg × 1-row fk-agg report crossJoin
    "ann_index_append",  # r8: the increment encode's one-row frozen
    # centroid-matrix broadcast attach (with_matrix — same shape as
    # every other matrix attach above)
}


@pytest.mark.slow
def test_catalog_outputs_are_scalar_only(spark):
    """Driver-canonicalizer contract: the correctness harness sorts
    result cells with pandas, and array/map/struct cells are unhashable
    there (this exact failure cost multimodal_decode its r2 check).
    Every registered entry must emit only scalar columns — project
    arrays through to_json before registering."""
    from pyspark.sql import types as T

    complex_types = (T.ArrayType, T.MapType, T.StructType)
    offenders = []
    for name, fn in QS.items():
        for field in fn(spark, SF_SMOKE).schema.fields:
            if isinstance(field.dataType, complex_types):
                offenders.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert not offenders, offenders


def test_catalog_plan_hygiene(spark):
    """Catalog-wide scale-anti-pattern sweep over every registered
    query's physical plan: no CartesianProduct anywhere, no
    row-at-a-time Python (BatchEvalPython — Arrow/pandas stages are
    fine), and no BroadcastNestedLoopJoin outside the known tiny-
    broadcast attach points. A new operator that accidentally compiles
    to one of these fails here by name, before any benchmark runs."""
    failures = []
    for name, fn in QS.items():
        plan = physical_plan(fn(spark, SF_SMOKE))
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in plan:
            failures.append(f"{name}: row-at-a-time Python UDF")
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOWED:
            failures.append(f"{name}: unexpected BroadcastNestedLoopJoin")
    assert not failures, failures


def test_cluster_edges_join_is_bounded_equi(spark):
    """dedup_clusters candidate generation must stay an equi-join on
    the shingle key (the co-count inverted index) — a nested-loop/
    cartesian here is the O(corpus²) failure mode the index prevents."""
    from mrbf_spark.functions.dedup import _cluster_edges

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = physical_plan(_cluster_edges(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ann_candidate_path_is_jvm_only(spark):
    """The whole approximate-ANN plan (LSH signature, IVF cell assign,
    probe expansion, re-rank) must stay inside JVM codegen: literal
    hyperplane/centroid arrays with zip_with/aggregate dots replaced
    the r3 pandas UDFs, so no Python eval stage of any kind may appear
    (VERDICT r3 #5)."""
    plan = physical_plan(QS["ann_approx_topk"](spark, SF_SMOKE))
    for marker in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "PythonUDF"):
        assert marker not in plan, f"ann_approx_topk plan contains {marker}"


@pytest.mark.slow
def test_library_tier_plan_hygiene(spark):
    """The same scale-anti-pattern sweep over the library/builder tier
    (bench.legacy_builders): ops outside the 50-entry driver window
    get the same no-CartesianProduct / no-row-at-a-time-Python /
    no-unexpected-BNLJ bar as the catalog."""
    import os as _os
    import sys as _sys

    _sys.path.insert(
        0, _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__)))
    )
    from bench import legacy_builders

    failures = []
    for name, fn in legacy_builders().items():
        if name in QS:
            continue
        plan = physical_plan(fn(spark, SF_SMOKE))
        if "CartesianProduct" in plan:
            failures.append(f"{name}: CartesianProduct")
        if "BatchEvalPython" in plan:
            failures.append(f"{name}: row-at-a-time Python UDF")
        if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_ALLOWED:
            failures.append(f"{name}: unexpected BroadcastNestedLoopJoin")
    assert not failures, failures


def _walk_exec(node):
    yield node
    for i in range(node.children().size()):
        yield from _walk_exec(node.children().apply(i))


def test_jaccard_selfjoin_reuses_cached_partitioning(spark):
    """exact_jaccard_pairs caches the inverted index repartition('s'):
    the cached relation's outputPartitioning must satisfy BOTH sides
    of the shingle self-join, so the join subtree adds ZERO Exchange
    above the InMemoryTableScans (one uniform shuffle at cache time
    replaces two post-cache shuffles — r5, SCALING.md). Broadcast and
    AQE are disabled to force the SMJ shape the big-data path takes."""
    from mrbf_spark.functions.dedup import exact_jaccard_pairs

    old_bt = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        docs = load_table(spark, SF_SMOKE, "documents")
        df = exact_jaccard_pairs(docs, 0.2, max_df=50)
        plan = df._jdf.queryExecution().executedPlan()
        smj = [
            n
            for n in _walk_exec(plan)
            if n.getClass().getSimpleName() == "SortMergeJoinExec"
        ]
        assert smj, "self-join did not take the SMJ path"
        for side in range(2):
            names = [
                n.getClass().getSimpleName()
                for n in _walk_exec(smj[0].children().apply(side))
            ]
            # InMemoryTableScanExec is a LEAF: the walk never descends
            # into the cached relation's own (exchange-bearing) plan.
            assert "InMemoryTableScanExec" in names, names
            assert not any("Exchange" in nm for nm in names), names
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bt)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
