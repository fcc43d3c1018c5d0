"""Derived TPC-H attributes (operators/tpch_ext.py, r9): each derived
relation must be bit-identical between the Spark expressions and the
DuckDB oracle CTEs (that identity is what lets the formerly-adapted
TPC-H shapes run their exact forms with a green oracle), and the
gen_testdata partsupp.parquet must equal the in-query derivation."""

from __future__ import annotations

import duckdb
import pytest

from conftest import SF_SMOKE

from mrbf_spark.operators import tpch_ext as tx


def _con(sf_dir):
    con = duckdb.connect()
    for t in ("part", "supplier", "nation", "region", "lineitem", "customer"):
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


# (name, builder, projected columns, oracle CTE, oracle select)
_DERIVED = [
    (
        "partsupp",
        tx.partsupp,
        None,
        tx.PARTSUPP_SQL,
        "SELECT * FROM partsupp",
    ),
    (
        "lineitem_ext",
        tx.lineitem_ext,
        ["l_orderkey", "l_linenumber", "l_commitdate", "l_receiptdate",
         "l_shipmode", "l_shipinstruct"],
        tx.LINEITEM_EXT_SQL,
        "SELECT l_orderkey, l_linenumber, l_commitdate, l_receiptdate,"
        " l_shipmode, l_shipinstruct FROM lineitem_ext",
    ),
    (
        "part_ext",
        tx.part_ext,
        ["p_partkey", "p_container"],
        tx.PART_EXT_SQL,
        "SELECT p_partkey, p_container FROM part_ext",
    ),
    (
        "customer_ext",
        tx.customer_ext,
        ["c_custkey", "c_phone"],
        tx.CUSTOMER_EXT_SQL,
        "SELECT c_custkey, c_phone FROM customer_ext",
    ),
    (
        "supplier_ext",
        tx.supplier_ext,
        ["s_suppkey", "s_comment"],
        tx.SUPPLIER_EXT_SQL,
        "SELECT s_suppkey, s_comment FROM supplier_ext",
    ),
]


@pytest.mark.parametrize(
    "name,frame,cols,sql_cte,sql_cols",
    _DERIVED,
    ids=[case[0] for case in _DERIVED],
)
def test_derived_relations_match_oracle(spark, name, frame, cols, sql_cte, sql_cols):
    df = frame(spark, SF_SMOKE)
    if cols:
        df = df.select(*cols)
    got = sorted(map(tuple, df.collect()))
    con = _con(SF_SMOKE)  # keep the connection alive past .sql()
    want = sorted(map(tuple, con.sql(f"WITH {sql_cte} {sql_cols}").fetchall()))
    assert len(got) == len(want) > 0, name
    assert got == want, name


def test_partsupp_is_proper_relation(spark):
    """PK (ps_partkey, ps_suppkey) with every suppkey a real supplier
    key ±1 boundary row, values inside the formula's ranges."""
    from pyspark.sql import functions as F

    ps = tx.partsupp(spark, SF_SMOKE)
    n = ps.count()
    assert ps.select("ps_partkey", "ps_suppkey").distinct().count() == n
    row = ps.agg(
        F.min("ps_availqty"), F.max("ps_availqty"),
        F.min("ps_supplycost"), F.max("ps_supplycost"),
    ).collect()[0]
    assert 1 <= row[0] and row[1] <= 9999
    assert 1.0 <= row[2] and row[3] <= 1001.0


def test_gen_testdata_partsupp_equals_derivation(spark, tmp_path):
    """tools/gen_testdata.py materializes partsupp with the SAME
    formula tpch_ext derives in-query — byte-equal rows."""
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import gen_testdata as g

    out = str(tmp_path / "sfx")
    g.generate(0.001, out)
    got = sorted(
        map(tuple, spark.read.parquet(f"{out}/partsupp.parquet").collect())
    )
    want = sorted(map(tuple, tx.partsupp(spark, out).collect()))
    assert got == want and len(got) > 0


def test_exact_tpch_shapes_nonempty_at_oracle_sf(spark):
    """The r9 exact-form rewrite must keep every shape live where the
    driver's oracle gate runs (q2/q8/q11 had been silently empty since
    r8 — both engines agreed on empty, so the hash never caught it)."""
    from mrbf_spark import catalog

    df = catalog.queries()["tpch_suite"](spark, "/root/testdata/sf0.01")
    live = {r["q"] for r in df.select("q").distinct().collect()}
    assert live == {f"q{i}" for i in range(2, 23)}
