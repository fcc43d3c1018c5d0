"""Loader vintage guard: the driver's testdata has changed the physical
parquet type of ``events.ts`` between rounds (TIMESTAMP(NANOS) in r1,
TIMESTAMP(MICROS, isAdjustedToUTC=false) in r2). ``load_table`` must
normalize every vintage to a session-TZ ``timestamp`` column whose values
match DuckDB's read of the same file — these tests fail loudly in-suite
the next time the data vintage moves, instead of failing in the driver.
"""

from __future__ import annotations

import duckdb

from mrbf_spark.tables import load_table

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def test_events_ts_is_session_timestamp(spark):
    for sf_dir in (SF_SMOKE, SF_ORACLE):
        df = load_table(spark, sf_dir, "events")
        assert dict(df.dtypes)["ts"] == "timestamp", (
            f"events.ts must load as TIMESTAMP (got {dict(df.dtypes)['ts']}) "
            f"in {sf_dir} — data vintage changed again; fix _load_events"
        )


def test_events_ts_values_match_duckdb(spark):
    df = load_table(spark, SF_SMOKE, "events")
    spark_rows = {r.event_id: r.ts for r in df.orderBy("event_id").limit(50).collect()}
    oracle_rows = duckdb.sql(
        f"select event_id, ts from '{SF_SMOKE}/events.parquet' order by event_id limit 50"
    ).fetchall()
    assert len(oracle_rows) == 50
    for eid, ts in oracle_rows:
        assert spark_rows[eid] == ts, (eid, spark_rows[eid], ts)


def test_nanos_vintage_fallback(spark, tmp_path):
    """The r1-era TIMESTAMP(NANOS) vintage must still load: write a tiny
    nanos events file and check the loader normalizes ts to a session-TZ
    timestamp with µs truncation (matching what DuckDB would read)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 1, 1)
    rows = [base + dt.timedelta(seconds=i, microseconds=123456) for i in range(5)]
    table = pa.table(
        {
            "event_id": pa.array(range(5), pa.int64()),
            "ts": pa.array(rows, pa.timestamp("ns")),
            "user_id": pa.array([1] * 5, pa.int64()),
            "event_type": pa.array(["click"] * 5),
            "value": pa.array([1.0] * 5, pa.float64()),
            "props": pa.array(["{}"] * 5),
        }
    )
    sf_dir = tmp_path / "nanos_sf"
    sf_dir.mkdir()
    pq.write_table(table, sf_dir / "events.parquet", version="2.6", store_schema=False)
    assert str(pq.read_schema(sf_dir / "events.parquet").field("ts").type) == "timestamp[ns]"

    try:
        df = load_table(spark, str(sf_dir), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        got = sorted(r.ts for r in df.collect())
        assert got == rows  # ns→µs truncation: .123456 survives exactly
    finally:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")


def _write_nanos_events(sf_dir, store_schema: bool):
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = dt.datetime(2024, 1, 1)
    rows = [base + dt.timedelta(seconds=i, microseconds=123456) for i in range(5)]
    table = pa.table(
        {
            "event_id": pa.array(range(5), pa.int64()),
            "ts": pa.array(rows, pa.timestamp("ns")),
            "user_id": pa.array([1] * 5, pa.int64()),
            "event_type": pa.array(["click"] * 5),
            "value": pa.array([1.0] * 5, pa.float64()),
            "props": pa.array(["{}"] * 5),
        }
    )
    sf_dir.mkdir()
    pq.write_table(
        table, sf_dir / "events.parquet", version="2.6", store_schema=store_schema
    )
    return rows


def test_nanos_vintage_with_stored_arrow_schema(spark, tmp_path):
    """pyarrow's default store_schema=True produces a nanos file that
    Spark rejects at TASK time (not schema inference), so the loader
    must detect the vintage from the parquet footer, never from a
    read-time exception."""
    rows = _write_nanos_events(tmp_path / "nanos_sf", store_schema=True)
    try:
        df = load_table(spark, str(tmp_path / "nanos_sf"), "events")
        assert dict(df.dtypes)["ts"] == "timestamp"
        assert sorted(r.ts for r in df.collect()) == rows
    finally:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")


def test_nanos_conf_isolated_from_micros_reads(spark, tmp_path):
    """Two vintages in ONE session (VERDICT r3 #6): after a nanos read
    leaves nanosAsLong set, a subsequent micros/NTZ read must be
    byte-identical to a clean-session read, and a missing-path load
    must raise without touching the conf."""
    import pytest as _pytest

    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    clean = {r.event_id: r.ts for r in load_table(spark, SF_SMOKE, "events").collect()}

    _write_nanos_events(tmp_path / "nanos_sf", store_schema=False)
    load_table(spark, str(tmp_path / "nanos_sf"), "events").collect()
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    try:
        after = {
            r.event_id: r.ts for r in load_table(spark, SF_SMOKE, "events").collect()
        }
        assert after == clean
        # unrelated failure: conf untouched, error surfaces as-is
        with _pytest.raises(Exception) as exc_info:
            load_table(spark, str(tmp_path / "missing_sf"), "events")
        assert "NANOS" not in str(exc_info.value)
        assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    finally:
        spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")


def test_micros_vintage_does_not_set_nanos_conf(spark):
    # nanosAsLong is session-global; the micros branch must never set it
    # (ADVICE r2). Unset it, load, and confirm it stayed unset.
    spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    load_table(spark, SF_SMOKE, "events").count()
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None) is None
