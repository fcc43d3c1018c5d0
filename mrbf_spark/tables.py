"""Loaders for the driver-provided TESTDATA parquet tables.

All operators take a DataFrame, not a path — these helpers are the
single place that knows the on-disk layout. Parquet scans get column
pruning + predicate pushdown from Catalyst for free; callers should
``select``/``filter`` as early as possible so the pushdown reaches the
scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _is_nanos_error(exc: Exception) -> bool:
    """True when a parquet read failed on the TIMESTAMP(NANOS) logical
    type that Spark's reader rejects (the r1 events vintage): the
    error chain names the illegal Parquet type."""
    return "NANOS" in str(exc)


def _parquet_ts_unit(path: str) -> str | None:
    """Physical timestamp unit ('ns', 'us', ...) of the `ts` column,
    read from the parquet footer with pyarrow — a deterministic
    driver-side probe. Exception-driven vintage detection is not
    enough: depending on writer metadata (pyarrow store_schema) Spark
    rejects TIMESTAMP(NANOS) either at schema inference OR only at
    task execution, and the latter never reaches a read-time except.
    Accepts a file, a directory of part files, or a glob; returns None
    when the footer can't be probed (caller falls back to the
    exception match)."""
    import glob as _glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = path
    if _glob.has_magic(p):
        matches = sorted(_glob.glob(p)) or sorted(_glob.glob(os.path.join(p, "*")))
        if not matches:
            return None
        p = matches[0]
    if os.path.isdir(p):
        parts = sorted(f for f in os.listdir(p) if f.endswith(".parquet"))
        if not parts:
            return None
        p = os.path.join(p, parts[0])
    try:
        field = pq.read_schema(p).field("ts")
        # pyarrow surfaces legacy INT96 timestamps as timestamp[ns],
        # but Spark reads INT96 natively — routing it to the
        # nanosAsLong branch would fail at task time with a
        # bigint-vs-INT96 mismatch. Check the PHYSICAL type to tell
        # them apart (Spark's own parquet writes default to INT96, so
        # any self-written events copy hits this).
        meta = pq.ParquetFile(p).metadata
        idx = meta.schema.names.index("ts") if "ts" in meta.schema.names else -1
        if (
            idx >= 0
            and meta.num_row_groups > 0
            and meta.row_group(0).column(idx).physical_type == "INT96"
        ):
            return "int96"
    except (OSError, KeyError, ValueError, pa.ArrowInvalid):
        return None
    return field.type.unit if pa.types.is_timestamp(field.type) else None


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load events with a session-TZ ``timestamp`` column regardless of
    how the data vintage stored ``ts``.

    Known vintages of the driver testdata:
      * parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) — Spark reads it
        as TIMESTAMP_NTZ; cast to TIMESTAMP (session TZ is UTC, so the
        wall-clock values match DuckDB's naive-micros read bit-for-bit).
      * parquet TIMESTAMP(NANOS) — Spark's reader rejects nanos outright;
        re-read with ``nanosAsLong`` (scoped to this branch only — it is
        a session-global conf, so we never set it unless the data really
        is nanos) and truncate int64 nanos to µs, matching DuckDB.
      * already-µs TIMESTAMP (isAdjustedToUTC=true) — pass through.
    """
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, "events.parquet")
    if _parquet_ts_unit(path) == "ns":
        df = _read_nanos_events(spark, path)
    else:
        try:
            df = spark.read.parquet(path)
        except Exception as exc:
            # Footer probe was inconclusive; only the nanos signature
            # gets the conf-retry — any other failure (missing path,
            # corrupt footer, permissions) surfaces as-is instead of
            # being retried under a rewritten session conf (ADVICE r3).
            if not _is_nanos_error(exc):
                raise
            df = _read_nanos_events(spark, path)

    ts_type = dict(df.dtypes).get("ts", "")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type.startswith("timestamp") and ts_type != "timestamp":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _read_nanos_events(spark: SparkSession, path: str) -> DataFrame:
    """Read a TIMESTAMP(NANOS) events file under ``nanosAsLong`` (ts
    arrives as int64 nanos → bigint). The conf stays on after a
    SUCCESSFUL read because lazy execution re-resolves the scan at job
    time; it is a no-op for micros/NTZ files (pinned by
    test_nanos_conf_isolated_from_micros_reads). If the read fails
    anyway, the previous value is restored so an unrelated error never
    leaves the session reconfigured."""
    prev = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        return spark.read.parquet(path)
    except Exception:
        if prev is None:
            spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
        else:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", prev)
        raise


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so SQL-form operators can
    run against the same data the DataFrame-form ones see."""
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
