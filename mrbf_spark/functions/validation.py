"""Deequ-style declarative data validation over the events table —
the data-quality gate a training-data pipeline runs on every ingest
batch before anything downstream trusts the data (the pattern of
AWS Labs' Deequ / Great Expectations, re-expressed as one Spark
aggregate).

The suite: PK uniqueness, per-column completeness, value-range
compliance, set membership, timestamp sanity, JSON well-formedness,
and referential integrity against the customer dim. Output is one row
per constraint: (check STRING, violations BIGINT, ok BOOLEAN), with
ok ⇔ violations = 0, so the report is exact integer arithmetic and
has a cell-for-cell DuckDB twin (validate_events_duckdb_sql).

100 TB shape (the Deequ trick): EVERY scan-expressible constraint is
a conditional-count column of ONE aggregate, so the whole suite costs
a single pass over the fact table with map-side partial aggregation —
adding a constraint adds a column, not a scan. The only non-scan
constraints are PK uniqueness (count_distinct — Catalyst plans the
standard Expand, still one file scan) and referential integrity (a
broadcast left-anti count against the dim's key column — the dim is
the small side by construction; once the dim outgrows the broadcast
ceiling, drop the hint and let the anti-join shuffle. A Bloom prune
does not help there: a hit cannot prove a key present, so every fact
row still needs the exact check, and Catalyst's runtime Bloom filter,
which prunes the fact scan of an inner or semi join such as
bloom_semijoin_prune, is not planned for an anti-join). The two single-row
aggregates then cross-join into the literal report — driver traffic
is one row per constraint, never data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MIN_ROWS = 100  # row_count_min floor (scale-free: holds at every SF)
VALUE_CAP = 1_000.0  # value must lie in [0, VALUE_CAP]
ALLOWED_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
TS_LO, TS_HI = "2020-01-01", "2030-01-01"  # sane event-time window


def validate_events(events: DataFrame, customer: DataFrame) -> DataFrame:
    """(check, violations, ok) — one row per constraint, ok ⇔ 0."""
    viol = lambda cond: F.sum(F.when(cond, 1).otherwise(0)).cast("long")  # noqa: E731
    scan = events.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("event_id").alias("d_eid"),
        viol(F.col("user_id").isNull()).alias("null_user"),
        viol(F.col("value").isNull()).alias("null_value"),
        viol(F.col("props").isNull()).alias("null_props"),
        viol(F.col("value") < 0).alias("neg_value"),
        viol(F.col("value") > VALUE_CAP).alias("cap_value"),
        viol(~F.col("event_type").isin(*ALLOWED_EVENT_TYPES)).alias("bad_type"),
        viol(
            (F.col("ts") < F.lit(TS_LO).cast("timestamp"))
            | (F.col("ts") >= F.lit(TS_HI).cast("timestamp"))
        ).alias("bad_ts"),
        viol(F.get_json_object("props", "$.k").isNull()).alias("bad_json"),
    )
    # NB the json check name says what is actually tested: extraction
    # of key 'k' — well-formed JSON without 'k' counts as a violation
    # too (this corpus always carries 'k'; a schema-free
    # well-formedness probe would need try_parse_json / json_valid,
    # which Spark and DuckDB don't expose compatibly).
    fk = (
        events.select("user_id")
        .join(
            F.broadcast(customer.select(F.col("c_custkey").alias("user_id"))),
            "user_id",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("fk_viol"))
    )
    checks = [
        ("row_count_min", F.greatest(F.lit(0).cast("long"), MIN_ROWS - F.col("n"))),
        ("pk_unique_event_id", (F.col("n") - F.col("d_eid")).cast("long")),
        ("complete_user_id", F.col("null_user")),
        ("complete_value", F.col("null_value")),
        ("complete_props", F.col("null_props")),
        ("value_nonnegative", F.col("neg_value")),
        ("value_below_cap", F.col("cap_value")),
        ("event_type_allowed", F.col("bad_type")),
        ("ts_in_range", F.col("bad_ts")),
        ("props_has_k", F.col("bad_json")),
        ("fk_user_in_customer", F.col("fk_viol")),
    ]
    report = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(name).alias("check"),
                    v.alias("violations"),
                    (v == F.lit(0).cast("long")).alias("ok"),
                )
                for name, v in checks
            ]
        )
    ).alias("r")
    return scan.crossJoin(fk).select(report).select("r.*")


def validate_events_duckdb_sql() -> str:
    """The DuckDB twin — identical conditional counts, identical
    check names, CASTs pinned to BIGINT (DuckDB SUM(int) is HUGEINT)."""
    allowed = ", ".join(f"'{t}'" for t in ALLOWED_EVENT_TYPES)
    return f"""
    WITH scan AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT event_id) AS BIGINT) AS d_eid,
             CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_user,
             CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_value,
             CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS null_props,
             CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS neg_value,
             CAST(SUM(CASE WHEN value > {VALUE_CAP} THEN 1 ELSE 0 END) AS BIGINT)
               AS cap_value,
             CAST(SUM(CASE WHEN NOT event_type IN ({allowed})
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_type,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '{TS_LO}'
                             OR ts >= TIMESTAMP '{TS_HI}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_ts,
             CAST(SUM(CASE WHEN json_extract_string(props, '$.k') IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS bad_json
      FROM events),
    fk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS fk_viol
      FROM events e ANTI JOIN customer c ON e.user_id = c.c_custkey),
    rep AS (
      SELECT 'row_count_min' AS "check",
             GREATEST(CAST(0 AS BIGINT), {MIN_ROWS} - n) AS violations
      FROM scan
      UNION ALL SELECT 'pk_unique_event_id', n - d_eid FROM scan
      UNION ALL SELECT 'complete_user_id', null_user FROM scan
      UNION ALL SELECT 'complete_value', null_value FROM scan
      UNION ALL SELECT 'complete_props', null_props FROM scan
      UNION ALL SELECT 'value_nonnegative', neg_value FROM scan
      UNION ALL SELECT 'value_below_cap', cap_value FROM scan
      UNION ALL SELECT 'event_type_allowed', bad_type FROM scan
      UNION ALL SELECT 'ts_in_range', bad_ts FROM scan
      UNION ALL SELECT 'props_has_k', bad_json FROM scan
      UNION ALL SELECT 'fk_user_in_customer', fk_viol FROM fk)
    SELECT "check", violations, violations = 0 AS ok FROM rep
    """


# ---------------------------------------------------------------------------
# Generic per-column profiler — the "profile" half of profile-then-
# validate (Deequ's ColumnProfiler / ANALYZE TABLE analog). One output
# row per profiled column with engine-exact metrics only:
#   n, nulls, n_distinct         exact counts
#   min_q / max_q                BIGINT fixed point: ints as-is,
#                                floats trunc(1e6·x), timestamps epoch
#                                micros, strings -> NULL
#   avg_len_q                    strings only: (Σ length · 1e6) // n
# so the report hash-matches DuckDB with zero float formatting risk.
#
# 100 TB shape: like validate_events, the whole profile is ONE
# aggregate over one column-pruned scan; the k count_distincts plan as
# one Expand (k+1 rows in flight per input row — the standard exact-
# distinct cost; swap approx_count_distinct when 2% error is fine).
# ---------------------------------------------------------------------------

PROFILE_FIXED = 1_000_000


def _profile_kind(dt: str) -> str:
    if dt in ("tinyint", "smallint", "int", "bigint", "long"):
        return "int"
    if dt in ("float", "double"):
        return "float"
    if dt.startswith("decimal"):
        return "float"
    if dt.startswith("timestamp"):
        return "timestamp"
    if dt == "boolean":
        return "bool"
    if dt == "date":
        return "date"
    if dt == "string":
        return "string"
    # array/map/struct/binary/...: length/distinct/min/max are not
    # analysis-safe across engines (count_distinct fails on maps,
    # LENGTH on arrays) — profile presence only (n, nulls).
    return "other"


def profile_table(
    df: DataFrame, cols: list[str] | None = None, approx_distinct: bool = False
) -> DataFrame:
    """(column, dtype, n, nulls, n_distinct, min_q, max_q, avg_len_q)
    — one row per column, all-BIGINT metrics (see block comment).
    Scalar columns get the full metric set; complex columns
    (array/map/struct/binary) profile presence only — n and nulls —
    since distinct/length/min/max aren't analysis-safe on them.

    approx_distinct=True is the 100 TB mode: n_distinct via the HLL
    sketch (approx_count_distinct, default rsd 5%) instead of the
    exact count. The exact path plans k count-distincts as ONE Expand
    (k× the input rows through the aggregate); HLL keeps the scan at
    1× rows with a fixed-size sketch per column — the difference
    between a profile you can run on every ingest and one you
    schedule. Exact stays the default because it is what the DuckDB
    twin can replay; the approx path is envelope-tested instead."""
    kinds = {f.name: _profile_kind(f.dataType.simpleString()) for f in df.schema}
    cols = cols or [f.name for f in df.schema]
    nl = F.lit(None).cast("long")
    aggs, rows = [], []
    for c in cols:
        k = kinds[c]
        col = F.col(c)
        if k == "int" or k == "bool":
            fx = col.cast("long")
        elif k == "float":
            fx = (col.cast("double") * PROFILE_FIXED).cast("long")
        elif k == "timestamp":
            fx = F.unix_micros(col.cast("timestamp"))
        elif k == "date":
            fx = F.unix_date(col)  # days since epoch, exact
        else:
            fx = None
        aggs.append(F.count(col).alias(f"{c}__nn"))
        if k != "other":
            nd_agg = (
                F.approx_count_distinct(col)
                if approx_distinct
                else F.count_distinct(col)
            )
            aggs.append(nd_agg.alias(f"{c}__nd"))
        aggs += [] if fx is None else [
            F.min(fx).alias(f"{c}__min"),
            F.max(fx).alias(f"{c}__max"),
        ]
        if k == "string":
            aggs.append(F.sum(F.length(col)).cast("long").alias(f"{c}__len"))
        rows.append(
            F.struct(
                F.lit(c).alias("column"),
                F.lit(k).alias("dtype"),
                F.col("__n").alias("n"),
                (F.col("__n") - F.col(f"{c}__nn")).alias("nulls"),
                (nl if k == "other" else F.col(f"{c}__nd")).alias("n_distinct"),
                (nl if fx is None else F.col(f"{c}__min")).alias("min_q"),
                (nl if fx is None else F.col(f"{c}__max")).alias("max_q"),
                (
                    F.expr(f"`{c}__len` * {PROFILE_FIXED} div nullif(`{c}__nn`, 0)")
                    if k == "string"
                    else nl
                ).alias("avg_len_q"),
            )
        )
    one = df.agg(F.count(F.lit(1)).alias("__n"), *aggs)
    return one.select(F.explode(F.array(*rows)).alias("r")).select("r.*")


def profile_duckdb_sql(table: str, kinds: list[tuple[str, str]]) -> str:
    """DuckDB twin: pass [(column, kind)] with kind as _profile_kind
    reports it (the test derives this from the Spark schema, so both
    engines profile the same columns the same way)."""
    parts = []
    for c, k in kinds:
        if k == "int" or k == "bool":
            fx = f'CAST("{c}" AS BIGINT)'
        elif k == "float":
            # TRUNC before the cast: DuckDB's double->BIGINT cast
            # rounds, Spark's truncates (the BM25 twin's rule)
            fx = f'CAST(TRUNC(CAST("{c}" AS DOUBLE) * {PROFILE_FIXED}) AS BIGINT)'
        elif k == "timestamp":
            fx = f'epoch_us("{c}")'
        elif k == "date":
            fx = f'CAST("{c}" - DATE \'1970-01-01\' AS BIGINT)'
        else:
            fx = None
        mn = f"MIN({fx})" if fx else "CAST(NULL AS BIGINT)"
        mx = f"MAX({fx})" if fx else "CAST(NULL AS BIGINT)"
        nd = (
            "CAST(NULL AS BIGINT)"
            if k == "other"
            else f'CAST(COUNT(DISTINCT "{c}") AS BIGINT)'
        )
        al = (
            f'(CAST(SUM(LENGTH("{c}")) AS BIGINT) * {PROFILE_FIXED})'
            f' // nullif(COUNT("{c}"), 0)'
            if k == "string"
            else "CAST(NULL AS BIGINT)"
        )
        parts.append(
            f"""SELECT '{c}' AS "column", '{k}' AS dtype,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(COUNT(*) - COUNT("{c}") AS BIGINT) AS nulls,
                   {nd} AS n_distinct,
                   {mn} AS min_q, {mx} AS max_q, {al} AS avg_len_q
            FROM {table}"""
        )
    return "\nUNION ALL\n".join(parts)
