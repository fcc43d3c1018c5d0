"""Local mimic of the driver's t2 oracle gate.

Runs every catalog query at a given sf_dir, runs its DuckDB oracle on
the same parquet, and compares row count + column names + values
(order-insensitive: columns sorted by name, rows sorted
lexicographically). Exact equality on everything including doubles —
if this passes, a value-hash comparison passes too.

Usage: python tools/check_correctness.py [sf_dir] [query ...]

Exits non-zero on any failure, and before running anything when a
named query is not in the catalog.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_args = [
    a for a in sys.argv[1:] if a not in ("--vanilla", "--scale-oracles")
]
# --vanilla: run on a plain SparkSession.builder session (no tuned
# confs) — exactly the plain session a caller of
# `__spark_entry__.entry(spark)` passes in, except that the console
# progress bar is off (it only changes console output: a bar glued in
# front of a `PASS <entry>` line would hide it from a line filter);
# catches any dependency on mrbf_spark.session's settings (TZ, AQE,
# shuffle partitions). The tuned session stays the default for fast
# local loops.
VANILLA = "--vanilla" in sys.argv[1:]
# --scale-oracles (r8): overlay the cost-aware second formulations
# (catalog.scale_oracle_sql) on the naive oracles — the sf≥1 gate's
# mode, where the naive all-pairs twins time out. Semantics equality
# between the two formulations is pinned at sf0.01 by
# tests/test_scale_oracles.py; this flag never ships to the driver.
SCALE_ORACLES = "--scale-oracles" in sys.argv[1:]
SF_DIR = _args[0] if _args else "/root/testdata/sf0.01"
ONLY = set(_args[1:])


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    return con


def canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count {len(spark_pdf)} != {len(duck_pdf)}")
    scols, dcols = sorted(spark_pdf.columns), sorted(duck_pdf.columns)
    if scols != dcols:
        problems.append(f"columns {scols} != {dcols}")
        return problems
    a, b = canon(spark_pdf), canon(duck_pdf)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c].to_numpy(), b[c].to_numpy()
            if pd.api.types.is_float_dtype(a[c]):
                neq = ~((av == bv) | (np.isnan(av) & np.isnan(bv)))
            else:
                neq = av != bv
            if neq.any():
                i = int(np.argmax(neq))
                problems.append(
                    f"col {c}: {int(neq.sum())} mismatches, first at row {i}:"
                    f" spark={av[i]!r} duck={bv[i]!r}"
                )
    return problems


def main() -> int:
    from mrbf_spark import catalog

    qs, oracles = catalog.queries(), catalog.oracle_sql()
    unknown = sorted(ONLY - set(qs))
    if unknown:
        # a typo'd or retired name would otherwise run nothing and pass
        print(f"unknown entries (not in the catalog): {' '.join(unknown)}")
        return 2
    if VANILLA:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.showConsoleProgress", "false")
            .getOrCreate()
        )
    else:
        from mrbf_spark.session import get_spark

        # r8 set SPARK_GRAFT_MAX_RESULT=24g here for the sf≥1 gate:
        # dedup_simhash's registered answer was the full 70.5M-pair
        # dump and the compare harness collects both sides. r9 made
        # the registered entry a bounded census (≤ n_docs rows), so
        # the session default (4g) suffices — the env var remains the
        # escape hatch for one-off full-pair-dump comparisons.
        spark = get_spark("check-correctness")
    con = duck_con(SF_DIR)
    if SCALE_ORACLES:
        oracles.update(catalog.scale_oracle_sql())
    n_fail = 0
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        # Oracle FIRST, Spark second: at sf≥1 a heavy DuckDB twin
        # (dedup_simhash's census walks a 70.5M-pair intermediate)
        # measured >3x slower — 21.5 min wall with 22 min SYSTEM time
        # (allocator/page churn) — when run after the engine query had
        # grown the in-process JVM to ~15 GiB, vs ~6 min in a lean
        # process. Running the oracle before the entry's Spark work
        # gives it the lean process in gate mode (one entry per
        # subprocess); order is irrelevant to the comparison itself.
        duck_pdf = None
        if name in oracles:
            try:
                duck_pdf = con.sql(oracles[name]).df()
            except Exception as e:
                print(f"FAIL {name}: duckdb error: {e}")
                n_fail += 1
                continue
        try:
            spark_pdf = fn(spark, SF_DIR).toPandas()
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            n_fail += 1
            continue
        # result materialized — drop this query's scoped caches now
        # rather than at the next query's start (keeps the sweep's
        # executor storage flat; the wrapper's release still covers
        # direct library callers).
        from mrbf_spark.registry import release_scoped_caches

        release_scoped_caches()
        if duck_pdf is None:
            print(f"ok?  {name}: rows-only ({len(spark_pdf)} rows, {time.time()-t0:.1f}s)")
            continue
        problems = compare(name, spark_pdf, duck_pdf)
        if problems:
            n_fail += 1
            print(f"FAIL {name}: " + "; ".join(problems))
        else:
            print(f"PASS {name} ({len(spark_pdf)} rows, {time.time()-t0:.1f}s)")
    print(f"\n{n_fail} failures")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
