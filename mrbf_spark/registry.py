"""Query registry: every operator registers a (spark, sf_dir) ->
DataFrame builder and (when SQL-expressible) a DuckDB oracle string.

The driver compares Spark output vs oracle output order-insensitively
but NAME-sensitively: every computed column must carry the same alias
on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}
# Cost-aware second oracle formulations (r8, VERDICT r7 next-round
# #1), used ONLY by the sf≥1 scale gate: same semantics as ORACLES
# (equality at sf0.01 is test-pinned, tests/test_scale_oracles.py),
# but formulated to mirror the engine's blocking (inverted-index
# co-count, star sparsification, list-comprehension dots) so the
# DuckDB side can follow the engine to 100× scale. The naive ORACLES
# stay the registered formulation-INDEPENDENT checks.
SCALE_ORACLES: dict[str, str] = {}

# Caches created by catalog queries, released lazily: a registered
# query's caches must outlive the function call (the driver
# materializes the RETURNED DataFrame afterwards), so they are
# unpersisted when the NEXT registered query starts. Without this,
# catalog sweeps (the driver's correctness pass, bench loops, the
# plan-hygiene test) accumulate every query's cached tables in
# executor storage (ADVICE r3).
_SCOPED_CACHES: list[DataFrame] = []


def scoped_cache(df: DataFrame) -> DataFrame:
    """cache() for use inside catalog queries — released when the next
    registered query begins, not leaked for the session's lifetime."""
    df.cache()
    _SCOPED_CACHES.append(df)
    return df


def release_scoped_caches() -> None:
    """Public face of the release for NON-catalog call paths (CLI
    jobs, tools, library users calling ops directly): registered
    queries release automatically at their next start, but a direct
    call to a scoped_cache-using op otherwise parks its cache in
    executor storage for the session's lifetime. Call this after the
    consuming action completes."""
    _release_scoped_caches()


def _release_scoped_caches() -> None:
    while _SCOPED_CACHES:
        try:
            _SCOPED_CACHES.pop().unpersist()
        except Exception:  # session already stopped — nothing to free
            pass


def checkpointed(df: DataFrame) -> DataFrame:
    """Materialize `df` with truncated lineage — the stage-handoff
    materialization. The mode follows the session:

    * no checkpoint directory (the default): `.localCheckpoint()` —
      executor-local, non-replicated blocks; fastest, but an executor
      loss between the checkpoint and the final action fails the job
      with no recompute path. Right on local[*] (executor == driver)
      and for short-lived jobs.
    * `spark.sparkContext.setCheckpointDir(...)` called (the CLI's
      `--checkpoint-dir`): `.checkpoint()` — blocks written to that
      directory (HDFS/object store on a cluster), lineage-safe across
      executor loss."""
    if df.sparkSession.sparkContext.getCheckpointDir() is None:
        return df.localCheckpoint()
    return df.checkpoint()


BUILDER_SQL: dict[str, str] = {}


def builder(name: str, oracle: str | None = None):
    """Decorator for an UNREGISTERED builder query: not part of the
    driver-checked catalog (kept ≤ 50 entries — the driver's
    correctness window), but its oracle SQL is retained in BUILDER_SQL
    so consolidated catalog entries can compose it into their own
    oracles (and tests can still exercise the builder directly)."""

    def deco(fn: QueryFn) -> QueryFn:
        if oracle is not None:
            BUILDER_SQL[name] = oracle
        return fn

    return deco


def register(
    name: str, oracle: str | None = None, scale_oracle: str | None = None
):
    """Decorator: add a query (and optional DuckDB oracle) to the
    catalog. oracle=None ⇒ rows-only check (non-SQL-expressible).
    scale_oracle supplies a cost-aware second formulation for the
    sf≥1 gate (see SCALE_ORACLES)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")

        def run(spark: SparkSession, sf_dir: str) -> DataFrame:
            _release_scoped_caches()
            return fn(spark, sf_dir)

        run.__name__ = fn.__name__
        run.__doc__ = fn.__doc__
        QUERIES[name] = run
        if oracle is not None:
            ORACLES[name] = oracle
        if scale_oracle is not None:
            SCALE_ORACLES[name] = scale_oracle
        return fn

    return deco
