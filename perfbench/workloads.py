"""The benchmark's workloads: inputs, one job, its output check, and a
traced replay of the same job that wraps each public engine call in a
span.

A job ends in a collect, so its wall time covers the Spark work. Each
job's output is checked: the Bloom FP report against the 4-sigma
binomial band (the rule of tests/test_bloom.py) plus exact row
accounting, and the catalog entries against an order-insensitive
digest of their registered DuckDB oracle, computed once per seed.
"""

from __future__ import annotations

import hashlib
import json
import os
from functools import partial

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs

FP_P = 0.01
RATING_KEY, RATING_VALUE = "rating_key", "tconst"


def digest(table: pa.Table) -> str:
    """Order-insensitive digest of a result table: columns by name,
    rows sorted as strings, NULL spelled ``\\N``."""
    cols = sorted(table.column_names)
    cells = [["\\N" if v is None else str(v) for v in table.column(c).to_pylist()] for c in cols]
    h = hashlib.sha256("\x1f".join(cols).encode())
    for row in sorted("\x1f".join(r) for r in zip(*cells)):
        h.update(row.encode() + b"\n")
    return h.hexdigest()


def digest_problems(name: str, table: pa.Table, expected: str) -> list[str]:
    got = digest(table)
    return [] if got == expected else [f"{name}: digest {got[:12]} != oracle {expected[:12]}"]


def fp_band_problems(rows: list[dict], p: float, test_rows: int) -> list[str]:
    """The summed false positives lie within 4 binomial sigmas of n*p,
    and the probe tested every row of the test half."""
    problems = []
    fp = sum(r["false_positives"] for r in rows)
    n = sum(r["total_tests"] for r in rows)
    sigma = (n * p * (1 - p)) ** 0.5
    if not abs(fp - n * p) < 4 * sigma:
        problems.append(f"p={p}: fp={fp} outside {n * p:.1f} +- {4 * sigma:.1f}")
    if n != test_rows:
        problems.append(f"p={p}: total_tests {n} != test half {test_rows}")
    return problems


def popcount(words) -> int:
    return int(np.unpackbits(np.asarray(words, dtype=np.int64).view(np.uint8)).sum())


def _oracle_digests(data_dir: str, tables: list[str], queries: list[str]) -> dict[str, str]:
    """Digest of each named catalog entry's DuckDB oracle over the
    generated parquet, cached beside it."""
    path = os.path.join(data_dir, "oracle.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    import duckdb

    from mrbf_spark import catalog

    sql = catalog.oracle_sql()
    con = duckdb.connect()
    try:
        for t in tables:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')"
            )
        out = {q: digest(con.sql(sql[q]).arrow()) for q in queries}
    finally:
        con.close()
    with open(path, "w") as f:
        json.dump(out, f)
    return out


class BloomPipeline:
    """The paper's pipeline (split, build, probe, FP report) over
    IMDb-like ratings keyed by half-up rating, then the catalog's Bloom
    semi-join prune: build and probe carry the weight."""

    name = "bloom_pipeline"

    def __init__(self, ratings: int = 100_000, orders: int = 8_000):
        self.ratings, self.orders = ratings, orders

    def inputs(self, cache_dir: str, seed: int) -> dict:
        imdb = inputs.materialize(
            cache_dir, f"imdb-r{self.ratings}", seed, partial(inputs.imdb_ratings, seed, self.ratings)
        )
        tpch = inputs.materialize(
            cache_dir, f"tpch-o{self.orders}", seed, partial(inputs.tpch_slice, seed, self.orders)
        )
        li_rows = pq.read_metadata(os.path.join(tpch, "lineitem.parquet")).num_rows
        return {
            "imdb": imdb,
            "tpch": tpch,
            "lineitem_rows": li_rows,
            "rows": self.ratings + self.orders + li_rows,
            "oracle": _oracle_digests(tpch, ["orders", "lineitem"], ["bloom_semijoin_prune"]),
        }

    def load(self, spark, inp: dict) -> dict:
        from mrbf_spark.bloom.pipeline import half_up_key
        from mrbf_spark.tables import load_table

        ratings = spark.read.parquet(os.path.join(inp["imdb"], "ratings.parquet"))
        ratings.count()
        for t in ("orders", "lineitem"):
            load_table(spark, inp["tpch"], t).count()
        return {"inp": inp, "ratings": ratings.withColumn(RATING_KEY, half_up_key("averageRating"))}

    def prepare_checks(self, spark, st: dict) -> None:
        from mrbf_spark.bloom.pipeline import train_test_split

        st["test_rows"] = train_test_split(st["ratings"])[1].count()

    def job(self, spark, st: dict):
        from mrbf_spark import catalog
        from mrbf_spark.bloom.pipeline import bloom_fp_pipeline
        from mrbf_spark.registry import release_scoped_caches

        report = bloom_fp_pipeline(st["ratings"], RATING_KEY, RATING_VALUE, p=FP_P).collect()
        semi = catalog.queries()["bloom_semijoin_prune"](spark, st["inp"]["tpch"]).toArrow()
        release_scoped_caches()
        return [r.asDict() for r in report], semi

    def check(self, st: dict, result) -> list[str]:
        report, semi = result
        return fp_band_problems(report, FP_P, st["test_rows"]) + digest_problems(
            "bloom_semijoin_prune", semi, st["inp"]["oracle"]["bloom_semijoin_prune"]
        )

    def traced_job(self, spark, st: dict, tr):
        """Replays bloom_fp_pipeline and the bloom_semijoin_prune entry
        call by call; returns the job result and filter-health ratios.
        The split is lazy (each consumer re-samples its half), so the
        split span covers only the call and its cost lands in the
        build and probe spans, as it does in the untraced job."""
        from pyspark.sql import functions as F

        from mrbf_spark.bloom.core import build_bloom_filters, fp_report, probe_bloom_filters
        from mrbf_spark.bloom.pipeline import train_test_split
        from mrbf_spark.bloom.sizing import num_hashes
        from mrbf_spark.operators.bloom_queries import P as SEMI_P
        from mrbf_spark.registry import release_scoped_caches, scoped_cache
        from mrbf_spark.tables import load_table

        with tr.span("fp.split"):
            train, test = train_test_split(st["ratings"])
        with tr.span("fp.build.plan"):
            filters = build_bloom_filters(train, RATING_KEY, RATING_VALUE, FP_P)
        with tr.span("fp.build.run"):
            filters = scoped_cache(filters)
            built = filters.select("m", "words").collect()
        with tr.span("fp.probe"):
            probed = probe_bloom_filters(
                test, RATING_KEY, RATING_VALUE, filters, k=num_hashes(FP_P), broadcast=True
            )
            report = [r.asDict() for r in fp_report(probed, RATING_KEY).collect()]

        tpch = st["inp"]["tpch"]
        with tr.span("semi.load"):
            orders = load_table(spark, tpch, "orders")
            li = load_table(spark, tpch, "lineitem")
        urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT")
        with tr.span("semi.build.plan"):
            sfilters = build_bloom_filters(
                urgent.withColumn("__g", F.lit("urgent")), "__g", "o_orderkey", SEMI_P
            )
        with tr.span("semi.build.run"):
            sfilters = scoped_cache(sfilters)
            sbuilt = sfilters.select("m", "words").collect()
        with tr.span("semi.probe"):
            pruned = scoped_cache(
                probe_bloom_filters(
                    li.withColumn("__g", F.lit("urgent")),
                    "__g",
                    "l_orderkey",
                    sfilters,
                    k=num_hashes(SEMI_P),
                    broadcast=True,
                ).filter(F.col("bloom_hit") == 1)
            )
            survivors = pruned.count()
        with tr.span("semi.exact_join"):
            exact = pruned.join(
                urgent.select("o_orderkey"), pruned.l_orderkey == F.col("o_orderkey"), "left_semi"
            )
            semi = exact.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_items")).toArrow()
        with tr.span("registry.release"):
            release_scoped_caches()

        members = sum(semi.column("n_items").to_pylist())
        negatives = st["inp"]["lineitem_rows"] - members
        ratios = {
            "fp.build.fill_ratio": sum(popcount(r["words"]) for r in built)
            / sum(r["m"] for r in built),
            "fp.probe.fp_over_p": sum(r["false_positives"] for r in report)
            / (FP_P * sum(r["total_tests"] for r in report)),
            "semi.build.fill_ratio": sum(popcount(r["words"]) for r in sbuilt)
            / sum(r["m"] for r in sbuilt),
            "semi.probe.fp_over_p": (survivors - members) / negatives / SEMI_P,
            "semi.exact_join.precision": members / survivors,
        }
        return (report, semi), ratios


class CurateCorpus:
    """The catalog's heaviest entry, curate_corpus: seven cleaning
    stages, each checkpointed and counted; Bloom does only the small
    decontamination filter."""

    name = "curate_corpus"

    def __init__(self, docs: int = 200):
        self.docs = docs

    def inputs(self, cache_dir: str, seed: int) -> dict:
        d = inputs.materialize(
            cache_dir, f"docs-d{self.docs}", seed, partial(inputs.documents, seed, self.docs)
        )
        return {
            "docs": d,
            "rows": self.docs,
            "oracle": _oracle_digests(d, ["documents"], ["curate_corpus"]),
        }

    def load(self, spark, inp: dict) -> dict:
        from mrbf_spark.tables import load_table

        load_table(spark, inp["docs"], "documents").count()
        return {"inp": inp}

    def prepare_checks(self, spark, st: dict) -> None:
        pass

    def job(self, spark, st: dict):
        from mrbf_spark import catalog
        from mrbf_spark.registry import release_scoped_caches

        out = catalog.queries()["curate_corpus"](spark, st["inp"]["docs"]).toArrow()
        release_scoped_caches()
        return out

    def check(self, st: dict, result) -> list[str]:
        return digest_problems("curate_corpus", result, st["inp"]["oracle"]["curate_corpus"])

    def traced_job(self, spark, st: dict, tr):
        """Replays the curate_corpus entry: the curate_corpus call (which
        runs the per-stage census) and the collect of its output."""
        from pyspark.sql import functions as F

        from mrbf_spark.functions.curate import curate_corpus
        from mrbf_spark.functions.decontam import EVAL_MOD
        from mrbf_spark.registry import release_scoped_caches
        from mrbf_spark.tables import load_table

        with tr.span("curate.load"):
            d = load_table(spark, st["inp"]["docs"], "documents")
        with tr.span("curate.plan"):
            cur, census = curate_corpus(
                d.filter(F.col("doc_id") % EVAL_MOD != 0),
                d.filter(F.col("doc_id") % EVAL_MOD == 0),
                repetition=True,
            )
        with tr.span("curate.run"):
            doc_part = cur.select(
                F.lit("doc").alias("part"),
                F.lit(None).cast("string").alias("stage"),
                F.col("doc_id").cast("long").alias("doc_id"),
                F.lit(None).cast("long").alias("n"),
            )
            census_part = spark.createDataFrame(
                [(s, int(c)) for s, c in census], "stage string, n long"
            ).select(F.lit("census").alias("part"), "stage", F.lit(None).cast("long").alias("doc_id"), "n")
            out = doc_part.unionByName(census_part).toArrow()
        with tr.span("registry.release"):
            release_scoped_caches()
        return out, {}


WORKLOADS = {w.name: w for w in (BloomPipeline(), CurateCorpus())}

# Every span a traced run can report, in report order; a workload that
# never enters a span reports zeros for it.
SPANS = (
    "fp.split",
    "fp.build.plan",
    "fp.build.run",
    "fp.probe",
    "semi.load",
    "semi.build.plan",
    "semi.build.run",
    "semi.probe",
    "semi.exact_join",
    "curate.load",
    "curate.plan",
    "curate.run",
    "registry.release",
)
RATIOS = (
    "fp.build.fill_ratio",
    "fp.probe.fp_over_p",
    "semi.build.fill_ratio",
    "semi.probe.fp_over_p",
    "semi.exact_join.precision",
)
