"""Similarity search over the `embeddings` table (north-star
extension): brute-force cosine top-k as the exact baseline, and a
random-hyperplane LSH variant as the scale path.

Oracle-parity trick: dot products and norms are fixed-point — each
per-element double product is scaled by 1e9 and TRUNCATED toward zero
to a BIGINT on BOTH engines, then summed exactly (order-insensitive)
and rescaled. Measured, not guessed: DuckDB's list_dot_product runs in
float32, its double→DECIMAL cast truncates while Spark's rounds
HALF_UP, and raw double sums are order-dependent — fixed-point is the
one representation both engines agree on bit-for-bit. Cost: ≤64e-9
absolute error vs the true cosine, irrelevant for ranking and far
smaller than float32 input noise.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..registry import builder, register, scoped_cache
from ..tables import load_table

TOPK = 5
N_QUERIES = 8  # vec_id < 8 are the query vectors


FIXED_SCALE = 1_000_000_000  # 1e9: products ≤ ~64 keep sums ≪ 2^53


def _decimal_dot(a: Column, b: Column) -> Column:
    """Fixed-point dot product: Σ trunc(double(a_i)·double(b_i)·1e9)
    as exact BIGINT, rescaled to double. Spark's double→long cast
    truncates toward zero, matching DuckDB TRUNC()."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") * y.cast("double") * F.lit(float(FIXED_SCALE))).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
        lambda acc: acc.cast("double") / F.lit(float(FIXED_SCALE)),
    )


_NORMS_SQL = """
norms AS (
  SELECT vec_id,
         CAST(CAST(SUM(CAST(TRUNC(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0 AS nrm
  FROM (SELECT vec_id, UNNEST(embedding) AS x FROM embeddings)
  GROUP BY vec_id)
"""

_DOTS_SQL = f"""
dots AS (
  SELECT query_id, vec_id,
         CAST(CAST(SUM(CAST(TRUNC(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE) * 1000000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0 AS dot
  FROM (SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
               UNNEST(a.embedding) AS xa, UNNEST(b.embedding) AS xb
        FROM embeddings a, embeddings b
        WHERE a.vec_id < {N_QUERIES} AND b.vec_id <> a.vec_id)
  GROUP BY 1, 2)
"""


def _ldot_int_sql(a: str, b: str) -> str:
    """Fixed-point trunc-dot Σ trunc(a·b·1e9) as a PER-ROW list
    comprehension — the scale-oracle formulation (r8): no UNNEST row
    blow-up through joins and hash aggregates (the naive form's sf1
    timeout: within-group pairs × dim rows). Bit-identical to the
    UNNEST+SUM form: same per-element trunc, same exact integer sum
    (list_sum widens to HUGEINT exactly like SUM; the BIGINT cast
    matches the naive oracle's)."""
    return (
        f"CAST(list_sum([CAST(TRUNC(CAST({a}[i] AS DOUBLE) * "
        f"CAST({b}[i] AS DOUBLE) * 1000000000.0) AS BIGINT) "
        f"for i in generate_series(1, len({a}))]) AS BIGINT)"
    )


def _ldot_sql(a: str, b: str) -> str:
    """_ldot_int_sql scaled back to the engine's double (÷ 1e9)."""
    return f"(CAST({_ldot_int_sql(a, b)} AS DOUBLE) / 1000000000.0)"


def cosine_pairs(
    queries: DataFrame, corpus: DataFrame, dot: str = "jvm"
) -> DataFrame:
    """(query_id, vec_id, cosine) for every query × corpus pair.
    Queries are broadcast (the small side by construction); the corpus
    is scanned once — at 100 TB this is one pass, no shuffle of the
    corpus.

    dot="arrow" (r10) evaluates the per-pair fixed-point dot through
    the vectorized Arrow kernel (_pair_dot_batches — bit-identical
    integer sums; see neardup_pairs). The default stays "jvm": the
    headline ann_bruteforce_topk path is 8 queries × corpus and
    test-pinned JVM-codegen-only; the arrow path is for bulk callers
    (contrastive mining scans |anchors| × corpus)."""
    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _decimal_dot(F.col("embedding"), F.col("embedding")).alias("q_nrm"),
    )
    c = corpus.select(
        "vec_id",
        "embedding",
        _decimal_dot(F.col("embedding"), F.col("embedding")).alias("c_nrm"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    if dot == "arrow":
        dots = pairs.select(
            F.col("query_id").alias("vec_a"),
            F.col("vec_id").alias("vec_b"),
            F.col("q_emb").alias("emb_a"),
            F.col("embedding").alias("emb_b"),
            F.col("q_nrm").alias("nrm_a"),
            F.col("c_nrm").alias("nrm_b"),
        ).mapInArrow(_pair_dot_batches, _PAIR_DOT_SCHEMA)
        cosine = (
            F.col("dot").cast("double") / F.lit(float(FIXED_SCALE))
        ) / (F.sqrt(F.col("nrm_a")) * F.sqrt(F.col("nrm_b")))
        return dots.select(
            F.col("vec_a").alias("query_id"),
            F.col("vec_b").alias("vec_id"),
            cosine.alias("cosine"),
        )
    if dot != "jvm":
        raise ValueError(f"dot must be jvm|arrow, got {dot!r}")
    cosine = _decimal_dot(F.col("q_emb"), F.col("embedding")) / (
        F.sqrt(F.col("q_nrm")) * F.sqrt(F.col("c_nrm"))
    )
    return pairs.select("query_id", "vec_id", cosine.alias("cosine"))


# --- exact brute-force top-k (the correctness baseline).
@register(
    "ann_bruteforce_topk",
    f"""
    WITH {_NORMS_SQL},
    {_DOTS_SQL},
    scored AS (
      SELECT d.query_id, d.vec_id,
             d.dot / (SQRT(nq.nrm) * SQRT(nc.nrm)) AS cosine
      FROM dots d
      JOIN norms nq ON nq.vec_id = d.query_id
      JOIN norms nc ON nc.vec_id = d.vec_id)
    SELECT query_id, vec_id, cosine, rnk FROM (
      SELECT query_id, vec_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, vec_id) AS INT) AS rnk
      FROM scored) t
    WHERE rnk <= {TOPK}
    """,
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < N_QUERIES)
    from pyspark.sql import Window as W

    scored = cosine_pairs(queries, emb)
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
        .select("query_id", "vec_id", "cosine", "rnk")
    )


# --- LSH-bucketed ANN (the scale path): random-hyperplane signatures,
# bucket equi-join, exact re-rank within buckets. The signature is a
# pure JVM zip_with/aggregate expression — no ArrowEvalPython stage in
# the candidate path (VERDICT r3 #5; the r3 pandas-UDF form paid an
# Arrow round-trip per batch for a 6×64 matmul). The seeded
# hyperplane/centroid matrices ride along as a ONE-ROW broadcast
# DataFrame column, NOT as literal arrays in the expression tree:
# embedding each 64-double row as 64 Literal nodes made Catalyst
# analysis/optimization the bottleneck — ann_approx_topk took the same
# ~3 s at sf0.001 as at sf0.1, i.e. pure driver-side planning (the IVF
# cell+probe exprs alone carried ~2k literal nodes). With the matrix
# as a column the plan is a handful of HOF nodes and planning cost is
# flat in matrix size.
N_PLANES = 6
LSH_SEED = 42
# Embedding width of the public testdata (TESTDATA.md). Only the
# ORACLE pins it — the generated SQL embeds EMB_DIM-wide hyperplane
# literals; the engine side reads the width from the data, so a
# different-width corpus still runs (its check degrades to rows-only
# semantics, never wrong results).
EMB_DIM = 64


def _hyperplanes(dim: int) -> np.ndarray:
    return np.random.RandomState(LSH_SEED).randn(N_PLANES, dim)


def _matrix_df(spark: SparkSession, mat: np.ndarray) -> DataFrame:
    """One-row (mat: array<array<double>>) DataFrame carrying a small
    driver-side matrix into the plan as DATA (broadcast-cross-joined),
    keeping literal bloat out of the expression tree. Doubles pass
    through createDataFrame bit-exactly."""
    return spark.createDataFrame(
        [([[float(x) for x in row] for row in mat],)], "mat array<array<double>>"
    )


def with_matrix(df: DataFrame, spark: SparkSession, mat: np.ndarray) -> DataFrame:
    return df.crossJoin(F.broadcast(_matrix_df(spark, mat)))


def _plain_dot(emb: Column, vec: Column) -> Column:
    """Left-fold double dot product. (Float sum order is the JVM's
    sequential fold — self-consistent across every caller, which is
    all bucketing needs.)"""
    return F.aggregate(
        F.zip_with(emb, vec, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _fixed_dot_long(a: Column, b: Column) -> Column:
    """Fixed-point dot as the raw BIGINT sum Σ trunc(aᵢ·bᵢ·1e9) — the
    unrescaled core of _decimal_dot. Order-insensitive integer math,
    so any engine that replays the per-element trunc gets the same
    sum (and therefore the same sign) bit-for-bit."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (
                x.cast("double") * y.cast("double") * F.lit(float(FIXED_SCALE))
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _pair_dot_batches(it):
    """mapInArrow kernel for the candidate-pair cosine stage: per
    batch, the fixed-point dot Σ trunc(aᵢ·bᵢ·1e9) of emb_a·emb_b as
    one vectorized numpy pass. BIT-IDENTICAL to _fixed_dot_long's JVM
    fold: (a*b)*1e9 is the same left-associated IEEE-double product
    chain, numpy's astype(int64) truncates toward zero exactly like
    Spark's non-ANSI double→long cast (embedding products are ≪ 2^63
    by construction, so the casts' out-of-range clamps never differ),
    and the int64 sum is exact, order-insensitive integer math —
    equality with the HOF fold is test-pinned on both vector corpora
    (tests/test_extensions.py::test_pair_dot_arrow_matches_jvm).

    Why Arrow here (guide §4.2): the per-pair interpreted
    zip_with/aggregate fold was the #1 cost of the semantic-dedup
    family (~20 µs/pair × ~780k within-cell pairs at sf0.1); the
    rejected codegen unroll measured 2.6× WORSE (r9 report). One
    numpy multiply per batch replaces both. Only the six needed
    columns cross the boundary (project-before-opaque, guide §4.1).
    """
    import numpy as np
    import pyarrow as pa

    for batch in it:
        n = batch.num_rows
        if n == 0:
            continue
        a = np.asarray(batch.column("emb_a").flatten(), dtype=np.float64)
        b = np.asarray(batch.column("emb_b").flatten(), dtype=np.float64)
        a = a.reshape(n, -1)
        b = b.reshape(n, -1)
        dot = ((a * b) * float(FIXED_SCALE)).astype(np.int64).sum(axis=1)
        yield pa.RecordBatch.from_arrays(
            [
                batch.column("vec_a"),
                batch.column("vec_b"),
                batch.column("nrm_a"),
                batch.column("nrm_b"),
                pa.array(dot, type=pa.int64()),
            ],
            names=["vec_a", "vec_b", "nrm_a", "nrm_b", "dot"],
        )


_PAIR_DOT_SCHEMA = (
    "vec_a long, vec_b long, nrm_a double, nrm_b double, dot long"
)


def _np_fixed_dots(e, cent):
    """(n, k) int64 fixed-point dots of n embedding rows against k
    centroid rows — Σ trunc(eᵢ·cᵢ·1e9) per (row, centroid), the numpy
    twin of transform(mat, c -> _fixed_dot_long(emb, c)). Loops over
    the k centroids (k is small) so peak memory stays n×dim."""
    import numpy as np

    k = cent.shape[0]
    out = np.empty((e.shape[0], k), dtype=np.int64)
    for j in range(k):
        out[:, j] = ((e * cent[j]) * float(FIXED_SCALE)).astype(np.int64).sum(axis=1)
    return out


def _assign_score_batches(cent):
    """mapInArrow kernel factory for semdedup_scored: per batch of
    (vec_id, embedding), emit (vec_id, embedding, cell, cent_cosine)
    where cell = first-max argmax over the fixed-point centroid dots
    (np.argmax == the JVM array_position(first max) rule) and
    cent_cosine replays _decimal_dot's exact arithmetic: every dot is
    the same per-element trunc + int64 sum, the /1e9 rescale, sqrt and
    the single divide are the same correctly-rounded IEEE ops in the
    same order — bit-identical to the JVM projection it replaces
    (pinned in tests/test_extensions.py::test_assign_score_arrow_
    matches_jvm). Why: the assignment is a FULL-CORPUS map pass whose
    k×dim interpreted HOF fold per row was the remaining per-row cost
    of the semantic family (guide §4.2)."""
    import numpy as np

    cent = np.asarray(cent, dtype=np.float64)
    c_nrm = ((cent * cent) * float(FIXED_SCALE)).astype(np.int64).sum(axis=1)
    c_sqrt = np.sqrt(c_nrm.astype(np.float64) / float(FIXED_SCALE))

    def fn(it):
        import numpy as np
        import pyarrow as pa

        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            e = np.asarray(
                batch.column("embedding").flatten(), dtype=np.float64
            ).reshape(n, -1)
            dots = _np_fixed_dots(e, cent)
            cell = dots.argmax(axis=1)
            best = dots[np.arange(n), cell]
            e_nrm = ((e * e) * float(FIXED_SCALE)).astype(np.int64).sum(axis=1)
            cos = (best.astype(np.float64) / float(FIXED_SCALE)) / (
                np.sqrt(e_nrm.astype(np.float64) / float(FIXED_SCALE))
                * c_sqrt[cell]
            )
            yield pa.RecordBatch.from_arrays(
                [
                    batch.column("vec_id"),
                    _double_list(e, pa, np),
                    pa.array(cell.astype(np.int32), type=pa.int32()),
                    pa.array(cos, type=pa.float64()),
                ],
                names=["vec_id", "embedding", "cell", "cent_cosine"],
            )

    return fn


def _double_list(e, pa, np):
    """n×dim float64 matrix → Arrow list<double> column. The source
    table may store array<float> (the embeddings parquet does); the
    float→double widening is exact, and every downstream consumer
    already cast to double before computing, so values are unchanged —
    this just makes the kernel's output type self-consistent."""
    n, d = e.shape
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, (n + 1) * d, d, dtype=np.int32), type=pa.int32()),
        pa.array(e.ravel(), type=pa.float64()),
    )


_ASSIGN_SCORE_SCHEMA = (
    "vec_id long, embedding array<double>, cell int, cent_cosine double"
)


def _assign_batches(cent):
    """mapInArrow kernel factory for the Lloyd assignment pass: per
    batch of (embedding), emit (cell, embedding) — the same first-max
    fixed-point argmax as _assign_score_batches, without the cosine."""
    import numpy as np

    cent = np.asarray(cent, dtype=np.float64)

    def fn(it):
        import numpy as np
        import pyarrow as pa

        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            e = np.asarray(
                batch.column("embedding").flatten(), dtype=np.float64
            ).reshape(n, -1)
            cell = _np_fixed_dots(e, cent).argmax(axis=1)
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(cell.astype(np.int32), type=pa.int32()),
                    _double_list(e, pa, np),
                ],
                names=["cell", "embedding"],
            )

    return fn


def lsh_bucket_col(emb: Column, mat: Column) -> Column:
    """Hyperplane signature: bit j = fixed_dot(emb, mat[j]) > 0,
    packed into a long — all JVM expressions against the matrix
    column. The per-bit words are disjoint so the pack is a plain
    sum-fold. The sign test is on the FIXED-POINT dot (not the float
    fold): signs then depend only on per-element IEEE products +
    integer sums, so an independent engine replaying the definition
    assigns every vector the same bucket — what lets ann_approx_topk
    carry a full DuckDB oracle instead of a rows-only check."""
    bits = F.transform(
        mat,
        # 2^j via pow (exact in double for j ≤ 52; N_PLANES is 6) —
        # PySpark's shiftleft only takes a Python-int bit count, not
        # the lambda's index column.
        lambda p, j: F.when(
            _fixed_dot_long(emb, p) > 0, F.pow(F.lit(2.0), j).cast("long")
        ).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, v: acc + v)


def ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH: each query probes its own bucket plus every
    single-bit-flip neighbor (N_PLANES+1 probes) — the standard recall
    fix for single-table hyperplane LSH. The corpus is bucketed once;
    only the tiny query side is replicated, so the join stays a
    broadcast equi-join with candidate count ≈ (planes+1)/2^planes of
    the corpus per query."""
    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()["embedding"])
    bucketed = with_matrix(emb, spark, _hyperplanes(dim)).select(
        "vec_id",
        "embedding",
        lsh_bucket_col(F.col("embedding"), F.col("mat")).alias("bucket"),
    )
    probes = F.explode(
        F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << b).cast("long"))
                for b in range(N_PLANES)
            ],
        )
    )
    queries = (
        bucketed.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            probes.alias("bucket"),
            _decimal_dot(F.col("embedding"), F.col("embedding")).alias("q_nrm"),
        )
    )
    cands = bucketed.join(F.broadcast(queries), "bucket").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cosine = _decimal_dot(F.col("q_emb"), F.col("embedding")) / (
        F.sqrt(F.col("q_nrm")) * F.sqrt(_decimal_dot(F.col("embedding"), F.col("embedding")))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        cands.select("query_id", "vec_id", cosine.alias("cosine"))
        # a candidate can collide with the same query in several probe
        # buckets — dedupe before ranking or ranks get inflated
        .dropDuplicates(["query_id", "vec_id"])
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
    )


# --- IVF-bucketed ANN (the second scale path, complementing LSH):
# coarse-quantize the corpus to K centroids learned driver-side from a
# deterministic bounded sample (TakeOrdered by vec_id — no full
# collect), then each query probes only its NPROBE nearest cells with
# an exact re-rank inside them. The centroid matrix is O(K·dim),
# broadcast as a one-row DataFrame (see _matrix_df); the corpus is
# assigned in one JVM pass (zip_with/aggregate dots against the matrix
# column) and the probe join is a broadcast equi-join on cell id — the
# corpus never shuffles.
N_CENTROIDS = 16
NPROBE = 6
IVF_SAMPLE = 512
IVF_SEED = 42
IVF_ITERS = 5


def _kmeans_centroids(sample: np.ndarray) -> np.ndarray:
    """Fixed-iteration Lloyd k-means on the driver sample. Seeded
    init + fixed iteration count ⇒ fully deterministic (no
    convergence-dependent nondeterminism). Rows are L2-normalized so
    Euclidean assignment ≈ cosine cells (spherical k-means)."""
    x = sample / np.maximum(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12)
    rs = np.random.RandomState(IVF_SEED)
    cent = x[rs.choice(len(x), size=min(N_CENTROIDS, len(x)), replace=False)]
    for _ in range(IVF_ITERS):
        assign = np.argmax(x @ cent.T, axis=1)
        for j in range(len(cent)):
            members = x[assign == j]
            if len(members):
                c = members.mean(axis=0)
                cent[j] = c / max(np.linalg.norm(c), 1e-12)
    return cent


def _centroid_dots(emb: Column, mat: Column) -> Column:
    """array<double> of emb·centroid_j against the centroid-matrix
    COLUMN (see _matrix_df), pure JVM folds. Row normalization is
    dropped on purpose: dividing every dot by the same positive ‖emb‖
    changes no argmax/ordering, so cell assignment and probe order are
    identical to the normalized form."""
    return F.transform(mat, lambda c: _plain_dot(emb, c))


def ivf_cell_col(emb: Column, mat: Column) -> Column:
    """Nearest-centroid id: argmax over the dot array (array_position
    finds the FIRST max, matching np.argmax tie behavior)."""
    dots = _centroid_dots(emb, mat)
    return (F.array_position(dots, F.array_max(dots)) - 1).cast("int")


def ivf_probes_col(emb: Column, mat: Column) -> Column:
    """Top-NPROBE cell ids by dot desc (ties by id asc): sort
    struct(-dot, id) ascending and slice — no Python, no UDF."""
    dots = _centroid_dots(emb, mat)
    ranked = F.sort_array(
        F.transform(dots, lambda d, i: F.struct((-d).alias("nd"), i.alias("i")))
    )
    return F.transform(F.slice(ranked, 1, NPROBE), lambda s: s["i"].cast("int"))


def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    sample_rows = emb.orderBy("vec_id").limit(IVF_SAMPLE).select("embedding").collect()
    cent = _kmeans_centroids(
        np.array([r["embedding"] for r in sample_rows], dtype=np.float64)
    )
    with_mat = with_matrix(emb, spark, cent)
    bucketed = with_mat.select(
        "vec_id", "embedding", ivf_cell_col(F.col("embedding"), F.col("mat")).alias("cell")
    )
    queries = (
        with_mat.filter(F.col("vec_id") < N_QUERIES)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
            F.explode(ivf_probes_col(F.col("embedding"), F.col("mat"))).alias("cell"),
            _decimal_dot(F.col("embedding"), F.col("embedding")).alias("q_nrm"),
        )
    )
    cands = bucketed.join(F.broadcast(queries), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cosine = _decimal_dot(F.col("q_emb"), F.col("embedding")) / (
        F.sqrt(F.col("q_nrm")) * F.sqrt(_decimal_dot(F.col("embedding"), F.col("embedding")))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        cands.select("query_id", "vec_id", cosine.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
    )


# --- IVF-flat: the deterministic coarse quantizer. Centroids are the
# first N_CENTROIDS corpus vectors BY vec_id RANK (a standard k-means
# "Forgy" init used as-is), so the whole index — centroid set, cell
# assignment (argmax fixed-point dot), probe list, re-rank — is a pure
# function of the table that an independent engine can replay. The
# k-means-refined variant above gives better cell balance but its
# Lloyd iterations have no SQL twin; tests pin that refinement only
# moves recall, while THIS path is what the driver hash-matches.
def _flat_centroids(emb: DataFrame, k: int = N_CENTROIDS) -> np.ndarray:
    rows = (
        emb.select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(k)
        .collect()
    )
    return np.array([r["embedding"] for r in rows], dtype=np.float64)


def ann_ivf_flat_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: deterministic data-point centroids (see
    _flat_centroids), fixed-point cell assignment, NPROBE probes,
    exact decimal re-rank. Same plan shape as ann_ivf_topk — one
    corpus pass for assignment, broadcast equi-join on cell id."""
    emb = load_table(spark, sf_dir, "embeddings")
    with_mat = with_matrix(emb, spark, _flat_centroids(emb))
    fdots = lambda: F.transform(  # noqa: E731 — tiny local expr factory
        F.col("mat"), lambda c: _fixed_dot_long(F.col("embedding"), c)
    )
    # argmax over the fixed dots; array_position takes the FIRST max ⇒
    # ties resolve to the lowest centroid rank, matching the oracle's
    # ORDER BY s DESC, cid ASC.
    cell = (F.array_position(fdots(), F.array_max(fdots())) - 1).cast("int")
    bucketed = with_mat.select("vec_id", "embedding", cell.alias("cell"))
    ranked = F.sort_array(
        F.transform(fdots(), lambda d, i: F.struct((-d).alias("nd"), i.alias("i")))
    )
    probe_cells = F.transform(F.slice(ranked, 1, NPROBE), lambda s: s["i"].cast("int"))
    queries = with_mat.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(probe_cells).alias("cell"),
        _decimal_dot(F.col("embedding"), F.col("embedding")).alias("q_nrm"),
    )
    cands = bucketed.join(F.broadcast(queries), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    cosine = _decimal_dot(F.col("q_emb"), F.col("embedding")) / (
        F.sqrt(F.col("q_nrm")) * F.sqrt(_decimal_dot(F.col("embedding"), F.col("embedding")))
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        cands.select("query_id", "vec_id", cosine.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
    )


# --- Product Quantization (PQ) ANN (Jégou et al. 2011, "Product
# quantization for nearest neighbor search"): split the embedding into
# M_SUB contiguous subspaces, quantize each subvector to one of
# K_CODES codebook entries, and rank the corpus for a query by the
# ASYMMETRIC distance — the exact query subvectors scored against the
# codebook via a per-query lookup table (LUT), summed over subspaces.
# This is the memory-bound 100 TB path: the scan that ranks the corpus
# touches only the (vec_id, M_SUB-byte codes) table — 8 small ints per
# vector instead of 64 doubles (a ~32× scan-size reduction here; 512
# bytes → 8 codes generalizes to any width) — and the full vectors are
# read back ONLY for the ≤ PQ_CAND candidates per query that survive
# ADC, which the exact fixed-point re-rank then orders. Codebook =
# the deterministic rank-indexed Forgy pattern proven by IVF-flat
# (subvectors of the first K_CODES corpus vectors by vec_id), so
# encode → LUT → ADC → re-rank is a pure function of the table and the
# whole index replays in the DuckDB oracle (no recall caveat on the
# driver check; quality itself is pinned by the recall floor test).
M_SUB = 8  # subspaces (EMB_DIM 64 → 8 dims per subspace)
K_CODES = 16  # codebook entries per subspace
# ADC candidates per query fed to the exact re-rank. Raised 32 → 64 in
# r7 from the measured sweep (tools/pq_recall_sweep.py, table in
# SCALING.md): cand is the recall lever at ~FLAT probe cost until cand
# approaches the corpus (recall@5 at sf0.1: 0.50 → 0.80 for the same
# ~2.7 s probe), while k_codes 16→32 costs ~40% more probe time for a
# gain that vanishes once cand ≥ 64. The re-rank broadcast stays
# bounded at queries×cand rows.
PQ_CAND = 64


def _sub_slice(col: Column, s, sub_dim: int) -> Column:
    """1-based contiguous subspace slice s (0-based id) of a vector."""
    return F.slice(col, (s * sub_dim + F.lit(1)).cast("int"), sub_dim)


def _pq_cnorm_fixed(cb: np.ndarray, sub_dim: int) -> list[list[int]]:
    """Σ trunc(c_i²·1e9) per (code j, subspace s) — the same
    per-element trunc the engine's _fixed_dot_long applies, so
    2·dot − cnorm compares exactly across engines."""
    return [
        [
            int(
                np.sum(
                    np.trunc(
                        cb[j, s * sub_dim : (s + 1) * sub_dim].astype(np.float64) ** 2
                        * float(FIXED_SCALE)
                    )
                )
            )
            for s in range(M_SUB)
        ]
        # cb may hold fewer than K_CODES rows (corpus smaller than the
        # codebook): iterate what exists
        for j in range(cb.shape[0])
    ]


def pq_codes_col(emb: Column, mat: Column, cnorm: Column, sub_dim: int) -> Column:
    """array<int> of M_SUB code ids: per subspace, the codebook entry
    minimizing fixed-point squared distance — argmax of
    2·fixdot(x_s, c_j_s) − ‖c_j_s‖²_fix (the ‖x_s‖² term is constant
    per subvector, so it cannot change the argmax); ties resolve to
    the lowest code id (array_position finds the FIRST max)."""

    def scores(s: Column) -> Column:
        return F.transform(
            mat,
            lambda c, j: F.lit(2).cast("long")
            * _fixed_dot_long(_sub_slice(emb, s, sub_dim), _sub_slice(c, s, sub_dim))
            - F.element_at(F.element_at(cnorm, j + 1), (s + 1).cast("int")),
        )

    return F.transform(
        F.sequence(F.lit(0), F.lit(M_SUB - 1)),
        lambda s: (
            F.array_position(scores(s), F.array_max(scores(s))) - 1
        ).cast("int"),
    )


def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ ANN over the embeddings table (see pq_topk)."""
    return pq_topk(load_table(spark, sf_dir, "embeddings"))


def pq_fit_codebooks(
    emb: DataFrame, k: int = K_CODES, iters: int = IVF_ITERS
) -> np.ndarray:
    """k-means-refined PQ codebooks (the quality path, like
    ann_ivf_topk is for IVF-flat): per-subspace Lloyd with a fixed
    iteration count, ALL M_SUB subspaces updated in ONE corpus pass
    per iteration — assignment is the same fixed-point encode rule as
    pq_topk, the update ships K_CODES×dim fixed-point sums to the
    driver (bounded: 16×64 rows/iter here). Init = the deterministic
    Forgy codebook; empty codes keep their previous entry. Returns the
    k×dim matrix whose subspace s slice is codebook s."""
    cb = _flat_centroids(emb, k)
    sub_dim = cb.shape[1] // M_SUB
    dim = cb.shape[1]
    for _ in range(iters):
        cn = _pq_cnorm_fixed(cb, sub_dim)
        cnorm = F.array(
            *[F.array(*[F.lit(v).cast("long") for v in row]) for row in cn]
        )
        with_mat = with_matrix(emb, emb.sparkSession, cb)
        s_col = F.floor(F.col("pos") / F.lit(sub_dim)).cast("int")
        # The encode MUST land in its own projection BELOW the
        # posexplode (r9): sharing one select with the generator made
        # Spark re-evaluate the interpreted M_SUB×K_CODES argmax per
        # EXPLODED row — 64× the work, measured 209 s vs 8.9 s per
        # iteration at sf0.1 (this was the whole 20-minute PQ build).
        coded = with_mat.select(
            "embedding",
            pq_codes_col(F.col("embedding"), F.col("mat"), cnorm, sub_dim).alias(
                "codes"
            ),
        )
        rows = (
            coded.select(
                "codes",
                F.posexplode("embedding").alias("pos", "x"),
            )
            .select(
                "pos",
                F.element_at(F.col("codes"), (s_col + 1).cast("int")).alias("j"),
                (F.col("x").cast("double") * F.lit(float(FIXED_SCALE)))
                .cast("long")
                .alias("xs"),
            )
            .groupBy("j", "pos")
            .agg(F.sum("xs").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        nxt = cb.copy()
        for r in rows:
            nxt[r["j"], r["pos"]] = int(r["s"]) / (FIXED_SCALE * int(r["n"]))
        cb = nxt
    return cb


def pq_topk(
    emb: DataFrame,
    codebook: np.ndarray | None = None,
    *,
    cand: int = PQ_CAND,
) -> DataFrame:
    """PQ ANN: encode the corpus once (one scan, no shuffle), score
    every query against the codes table through its broadcast LUT,
    keep the ADC top-`cand` (default PQ_CAND), then exact-decimal
    re-rank only those candidates to TOPK. The corpus never shuffles;
    the only joins are broadcast (queries, candidate ids). Default
    codebook is the deterministic SQL-replayable Forgy rule (what the
    driver hash-matches); pass pq_fit_codebooks(emb) for the
    k-means-refined quality variant. `cand` is the recall/cost knob —
    see the r7 sweep table in SCALING.md (recall rises near-linearly
    with log cand at fixed codebook; probe cost is ~flat until cand
    approaches the corpus)."""
    spark = emb.sparkSession
    cb = codebook if codebook is not None else _flat_centroids(emb, K_CODES)
    sub_dim = cb.shape[1] // M_SUB
    cn = _pq_cnorm_fixed(cb, sub_dim)
    cnorm = F.array(
        *[
            F.array(*[F.lit(v).cast("long") for v in row])
            for row in cn
        ]
    )
    with_mat = with_matrix(emb, spark, cb)
    codes = with_mat.select(
        "vec_id",
        pq_codes_col(F.col("embedding"), F.col("mat"), cnorm, sub_dim).alias("codes"),
    )
    # Query LUT: M_SUB × K_CODES fixed dots of the EXACT query
    # subvectors against the codebook — computed in the same scan
    # expression language as the encode, broadcast with the query row.
    lut = F.transform(
        F.sequence(F.lit(0), F.lit(M_SUB - 1)),
        lambda s: F.transform(
            F.col("mat"),
            lambda c: _fixed_dot_long(
                _sub_slice(F.col("embedding"), s, sub_dim),
                _sub_slice(c, s, sub_dim),
            ),
        ),
    )
    queries = with_mat.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _decimal_dot(F.col("embedding"), F.col("embedding")).alias("q_nrm"),
        lut.alias("lut"),
    )
    adc = F.aggregate(
        F.sequence(F.lit(0), F.lit(M_SUB - 1)),
        F.lit(0).cast("long"),
        lambda acc, s: acc
        + F.element_at(
            F.element_at(F.col("lut"), s + 1),
            (F.element_at(F.col("codes"), (s + 1).cast("int")) + 1).cast("int"),
        ),
    )
    from pyspark.sql import Window as W

    wc = W.partitionBy("query_id").orderBy(F.col("adc").desc(), "vec_id")
    cands = (
        codes.crossJoin(F.broadcast(queries))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", "q_emb", "q_nrm", adc.alias("adc"))
        .withColumn("crnk", F.row_number().over(wc))
        .filter(F.col("crnk") <= cand)
        .select("query_id", "vec_id", "q_emb", "q_nrm")
    )
    # Exact re-rank: full vectors are read ONLY for the candidates —
    # candidate side broadcasts (≤ N_QUERIES·PQ_CAND rows).
    rer = emb.join(F.broadcast(cands), "vec_id")
    cosine = _decimal_dot(F.col("q_emb"), F.col("embedding")) / (
        F.sqrt(F.col("q_nrm")) * F.sqrt(_decimal_dot(F.col("embedding"), F.col("embedding")))
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    return (
        rer.select("query_id", "vec_id", cosine.alias("cosine"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TOPK)
    )


def _planes_values_sql(dim: int = EMB_DIM) -> str:
    """The seeded hyperplane matrix as DuckDB VALUES rows — repr()
    emits the shortest round-trip decimal, so the SQL parser recovers
    the exact IEEE double the Spark side broadcasts."""
    return ", ".join(
        f"({j}, [{', '.join(repr(float(x)) for x in row)}]::DOUBLE[])"
        for j, row in enumerate(_hyperplanes(dim))
    )


def _ann_approx_oracle() -> str:
    """DuckDB twin of BOTH approximate index structures, generated
    from the same constants (deterministic-membership-twin pattern,
    like the simhash oracle): hyperplane signs and IVF cells come from
    fixed-point dots, probes/cells from the same rank rules, and the
    re-rank reuses the proven norms/dots fixed-point CTEs — so prune ∪
    re-rank is replayed exactly, with no recall caveat."""
    probe_vals = ", ".join(f"({v})" for v in [0] + [1 << b for b in range(N_PLANES)])
    return f"""
    WITH {_NORMS_SQL},
    {_DOTS_SQL},
    planes(plane_id, h) AS (SELECT * FROM (VALUES {_planes_values_sql()})),
    psum AS (
      SELECT vec_id, plane_id,
             SUM(CAST(TRUNC(CAST(x AS DOUBLE) * h * 1000000000.0) AS BIGINT)) AS s
      FROM (SELECT e.vec_id, p.plane_id, UNNEST(e.embedding) AS x, UNNEST(p.h) AS h
            FROM embeddings e CROSS JOIN planes p)
      GROUP BY 1, 2),
    sig AS (SELECT vec_id,
                   CAST(SUM(CASE WHEN s > 0 THEN 1 << plane_id ELSE 0 END) AS BIGINT)
                     AS bucket
            FROM psum GROUP BY vec_id),
    qprobe AS (SELECT s.vec_id AS query_id, xor(s.bucket, CAST(v AS BIGINT)) AS bucket
               FROM sig s CROSS JOIN (VALUES {probe_vals}) probes(v)
               WHERE s.vec_id < {N_QUERIES}),
    lsh_cand AS (SELECT DISTINCT q.query_id, s.vec_id
                 FROM qprobe q
                 JOIN sig s ON s.bucket = q.bucket AND s.vec_id <> q.query_id),
    cent AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cemb
             FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id
                   LIMIT {N_CENTROIDS})),
    cdots AS (SELECT vec_id, cid,
                     SUM(CAST(TRUNC(CAST(x AS DOUBLE) * CAST(cx AS DOUBLE)
                                    * 1000000000.0) AS BIGINT)) AS s
              FROM (SELECT e.vec_id, c.cid, UNNEST(e.embedding) AS x,
                           UNNEST(c.cemb) AS cx
                    FROM embeddings e CROSS JOIN cent c)
              GROUP BY 1, 2),
    cr AS (SELECT vec_id, cid,
                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS r
           FROM cdots),
    cells AS (SELECT vec_id, cid AS cell FROM cr WHERE r = 1),
    qcells AS (SELECT vec_id AS query_id, cid AS cell FROM cr
               WHERE r <= {NPROBE} AND vec_id < {N_QUERIES}),
    ivf_cand AS (SELECT DISTINCT q.query_id, s.vec_id
                 FROM qcells q
                 JOIN cells s ON s.cell = q.cell AND s.vec_id <> q.query_id),
    pqcb AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS j, embedding AS c
             FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id
                   LIMIT {K_CODES})),
    pqel AS (SELECT e.vec_id, b.j, UNNEST(e.embedding) AS x, UNNEST(b.c) AS cx,
                    UNNEST(generate_series(1, {EMB_DIM})) AS i
             FROM embeddings e CROSS JOIN pqcb b),
    pqdots AS (SELECT vec_id, j, CAST((i - 1) // {EMB_DIM // M_SUB} AS INT) AS s,
                      SUM(CAST(TRUNC(CAST(x AS DOUBLE) * CAST(cx AS DOUBLE)
                                     * 1000000000.0) AS BIGINT)) AS dot
               FROM pqel GROUP BY 1, 2, 3),
    pqcel AS (SELECT j, UNNEST(c) AS cx, UNNEST(generate_series(1, {EMB_DIM})) AS i
              FROM pqcb),
    pqcn AS (SELECT j, CAST((i - 1) // {EMB_DIM // M_SUB} AS INT) AS s,
                    SUM(CAST(TRUNC(CAST(cx AS DOUBLE) * CAST(cx AS DOUBLE)
                                   * 1000000000.0) AS BIGINT)) AS cn
             FROM pqcel GROUP BY 1, 2),
    pqscore AS (SELECT d.vec_id, d.s, d.j, 2 * d.dot - c.cn AS sc
                FROM pqdots d JOIN pqcn c ON c.j = d.j AND c.s = d.s),
    pqcodes AS (SELECT vec_id, s, j AS code FROM (
                  SELECT vec_id, s, j,
                         ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                            ORDER BY sc DESC, j) AS r
                  FROM pqscore) t WHERE r = 1),
    pqadc AS (SELECT qd.vec_id AS query_id, v.vec_id, SUM(qd.dot) AS adc
              FROM pqcodes v
              JOIN (SELECT vec_id, j, s, dot FROM pqdots
                    WHERE vec_id < {N_QUERIES}) qd
                ON qd.s = v.s AND qd.j = v.code
              WHERE v.vec_id <> qd.vec_id
              GROUP BY 1, 2),
    pq_cand AS (SELECT query_id, vec_id FROM (
                  SELECT query_id, vec_id,
                         ROW_NUMBER() OVER (PARTITION BY query_id
                                            ORDER BY adc DESC, vec_id) AS r
                  FROM pqadc) t WHERE r <= {PQ_CAND}),
    cand AS (SELECT 'lsh' AS method, query_id, vec_id FROM lsh_cand
             UNION ALL
             SELECT 'ivf_flat' AS method, query_id, vec_id FROM ivf_cand
             UNION ALL
             SELECT 'pq' AS method, query_id, vec_id FROM pq_cand),
    scored AS (SELECT c.method, c.query_id, c.vec_id,
                      d.dot / (SQRT(nq.nrm) * SQRT(nc.nrm)) AS cosine
               FROM cand c
               JOIN dots d ON d.query_id = c.query_id AND d.vec_id = c.vec_id
               JOIN norms nq ON nq.vec_id = c.query_id
               JOIN norms nc ON nc.vec_id = c.vec_id)
    SELECT method, query_id, vec_id, cosine, rnk FROM (
      SELECT method, query_id, vec_id, cosine,
             CAST(ROW_NUMBER() OVER (PARTITION BY method, query_id
               ORDER BY cosine DESC, vec_id) AS INT) AS rnk
      FROM scored) t
    WHERE rnk <= {TOPK}
    """


# --- all three approximate ANN paths in one registration,
# HASH-MATCHED since r4 (PQ added r6): the LSH signature is
# fixed-point (portable signs), the IVF branch is the deterministic
# IVF-flat quantizer, and the PQ branch's codebook/encode/LUT/ADC are
# all rank-rule + fixed-point — so the oracle replays every index
# structure, probing, and the exact re-rank bit-for-bit. The union
# runs all three — each branch keeps its own plan (broadcast bucket
# equi-join / broadcast-LUT codes scan; the corpus never shuffles in
# any of them). The k-means-refined IVF (ann_ivf_topk) remains the
# quality path, pinned by its recall test.
@register("ann_approx_topk", _ann_approx_oracle())
def ann_approx_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    lsh = ann_lsh_topk(spark, sf_dir).select(
        F.lit("lsh").alias("method"), "query_id", "vec_id", "cosine", "rnk"
    )
    ivf = ann_ivf_flat_topk(spark, sf_dir).select(
        F.lit("ivf_flat").alias("method"), "query_id", "vec_id", "cosine", "rnk"
    )
    pq = ann_pq_topk(spark, sf_dir).select(
        F.lit("pq").alias("method"), "query_id", "vec_id", "cosine", "rnk"
    )
    return lsh.unionByName(ivf).unionByName(pq)


# --- embedding near-dup pairs (cosine ≥ τ within label groups):
# the embedding-space twin of minhash dedup. Label partitioning bounds
# the pair space; exact decimal cosine keeps it oracle-checkable.
NEARDUP_TAU = 0.35

# Contrastive-mining hard-negative band defaults (consumed by
# functions/mining.py and the suite oracle below; kept here so the
# oracle builder never has to import mining, which imports this
# module at top level).
MINE_NEG_LO = 0.15
MINE_K_NEG = 3
# The registered suite part's anchor bound (smallest anchor ids,
# deterministic): covers every driver SF unclipped (28/51 anchors at
# sf0.001/sf0.01) while keeping the verification entry's cost bounded
# on near-dup-saturated corpora, where exact mining is quadratic by
# design and the library op's docstring prescribes dedup-first
# (measured: a generated sf1 corpus with 19,900/20,000 anchors ran
# the uncapped exact part for >45 min before being killed).
MINE_ANCHOR_CAP = 512
# Label groups up to this many rows pair exactly; larger groups fall
# back to LSH buckets. The exact path's pair space is salted over a
# B×B cell grid (below), so even a cap-boundary group's ~5·10⁹ pairs
# land on ~B²/2 separate shuffle keys instead of one task.
NEARDUP_EXACT_CAP = 100_000
# Exact-path salt grid width: pair (x, y) is generated in cell
# (salt(x), salt(y)), so per-task pair count is (group/B)² and each
# side is replicated B× into the shuffle. The EFFECTIVE width adapts
# per group — B_eff = ceil(group / (cap/B_max)), capped at B_max — so
# a small group pays zero replication (B_eff = 1 ⇒ the pre-salting
# plan) and only cap-boundary groups spread over the full
# B_max² = 256 cells (~39M pairs per cell at the 100k cap).
NEARDUP_SALT_B = 16


@builder(
    "embedding_neardup",
    f"""
    WITH {_NORMS_SQL},
    pair_dots AS (
      SELECT a_id AS vec_a, b_id AS vec_b,
             CAST(CAST(SUM(CAST(TRUNC(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE) * 1000000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0 AS dot
      FROM (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   UNNEST(a.embedding) AS xa, UNNEST(b.embedding) AS xb
            FROM embeddings a JOIN embeddings b
              ON a.label = b.label AND a.vec_id < b.vec_id)
      GROUP BY 1, 2)
    SELECT vec_a, vec_b, cosine FROM (
      SELECT vec_a, vec_b,
             dot / (SQRT(na.nrm) * SQRT(nb.nrm)) AS cosine
      FROM pair_dots
      JOIN norms na ON na.vec_id = vec_a
      JOIN norms nb ON nb.vec_id = vec_b) t
    WHERE cosine >= {NEARDUP_TAU}
    """,
)
def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-label near-dup pairs with a SIZE-GUARDED bucketed
    self-join (VERDICT r1 "what's wrong" #1: the r1 form joined on
    label alone — O(group²) pairs, 10¹⁴ at a hot 10⁷-vector label).

    The join key is ALWAYS (label, bucket):
    - groups ≤ NEARDUP_EXACT_CAP rows: bucket = 0 ⇒ exact all-pairs
      within the group (identical to the oracle's quadratic SQL — the
      path every test SF takes, so the hash-match is preserved);
    - oversized groups: bucket = the shared random-hyperplane LSH
      signature, with single-bit-flip multi-probe on the lower-id side
      ⇒ pair space bounded by bucket occupancy (≈ group/2^N_PLANES per
      probe), the standard recall/cost trade-off for near-dup at
      corpus scale (recall loss is inherent to LSH and documented;
      raise N_PLANES probes or band like minhash for tighter recall).

    The per-label group sizes are a broadcast dim (labels are
    low-cardinality by the table's construction)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return neardup_pairs(emb)


def neardup_pairs(
    emb: DataFrame,
    tau: float = NEARDUP_TAU,
    exact_cap: int = NEARDUP_EXACT_CAP,
    salt_b: int = NEARDUP_SALT_B,
    pair_dot: str = "arrow",
) -> DataFrame:
    """Pair-generation core of `embedding_neardup`, parameterized so
    tests can drive the cap/salt boundaries on synthetic groups.

    Exact path (group ≤ exact_cap): the pair space is a salted B×B
    theta-join grid — row x carries salt sx = vec_id mod B; side A
    emits cells (sx, j) ∀j, side B emits cells (i, sy) ∀i, so the
    unordered pair (x, y), x<y, meets exactly once, in cell (sx, sy).
    Per-cell work is (group/B)² pairs on its own shuffle key — no
    single task ever owns a group's full quadratic pair space (r2
    VERDICT #5). Cells are encoded as NEGATIVE longs, disjoint from
    the LSH path's non-negative signatures.

    LSH path (oversized groups): shared random-hyperplane signature
    with single-bit-flip multi-probe on the lower-id side; probe
    values are distinct, so a pair matches at most one probe row.

    pair_dot selects the per-pair fixed-point dot implementation:
    "arrow" (default, r10) evaluates it as one vectorized numpy pass
    per Arrow batch (_pair_dot_batches — bit-identical integer sums,
    ~10× the interpreted HOF fold that dominated the semantic-dedup
    family); "jvm" keeps the pure zip_with/aggregate expression (the
    bit-equality reference, and the escape hatch for a deployment
    that must stay Python-worker-free)."""
    a, b = _neardup_sides(emb, exact_cap, salt_b)
    pairs = a.join(b, ["label", "bucket"]).filter(F.col("vec_a") < F.col("vec_b"))
    if pair_dot == "arrow":
        dots = pairs.select(
            "vec_a", "vec_b", "emb_a", "emb_b", "nrm_a", "nrm_b"
        ).mapInArrow(_pair_dot_batches, _PAIR_DOT_SCHEMA)
        cosine = (
            F.col("dot").cast("double") / F.lit(float(FIXED_SCALE))
        ) / (F.sqrt(F.col("nrm_a")) * F.sqrt(F.col("nrm_b")))
        scored = dots
    elif pair_dot == "jvm":
        cosine = _decimal_dot(F.col("emb_a"), F.col("emb_b")) / (
            F.sqrt(F.col("nrm_a")) * F.sqrt(F.col("nrm_b"))
        )
        scored = pairs
    else:
        raise ValueError(f"pair_dot must be arrow|jvm, got {pair_dot!r}")
    return (
        scored.select("vec_a", "vec_b", cosine.alias("cosine"))
        .filter(F.col("cosine") >= tau)
    )


def _neardup_sides(
    emb: DataFrame, exact_cap: int, salt_b: int
) -> tuple[DataFrame, DataFrame]:
    """The two shuffle sides of the near-dup self-join, keyed on
    (label, bucket). Separated so tests can measure the exact path's
    per-group shuffle-key fan-out (B_eff² cells) on the real plan.

    B_eff depends only on the group size, so both sides of a group
    always agree on the grid; the cell id stride is the max width, so
    cells from different widths can't collide within a group."""
    dim = len(emb.select("embedding").first()["embedding"])
    cell_side = max(1, exact_cap // salt_b)  # rows per cell side at full width
    emb = with_matrix(emb, emb.sparkSession, _hyperplanes(dim))
    sizes = emb.groupBy("label").agg(F.count(F.lit(1)).alias("__grp_n"))
    beff = F.least(
        F.lit(salt_b),
        F.greatest(F.lit(1), F.ceil(F.col("__grp_n") / F.lit(cell_side))),
    ).cast("int")
    # Two filtered branches instead of when/otherwise around the
    # signature: the exact path never evaluates the 6-plane dot
    # products at all (historically this split kept a pandas-UDF stage
    # off the exact rows; the signature is now a JVM expression, but
    # skipping 6×dim multiplies per exact row is still free).
    joined = emb.join(F.broadcast(sizes), "label")
    common = [
        "vec_id",
        "label",
        beff.alias("__beff"),
        F.pmod(F.col("vec_id"), beff).cast("long").alias("__salt"),
        "embedding",
        _decimal_dot(F.col("embedding"), F.col("embedding")).alias("nrm"),
    ]
    exact_part = joined.filter(F.col("__grp_n") <= F.lit(exact_cap)).select(
        F.lit(True).alias("__exact"), F.lit(0).cast("long").alias("__lsh"), *common
    )
    lsh_part = joined.filter(F.col("__grp_n") > F.lit(exact_cap)).select(
        F.lit(False).alias("__exact"),
        lsh_bucket_col(F.col("embedding"), F.col("mat")).alias("__lsh"),
        *common,
    )
    withb = exact_part.unionByName(lsh_part)
    grid = F.sequence(F.lit(0), F.col("__beff") - 1)
    a_cells = F.when(
        F.col("__exact"),
        F.transform(grid, lambda j: -(F.col("__salt") * salt_b + j + 1)),
    ).otherwise(
        F.array(
            F.col("__lsh"),
            *[
                F.col("__lsh").bitwiseXOR(F.lit(1 << j).cast("long"))
                for j in range(N_PLANES)
            ],
        )
    )
    b_cells = F.when(
        F.col("__exact"),
        F.transform(grid, lambda i: -(i * salt_b + F.col("__salt") + 1)),
    ).otherwise(F.array(F.col("__lsh")))
    a = withb.select(
        F.col("vec_id").alias("vec_a"),
        "label",
        F.explode(a_cells).alias("bucket"),
        F.col("embedding").alias("emb_a"),
        F.col("nrm").alias("nrm_a"),
    )
    b = withb.select(
        F.col("vec_id").alias("vec_b"),
        "label",
        F.explode(b_cells).alias("bucket"),
        F.col("embedding").alias("emb_b"),
        F.col("nrm").alias("nrm_b"),
    )
    return a, b


# --- SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic dedup
# for web-scale corpora — k-means-cluster the embeddings, find
# near-dup pairs WITHIN each cluster only (the pair space shrinks from
# O(N²) to Σ|cell|², and clusters are the natural shuffle key), and
# inside every duplicate group keep the item with the LOWEST cosine to
# its centroid (the paper's keeper rule: the least-prototypical
# example carries the most information). Deterministic twin of the
# paper's pipeline: the coarse quantizer is the IVF-flat one
# (first-N data-point centroids, fixed-point dot argmax), so cluster
# assignment, centroid cosines, and the keeper rule are all
# SQL-replayable — the driver hash-checks the whole verdict table.
#
# 100 TB: cluster assignment is one map-only corpus pass against a
# broadcast centroid matrix; the pair stage reuses neardup_pairs keyed
# on the cell id, so oversized cells fall back to the salted-grid /
# LSH bounded join and the corpus never shuffles more than its
# candidate pairs. The keeper rule is one bounded self-join over the
# surviving pairs (≪ corpus) plus a distinct on the loser ids.
SEMDEDUP_TAU = 0.5


def semdedup_scored(emb: DataFrame, centroids=None) -> DataFrame:
    """(vec_id, embedding, cell, cent_cosine): IVF-flat cell
    assignment + exact decimal cosine to the assigned centroid. The
    centroid matrix rides as a one-row broadcast column (never plan
    literals), and the centroid's own norm is computed from that
    column — everything downstream of the scan is map-only.

    `centroids` (k×dim ndarray) overrides the deterministic flat
    default — pass kmeans_fit(emb) for the quality path (better cell
    balance; still deterministic, but its Lloyd iterations have no
    one-shot SQL twin, so the driver-checked entry keeps the flat
    quantizer).

    Measured and kept JVM (r10): an Arrow-kernel variant of this pass
    (_assign_score_batches — bit-identical, test-pinned) showed NO
    standalone win (semdedup 2.91 → 3.00 s; the k×dim fold on a
    cached bounded vector table is not this operator's cost) and made
    embedding_dedup_suite BIMODAL (20-37 s vs a stable ~24 s): the
    suite's final action overlaps several branches, and adding two
    more Python stages to the overlap oversubscribes the Python
    worker pool on local[32]. The kernel stays in use where it is
    sequential-job-isolated and measured 2.1× (kmeans_fit)."""
    cent = _flat_centroids(emb) if centroids is None else centroids
    with_mat = with_matrix(emb, emb.sparkSession, cent)
    cell = kmeans_assign_col(F.col("embedding"), F.col("mat"))
    assigned = with_mat.select("vec_id", "embedding", cell.alias("cell"), "mat")
    cvec = F.element_at(F.col("mat"), F.col("cell") + 1)
    cent_cos = _decimal_dot(F.col("embedding"), cvec) / (
        F.sqrt(_decimal_dot(F.col("embedding"), F.col("embedding")))
        * F.sqrt(_decimal_dot(cvec, cvec))
    )
    return assigned.select(
        "vec_id", "embedding", "cell", cent_cos.alias("cent_cosine")
    )


def semdedup_verdicts(
    emb: DataFrame,
    tau: float = SEMDEDUP_TAU,
    exact_cap: int = NEARDUP_EXACT_CAP,
    salt_b: int = NEARDUP_SALT_B,
    centroids=None,
) -> DataFrame:
    """(vec_id, cell, cent_cosine, keep) — keep=false iff some
    same-cell neighbor with cosine ≥ τ is MORE keepable (strictly
    lower centroid-cosine, ties by lower vec_id), so every duplicate
    group keeps exactly its least-prototypical member. exact_cap /
    salt_b tune the within-cell pair stage (see neardup_pairs) — a
    hot cell spreads over the salted grid or falls back to LSH."""
    scored = scoped_cache(semdedup_scored(emb, centroids=centroids))
    # Materialize before fan-out (r10, same defect as the simhash
    # census): the verdict action scans `scored` from FIVE subtrees
    # (both pair-join sides, the two rank joins, the final left join)
    # — a lazy cache lets each concurrently re-run the whole
    # assign+cosine corpus pass until its partitions land in storage.
    scored.count()
    pairs = neardup_pairs(
        scored.select("vec_id", F.col("cell").alias("label"), "embedding"),
        tau=tau,
        exact_cap=exact_cap,
        salt_b=salt_b,
    )
    # One pass over the pair table (r10, VERDICT r9 next-round #1):
    # the old form symmetrized pairs into a 2×-row union, and the two
    # union branches RE-EXECUTED the within-cell cosine join — the
    # family's most expensive stage — once each. But the keeper rule
    # yields EXACTLY ONE loser per surviving pair (vec_a < vec_b
    # always): "v loses iff some neighbor o has (cos_o < cos_v) or
    # (cos_o = cos_v and o < v)", so for the pair (a, b):
    #   cos_a < cos_b → b loses (a is its lower-cos neighbor),
    #   cos_a > cos_b → a loses,
    #   cos_a = cos_b → b loses (a is the lower-id neighbor; a does
    #                   not lose from this pair since b > a).
    # Folding that CASE into the single directed pair scan computes
    # the identical loser set with ONE execution of the pair join and
    # no union (oracle hash unchanged — the sym/union formulation
    # stays in the DuckDB twin, which materializes its pair CTE).
    rank = scored.select("vec_id", "cent_cosine")
    j = pairs.join(
        rank.select(
            F.col("vec_id").alias("vec_a"), F.col("cent_cosine").alias("cos_a")
        ),
        "vec_a",
    ).join(
        rank.select(
            F.col("vec_id").alias("vec_b"), F.col("cent_cosine").alias("cos_b")
        ),
        "vec_b",
    )
    losers = (
        j.select(
            F.when(F.col("cos_a") > F.col("cos_b"), F.col("vec_a"))
            .otherwise(F.col("vec_b"))
            .alias("vec_id")
        )
        .distinct()
        .withColumn("__dup", F.lit(True))
    )
    return scored.join(losers, "vec_id", "left").select(
        "vec_id", "cell", "cent_cosine", F.col("__dup").isNull().alias("keep")
    )


# --- distributed full-corpus k-means: the scale-correct Lloyd loop.
# _kmeans_centroids above refines on a bounded DRIVER sample (fine for
# seeding an IVF index); this one assigns and re-averages over the
# WHOLE corpus — at 100 TB each iteration is one map-only assignment
# pass against the broadcast centroid matrix plus a posexplode
# groupBy whose partial aggregation bounds every map task's shuffle
# output at k×dim rows, and the driver collects exactly k×dim
# (cell, pos, sum, n) scalars per iteration. Determinism: assignment
# argmax is over fixed-point dots, and the per-dimension sums are
# EXACT INTEGER sums of trunc(x·1e9) — order-independent across any
# partitioning — so the fitted centroids are a pure function of the
# data (partition-invariance is test-pinned).
def kmeans_assign_col(emb_col: Column, mat_col: Column) -> Column:
    """Nearest-centroid id by fixed-point dot argmax (first max wins,
    matching np.argmax)."""
    fdots = F.transform(mat_col, lambda c: _fixed_dot_long(emb_col, c))
    return (F.array_position(fdots, F.array_max(fdots)) - 1).cast("int")


def kmeans_assign(emb: DataFrame, centroids: np.ndarray) -> DataFrame:
    """emb + a `cell` column: one map-only pass, matrix broadcast as
    a one-row column."""
    with_mat = with_matrix(emb, emb.sparkSession, centroids)
    return with_mat.select(
        *emb.columns, kmeans_assign_col(F.col("embedding"), F.col("mat")).alias("cell")
    )


def kmeans_fit(
    emb: DataFrame, k: int = N_CENTROIDS, iters: int = IVF_ITERS
) -> np.ndarray:
    """Fit k centroids over the full corpus with `iters` Lloyd
    iterations (fixed count ⇒ no convergence-dependent
    nondeterminism). Init is the deterministic flat quantizer (first
    k vectors by vec_id rank); empty cells keep their previous
    centroid. Returns the k×dim float64 centroid matrix."""
    first = emb.select("embedding").first()
    if first is None:
        raise ValueError("kmeans_fit: empty corpus")
    dim = len(first["embedding"])
    cent = np.array(
        [
            r["embedding"]
            for r in emb.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(k)
            .collect()
        ],
        dtype=np.float64,
    )
    # Per-dimension sums ride ONE array-valued aggregate per cell (r9)
    # instead of posexplode + groupBy(cell, pos): the explode shuffled
    # n×dim rows per iteration where k×(dim+1) sums suffice, and the
    # array expression is one F.expr string (no per-column py4j
    # chatter). Same per-element trunc, same exact integer sums.
    sums_expr = F.expr(
        "array("
        + ", ".join(
            f"sum(CAST(element_at(embedding, {p + 1})"
            f" * CAST({float(FIXED_SCALE)!r} AS DOUBLE) AS BIGINT))"
            for p in range(dim)
        )
        + ") AS s"
    )
    for _ in range(iters):
        # Arrow assignment (r10): same first-max fixed-point argmax as
        # kmeans_assign, vectorized (_assign_batches) — each Lloyd
        # iteration's corpus pass drops the k×dim interpreted HOF fold
        # per row. The per-cell integer sums stay in the JVM aggregate.
        assigned = emb.select("embedding").mapInArrow(
            _assign_batches(cent), "cell int, embedding array<double>"
        )
        rows = (
            assigned.groupBy("cell")
            .agg(sums_expr, F.count(F.lit(1)).alias("n"))
            .collect()
        )
        nxt = cent.copy()
        for r in rows:
            n = int(r["n"])
            nxt[r["cell"]] = np.array(
                [int(v) for v in r["s"]], dtype=np.float64
            ) / (FIXED_SCALE * n)
        cent = nxt
    return cent


def _semdedup_oracle(
    tau: float = SEMDEDUP_TAU, src: str = "embeddings", pre_cte: str = ""
) -> str:
    """DuckDB twin: replays cell assignment (fixed-point dot argmax
    over the same first-N centroids), centroid cosines, within-cell
    pair cosines, and the keeper rule. `src`/`pre_cte` retarget the
    vector source (the textdedup part runs this same pipeline over a
    hashed-text-embedding CTE instead of the embeddings table)."""
    import re

    sql = f"""
    WITH {{PRE}}{_NORMS_SQL},
    cent AS (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cemb
             FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id
                   LIMIT {N_CENTROIDS})),
    cdots AS (SELECT vec_id, cid,
                     SUM(CAST(TRUNC(CAST(x AS DOUBLE) * CAST(cx AS DOUBLE)
                                    * 1000000000.0) AS BIGINT)) AS s
              FROM (SELECT e.vec_id, c.cid, UNNEST(e.embedding) AS x,
                           UNNEST(c.cemb) AS cx
                    FROM embeddings e CROSS JOIN cent c)
              GROUP BY 1, 2),
    cr AS (SELECT vec_id, cid, s,
                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS r
           FROM cdots),
    cells AS (SELECT vec_id, CAST(cid AS INT) AS cell, s FROM cr WHERE r = 1),
    cnorm AS (SELECT cid,
                     CAST(CAST(SUM(CAST(TRUNC(CAST(cx AS DOUBLE) * CAST(cx AS DOUBLE)
                                               * 1000000000.0) AS BIGINT)) AS BIGINT)
                          AS DOUBLE) / 1000000000.0 AS cnrm
              FROM (SELECT cid, UNNEST(cemb) AS cx FROM cent) GROUP BY cid),
    ccos AS (SELECT cl.vec_id, cl.cell,
                    (CAST(cl.s AS DOUBLE) / 1000000000.0)
                      / (SQRT(n.nrm) * SQRT(cn.cnrm)) AS cent_cosine
             FROM cells cl
             JOIN norms n ON n.vec_id = cl.vec_id
             JOIN cnorm cn ON cn.cid = cl.cell),
    joined AS (SELECT e.vec_id, e.embedding, cl.cell
               FROM embeddings e JOIN cells cl ON cl.vec_id = e.vec_id),
    pair_dots AS (
      SELECT a_id AS vec_a, b_id AS vec_b,
             CAST(CAST(SUM(CAST(TRUNC(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE)
                                      * 1000000000.0) AS BIGINT)) AS BIGINT)
                  AS DOUBLE) / 1000000000.0 AS dot
      FROM (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   UNNEST(a.embedding) AS xa, UNNEST(b.embedding) AS xb
            FROM joined a JOIN joined b
              ON a.cell = b.cell AND a.vec_id < b.vec_id)
      GROUP BY 1, 2),
    dup_pairs AS (SELECT vec_a, vec_b FROM pair_dots
                  JOIN norms na ON na.vec_id = vec_a
                  JOIN norms nb ON nb.vec_id = vec_b
                  WHERE dot / (SQRT(na.nrm) * SQRT(nb.nrm)) >= {tau}),
    sym AS (SELECT vec_a AS vec_id, vec_b AS other FROM dup_pairs
            UNION ALL
            SELECT vec_b AS vec_id, vec_a AS other FROM dup_pairs),
    losers AS (SELECT DISTINCT s.vec_id
               FROM sym s
               JOIN ccos cx ON cx.vec_id = s.vec_id
               JOIN ccos co ON co.vec_id = s.other
               WHERE co.cent_cosine < cx.cent_cosine
                  OR (co.cent_cosine = cx.cent_cosine AND s.other < s.vec_id))
    SELECT c.vec_id, c.cell, c.cent_cosine, l.vec_id IS NULL AS keep
    FROM ccos c LEFT JOIN losers l ON l.vec_id = c.vec_id
    """
    sql = re.sub(r"\bembeddings\b", src, sql)
    return sql.replace("{PRE}", pre_cte)


@builder("semdedup", _semdedup_oracle())
def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup verdict table over the embeddings corpus."""
    return semdedup_verdicts(load_table(spark, sf_dir, "embeddings"))


def _kmeans_oracle(
    k: int = N_CENTROIDS, iters: int = IVF_ITERS, src: str = "embeddings"
) -> str:
    """DuckDB twin of kmeans_fit — the full-corpus Lloyd loop replayed
    as `iters` chained CTE stages (the bpe_suite technique, r6): each
    stage re-derives the assignment (fixed-point trunc-dot argmax,
    first-max-wins = lowest cid on ties, exactly kmeans_assign_col's
    array_position rule), the per-(cell, pos) exact integer sums
    Σ trunc(x·1e9), and the new centroid value s / (1e9·n) — one IEEE
    division of exactly-representable operands, so every intermediate
    centroid (and hence every later assignment) is bit-identical
    across engines. Empty cells keep the previous value via the LEFT
    JOIN coalesce, matching the engine's dict-update. MATERIALIZED
    hints keep the chained stages from inlining exponentially."""
    ctes = [
        f"""ue AS MATERIALIZED (
        SELECT vec_id, u.pos - 1 AS pos, CAST(u.x AS DOUBLE) AS x
        FROM (SELECT vec_id,
                     unnest([struct_pack(pos := i, x := embedding[i])
                             for i in generate_series(1, len(embedding))]) AS u
              FROM {src}))""",
        f"""cent0 AS MATERIALIZED (
        SELECT cid, u.pos - 1 AS pos, CAST(u.x AS DOUBLE) AS val
        FROM (SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding
              FROM (SELECT vec_id, embedding FROM {src} ORDER BY vec_id LIMIT {k})),
             LATERAL (SELECT unnest([struct_pack(pos := i, x := embedding[i])
                                     for i in generate_series(1, len(embedding))]) AS u))""",
    ]
    for i in range(1, iters + 1):
        p = f"cent{i - 1}"
        ctes.append(
            f"""a{i} AS MATERIALIZED (
        SELECT vec_id, cell FROM (
          SELECT e.vec_id, c.cid AS cell,
                 ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                   SUM(CAST(TRUNC(e.x * c.val * 1000000000.0) AS BIGINT)) DESC,
                   c.cid) AS r
          FROM ue e JOIN {p} c ON c.pos = e.pos
          GROUP BY 1, 2) WHERE r = 1)"""
        )
        ctes.append(
            f"""s{i} AS MATERIALIZED (
        SELECT a.cell, e.pos,
               CAST(SUM(CAST(TRUNC(e.x * 1000000000.0) AS BIGINT)) AS BIGINT) AS s,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM ue e JOIN a{i} a USING (vec_id)
        GROUP BY 1, 2)"""
        )
        ctes.append(
            f"""cent{i} AS MATERIALIZED (
        SELECT p.cid, p.pos,
               CASE WHEN s.s IS NULL THEN p.val
                    ELSE CAST(s.s AS DOUBLE) / (1000000000.0 * s.n) END AS val
        FROM {p} p LEFT JOIN s{i} s ON s.cell = p.cid AND s.pos = p.pos)"""
        )
    body = ",\n    ".join(ctes)
    return f"WITH {body}\n    SELECT cid, pos, val FROM cent{iters}"


# --- the registered embedding-dedup family: near-dup pairs within
# human labels ('pair' part, the r1 entry) ∪ SemDeDup keep/drop
# verdicts within learned cells ('semdedup' part) — one catalog slot,
# both oracles composed from BUILDER_SQL (the r4 consolidation
# pattern), each independently hash-checked by the driver.
def _mining_oracle() -> str:
    """SQL twin of `mining.contrastive_triplets(method="exact")` at the
    registered defaults: positives = the embedding_neardup pairs
    (within-label, fixed-point cosine ≥ NEARDUP_TAU) emitted
    symmetrically; hard negatives = per-anchor ROW_NUMBER top-MINE_K_NEG
    over the [MINE_NEG_LO, NEARDUP_TAU) cosine band against the whole
    corpus, ties broken (cosine DESC, vec_id). Anchors are bounded at
    the MINE_ANCHOR_CAP smallest ids (see that constant's comment —
    no driver SF is clipped). Same fixed-point trunc-dot as every
    other embedding oracle, so the doubles are bit-identical across
    engines."""
    from ..registry import BUILDER_SQL

    return f"""
    WITH mpairs AS MATERIALIZED (SELECT * FROM ({BUILDER_SQL['embedding_neardup']})),
    mdirected AS (
      SELECT vec_a AS anchor_id, vec_b AS positive_id, cosine AS pos_cosine FROM mpairs
      UNION ALL
      SELECT vec_b, vec_a, cosine FROM mpairs),
    mnorms AS (
      SELECT vec_id,
             CAST(CAST(SUM(CAST(TRUNC(CAST(x AS DOUBLE) * CAST(x AS DOUBLE) * 1000000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0 AS nrm
      FROM (SELECT vec_id, UNNEST(embedding) AS x FROM embeddings)
      GROUP BY vec_id),
    mscored AS (
      SELECT d.a_id AS anchor_id, d.b_id AS vec_id,
             d.dot / (SQRT(na.nrm) * SQRT(nb.nrm)) AS cosine
      FROM (SELECT a_id, b_id,
                   CAST(CAST(SUM(CAST(TRUNC(CAST(xa AS DOUBLE) * CAST(xb AS DOUBLE) * 1000000000.0) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1000000000.0 AS dot
            FROM (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                         UNNEST(a.embedding) AS xa, UNNEST(b.embedding) AS xb
                  FROM embeddings a
                  JOIN (SELECT DISTINCT anchor_id FROM mdirected
                        ORDER BY anchor_id LIMIT {MINE_ANCHOR_CAP}) m
                    ON m.anchor_id = a.vec_id,
                       embeddings b
                  WHERE b.vec_id <> a.vec_id)
            GROUP BY 1, 2) d
      JOIN mnorms na ON na.vec_id = d.a_id
      JOIN mnorms nb ON nb.vec_id = d.b_id),
    mnegs AS (
      SELECT anchor_id, vec_id AS negative_id, cosine AS neg_cosine,
             ROW_NUMBER() OVER (PARTITION BY anchor_id
                                ORDER BY cosine DESC, vec_id) AS rk
      FROM mscored
      WHERE cosine >= {MINE_NEG_LO} AND cosine < {NEARDUP_TAU})
    SELECT d.anchor_id, d.positive_id, n.negative_id,
           d.pos_cosine, n.neg_cosine, n.rk
    FROM mdirected d JOIN mnegs n USING (anchor_id)
    WHERE n.rk <= {MINE_K_NEG}
    """


def _neardup_scale_sql(src: str = "embeddings", pfx: str = "np") -> str:
    """SCALE twin of the embedding_neardup builder SQL (r8): the
    within-label pair cosines via per-row list-comprehension dots
    (_ldot_sql) instead of the UNNEST+GROUP BY form whose intermediate
    is pairs × dim rows (the sf1 timeout). Same fixed-point ints, same
    IEEE division — equality test-pinned at sf0.01."""
    dot = _ldot_sql("a.embedding", "b.embedding")
    return f"""
    WITH {pfx}_norms AS MATERIALIZED (
        SELECT vec_id, {_ldot_sql('embedding', 'embedding')} AS nrm
        FROM {src}),
    {pfx}_p AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {dot} / (SQRT(na.nrm) * SQRT(nb.nrm)) AS cosine
        FROM {src} a
        JOIN {src} b ON a.label = b.label AND a.vec_id < b.vec_id
        JOIN {pfx}_norms na ON na.vec_id = a.vec_id
        JOIN {pfx}_norms nb ON nb.vec_id = b.vec_id)
    SELECT vec_a, vec_b, cosine FROM {pfx}_p WHERE cosine >= {NEARDUP_TAU}
    """


def _semdedup_scale_oracle(
    tau: float = SEMDEDUP_TAU,
    src: str = "embeddings",
    pre_cte: str = "",
    int_vectors: bool = False,
) -> str:
    """SCALE twin of _semdedup_oracle (r8): same replay — cell
    assignment by fixed-point dot argmax, centroid cosines, within-
    cell pair cosines, keeper rule — with every dot a per-row list
    comprehension, so the within-cell pair stage stays pairs-many rows
    instead of pairs × dim.

    `int_vectors=True` (the textdedup part): when every vector element
    is an exact INTEGER (hashed signed bigram counts), trunc(a·b·1e9)
    = a·b·1e9 exactly, so the whole fixed-point dot collapses to
    1e9 · Σ a_i b_i — served by DuckDB's native list_dot_product
    (integer-valued doubles: every partial sum is an exact integer
    < 2^53, so summation order cannot round). Bit-identical to the
    lambda form (the registered-oracle equality test covers it) and
    ~an order of magnitude faster on the within-cell pair stage,
    which keeps the sf1 gate entry comfortably inside its timeout.
    INVALID for float32 unit vectors (the embeddings table) — their
    products genuinely truncate."""
    import re

    if int_vectors:
        def ldi(a, b):
            return f"(CAST(list_dot_product({a}, {b}) AS BIGINT) * 1000000000)"

        def ld(a, b):
            return f"list_dot_product({a}, {b})"
    else:
        ldi, ld = _ldot_int_sql, _ldot_sql

    sql = f"""
    WITH {{PRE}}norms AS MATERIALIZED (
        SELECT vec_id, {ld('embedding', 'embedding')} AS nrm
        FROM embeddings),
    cent AS MATERIALIZED (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, embedding AS cemb
        FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id
              LIMIT {N_CENTROIDS})),
    cdots AS (SELECT e.vec_id, c.cid,
                     {ldi('e.embedding', 'c.cemb')} AS s
              FROM embeddings e CROSS JOIN cent c),
    cr AS (SELECT vec_id, cid, s,
                  ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS r
           FROM cdots),
    cells AS MATERIALIZED (
        SELECT vec_id, CAST(cid AS INT) AS cell, s FROM cr WHERE r = 1),
    cnorm AS (SELECT cid, {ld('cemb', 'cemb')} AS cnrm FROM cent),
    ccos AS MATERIALIZED (
        SELECT cl.vec_id, cl.cell,
               (CAST(cl.s AS DOUBLE) / 1000000000.0)
                 / (SQRT(n.nrm) * SQRT(cn.cnrm)) AS cent_cosine
        FROM cells cl
        JOIN norms n ON n.vec_id = cl.vec_id
        JOIN cnorm cn ON cn.cid = cl.cell),
    joined AS MATERIALIZED (
        SELECT e.vec_id, e.embedding, cl.cell, n.nrm
        FROM embeddings e
        JOIN cells cl ON cl.vec_id = e.vec_id
        JOIN norms n ON n.vec_id = e.vec_id),
    dup_pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM joined a JOIN joined b
          ON a.cell = b.cell AND a.vec_id < b.vec_id
        WHERE {ld('a.embedding', 'b.embedding')}
                / (SQRT(a.nrm) * SQRT(b.nrm)) >= {tau}),
    sym AS (SELECT vec_a AS vec_id, vec_b AS other FROM dup_pairs
            UNION ALL
            SELECT vec_b AS vec_id, vec_a AS other FROM dup_pairs),
    losers AS (SELECT DISTINCT s.vec_id
               FROM sym s
               JOIN ccos cx ON cx.vec_id = s.vec_id
               JOIN ccos co ON co.vec_id = s.other
               WHERE co.cent_cosine < cx.cent_cosine
                  OR (co.cent_cosine = cx.cent_cosine AND s.other < s.vec_id))
    SELECT c.vec_id, c.cell, c.cent_cosine, l.vec_id IS NULL AS keep
    FROM ccos c LEFT JOIN losers l ON l.vec_id = c.vec_id
    """
    sql = re.sub(r"\bembeddings\b", src, sql)
    return sql.replace("{PRE}", pre_cte)


def _mining_scale_oracle() -> str:
    """SCALE twin of _mining_oracle (r8): positives from the co-scaled
    pair SQL, hard-negative scan via list-comprehension dots — the
    anchors × corpus stage stays one row per (anchor, candidate)."""
    dot = _ldot_sql("a.embedding", "b.embedding")
    return f"""
    WITH mpairs AS MATERIALIZED (SELECT * FROM ({_neardup_scale_sql(pfx='mp')})),
    mdirected AS (
      SELECT vec_a AS anchor_id, vec_b AS positive_id, cosine AS pos_cosine FROM mpairs
      UNION ALL
      SELECT vec_b, vec_a, cosine FROM mpairs),
    mnorms AS MATERIALIZED (
      SELECT vec_id, {_ldot_sql('embedding', 'embedding')} AS nrm
      FROM embeddings),
    manchors AS (SELECT DISTINCT anchor_id FROM mdirected
                 ORDER BY anchor_id LIMIT {MINE_ANCHOR_CAP}),
    mscored AS (
      SELECT a.vec_id AS anchor_id, b.vec_id AS vec_id,
             {dot} / (SQRT(na.nrm) * SQRT(nb.nrm)) AS cosine
      FROM embeddings a
      JOIN manchors m ON m.anchor_id = a.vec_id
      JOIN mnorms na ON na.vec_id = a.vec_id,
           embeddings b
      JOIN mnorms nb ON nb.vec_id = b.vec_id
      WHERE b.vec_id <> a.vec_id),
    mnegs AS (
      SELECT anchor_id, vec_id AS negative_id, cosine AS neg_cosine,
             ROW_NUMBER() OVER (PARTITION BY anchor_id
                                ORDER BY cosine DESC, vec_id) AS rk
      FROM mscored
      WHERE cosine >= {MINE_NEG_LO} AND cosine < {NEARDUP_TAU})
    SELECT d.anchor_id, d.positive_id, n.negative_id,
           d.pos_cosine, n.neg_cosine, n.rk
    FROM mdirected d JOIN mnegs n USING (anchor_id)
    WHERE n.rk <= {MINE_K_NEG}
    """


def _embedding_dedup_suite_scale_sql() -> str:
    """SCALE twin of _embedding_dedup_suite_sql (r8): every part's
    all-pairs UNNEST dot replaced by the list-comprehension form; the
    kmeans part reuses _kmeans_oracle unchanged (its struct-based
    MATERIALIZED chain already scales — the sf1 timeout was the pair
    dots). Used only by tools/gate_at_scale.py; equality with the
    registered oracle is test-pinned at sf0.01."""
    from .text_embedding import TEXT_SEM_TAU, text_embeddings_sql

    text_part = _semdedup_scale_oracle(
        tau=TEXT_SEM_TAU,
        src="tvecs",
        pre_cte=f"tvecs AS MATERIALIZED ({text_embeddings_sql()}),",
        int_vectors=True,  # hashed signed counts — the exact shortcut
    )
    return f"""
    SELECT 'pair' AS part, vec_a AS k1, CAST(vec_b AS BIGINT) AS k2,
           cosine, CAST(NULL AS BIGINT) AS keep,
           CAST(NULL AS DOUBLE) AS cos2, CAST(NULL AS BIGINT) AS rk
    FROM ({_neardup_scale_sql()})
    UNION ALL
    SELECT 'semdedup' AS part, vec_id AS k1, CAST(cell AS BIGINT) AS k2,
           cent_cosine AS cosine, CAST(keep AS BIGINT) AS keep,
           CAST(NULL AS DOUBLE) AS cos2, CAST(NULL AS BIGINT) AS rk
    FROM ({_semdedup_scale_oracle()})
    UNION ALL
    SELECT 'textdedup' AS part, vec_id AS k1, CAST(cell AS BIGINT) AS k2,
           cent_cosine AS cosine, CAST(keep AS BIGINT) AS keep,
           CAST(NULL AS DOUBLE) AS cos2, CAST(NULL AS BIGINT) AS rk
    FROM ({text_part})
    UNION ALL
    SELECT 'kmeans' AS part, CAST(cid AS BIGINT) AS k1,
           CAST(pos AS BIGINT) AS k2, val AS cosine,
           CAST(NULL AS BIGINT) AS keep,
           CAST(NULL AS DOUBLE) AS cos2, CAST(NULL AS BIGINT) AS rk
    FROM ({_kmeans_oracle()})
    UNION ALL
    SELECT 'mining' AS part, anchor_id AS k1, CAST(positive_id AS BIGINT) AS k2,
           pos_cosine AS cosine, CAST(negative_id AS BIGINT) AS keep,
           neg_cosine AS cos2, CAST(rk AS BIGINT) AS rk
    FROM ({_mining_scale_oracle()})
    """


def _embedding_dedup_suite_sql() -> str:
    from ..registry import BUILDER_SQL
    from .text_embedding import TEXT_SEM_TAU, text_embeddings_sql

    text_part = _semdedup_oracle(
        tau=TEXT_SEM_TAU,
        src="tvecs",
        pre_cte=f"tvecs AS ({text_embeddings_sql()}),",
    )
    return f"""
    SELECT 'pair' AS part, vec_a AS k1, CAST(vec_b AS BIGINT) AS k2,
           cosine, CAST(NULL AS BIGINT) AS keep,
           CAST(NULL AS DOUBLE) AS cos2, CAST(NULL AS BIGINT) AS rk
    FROM ({BUILDER_SQL['embedding_neardup']})
    UNION ALL
    SELECT 'semdedup' AS part, vec_id AS k1, CAST(cell AS BIGINT) AS k2,
           cent_cosine AS cosine, CAST(keep AS BIGINT) AS keep,
           CAST(NULL AS DOUBLE) AS cos2, CAST(NULL AS BIGINT) AS rk
    FROM ({BUILDER_SQL['semdedup']})
    UNION ALL
    SELECT 'textdedup' AS part, vec_id AS k1, CAST(cell AS BIGINT) AS k2,
           cent_cosine AS cosine, CAST(keep AS BIGINT) AS keep,
           CAST(NULL AS DOUBLE) AS cos2, CAST(NULL AS BIGINT) AS rk
    FROM ({text_part})
    UNION ALL
    SELECT 'kmeans' AS part, CAST(cid AS BIGINT) AS k1,
           CAST(pos AS BIGINT) AS k2, val AS cosine,
           CAST(NULL AS BIGINT) AS keep,
           CAST(NULL AS DOUBLE) AS cos2, CAST(NULL AS BIGINT) AS rk
    FROM ({_kmeans_oracle()})
    UNION ALL
    SELECT 'mining' AS part, anchor_id AS k1, CAST(positive_id AS BIGINT) AS k2,
           pos_cosine AS cosine, CAST(negative_id AS BIGINT) AS keep,
           neg_cosine AS cos2, CAST(rk AS BIGINT) AS rk
    FROM ({_mining_oracle()})
    """


def _null_tail() -> list:
    """The cos2/rk columns every non-mining part NULL-pads (doubles and
    BIGINTs, never booleans — see the `keep` comment below)."""
    return [
        F.lit(None).cast("double").alias("cos2"),
        F.lit(None).cast("long").alias("rk"),
    ]


@register(
    "embedding_dedup_suite",
    _embedding_dedup_suite_sql(),
    scale_oracle=_embedding_dedup_suite_scale_sql(),
)
def embedding_dedup_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    # ONE near-dup pair scan shared by the 'pair' part and the 'mining'
    # part's positives (mining would otherwise re-run it).
    raw_pairs = scoped_cache(neardup_pairs(emb))
    raw_pairs.count()
    pairs = raw_pairs.select(
        F.lit("pair").alias("part"),
        F.col("vec_a").alias("k1"),
        F.col("vec_b").cast("long").alias("k2"),
        "cosine",
        # BIGINT, not BOOLEAN: a NULL boolean canonicalizes differently
        # across the two engines' pandas paths (None vs NaN-object)
        F.lit(None).cast("long").alias("keep"),
        *_null_tail(),
    )
    sd = semdedup(spark, sf_dir).select(
        F.lit("semdedup").alias("part"),
        F.col("vec_id").alias("k1"),
        F.col("cell").cast("long").alias("k2"),
        F.col("cent_cosine").alias("cosine"),
        F.col("keep").cast("long").alias("keep"),
        *_null_tail(),
    )
    from .text_embedding import text_semdedup

    td = text_semdedup(spark, sf_dir).select(
        F.lit("textdedup").alias("part"),
        F.col("vec_id").alias("k1"),
        F.col("cell").cast("long").alias("k2"),
        F.col("cent_cosine").alias("cosine"),
        F.col("keep").cast("long").alias("keep"),
        *_null_tail(),
    )
    # 'kmeans' part (r6): the full-corpus Lloyd fit — every centroid
    # value bit-matched against the chained-CTE iteration replay, so
    # the quality-path quantizer is driver-checked, not just
    # partition-invariance-pinned. The k×dim matrix is plan-time
    # driver data by design (bounded scalars per iteration).
    cent = kmeans_fit(load_table(spark, sf_dir, "embeddings"))
    km = spark.createDataFrame(
        [
            (int(c), int(p), float(cent[c][p]))
            for c in range(cent.shape[0])
            for p in range(cent.shape[1])
        ],
        "k1 long, k2 long, cosine double",
    ).select(
        F.lit("kmeans").alias("part"),
        "k1",
        "k2",
        "cosine",
        F.lit(None).cast("long").alias("keep"),
        *_null_tail(),
    )
    # 'mining' part (r7): contrastive (anchor, positive, hard-negative)
    # triplets at the registered defaults — positives ARE raw_pairs
    # (shared scan), negatives = per-anchor top-MINE_K_NEG in the
    # [MINE_NEG_LO, NEARDUP_TAU) band against the whole corpus.
    from .mining import contrastive_triplets

    # method pinned to "exact": the DuckDB twin replays the exact
    # scan, so the library's auto-routing (r8) must not flip this
    # entry to the one-sided ivf path at gate scales.
    mining = contrastive_triplets(
        emb, pairs=raw_pairs, anchor_cap=MINE_ANCHOR_CAP, method="exact"
    ).select(
        F.lit("mining").alias("part"),
        F.col("anchor_id").alias("k1"),
        F.col("positive_id").cast("long").alias("k2"),
        F.col("pos_cosine").alias("cosine"),
        F.col("negative_id").cast("long").alias("keep"),
        F.col("neg_cosine").alias("cos2"),
        F.col("neg_rank").cast("long").alias("rk"),
    )
    return (
        pairs.unionByName(sd)
        .unionByName(td)
        .unionByName(km)
        .unionByName(mining)
    )
