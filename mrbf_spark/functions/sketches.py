"""Deterministic, mergeable sketches over a portable hash family.

The classic scale primitives — distinct-count and frequency sketches —
re-done the way this repo does everything probabilistic: the random
oracle is md5 over a seeded string key, so the sketch is a PURE
function of the data. That buys (a) driver hash-match against a DuckDB
replay of the identical pipeline (most sketch libraries can only be
range-tested), (b) reproducibility across runs/partitionings/engines,
(c) properties you can test exactly as VALUES, not distributions
(partition invariance; CMS(A ∪ B) == CMS(A) + CMS(B)).

Three sketches:

* KMV (k-minimum-values) distinct count — Bar-Yossef et al. 2002,
  "Counting distinct elements in a data stream". Keep the k smallest
  hash values per group; with the hash uniform on [0, 2^60), the kth
  smallest h_(k) estimates n̂ = (k−1)·2^60 / h_(k). Relative error
  ~1/√k. The whole sketch is the k values themselves — mergeable by
  "union then re-take k smallest".

  Plan shape (100 TB): distinct (group, h) is a partial-aggregated
  dedup (hot groups collapse map-side); the per-group k-smallest is a
  rank window that Spark rewrites to WindowGroupLimit — a map-side
  partial top-k per group BEFORE the shuffle (same optimization the
  catalog pins for topk_order_limit), so no group's full distinct set
  ever sorts on one task. The exact-distinct comparison column is the
  verification harness, not the product (at 100 TB you'd drop it —
  it is the cost the sketch exists to avoid).

* Count-min frequency sketch — Cormode & Muthukrishnan 2005. depth×
  width counter grid; counter(i, b) = Σ rows with hash_i(item) ≡ b
  (mod width); est(item) = min_i counter(i, hash_i(item)). Never
  underestimates; overestimates by collision mass ≤ 2·n/width with
  prob ≥ 1 − 2^−depth per probe.

  Plan shape: the grid build is ONE groupBy(depth_i, bucket) over
  rows exploded ×depth — partial aggregation collapses every input
  partition to ≤ depth·width rows regardless of input size or item
  skew (a hot item hammers ONE counter per row of the grid — the
  hottest possible key costs the same 4 KB grid). The probe side
  joins a bounded candidate list against the depth·width grid —
  broadcast-sized by construction.

* Bottom-k quantile sketch — a deterministic uniform ROW sample:
  keep the values of the k rows with the smallest hash of the row's
  unique key, estimate quantiles by rank within the sample (discrete,
  no interpolation — integer rank semantics both engines share).
  Mergeable by union-then-retake, same as KMV. Plan shape identical
  to KMV (map-side Partial WindowGroupLimit).

No counterpart in the reference repo (its one sketch is the Bloom
filter, bloom/core.py); this extends the same membership-sketch idea
to cardinality, frequency, and quantiles — the other pillars of
approximate query processing at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window, functions as F

from ..registry import builder
from ..tables import load_table

SKETCH_SEED = 7
KMV_K = 64
CMS_DEPTH = 4
CMS_WIDTH = 512
CMS_PROBE_TOPN = 10

# 16^15 = 2^60: the hash domain — first 15 hex chars of md5, exactly
# representable in BIGINT (and in a double's integer range product
# rules both engines share).
_DOMAIN = 1 << 60

_NULL_D = "CAST(NULL AS DOUBLE)"


def _h60(col, salt: str):
    """Portable 60-bit hash: conv(substr(md5('<salt>:<v>'), 1, 15), 16, 10).
    Same construction as sampling.shard_key_col — non-negative, so %
    and pmod agree across engines."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(salt), col.cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")


def _h60_sql(expr: str, salt: str) -> str:
    return (
        f"('0x' || substr(md5('{salt}' || ':' || CAST({expr} AS VARCHAR)), 1, 15))"
        "::BIGINT"
    )


# ------------------------------------------------------------- KMV


def kmv_sketch(df: DataFrame, group_col: str, item_col: str, k: int = KMV_K) -> DataFrame:
    """The raw sketch: per group, the k smallest distinct 60-bit item
    hashes, ranked. (group, rnk, h) — this is the mergeable state."""
    # NULL items are excluded (a NULL is not an item): Spark's
    # concat_ws would silently hash the bare salt while SQL's ||
    # propagates NULL — dropping on both sides keeps the sketch a
    # pure replayable function on any corpus vintage.
    hashed = (
        df.filter(F.col(item_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            _h60(F.col(item_col), f"kmv{SKETCH_SEED}").alias("h"),
        )
        .groupBy("grp", "h")
        .agg(F.lit(1))  # distinct via partial-agg (no Expand)
    )
    w = Window.partitionBy("grp").orderBy("h")
    return (
        hashed.select("grp", "h", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
    )


def kmv_estimate(sketch: DataFrame, k: int = KMV_K) -> DataFrame:
    """(grp, kmv_n, kth_min, est): n̂ = (k−1)·2^60/h_(k) when the
    sketch is full, else the sketch size itself (it saw every hash).
    est is a double (IEEE division — both engines identical given
    identical integer inputs, the jaccard precedent)."""
    agg = sketch.groupBy("grp").agg(
        F.max("rnk").alias("kmv_n"), F.max("h").alias("kth_min")
    )
    return agg.select(
        "grp",
        "kmv_n",
        "kth_min",
        F.when(F.col("kmv_n") < k, F.col("kmv_n").cast("double")).otherwise(
            F.lit(float(k - 1)) * F.lit(float(_DOMAIN)) / F.col("kth_min").cast("double")
        ).alias("est"),
    )


_KMV_SQL = f"""
    WITH kmv_hashed AS (
        SELECT DISTINCT event_type AS grp,
               {_h60_sql('user_id', f'kmv{SKETCH_SEED}')} AS h
        FROM events WHERE user_id IS NOT NULL
    ),
    kmv_ranked AS (
        SELECT grp, h, ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rnk
        FROM kmv_hashed
    ),
    kmv_agg AS (
        SELECT grp, MAX(rnk) AS kmv_n, MAX(h) AS kth_min
        FROM kmv_ranked WHERE rnk <= {KMV_K} GROUP BY grp
    ),
    kmv_exact AS (
        SELECT event_type AS grp, COUNT(DISTINCT user_id) AS n_exact
        FROM events WHERE user_id IS NOT NULL GROUP BY event_type
    )
    SELECT a.grp AS key, e.n_exact AS n, a.kth_min AS stat,
           CAST(CASE WHEN a.kmv_n < {KMV_K} THEN CAST(a.kmv_n AS DOUBLE)
                ELSE {float(KMV_K - 1)} * {float(_DOMAIN)} / CAST(a.kth_min AS DOUBLE)
                END AS DOUBLE) AS v,
           CAST(abs(CASE WHEN a.kmv_n < {KMV_K} THEN CAST(a.kmv_n AS DOUBLE)
                    ELSE {float(KMV_K - 1)} * {float(_DOMAIN)} / CAST(a.kth_min AS DOUBLE)
                    END - e.n_exact) / e.n_exact <= 0.35 AS INTEGER) AS ok
    FROM kmv_agg a JOIN kmv_exact e ON a.grp = e.grp
"""


@builder("kmv_distinct", _KMV_SQL)
def kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type distinct-user estimate: (key, n=exact distinct,
    stat=kth smallest hash [the sketch statistic, integer-exact],
    v=estimate, ok=within the 0.35 error envelope for k=64). Exact
    distinct rides along as the verification column (see module doc)."""
    ev = load_table(spark, sf_dir, "events")
    est = kmv_estimate(kmv_sketch(ev, "event_type", "user_id"))
    exact = (
        # NULL user_id excluded to mirror the sketch (and the twin's
        # WHERE) — a NULL is not an item on either side
        ev.filter(F.col("user_id").isNotNull())
        .groupBy(F.col("event_type").alias("grp"), "user_id")
        .agg(F.lit(1))
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return est.join(exact, "grp").select(
        F.col("grp").alias("key"),
        F.col("n_exact").alias("n"),
        F.col("kth_min").alias("stat"),
        F.col("est").alias("v"),
        (F.abs(F.col("est") - F.col("n_exact")) / F.col("n_exact") <= 0.35)
        .cast("int")
        .alias("ok"),
    )


# ------------------------------------------------------------- CMS


def _bucketed_items(df: DataFrame, item_col: str, depth: int, width: int) -> DataFrame:
    """(item, __b0..__b{depth-1}): each row's CMS bucket per depth —
    the md5 evaluations happen HERE, once per (row, depth). NULL items
    excluded — see kmv_sketch (same ||-vs-concat_ws rule)."""
    return df.filter(F.col(item_col).isNotNull()).select(
        F.col(item_col).cast("string").alias("item"),
        *[
            F.pmod(
                _h60(F.col(item_col).cast("string"), f"cms{SKETCH_SEED}d{d}"),
                F.lit(width),
            ).alias(f"__b{d}")
            for d in range(depth)
        ],
    )


def _grid_from_buckets(b: DataFrame, depth: int) -> DataFrame:
    exploded = F.posexplode(
        F.array(*[F.col(f"__b{d}") for d in range(depth)])
    ).alias("i", "bucket")
    return (
        b.select(exploded)
        .groupBy("i", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def cms_counters(df: DataFrame, item_col: str, depth: int = CMS_DEPTH,
                 width: int = CMS_WIDTH) -> DataFrame:
    """(i, bucket, cnt): the depth×width counter grid. One exploded
    groupBy; partial agg bounds every map task's output at depth·width
    rows whatever the item skew."""
    return _grid_from_buckets(_bucketed_items(df, item_col, depth, width), depth)


def cms_probe(counters: DataFrame, items: DataFrame, item_col: str = "item",
              depth: int = CMS_DEPTH, width: int = CMS_WIDTH) -> DataFrame:
    """(item, cms_n): min over the depth rows of each probe item's
    counter. items is a bounded candidate list; the join is
    item×depth vs the ≤depth·width grid — broadcast-sized."""
    i = F.explode(F.array(*[F.lit(d) for d in range(depth)])).alias("i")
    probes = items.filter(F.col(item_col).isNotNull()).select(
        F.col(item_col).cast("string").alias("item")
    ).select(
        "item", i
    ).select(
        "item",
        "i",
        F.pmod(_h60(F.col("item"), F.concat(F.lit(f"cms{SKETCH_SEED}d"), F.col("i").cast("string"))), F.lit(width)).alias("bucket"),
    )
    return (
        probes.join(F.broadcast(counters), ["i", "bucket"])
        .groupBy("item")
        .agg(F.min("cnt").alias("cms_n"))
    )


def _cms_bucket_sql(i_expr: str, item_expr: str) -> str:
    return (
        f"(('0x' || substr(md5('cms{SKETCH_SEED}d' || CAST({i_expr} AS VARCHAR)"
        f" || ':' || CAST({item_expr} AS VARCHAR)), 1, 15))::BIGINT % {CMS_WIDTH})"
    )


_CMS_SQL = f"""
    WITH cms_rows AS (
        SELECT CAST(user_id AS VARCHAR) AS user_id, i
        FROM events, (SELECT UNNEST(range({CMS_DEPTH})) AS i)
        WHERE user_id IS NOT NULL
    ),
    cms_grid AS (
        SELECT i, {_cms_bucket_sql('i', 'user_id')} AS bucket, COUNT(*) AS cnt
        FROM cms_rows GROUP BY 1, 2
    ),
    cms_top AS (
        SELECT CAST(user_id AS VARCHAR) AS user_id, COUNT(*) AS true_n
        FROM events WHERE user_id IS NOT NULL GROUP BY 1
        ORDER BY true_n DESC, CAST(user_id AS VARCHAR) ASC
        LIMIT {CMS_PROBE_TOPN}
    ),
    cms_probe AS (
        SELECT t.user_id, t.true_n, MIN(g.cnt) AS cms_n
        FROM (SELECT user_id, true_n, i
              FROM cms_top, (SELECT UNNEST(range({CMS_DEPTH})) AS i)) t
        JOIN cms_grid g
          ON g.i = t.i AND g.bucket = {_cms_bucket_sql('t.i', 't.user_id')}
        GROUP BY t.user_id, t.true_n
    )
    SELECT user_id AS key, true_n AS n, cms_n AS stat, {_NULL_D} AS v,
           CAST(cms_n >= true_n AS INTEGER) AS ok
    FROM cms_probe
"""


@builder("cms_frequencies", _CMS_SQL)
def cms_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min probe of the exact top-10 users: (key=user_id,
    n=true count, stat=CMS estimate, ok=never-underestimates flag —
    a CMS invariant, so always 1). The exact top-10 is the probe
    harness (a real pipeline probes candidates from elsewhere); the
    grid build is the scale path under test."""
    ev = load_table(spark, sf_dir, "events")
    grid = cms_counters(ev, "user_id")
    top = (
        ev.filter(F.col("user_id").isNotNull())
        .groupBy(F.col("user_id").cast("string").alias("item"))
        .agg(F.count(F.lit(1)).alias("true_n"))
        .orderBy(F.desc("true_n"), F.asc("item"))
        .limit(CMS_PROBE_TOPN)
    )
    probed = cms_probe(grid, top)
    return top.join(probed, "item").select(
        F.col("item").alias("key"),
        F.col("true_n").alias("n"),
        F.col("cms_n").alias("stat"),
        F.lit(None).cast("double").alias("v"),
        (F.col("cms_n") >= F.col("true_n")).cast("int").alias("ok"),
    )


# ------------------------------------------------- quantile sketch


QSK_K = 256


def bottomk_sample(
    df: DataFrame, group_col: str, value_col: str, key_expr: Column, k: int = QSK_K
) -> DataFrame:
    """Mergeable quantile-sketch state: per group, the values of the k
    rows with the smallest 60-bit hash of the row's unique key — a
    deterministic uniform row sample (the hash is a pure function of
    row identity, so it is repartition-stable, replayable in SQL, and
    mergeable by union-then-retake — same discipline as the KMV
    sketch, over ROWS instead of distinct items).

    (grp, h, value, rnk). Same plan shape as kmv_sketch: the rank
    window rewrites to a map-side Partial WindowGroupLimit, so no
    group's rows ever sort on one task."""
    # rows with a NULL key or NULL value are excluded: the key rule is
    # kmv_sketch's ||-vs-concat_ws portability rule; a NULL value would
    # additionally order differently across engines in the median rank.
    hashed = df.filter(
        key_expr.isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("double").alias("value"),
        _h60(key_expr, f"qsk{SKETCH_SEED}").alias("h"),
    )
    w = Window.partitionBy("grp").orderBy("h")
    return (
        hashed.select("grp", "h", "value", F.row_number().over(w).alias("rnk"))
        .filter(F.col("rnk") <= k)
    )


def sample_median(sample: DataFrame) -> DataFrame:
    """(grp, est): the rank-⌈m/2⌉ smallest sampled VALUE (discrete
    median — integer rank semantics, bit-identical across engines; no
    interpolation to disagree about). Ties broken by hash."""
    w = Window.partitionBy("grp").orderBy("value", "h")
    ranked = sample.select(
        "grp", "value", F.row_number().over(w).alias("vr"),
        F.count(F.lit(1)).over(Window.partitionBy("grp")).alias("m"),
    )
    return (
        ranked.filter(F.col("vr") == F.floor((F.col("m") + 1) / 2))
        .select("grp", F.col("value").alias("est"))
    )


_QSK_KEY_SQL = (
    f"('0x' || substr(md5('qsk{SKETCH_SEED}' || ':' || CAST(l_orderkey * 10 + "
    "l_linenumber AS VARCHAR)), 1, 15))::BIGINT"
)

_QSK_SQL = f"""
    WITH qsk_hashed AS (
        SELECT l_returnflag AS grp, CAST(l_extendedprice AS DOUBLE) AS value,
               {_QSK_KEY_SQL} AS h
        FROM lineitem
        WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
          AND l_extendedprice IS NOT NULL
    ),
    qsk_sample AS (
        SELECT * FROM (
            SELECT grp, h, value,
                   ROW_NUMBER() OVER (PARTITION BY grp ORDER BY h) AS rnk
            FROM qsk_hashed
        ) WHERE rnk <= {QSK_K}
    ),
    qsk_med AS (
        SELECT grp, value AS est FROM (
            SELECT grp, h, value,
                   ROW_NUMBER() OVER (PARTITION BY grp ORDER BY value, h) AS vr,
                   COUNT(*) OVER (PARTITION BY grp) AS m
            FROM qsk_sample
        ) WHERE vr = (m + 1) // 2
    ),
    qsk_pos AS (
        SELECT l.l_returnflag AS grp, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN l.l_extendedprice <= m.est THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_le
        FROM lineitem l JOIN qsk_med m ON l.l_returnflag = m.grp
        GROUP BY 1
    )
    SELECT p.grp AS key, p.n, p.n_le AS stat, m.est AS v,
           CAST(abs(CAST(p.n_le AS DOUBLE) / p.n - 0.5) <= 0.12 AS INTEGER) AS ok
    FROM qsk_pos p JOIN qsk_med m ON p.grp = m.grp
"""


@builder("quantile_sketch", _QSK_SQL)
def quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-l_returnflag median estimate from a deterministic bottom-k
    row sample of lineitem (k=256): (key, n=group rows, stat=rows with
    value ≤ estimate [the estimate's exact rank — the verification
    statistic], v=estimated median, ok=the estimate's quantile
    position within 0.5±0.12; sd of a k=256 sampled median position is
    ~0.031, so the envelope is ~4σ). The exact-rank join is the
    verification harness — at 100 TB you'd ship the estimate alone and
    skip the full-data pass the sketch exists to avoid."""
    li = load_table(spark, sf_dir, "lineitem")
    key = F.col("l_orderkey") * 10 + F.col("l_linenumber")
    med = sample_median(bottomk_sample(li, "l_returnflag", "l_extendedprice", key))
    pos = (
        li.select(F.col("l_returnflag").alias("grp"), "l_extendedprice")
        .join(F.broadcast(med), "grp")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("l_extendedprice") <= F.col("est"), 1).otherwise(0)
            ).cast("long").alias("n_le"),
        )
    )
    return pos.join(F.broadcast(med), "grp").select(
        F.col("grp").alias("key"),
        "n",
        F.col("n_le").alias("stat"),
        F.col("est").alias("v"),
        (
            F.abs(F.col("n_le").cast("double") / F.col("n") - 0.5) <= 0.12
        ).cast("int").alias("ok"),
    )


# ------------------------------------------------ CMS heavy hitters


def _grid_estimate(grid_rows: list, depth: int, width: int) -> Column:
    """Map-side CMS estimate over _bucketed_items' __b{d} columns: the
    least over the depth rows of arr[i·width + bucket]. The
    depth×width grid rides as ONE array Literal (≤ 2048 longs — a
    single ArrayData constant, not a 2048-child CreateArray for the
    analyzer/codegen to walk), so the estimate is a pure JVM
    expression: zero joins, zero shuffle, usable as a row filter."""
    arr = [0] * (depth * width)
    for r in grid_rows:
        arr[r["i"] * width + r["bucket"]] = int(r["cnt"])
    lit = F.lit(arr)
    return F.least(
        *[
            F.element_at(
                lit, (F.lit(d * width) + F.col(f"__b{d}")).cast("int") + 1
            )
            for d in range(depth)
        ]
    )


def cms_heavy_hitters(
    df: DataFrame, item_col: str, min_count: int,
    depth: int = CMS_DEPTH, width: int = CMS_WIDTH,
) -> DataFrame:
    """ALL items with true frequency ≥ min_count, exact counts —
    found without ever shuffling the long tail. This is the sketch
    twin of the engine's bloom-pruned joins: build the bounded CMS
    grid (one partial-agg'd pass), then use the never-underestimates
    guarantee as a map-side row filter — any item whose CMS estimate
    is below the threshold PROVABLY has true count below it, so
    dropping its rows cannot lose a heavy hitter (completeness is a
    theorem, not a probability). Only candidate rows reach the exact
    groupBy; the final filter on the exact count removes the
    false-positive candidates (collision mass ≤ n/width per probe).

    100 TB shape: pass 1 collapses to ≤ depth×width rows per map task
    whatever the skew; the grid collects to the driver (16 KB) and
    enters the plan as an array literal, so pass 2's filter is
    whole-stage codegen with zero joins; the exact count then shuffles
    ONLY rows of candidate items — under any long-tail distribution
    that is a small fraction of the corpus (measured in the test).
    Deterministic and SQL-replayable like the rest of the family."""
    from ..registry import scoped_cache

    # one md5 set, two consumers: the bucket columns are computed once
    # and cached, so the grid build AND the probe filter read ints —
    # halves the portable-hash tax (measured ~11 s → ~6 s at the
    # 1M-row stress scale)
    b = scoped_cache(_bucketed_items(df, item_col, depth, width))
    # no count() here: the grid collect below is the single eager
    # consumer at this point — it scans b once and populates the cache
    # as a side effect; the probe filter then reads the cached ints
    grid_rows = _grid_from_buckets(b, depth).collect()
    return (
        b.filter(_grid_estimate(grid_rows, depth, width) >= min_count)
        .groupBy("item")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= min_count)
    )


# Scale-adaptive threshold: rows // HH_DIVISOR (integer division both
# engines share), so the registered query exercises real pruning at
# every SF the driver runs.
HH_DIVISOR = 125

_HH_SQL = f"""
    SELECT CAST(user_id AS VARCHAR) AS key, CAST(COUNT(*) AS BIGINT) AS n
    FROM events WHERE user_id IS NOT NULL
    GROUP BY 1
    HAVING COUNT(*) >= greatest(1, (SELECT COUNT(*) FROM events) // {HH_DIVISOR})
"""


@builder("cms_heavy_hitters_q", _HH_SQL)
def cms_heavy_hitters_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registered face of cms_heavy_hitters over events/user_id with a
    scale-adaptive threshold (total rows // HH_DIVISOR = 125). The oracle
    is the NAIVE groupBy-filter — the sketch prune is an execution
    strategy with provably identical semantics (never-underestimates),
    exactly as the bloom-pruned semi-join's oracle is the plain
    semi-join."""
    ev = load_table(spark, sf_dir, "events")
    total = ev.count()
    t = max(1, total // HH_DIVISOR)
    return cms_heavy_hitters(ev, "user_id", t).select(
        F.col("item").alias("key"), "n"
    )
