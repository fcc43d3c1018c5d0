"""Contrastive training-pair mining over an embedding column — the
(anchor, positive, hard-negative) triplets an embedding-model
training pipeline consumes (the SimCSE/SBERT-style mining shape, here
as a deterministic set operation over the corpus).

  * POSITIVES: near-duplicate pairs (exact fixed-point cosine ≥
    tau_pos) from the already-proven neardup_pairs engine — bounded
    output (the dedup family's own boundedness argument), emitted
    symmetrically so each member of a pair anchors a triplet.
  * HARD NEGATIVES: per anchor, the k_neg highest-cosine corpus
    vectors INSIDE the band [neg_lo, neg_hi) — similar enough to be
    informative, below the duplicate threshold so they are genuinely
    negative. neg_hi defaults to tau_pos (the bands partition).

Methods:
  * "exact": anchors broadcast against one corpus scan (the Arrow
    pair cosine), band filter, per-anchor top-k — the correctness
    baseline, quadratic in |anchors|×|corpus| and right at catalog
    scale (DuckDB-parity-tested in tests/test_mining.py).
  * "ivf": the scale path — anchors probe their n_probe nearest
    spherical-kmeans cells (fit on a bounded corpus sample) and meet
    only those cells' vectors in a cell-keyed broadcast join; scores
    stay exact fixed-point, so approximation shows up only as missing
    band members (one-sided), never as a wrong cosine. n_probe =
    n_cells is structurally identical to "exact" (cells partition the
    corpus) — test-pinned, the same argument as
    semantic_decontaminate_pruned.

100 TB shape: positives ride the dedup engine's bounded plans; the
negative search scans the corpus once (broadcast anchors), shuffles
only (anchor, candidate, cosine) triples for the window top-k, and
the IVF routing divides the broadcast work by n_cells/n_probe. The
anchor set is near-dup-pair-bounded — if a corpus were so duplicated
that anchors rival the corpus, dedup FIRST (the standard ordering)
and mine on survivors.

Determinism: cosines are the engine's fixed-point decimal dots; ranks
break ties by (cosine DESC, vec_id ASC) — a pure function of the
table, replayable in SQL.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, Window as W, functions as F

from ..registry import scoped_cache
from .similarity import (
    IVF_SAMPLE,
    MINE_K_NEG,
    MINE_NEG_LO,
    NEARDUP_TAU,
    _arrow_pair_cosine,
    _decimal_dot,
    _kmeans_centroids,
    ivf_cell_col,
    ivf_probes_col,
    with_matrix,
)

# Band defaults live in similarity.py (next to NEARDUP_TAU) so the
# registered suite oracle can cite them without a mining<->similarity
# import cycle; re-exported here under their historical names.
NEG_LO = MINE_NEG_LO  # default hard-negative band floor
K_NEG = MINE_K_NEG  # hard negatives per (anchor, positive)
MINE_CELLS = 16
MINE_PROBE = 4
# method="auto" routes exact→ivf when the exact negative scan would
# exceed this many anchor×corpus dot products. 5e7 keeps every
# catalog/bench regime on the exact path (sf0.1 suite: 512 anchors ×
# ~20k vectors = 1e7) while a near-dup-saturated sf1 corpus (the
# measured >45-min pathology, SCALING.md r7) routes to the
# cell-bounded scan.
MINE_AUTO_DOTS = 50_000_000

_LOG = logging.getLogger(__name__)


def contrastive_triplets(
    emb: DataFrame,
    *,
    tau_pos: float = NEARDUP_TAU,
    neg_lo: float = NEG_LO,
    neg_hi: float | None = None,
    k_neg: int = K_NEG,
    method: str = "auto",
    n_cells: int = MINE_CELLS,
    n_probe: int = MINE_PROBE,
    pairs: DataFrame | None = None,
    anchor_cap: int | None = None,
    auto_dots: int = MINE_AUTO_DOTS,
) -> DataFrame:
    """(anchor_id, positive_id, negative_id, pos_cosine, neg_cosine,
    neg_rank) — one row per hard negative of each directed positive
    pair. See the module docstring for semantics and scale shape.

    `pairs` optionally supplies a pre-computed (vec_a, vec_b, cosine)
    positive-pair frame (already ≥ tau_pos) so a caller that has one —
    the embedding_dedup_suite's 'pair' part — shares the near-dup scan
    instead of paying it twice.

    `anchor_cap` (None = unbounded) deterministically restricts mining
    to the `anchor_cap` SMALLEST anchor ids — the registered suite
    part's bound: on a near-dup-saturated corpus (anchors ≈ corpus)
    the exact negative scan is quadratic by design and the right move
    is dedup-first (module docstring); the cap keeps the VERIFICATION
    entry's cost bounded without touching the library default.

    `method="auto"` (the default, r8 — mirrors
    probe_bloom_filters(broadcast="auto")): count the anchor set and
    corpus once, run "exact" while |anchors|×|corpus| ≤ `auto_dots`,
    else route to "ivf" (one-sided cell-bounded scan), logging the
    decision. The registered suite entry pins method="exact" because
    its DuckDB oracle replays the exact scan."""
    from .similarity import neardup_pairs

    if neg_hi is None:
        neg_hi = tau_pos
    if pairs is None:
        pairs = scoped_cache(neardup_pairs(emb, tau_pos))
        pairs.count()
    directed = pairs.select(
        F.col("vec_a").alias("anchor_id"),
        F.col("vec_b").alias("positive_id"),
        F.col("cosine").alias("pos_cosine"),
    ).unionByName(
        pairs.select(
            F.col("vec_b").alias("anchor_id"),
            F.col("vec_a").alias("positive_id"),
            F.col("cosine").alias("pos_cosine"),
        )
    )
    if anchor_cap is not None:
        capped = (
            directed.select("anchor_id")
            .distinct()
            .orderBy("anchor_id")
            .limit(anchor_cap)
        )
        directed = directed.join(capped, "anchor_id", "left_semi")
    anchors = scoped_cache(
        emb.join(
            directed.select(F.col("anchor_id").alias("vec_id")).distinct(),
            "vec_id",
            "left_semi",
        )
    )
    n_anchors = anchors.count()

    if method == "auto":
        n_corpus = emb.count()
        dots = n_anchors * n_corpus
        method = "exact" if dots <= auto_dots else "ivf"
        _LOG.info(
            "contrastive_triplets auto: %d anchors x %d corpus = %d "
            "dots (budget %d) -> %s",
            n_anchors, n_corpus, dots, auto_dots, method,
        )

    if method == "exact":
        scored = _exact_scored(anchors, emb)
    elif method == "ivf":
        scored = _ivf_scored(anchors, emb, n_cells, n_probe)
    else:
        raise ValueError(f"method must be auto|exact|ivf, got {method!r}")

    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), "vec_id")
    negs = (
        scored.filter(
            (F.col("cosine") >= neg_lo) & (F.col("cosine") < neg_hi)
        )
        .withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= k_neg)
        .select(
            F.col("query_id").alias("anchor_id"),
            F.col("vec_id").alias("negative_id"),
            F.col("cosine").alias("neg_cosine"),
            "neg_rank",
        )
    )
    return directed.join(negs, "anchor_id").select(
        "anchor_id",
        "positive_id",
        "negative_id",
        "pos_cosine",
        "neg_cosine",
        "neg_rank",
    )


def _exact_scored(anchors: DataFrame, emb: DataFrame) -> DataFrame:
    """(query_id, vec_id, cosine) for every anchor × corpus pair:
    anchors broadcast against one corpus scan. The |anchors| × corpus
    fixed-point dots run in the Arrow kernel, ~10× the interpreted HOF
    fold with bit-identical cosines (see
    similarity._arrow_pair_cosine)."""
    q = anchors.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        _decimal_dot(F.col("embedding"), F.col("embedding")).alias("q_nrm"),
    )
    c = emb.select(
        "vec_id",
        "embedding",
        _decimal_dot(F.col("embedding"), F.col("embedding")).alias("c_nrm"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    return _arrow_pair_cosine(
        pairs, "query_id", "q_emb", "q_nrm", "vec_id", "embedding", "c_nrm"
    )


def _ivf_scored(
    anchors: DataFrame, emb: DataFrame, n_cells: int, n_probe: int
) -> DataFrame:
    """(query_id, vec_id, cosine) over cell-routed candidates: corpus
    assigns map-only to spherical-kmeans cells (bounded seeded
    sample), anchors probe their n_probe nearest cells; exact
    fixed-point scores. Cells partition the corpus, so n_probe =
    n_cells reproduces the exact cross."""
    import numpy as np

    spark = emb.sparkSession
    sample = np.array(
        [
            r["embedding"]
            for r in emb.orderBy("vec_id").limit(IVF_SAMPLE).collect()
        ],
        dtype=np.float64,
    )
    cent = _kmeans_centroids(sample, n_cells)
    corpus = with_matrix(emb, spark, cent).select(
        "vec_id",
        "embedding",
        _decimal_dot(F.col("embedding"), F.col("embedding")).alias("c_nrm"),
        ivf_cell_col(F.col("embedding"), F.col("mat")).alias("cell"),
    )
    probed = with_matrix(
        anchors.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("q_emb"),
        ),
        spark,
        cent,
    ).select(
        "query_id",
        "q_emb",
        _decimal_dot(F.col("q_emb"), F.col("q_emb")).alias("q_nrm"),
        F.explode(ivf_probes_col(F.col("q_emb"), F.col("mat"), n_probe)).alias("cell"),
    )
    cosine = _decimal_dot(F.col("q_emb"), F.col("embedding")) / (
        F.sqrt(F.col("q_nrm")) * F.sqrt(F.col("c_nrm"))
    )
    return (
        corpus.join(F.broadcast(probed), "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cosine.alias("cosine"))
    )
