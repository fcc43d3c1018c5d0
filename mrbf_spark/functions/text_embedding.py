"""Deterministic text embeddings by feature hashing, and
embedding-cosine near-dup DIRECTLY on the `documents` table.

The embedding is the classic hashing trick (Weinberger et al. 2009)
over WORD-BIGRAM shingles: each adjacent lowercase token pair lands
in slot md5_60(shingle) mod DIM with sign ± from another md5 nibble,
and a document's vector is the per-slot SIGNED SHINGLE COUNT — all
integers, so the vector (and every fixed-point dot downstream) is
bit-exact on any engine that replays the definition. Bigrams, not
unigrams, on purpose: over a small shared vocabulary (the testdata's
documents draw 31 tokens) every unigram bag looks alike (measured
median pair cosine 0.65 — no threshold separates), while the ~V²
bigram space is sparse per doc, so unrelated docs land near 0 and
near-verbatim dups near 1 (measured median 0.06, dup tail ≥ 0.8).
A single-token doc falls back to its lone token as the shingle, so
every doc keeps a nonzero vector. No model weights, no external artifacts: this is the
bridge that lets the semantic-dedup machinery (semdedup, ANN,
embedding near-dup) run end-to-end over raw TEXT, which is exactly
the corpus-curation shape (SemDeDup over web text) — a learned
embedder slots in by replacing ONE map-only stage.

Plan shape: tokenize/explode → (doc, slot) partial-agg groupBy →
per-doc map_from_entries → dense array projection. Two shuffles of
(doc_id, slot, count) ints, corpus text never shuffles. At 100 TB
the explode is the scan cost and the aggregation keys are bounded by
docs × DIM.

The `text_semdedup` builder composes this with semdedup_verdicts and
is driver hash-checked as the 'textdedup' part of
`embedding_dedup_suite` (similarity.py) — the DuckDB oracle replays
tokenization, slot/sign hashing, the dense vector, cell assignment,
pair cosines, and the keeper rule.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from ..registry import builder, scoped_cache
from ..tables import load_table
from .sketches import _h60, _h60_sql

TE_DIM = 64
TE_SALT = "temb"
# documents-table semantic-dup threshold: hashed bigram vectors of
# unrelated docs sit near 0 (p99.9 ≈ 0.45 measured); verbatim and
# near-verbatim dups sit near 1.0
TEXT_SEM_TAU = 0.8


def _slot_col(tok: Column, dim: int = TE_DIM) -> Column:
    """Hashed feature slot of one shingle (shared by the grouped batch
    embedding and the r7 per-row streaming twin)."""
    return F.pmod(_h60(tok, TE_SALT), F.lit(dim)).cast("long")


def _sign_col(tok: Column) -> Column:
    """±1 hash sign of one shingle (Weinberger et al. feature
    hashing; md5 nibble parity — engine-portable)."""
    return F.when(
        F.pmod(
            F.conv(F.substring(F.md5(tok), 16, 1), 16, 10).cast("long"),
            F.lit(2),
        )
        == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))


def _bigrams_col(text: Column) -> Column:
    """Word-bigram shingles ('tok_i tok_i+1') as a per-row array; a
    1-token doc yields its lone token."""
    toks = F.split(F.lower(text), " ")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(toks) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(toks, i), F.element_at(toks, i + 1)
        ),
    )
    return F.when(F.size(toks) >= 2, bigrams).otherwise(
        F.array(F.element_at(toks, 1))
    )


def row_text_embedding_col(text: Column, dim: int = TE_DIM) -> Column:
    """MAP-ONLY twin of text_hash_embeddings: the same signed hashed
    bigram-count vector computed entirely inside the row (a dim-wide
    transform folding the bigram array) — no explode, no groupBy, so
    it runs on an unbounded STREAM with zero state. O(dim·n_bigrams)
    expression work per row vs the batch path's two shuffles; the
    batch path stays right for corpus-wide embedding (the fold
    re-reads the bigram array dim times), this one for per-row online
    classification. Bit-equality with the batch embedding is
    test-pinned (integer counts, same slot/sign hashes)."""
    bigrams = _bigrams_col(text)
    return F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.aggregate(
            bigrams,
            F.lit(0).cast("long"),
            lambda acc, b: acc
            + F.when(_slot_col(b, dim) == i.cast("long"), _sign_col(b)).otherwise(
                F.lit(0)
            ),
        ).cast("double"),
    )


def text_hash_embeddings(docs: DataFrame, dim: int = TE_DIM) -> DataFrame:
    """(vec_id, embedding array<double>): signed hashed shingle
    counts. Integer values cast to double ⇒ exact everywhere.

    The token array is projected once as its own column before the
    shingle explode (r9): inlining split() into the bigram lambda
    re-tokenized the doc at every element_at reference — O(len²) per
    doc (see lm._doc_bigrams)."""
    t = F.col("__toks")
    bigrams = F.transform(
        F.sequence(F.lit(1), F.size(t) - 1),
        lambda i: F.concat_ws(
            " ", F.element_at(t, i), F.element_at(t, i + 1)
        ),
    )
    shingle = F.explode(
        F.when(F.size(t) >= 2, bigrams).otherwise(F.array(F.element_at(t, 1)))
    )
    toks = docs.select(
        F.col("doc_id").alias("vec_id"),
        F.split(F.lower(F.col("text")), " ").alias("__toks"),
    ).select("vec_id", shingle.alias("tok"))
    slot = _slot_col(F.col("tok"), dim)
    sign = _sign_col(F.col("tok"))
    sparse = (
        toks.groupBy("vec_id", slot.alias("slot"))
        .agg(F.sum(sign).cast("long").alias("val"))
    )
    dense = sparse.groupBy("vec_id").agg(
        F.map_from_entries(F.collect_list(F.struct("slot", "val"))).alias("m")
    )
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: F.coalesce(
            F.element_at(F.col("m"), i.cast("long")), F.lit(0).cast("long")
        ).cast("double"),
    )
    return dense.select("vec_id", vec.alias("embedding"))


def text_embeddings_sql(dim: int = TE_DIM, src: str = "documents") -> str:
    """DuckDB twin producing the same (vec_id, embedding) table.
    (Every doc has ≥1 shingle: string_split of '' yields [''] on both
    engines and 1-token docs fall back to the lone token, so no doc
    drops out.)"""
    return f"""
    SELECT vec_id, LIST(CAST(val AS DOUBLE) ORDER BY slot) AS embedding
    FROM (
      SELECT v.vec_id, gs.i AS slot, COALESCE(s.val, 0) AS val
      FROM (SELECT DISTINCT doc_id AS vec_id FROM {src}) v
      CROSS JOIN generate_series(0, {dim - 1}) gs(i)
      LEFT JOIN (
        SELECT vec_id, {_h60_sql('tok', TE_SALT)} % {dim} AS slot,
               CAST(SUM(CASE WHEN ('0x' || substr(md5(tok), 16, 1))::BIGINT % 2 = 0
                             THEN 1 ELSE -1 END) AS BIGINT) AS val
        FROM (SELECT doc_id AS vec_id,
                     UNNEST(CASE WHEN len(t) >= 2
                            THEN [t[i] || ' ' || t[i+1]
                                  for i in generate_series(1, len(t) - 1)]
                            ELSE [t[1]] END) AS tok
              FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
                    FROM {src}))
        GROUP BY 1, 2) s
      ON s.vec_id = v.vec_id AND s.slot = gs.i)
    GROUP BY vec_id
    """


@builder("text_semdedup", None)  # oracle composed inside the suite entry
def text_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the documents table via hashed text embeddings:
    (vec_id=doc_id, cell, cent_cosine, keep)."""
    from .similarity import semdedup_verdicts

    docs = load_table(spark, sf_dir, "documents")
    # cache + materialize the derived vectors: semdedup consumes them
    # from several driver actions (dim probe, flat centroids, group
    # sizes, the pair join, the verdict join), and without the cache
    # each replays the explode + two groupBys of the derivation
    emb = scoped_cache(text_hash_embeddings(docs))
    emb.count()
    return semdedup_verdicts(emb, tau=TEXT_SEM_TAU)
