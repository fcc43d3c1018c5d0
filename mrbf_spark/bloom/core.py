"""Per-key Bloom filters as DataFrame operators.

Reference semantics (SURVEY.md §2-§3): one filter per key value
(rating 1..10 there), sized from the key's train-split cardinality and
a target false-positive probability p; k seeded hashes of the element
string mod m; probe = all k bits set; unknown keys are skipped, never
errors (hadoop BloomFilterMapper.java:89-93).

Spark-first design decisions (vs. the reference's RDD/MR pipeline):

- **Hash family**: ``pmod(hash(value, lit(seed_i)), m)`` — Spark's
  built-in murmur3 (seed 42) over (value, i) pairs, fully codegen'd
  JVM-side. The reference's two implementations disagree bit-for-bit
  anyway (mmh3 vs Hadoop murmur2, floor-mod vs abs-rem —
  bloomfilters_util.py:79 vs BloomFilterMapper.java:100-104), so we
  freeze this one canonical scheme and test its statistical behavior.
- **Bit storage**: packed ``array<long>`` of ceil(m/64) words
  (8× smaller than the reference's list[bool] pickle,
  bloomfilters_builder.py:100), directly broadcastable.
- **Build = Arrow fold per input partition, JVM ``bit_or`` merge,
  driver assembly.** The reference concatenates per-key index lists in
  the reduce (``extend_list``, bloomfilters_builder.py:44-54) — O(n·k)
  ints shuffled per key, the anti-pattern at 100 TB. Here one
  ``mapInArrow`` stage folds each input partition (the map-side
  combiner): it ORs the partition's bits into 64-bit words with one
  numpy sort + ``bitwise_or.reduceat`` and emits one
  (key, word index, word) row per distinct set word. A JVM
  ``groupBy(key, widx).agg(bit_or)`` — partial aggregation on the map
  side, final after the shuffle — merges those rows; the driver
  scatters the merged words into one local Arrow filter table, the
  place every probe broadcasts it from anyway.
- **Probe = broadcast hash join** (the J1/J2 collapse): filters are a
  tiny table (one row per key), so ``probe.join(broadcast(filters))``
  replaces both the reference's driver-collect-and-broadcast
  (bloomfilters_tester.py:81) and the Hadoop secondary-sort machinery
  (tester/BloomFilterTester.java:70-97).

Scale ledger (1000 executors, 100 TB input): per-row work is
whole-stage-codegen'd hashing plus one vectorized numpy pass per Arrow
batch. No raw row and no partial bitset is shuffled: the fold emits
≤ min(m/64, k·rows_in_partition) (key, widx, word) rows per
(partition, key), and no task ever collects a list of partials. Fold
memory per task is bounded by the distinct words it has seen
(≤ Σ_keys m/64, compacted as batches arrive), never a dense
n_keys × m/8. The driver holds one (key, count) row per key, then the
merged words (≤ Σ m/64 rows: the bytes a broadcast probe ships from it
anyway). Per-key filters only make sense for low-cardinality keys (the
reference has 10 ratings); ``MAX_FILTER_KEYS`` and
``BROADCAST_CEILING_BYTES`` fail the build loudly right after the counts.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F

from .sizing import num_bits, num_hashes

# Schema of a built filter table. `words` is the packed bitset:
# bit i of the filter is (words[i >> 6] >> (i & 63)) & 1.
FILTER_SCHEMA = "key string, n bigint, m bigint, k int, words array<long>"

# Key-cardinality ceiling for one build. Per-key counts come to the
# driver and every key's word count rides into the fold's closure, so
# a high-cardinality key column (an id, not a category) must fail here
# instead of exhausting the driver.
MAX_FILTER_KEYS = 1 << 16

# Filter-word byte ceiling: the build refuses to assemble more on the
# driver, and the "auto" probe broadcasts only filter tables below it.
BROADCAST_CEILING_BYTES = 512 * 1024 * 1024

# Output of the per-partition fold: one row per distinct set word.
_WORD_SCHEMA = "__kid int, widx int, word long"

# The fold re-reduces its pending words once they outnumber the
# compacted ones by this many, so task memory tracks distinct words.
_COMPACT_SLACK = 1 << 20


def hash_indexes_col(value_col, m_col, k: int):
    """k seeded murmur3 hashes of `value_col`, each floor-mod m.

    Mirrors the reference's family of k seeded hashes
    (bloomfilters_util.py:60-79) with Spark's built-in ``hash``:
    seeding is done by hashing the (value, i) pair, which gives an
    independent hash per i. pmod keeps results in [0, m) even for
    negative hashes (the Python reference relies on %'s floor-mod the
    same way; the Java flavor's abs-rem differs — SURVEY.md §1.4).
    """
    return F.array(
        *[F.pmod(F.hash(value_col, F.lit(i)), m_col).cast("long") for i in range(k)]
    )


def _or_reduce(gid: np.ndarray, word: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """OR together the words that share a global word id; returns the
    sorted distinct ids and their merged words."""
    if len(gid) == 0:
        return gid, word
    order = np.argsort(gid)
    gid, word = gid[order], word[order]
    starts = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])
    return gid[starts], np.bitwise_or.reduceat(word, starts)


def _fold_words(nwords: np.ndarray):
    """mapInArrow body: fold one input partition of
    (__kid, __indexes) rows into (__kid, widx, word) rows, one per
    distinct non-zero word. Key kid's words occupy global ids
    offsets[kid] .. offsets[kid+1]-1, so a single sort + reduceat ORs
    all keys at once."""
    offsets = np.concatenate(([0], np.cumsum(nwords, dtype=np.int64)))

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        parts: list[tuple[np.ndarray, np.ndarray]] = []
        n_acc = n_new = 0
        for batch in batches:
            lists = batch.column("__indexes")
            idx = pc.list_flatten(lists).to_numpy()
            kid = batch.column("__kid").to_numpy()[pc.list_parent_indices(lists).to_numpy()]
            parts.append(
                _or_reduce(offsets[kid] + (idx >> 6), np.left_shift(np.int64(1), idx & 63))
            )
            n_new += len(parts[-1][0])
            if n_new > n_acc + _COMPACT_SLACK:
                parts = [_or_reduce(*map(np.concatenate, zip(*parts)))]
                n_acc, n_new = len(parts[0][0]), 0
        if not parts:
            return
        gid, word = _or_reduce(*map(np.concatenate, zip(*parts)))
        if len(gid):
            kid = np.searchsorted(offsets, gid, side="right") - 1
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(kid.astype(np.int32)),
                    pa.array((gid - offsets[kid]).astype(np.int32)),
                    pa.array(word),
                ],
                names=["__kid", "widx", "word"],
            )

    return fold


def _indexes_col(value_col, m_col, k: int, flavor: str):
    """Hash-family seam: the canonical codegen'd Spark-murmur3 family,
    or the reference-Hadoop murmur2/abs-rem flavor (SURVEY.md §1.4) for
    bit parity with filters built by the reference's Java jobs."""
    if flavor == "spark-murmur3":
        return hash_indexes_col(value_col, m_col, k)
    if flavor == "hadoop-murmur2":
        from .hadoop_flavor import hadoop_hash_indexes_udf

        return hadoop_hash_indexes_udf(k)(value_col, m_col)
    raise ValueError(f"unknown hash flavor {flavor!r}")


def build_bloom_filters(
    df: DataFrame,
    key_col: str,
    value_col: str,
    p: float,
    *,
    flavor: str = "spark-murmur3",
) -> DataFrame:
    """Build one Bloom filter per distinct `key_col` value over the
    string form of `value_col`. Returns FILTER_SCHEMA rows as a local
    table (a LocalTableScan): the build runs eagerly, here.

    Counts (driver): per-key counts → (n, m, k). This is the
    reference's linecount job (util/count-number-of-keys.py:33-38)
    folded into groupBy().count() + a one-row-per-key collect; raises
    ValueError above MAX_FILTER_KEYS keys or BROADCAST_CEILING_BYTES
    of filter words.
    Fold: hash every row (codegen), then one mapInArrow stage ORs each
    input partition's bits into (key, widx, word) rows (_fold_words).
    Merge: JVM bit_or per (key, widx); the driver scatters the merged
    words into each key's dense word array, as the reference's builder
    finishes its filters there (bloomfilters_builder.py:100).
    """
    spark = df.sparkSession
    k = num_hashes(p)
    keyed = df.select(
        F.col(key_col).cast("string").alias("__key"),
        F.col(value_col).cast("string").alias("__value"),
    ).filter(F.col("__key").isNotNull() & F.col("__value").isNotNull())

    counts = keyed.groupBy("__key").count().collect()  # one row per key: tiny by design
    if len(counts) > MAX_FILTER_KEYS:
        raise ValueError(
            f"build_bloom_filters: key column {key_col!r} has {len(counts)} distinct"
            f" values, above MAX_FILTER_KEYS={MAX_FILTER_KEYS}; per-key filters need a"
            " low-cardinality key"
        )
    keys = [r["__key"] for r in counts]
    n = np.array([r["count"] for r in counts], dtype=np.int64)
    m = np.array([num_bits(int(c), p) for c in n], dtype=np.int64)
    nwords = (m + 63) >> 6
    offsets = np.concatenate(([0], np.cumsum(nwords)))
    if offsets[-1] * 8 > BROADCAST_CEILING_BYTES:  # also keeps offsets in int32
        raise ValueError(
            f"build_bloom_filters: filters over key column {key_col!r} need"
            f" {offsets[-1] * 8} bytes of words, above BROADCAST_CEILING_BYTES="
            f"{BROADCAST_CEILING_BYTES}; raise p or use fewer keys"
        )

    flat = np.zeros(offsets[-1], dtype=np.int64)
    if keys:
        # An Arrow table is a LocalTableScan, so no Python worker scans
        # it; its broadcast is still one small Spark job.
        sizes = spark.createDataFrame(
            pa.table({"__kid": np.arange(len(keys), dtype=np.int32), "__key": keys, "m": m})
        )
        hashed = keyed.join(F.broadcast(sizes), "__key").select(
            "__kid", _indexes_col(F.col("__value"), F.col("m"), k, flavor).alias("__indexes")
        )
        merged = (
            hashed.mapInArrow(_fold_words(nwords), _WORD_SCHEMA)
            .groupBy("__kid", "widx")
            .agg(F.bit_or("word").alias("word"))
            .toArrow()
        )
        kid, widx, word = (merged[c].to_numpy() for c in ("__kid", "widx", "word"))
        flat[offsets[kid] + widx] = word
    table = pa.table(
        {
            "key": pa.array(keys, pa.string()),
            "n": n,
            "m": m,
            "k": np.full(len(keys), k, dtype=np.int32),
            "words": pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pa.array(flat)),
        }
    )
    return spark.createDataFrame(table, FILTER_SCHEMA)


# Probe expression: all k hash positions set ⇒ membership "maybe".
# element_at is 1-based; i>>6 selects the word, 1<<(i&63) the bit.
_PROBE_EXPR = (
    "forall(__indexes, i ->"
    " (element_at(words, int(shiftright(i, 6)) + 1) & shiftleft(1L, int(i & 63))) != 0)"
)


def probe_bloom_filters(
    df: DataFrame,
    key_col: str,
    value_col: str,
    filters: DataFrame,
    *,
    k: int | None = None,
    broadcast: bool | str = "auto",
    flavor: str = "spark-murmur3",
) -> DataFrame:
    """Probe each row's value against its key's filter.

    `flavor` must match the family the filters were built with
    (membership positions are hash-family-specific).

    Inner join ⇒ rows whose key has no filter are dropped — the
    reference's skip-unknown-keys semantics
    (BloomFilterMapper.java:89-93, bloomfilters_util.py:75-76); an
    empty filter table yields zero rows.
    Returns the input columns plus an integer `bloom_hit` (1 = maybe
    present, 0 = definitely absent). Pass `k` (from sizing.num_hashes)
    to skip the driver-side lookup action.

    broadcast: True forces the broadcast hint, False a plain join,
    "auto" (default) broadcasts only while the total bitset size is
    under BROADCAST_CEILING_BYTES.

    Driver-action budget: when `k` or the auto size-check is needed,
    both come from ONE agg over the one-row-per-key filter table
    (max(k) + sum(m) in a single job). Pass `k` AND an explicit
    broadcast flag to skip the action entirely (the catalog and stream
    paths do).
    """
    if k is None or broadcast == "auto":
        stats = filters.agg(
            F.max("k").alias("k"), F.sum("m").alias("total_bits")
        ).collect()[0]
        if k is None:
            k = int(stats["k"] or 1)  # an empty table joins no rows; any k plans
        if broadcast == "auto":
            broadcast = (int(stats["total_bits"] or 0) >> 3) <= BROADCAST_CEILING_BYTES
    probe = df.withColumn("__key", F.col(key_col).cast("string")).withColumn(
        "__value", F.col(value_col).cast("string")
    )
    build_side = filters.select(F.col("key").alias("__key"), "m", "words")
    if broadcast:
        build_side = F.broadcast(build_side)
    joined = probe.join(build_side, "__key")
    return (
        joined.withColumn(
            "__indexes", _indexes_col(F.col("__value"), F.col("m"), k, flavor)
        )
        .withColumn("bloom_hit", F.expr(_PROBE_EXPR).cast("int"))
        .drop("__key", "__value", "__indexes", "m", "words")
    )


def fp_report(probed: DataFrame, key_col: str) -> DataFrame:
    """Per-key (false_positives, total_tests, fp_rate) over a probe of
    values known to be absent — the tester's output shape
    (bloomfilters_tester.py:94-112, TesterResultsWritable.java:18-20).
    """
    return (
        probed.groupBy(F.col(key_col).cast("string").alias("key"))
        .agg(
            F.sum("bloom_hit").cast("long").alias("false_positives"),
            F.count(F.lit(1)).alias("total_tests"),
        )
        .withColumn("fp_rate", F.col("false_positives") / F.col("total_tests"))
    )
