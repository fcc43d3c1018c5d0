"""Per-key Bloom filters as DataFrame operators.

Reference semantics (SURVEY.md §2-§3): one filter per key value
(rating 1..10 there), sized from the key's train-split cardinality and
a target false-positive probability p; k seeded hashes of the element
string mod m; probe = all k bits set; unknown keys are skipped, never
errors (hadoop BloomFilterMapper.java:89-93).

Spark-first design decisions (vs. the reference's RDD/MR pipeline):

- **Hash family**: ``pmod(hash(value, i), m)`` for i in 0..k-1 —
  Spark's built-in murmur3 (seed 42) over (value, i) pairs, computed
  in whole-stage codegen. The reference's two implementations disagree
  bit-for-bit anyway (mmh3 vs Hadoop murmur2, floor-mod vs abs-rem —
  bloomfilters_util.py:79 vs BloomFilterMapper.java:100-104), so we
  freeze this one canonical scheme and test its statistical behavior.
- **Bit storage**: packed ``array<long>`` of ceil(m/64) words
  (8× smaller than the reference's list[bool] pickle,
  bloomfilters_builder.py:100), directly broadcastable.
- **Build = Arrow fold per input partition, JVM ``bit_or`` merge,
  driver assembly.** The reference concatenates per-key index lists in
  the reduce (``extend_list``, bloomfilters_builder.py:44-54) — O(n·k)
  ints shuffled per key, the anti-pattern at 100 TB. Here a codegen'd
  projection emits each row's key and its k raw 32-bit hashes, and one
  ``mapInArrow`` stage folds each input partition (the map-side
  combiner): it looks each key up in the counted keys its closure
  carries (a map-side join against a side table small enough to ride
  with the task, so no join runs in Spark), reduces the hashes mod the
  key's m, and ORs the partition's bits into 64-bit words with one
  numpy sort + ``bitwise_or.reduceat``, emitting one
  (key, word index, word) row per distinct set word. A JVM
  ``groupBy(key, widx).agg(bit_or)`` — partial aggregation on the map
  side, final after the shuffle — merges those rows; the driver
  scatters the merged words into one local Arrow filter table, the
  place every probe broadcasts it from anyway.
- **Probe = broadcast hash join + one unrolled AND of k bit tests**
  (the J1/J2 collapse): filters are a tiny table (one row per key), so
  ``probe.join(broadcast(filters))`` replaces both the reference's
  driver-collect-and-broadcast (bloomfilters_tester.py:81) and the
  Hadoop secondary-sort machinery (tester/BloomFilterTester.java:70-97).
  The bit tests are plain expressions, so the join, the test and a
  following partial aggregate compile into one codegen stage.

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

from .hadoop_flavor import abs_rem, hadoop_hashes_udf
from .sizing import num_bits, num_hashes

# Schema of a built filter table. `words` is the packed bitset:
# bit i of the filter is (words[i >> 6] >> (i & 63)) & 1.
FILTER_SCHEMA = "key string, n bigint, m bigint, k int, words array<long>"

# Key-cardinality ceiling for one build. Per-key counts come to the
# driver and the counted keys and their sizes ride into the fold's
# closure, so a high-cardinality key column (an id, not a category)
# must fail here instead of exhausting the driver.
MAX_FILTER_KEYS = 1 << 16

# Filter-word byte ceiling: the build refuses to assemble more on the
# driver, and the "auto" probe broadcasts only filter tables below it.
BROADCAST_CEILING_BYTES = 512 * 1024 * 1024

# Output of the per-partition fold: one row per distinct set word.
_WORD_SCHEMA = "__kid int, widx int, word long"

# The fold re-reduces its pending words once they outnumber the
# compacted ones by this many, so task memory tracks distinct words.
_COMPACT_SLACK = 1 << 20

# Hash flavors: the fold's numpy reduction of raw 32-bit hashes to
# positions in [0, m), and the probe's SQL for the position of hash
# {i}. spark-murmur3 is the canonical codegen'd family (np.mod is
# Spark's pmod for m > 0); hadoop-murmur2 is the reference's Java
# family, Math.abs(h % m) over the pandas UDF's hashes in __h, kept
# for bit parity with filters built by the reference's Java jobs
# (SURVEY.md §1.4).
_FLAVORS = {
    "spark-murmur3": (np.mod, "pmod(hash(__value, {i}), __m)"),
    "hadoop-murmur2": (abs_rem, "abs(__h[{i}] % __m)"),
}


def _flavor(flavor: str):
    if flavor not in _FLAVORS:
        raise ValueError(f"unknown hash flavor {flavor!r}")
    return _FLAVORS[flavor]


def _q(name: str) -> str:
    """`name` as a back-quoted SQL identifier (a backtick doubled)."""
    return "`" + name.replace("`", "``") + "`"


def _hashed(df: DataFrame, k: int, flavor: str, *cols: str) -> DataFrame:
    """`cols` of `df` plus __h: the k raw 32-bit hashes of __value,
    seeds 0..k-1 — one codegen'd projection, or the pandas UDF for
    hadoop-murmur2."""
    if flavor == "hadoop-murmur2":
        return df.select(*cols, hadoop_hashes_udf(k)("__value").alias("__h"))
    hashes = ", ".join(f"hash(__value, {i})" for i in range(k))
    return df.selectExpr(*cols, f"array({hashes}) AS __h")


def _or_reduce(gid: np.ndarray, word: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """OR together the words that share a global word id; returns the
    sorted distinct ids and their merged words."""
    if len(gid) == 0:
        return gid, word
    order = np.argsort(gid)
    gid, word = gid[order], word[order]
    starts = np.flatnonzero(np.r_[True, gid[1:] != gid[:-1]])
    return gid[starts], np.bitwise_or.reduceat(word, starts)


def _fold_words(keys: list[str], m: np.ndarray, reduce):
    """mapInArrow body: fold one input partition of (__key, __h) rows,
    __h a list of raw 32-bit hashes, into (__kid, widx, word) rows, one
    per distinct non-zero word. A key's kid is its index in `keys`, the
    keys the count pass saw; `reduce(h, m[kid])` maps each hash to its
    bit position. Key kid's words occupy global ids offsets[kid] ..
    offsets[kid+1]-1, so a single sort + reduceat ORs all keys at once.
    A key missing from `keys` raises ValueError rather than drop its
    rows (a dropped row is a false negative)."""
    value_set = pa.array(keys, pa.string())
    offsets = np.concatenate(([0], np.cumsum((m + 63) >> 6)))

    def fold(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        parts: list[tuple[np.ndarray, np.ndarray]] = []
        n_acc = n_new = 0
        for batch in batches:
            kid = pc.index_in(batch.column("__key"), value_set=value_set)
            if kid.null_count:
                raise ValueError(
                    "build_bloom_filters: a key absent from the count pass reached the"
                    " fold; the build scans its input twice and needs a deterministic"
                    " input (checkpoint or cache it first)"
                )
            hashes = batch.column("__h")
            kid = kid.to_numpy()[pc.list_parent_indices(hashes).to_numpy()]
            idx = reduce(pc.list_flatten(hashes).to_numpy().astype(np.int64), m[kid])
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
    Fold: emit each row's key and k raw hashes (codegen), then one
    mapInArrow stage looks the key up, reduces the hashes mod m and ORs
    each input partition's bits into (key, widx, word) rows
    (_fold_words).
    Merge: JVM bit_or per (key, widx); the driver scatters the merged
    words into each key's dense word array, as the reference's builder
    finishes its filters there (bloomfilters_builder.py:100).
    """
    spark = df.sparkSession
    reduce, _ = _flavor(flavor)
    k = num_hashes(p)
    keyed = df.selectExpr(
        f"CAST({_q(key_col)} AS STRING) AS __key", f"CAST({_q(value_col)} AS STRING) AS __value"
    ).where("__key IS NOT NULL AND __value IS NOT NULL")

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
    offsets = np.concatenate(([0], np.cumsum((m + 63) >> 6)))
    if offsets[-1] * 8 > BROADCAST_CEILING_BYTES:  # also keeps offsets in int32
        raise ValueError(
            f"build_bloom_filters: filters over key column {key_col!r} need"
            f" {offsets[-1] * 8} bytes of words, above BROADCAST_CEILING_BYTES="
            f"{BROADCAST_CEILING_BYTES}; raise p or use fewer keys"
        )

    flat = np.zeros(offsets[-1], dtype=np.int64)
    if keys:
        merged = (
            _hashed(keyed, k, flavor, "__key")
            .mapInArrow(_fold_words(keys, m, reduce), _WORD_SCHEMA)
            .groupBy("__kid", "widx")
            .agg(F.expr("bit_or(word) AS word"))
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
    present, 0 = definitely absent): one projection ANDs the k bit
    tests, unrolled, so with spark-murmur3 hashing, join and test all
    run in whole-stage codegen. Pass `k` (from sizing.num_hashes) to
    skip the driver-side lookup action. Drop `bloom_hit` after
    filtering on it: a kept column makes Catalyst evaluate the k bit
    tests twice, once in the pushed-down join condition and once in
    the projection.

    broadcast: True forces the broadcast hint, False a plain join,
    "auto" (default) broadcasts only while the total bitset size is
    under BROADCAST_CEILING_BYTES.

    Driver-action budget: when `k` or the auto size-check is needed,
    both come from ONE agg over the one-row-per-key filter table
    (max(k) + sum(m) in a single job). Pass `k` AND an explicit
    broadcast flag to skip the action entirely (the catalog paths
    do).
    """
    _, position = _flavor(flavor)
    if k is None or broadcast == "auto":
        stats = filters.selectExpr("max(k) AS k", "sum(m) AS total_bits").collect()[0]
        if k is None:
            k = int(stats["k"] or 1)  # an empty table joins no rows; any k plans
        if broadcast == "auto":
            broadcast = (int(stats["total_bits"] or 0) >> 3) <= BROADCAST_CEILING_BYTES
    probe = df.selectExpr(
        "*", f"CAST({_q(key_col)} AS STRING) AS __key", f"CAST({_q(value_col)} AS STRING) AS __value"
    )
    build_side = filters.selectExpr("key AS __key", "m AS __m", "words AS __words")
    if broadcast:
        build_side = F.broadcast(build_side)
    joined = probe.join(build_side, "__key")
    if flavor == "hadoop-murmur2":
        joined = _hashed(joined, k, flavor, "*")  # only rows whose key has a filter
    # Bit i of the filter: element_at is 1-based, i>>6 selects the
    # word, 1<<(i&63) the bit.
    hit = " AND ".join(
        f"(element_at(__words, int(shiftright({pos}, 6)) + 1) & shiftleft(1L, int({pos} & 63))) != 0"
        for pos in (position.format(i=i) for i in range(k))
    )
    return joined.selectExpr(*map(_q, df.columns), f"CAST({hit} AS INT) AS bloom_hit")


def fp_report(probed: DataFrame, key_col: str) -> DataFrame:
    """Per-key (false_positives, total_tests, fp_rate) over a probe of
    values known to be absent — the tester's output shape
    (bloomfilters_tester.py:94-112, TesterResultsWritable.java:18-20).
    """
    return (
        probed.selectExpr(f"CAST({_q(key_col)} AS STRING) AS key", "bloom_hit")
        .groupBy("key")
        .agg(
            F.expr("CAST(sum(bloom_hit) AS BIGINT) AS false_positives"),
            F.expr("count(1) AS total_tests"),
        )
        .selectExpr("*", "false_positives / total_tests AS fp_rate")
    )
