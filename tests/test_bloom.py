"""Bloom build/probe semantics: the spec's hard no-false-negative
invariant, the statistical FP bound, skip-unknown-key behavior, and
the half-up rounding key (SURVEY.md §5)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mrbf_spark.bloom import build_bloom_filters, fp_report, probe_bloom_filters
from mrbf_spark.bloom.pipeline import bloom_fp_pipeline, half_up_key, train_test_split
from mrbf_spark.tables import load_table

from conftest import SF_SMOKE


@pytest.fixture(scope="module")
def orders(spark):
    return load_table(spark, SF_SMOKE, "orders").cache()


def test_no_false_negatives(spark, orders):
    """Spec: 'there can never be false negatives' — every inserted
    element must probe positive."""
    filters = build_bloom_filters(orders, "o_orderpriority", "o_orderkey", 0.05)
    probed = probe_bloom_filters(orders, "o_orderpriority", "o_orderkey", filters)
    assert probed.filter(F.col("bloom_hit") == 0).count() == 0


def test_fp_rate_within_binomial_bound(spark, orders):
    """Disjoint probe set ⇒ every hit is a false positive; the overall
    rate must be statistically consistent with p (reference report §6
    observed ≈ p ± 15% relative at much larger n; we use a generous
    4-sigma binomial band for the small sf0.001 sample)."""
    p = 0.05
    rep = bloom_fp_pipeline(orders, "o_orderpriority", "o_orderkey", p=p).collect()
    fp = sum(r["false_positives"] for r in rep)
    n = sum(r["total_tests"] for r in rep)
    sigma = (n * p * (1 - p)) ** 0.5
    assert abs(fp - n * p) < 4 * sigma, f"fp={fp}, expected {n * p:.1f} ± {4*sigma:.1f}"


def test_p_sweep_rates_track_each_p(spark, orders):
    """One-app p-sweep (sh-scripts/{2,3}{a,b}.sh loops): each swept p
    must show a measured aggregate fp_rate inside its own 4-sigma
    binomial band — i.e. the per-p filters are really built at that p,
    not sharing geometry."""
    from mrbf_spark.bloom.pipeline import bloom_fp_sweep

    ps = [0.01, 0.05, 0.1]
    rows = bloom_fp_sweep(orders, "o_orderpriority", "o_orderkey", ps).collect()
    assert {r["p"] for r in rows} == set(ps)
    for p in ps:
        fp = sum(r["false_positives"] for r in rows if r["p"] == p)
        n = sum(r["total_tests"] for r in rows if r["p"] == p)
        sigma = (n * p * (1 - p)) ** 0.5
        assert abs(fp - n * p) < 4 * sigma, f"p={p}: fp={fp}, n={n}"


def test_cli_p_sweep_prints_accuracy_table(spark, orders, tmp_path, capsys):
    """`pipeline -p 0.01,0.1` prints the report's §6 table shape: a
    key row per bloom key with one fp_rate column per p, plus avg."""
    from mrbf_spark.__main__ import main

    inp = str(tmp_path / "orders.parquet")
    orders.write.parquet(inp)
    main(
        [
            "pipeline",
            "--input", inp,
            "--key", "o_orderpriority",
            "--value", "o_orderkey",
            "-p", "0.01,0.1",
        ]
    )
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0].split("\t") == ["key", "p=0.01", "p=0.1"]
    assert out[-1].startswith("avg\t")
    # 5 order priorities + header + avg
    assert len(out) == 7


def test_unknown_keys_skipped(spark, orders):
    """Rows whose key has no filter are dropped, not errors
    (BloomFilterMapper.java:89-93 semantics)."""
    filters = build_bloom_filters(
        orders.filter(F.col("o_orderpriority") == "1-URGENT"),
        "o_orderpriority",
        "o_orderkey",
        0.05,
    )
    probed = probe_bloom_filters(orders, "o_orderpriority", "o_orderkey", filters)
    keys = [r["o_orderpriority"] for r in probed.select("o_orderpriority").distinct().collect()]
    assert keys == ["1-URGENT"]


def test_filter_table_shape(spark, orders):
    from pyspark.sql.types import StructType

    from mrbf_spark.bloom.core import FILTER_SCHEMA

    filters = build_bloom_filters(orders, "o_orderpriority", "o_orderkey", 0.01)
    # parquet round trips, the CLI test subcommand and the stream probe
    # read these columns by name and type
    assert [(f.name, f.dataType) for f in filters.schema] == [
        (f.name, f.dataType) for f in StructType.fromDDL(FILTER_SCHEMA)
    ]
    rows = filters.collect()
    assert {r["key"] for r in rows} == {
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"
    }
    for r in rows:
        assert r["k"] == 7
        assert len(r["words"]) == (r["m"] + 63) // 64
        # at least one bit set, never more bits than k*n
        popcount = sum(bin(w & (2**64 - 1)).count("1") for w in r["words"])
        assert 0 < popcount <= r["k"] * r["n"]


def test_empty_input_yields_empty_filters(spark, orders):
    empty = orders.filter(F.lit(False))
    filters = build_bloom_filters(empty, "o_orderpriority", "o_orderkey", 0.01)
    assert filters.count() == 0
    # Probing with the defaults (k looked up, broadcast "auto") skips
    # every row: no filter, no key, no probe.
    probed = probe_bloom_filters(orders, "o_orderpriority", "o_orderkey", filters)
    assert probed.count() == 0
    assert probed.columns == orders.columns + ["bloom_hit"]
    assert fp_report(probed, "o_orderpriority").count() == 0


def test_half_up_key(spark):
    df = spark.createDataFrame(
        [(1.49,), (1.5,), (2.5,), (3.49,), (10.0,), (-0.5,)], "x double"
    )
    got = [r[0] for r in df.select(half_up_key("x")).collect()]
    # floor(x+0.5): matches int(x+0.5) for non-negative x
    # (bloomfilters_util.py:98) and Java Math.round for all x.
    assert got == [1, 2, 3, 3, 10, 0]


def test_random_split_disjoint_exhaustive(spark, orders):
    train, test = train_test_split(orders)
    n_train, n_test, n_all = train.count(), test.count(), orders.count()
    assert n_train + n_test == n_all
    assert train.join(test, "o_orderkey", "inner").count() == 0
    # roughly 60/40
    assert 0.5 < n_train / n_all < 0.7


# sha256 over the sorted (key, n, m, k, words) rows of the filters
# built on SF_SMOKE orders (o_orderpriority → o_orderkey), recorded
# from the pandas-fold build before the Arrow-fold rewrite. Any change
# to sizing, hashing, bit layout or the merge shows up here.
_PINNED_FILTER_DIGESTS = {
    ("spark-murmur3", 0.05): "91ba0328e6fb5e585616ffd236c48401418bfb3ba6203b2029973b9ad287b544",
    ("spark-murmur3", 0.01): "9029fd2edcf368d9a8bc4468e67b00c4ae434701bc26c3b774f0de4a022affad",
    ("spark-murmur3", 1e-4): "74c5511a4d84b480cfc583c0cd042fafd587e2f86dcb21134ab7d8e0bf3d9aa7",
    ("hadoop-murmur2", 0.01): "7efb722b18b0b457669b38159520e623d4cd4068c1e8d0322a73ffc4caaef618",
}


def _filter_digest(filters) -> str:
    import hashlib
    import json

    rows = sorted(
        (r["key"], r["n"], r["m"], r["k"], list(r["words"])) for r in filters.collect()
    )
    return hashlib.sha256(json.dumps(rows).encode()).hexdigest()


@pytest.mark.parametrize("flavor, p", sorted(_PINNED_FILTER_DIGESTS))
def test_filters_bit_identical_to_pin(spark, orders, flavor, p):
    """The built filters are pinned bit for bit, both on the table as
    loaded (one partition) and spread over 37 partitions: the filter
    is a function of the rows, never of how they are partitioned."""
    for layout, src in (("as-loaded", orders), ("repartition(37)", orders.repartition(37))):
        got = _filter_digest(
            build_bloom_filters(src, "o_orderpriority", "o_orderkey", p, flavor=flavor)
        )
        assert got == _PINNED_FILTER_DIGESTS[(flavor, p)], (flavor, p, layout)


def test_fold_emits_bounded_rows_on_thin_slices(spark, orders):
    """Map-side combine shape on the normal scale case, many thin
    partitions (256 slices of the smoke table) at a low fp target
    (big m): per (partition, key) the fold emits at most
    min(nwords, k·rows) word rows — one per distinct set word — and
    the total stays far below shipping a dense bitset per slice."""
    import numpy as np
    import pyarrow as pa

    from mrbf_spark.bloom.core import _fold_words, _hashed, num_bits, num_hashes

    p = 0.0001
    k = num_hashes(p)
    counts = orders.groupBy("o_orderpriority").count().collect()
    keys = [r["o_orderpriority"] for r in counts]
    m = np.array([num_bits(r["count"], p) for r in counts], dtype=np.int64)
    nwords = (m + 63) >> 6
    keyed = orders.selectExpr("o_orderpriority AS __key", "CAST(o_orderkey AS STRING) AS __value")
    hashed = _hashed(keyed, k, "spark-murmur3", "__key").repartition(256).cache()
    rows_in = {
        (r["pid"], keys.index(r["__key"])): r["count"]
        for r in hashed.groupBy(F.spark_partition_id().alias("pid"), "__key").count().collect()
    }
    fold = _fold_words(keys, m, np.mod)

    def tagged(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        for b in fold(batches):
            yield b.append_column("pid", pa.array(np.full(b.num_rows, pid, dtype=np.int32)))

    out = (
        hashed.mapInArrow(tagged, "__kid int, widx int, word long, pid int")
        .groupBy("pid", "__kid")
        .agg(F.count(F.lit(1)).alias("rows"), F.min("word").alias("w0"), F.max("word").alias("w1"))
        .collect()
    )
    hashed.unpersist()
    assert {(r["pid"], r["__kid"]) for r in out} == set(rows_in)
    for r in out:
        bound = min(int(nwords[r["__kid"]]), k * rows_in[(r["pid"], r["__kid"])])
        assert r["rows"] <= bound, (r, bound)
        assert r["w0"] != 0 and r["w1"] != 0
    emitted = sum(r["rows"] for r in out)
    dense = sum(int(nwords[kid]) for _, kid in rows_in)
    assert emitted < 0.5 * dense, (emitted, dense)


@pytest.mark.parametrize("slack", [0, 1 << 20])
def test_fold_kernel_matches_scatter_reference(monkeypatch, slack):
    """The Arrow fold, run directly on (__key, __h) record batches (one
    of them empty), equals a plain per-key bit scatter of each flavor's
    positions, computed in Python from the raw hashes — with and
    without re-reducing the pending words after every batch."""
    import numpy as np
    import pyarrow as pa

    import mrbf_spark.bloom.core as core

    monkeypatch.setattr(core, "_COMPACT_SLACK", slack)
    rng = np.random.default_rng(7)
    keys = ["a", "b", "c"]
    m = np.array([130, 7000, 64], dtype=np.int64)
    nwords = (m + 63) >> 6
    k = 4
    batches, rows = [], []
    for n in (50, 0, 300, 1):
        kid = rng.integers(0, len(keys), n)
        h = rng.integers(-(2**31), 2**31, (n, k))
        rows += zip(kid, h.tolist())
        batches.append(
            pa.RecordBatch.from_arrays(
                [pa.array([keys[c] for c in kid], pa.string()), pa.array(h.tolist(), pa.list_(pa.int32()))],
                names=["__key", "__h"],
            )
        )
    # Spark's pmod is Python's floor-mod; Java's Math.abs(h % m) is abs(h) % m
    positions = {"spark-murmur3": lambda h, m: h % m, "hadoop-murmur2": lambda h, m: abs(h) % m}
    for flavor, position in positions.items():
        expect = [np.zeros(w, dtype=np.int64) for w in nwords]
        for c, hs in rows:
            for i in (position(x, int(m[c])) for x in hs):
                expect[c][i >> 6] |= np.left_shift(np.int64(1), i & 63)
        got = [np.zeros(w, dtype=np.int64) for w in nwords]
        reduce, _ = core._FLAVORS[flavor]
        for b in core._fold_words(keys, m, reduce)(iter(batches)):
            for c, w, word in zip(*(b.column(i).to_numpy() for i in range(3))):
                assert word != 0 and got[c][w] == 0  # one row per distinct word
                got[c][w] = word
        for g, e in zip(got, expect):
            assert np.array_equal(g, e), flavor


@pytest.mark.parametrize("flavor", ["spark-murmur3", "hadoop-murmur2"])
def test_fold_kernel_rejects_unknown_key(flavor):
    """A row whose key the count pass did not see (a non-deterministic
    input) reaches the fold with a key its closure does not hold. The
    fold raises instead of dropping it, before either flavor's
    reduction runs: a dropped row is a false negative."""
    import numpy as np
    import pyarrow as pa

    import mrbf_spark.bloom.core as core

    batch = pa.RecordBatch.from_arrays(
        [pa.array(["a", "zz"]), pa.array([[1, 2], [3, -4]], pa.list_(pa.int32()))],
        names=["__key", "__h"],
    )
    reduce, _ = core._FLAVORS[flavor]
    with pytest.raises(ValueError, match="deterministic input"):
        list(core._fold_words(["a"], np.array([64], dtype=np.int64), reduce)(iter([batch])))


@pytest.mark.parametrize("flavor", ["spark-murmur3", "hadoop-murmur2"])
def test_quoted_column_names_match_plain_names(spark, orders, flavor):
    """Key and value columns whose names need quoting in SQL (a space,
    a dot, a backtick) build, probe and report exactly as the same
    columns under plain names."""
    train = orders.where("o_orderkey % 3 = 0").select("o_orderpriority", "o_orderkey")
    probe = orders.select("o_orderpriority", "o_orderkey")
    results = []
    for key, value in (("o_orderpriority", "o_orderkey"), ("o priority", "o.k`ey")):
        filters = build_bloom_filters(train.toDF(key, value), key, value, 0.05, flavor=flavor)
        probed = probe_bloom_filters(probe.toDF(key, value), key, value, filters, flavor=flavor)
        assert probed.columns == [key, value, "bloom_hit"]
        results.append(
            (
                _filter_digest(filters),
                sorted(tuple(r) for r in probed.collect()),
                sorted(tuple(r) for r in fp_report(probed, key).collect()),
            )
        )
    assert results[0] == results[1]
    assert {r[2] for r in results[0][1]} == {0, 1}


def test_key_cardinality_guard(spark, orders, monkeypatch):
    """Above MAX_FILTER_KEYS distinct keys the build fails loudly,
    naming the key column and its distinct count."""
    import mrbf_spark.bloom.core as core

    monkeypatch.setattr(core, "MAX_FILTER_KEYS", 3)
    with pytest.raises(ValueError, match=r"'o_orderpriority' has 5 distinct"):
        build_bloom_filters(orders, "o_orderpriority", "o_orderkey", 0.01)


def test_filter_bytes_ceiling(spark, orders, monkeypatch):
    """Filters whose words would exceed BROADCAST_CEILING_BYTES fail
    right after the counts, naming the key column, the byte total and
    the ceiling, before any fold work runs."""
    import mrbf_spark.bloom.core as core

    p = 0.01
    counts = orders.groupBy("o_orderpriority").count().collect()
    need = sum((core.num_bits(r["count"], p) + 63) // 64 * 8 for r in counts)
    monkeypatch.setattr(core, "BROADCAST_CEILING_BYTES", need - 1)
    with monkeypatch.context() as mp:
        mp.setattr(type(orders), "mapInArrow", None)  # a fold attempt would fail differently
        with pytest.raises(
            ValueError, match=rf"'o_orderpriority' need {need} bytes .*_BYTES={need - 1};"
        ):
            build_bloom_filters(orders, "o_orderpriority", "o_orderkey", p)
    monkeypatch.setattr(core, "BROADCAST_CEILING_BYTES", need)  # exactly at it still builds
    assert build_bloom_filters(orders, "o_orderpriority", "o_orderkey", p).count() == 5


def test_probe_nonbroadcast_path(spark, orders, monkeypatch):
    """Above the broadcast ceiling the probe must fall back to a plain
    join and still produce identical results."""
    import mrbf_spark.bloom.core as core

    filters = build_bloom_filters(orders, "o_orderpriority", "o_orderkey", 0.05).cache()
    filters.count()
    a = probe_bloom_filters(orders, "o_orderpriority", "o_orderkey", filters, k=5, broadcast=True)
    monkeypatch.setattr(core, "BROADCAST_CEILING_BYTES", 1)  # force fallback
    b = probe_bloom_filters(orders, "o_orderpriority", "o_orderkey", filters, k=5, broadcast="auto")
    ra = {(r["o_orderkey"], r["bloom_hit"]) for r in a.select("o_orderkey", "bloom_hit").collect()}
    rb = {(r["o_orderkey"], r["bloom_hit"]) for r in b.select("o_orderkey", "bloom_hit").collect()}
    assert ra == rb and len(ra) > 0
