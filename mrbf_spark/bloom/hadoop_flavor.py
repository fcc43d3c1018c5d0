"""Hadoop-murmur2 hash flavor for the Bloom pipeline.

The reference ships TWO hash families that disagree bit-for-bit:
the Python jobs use mmh3 with floor-mod (bloomfilters_util.py:60-79)
and the Hadoop jobs use `Hash.getInstance(Hash.MURMUR_HASH)` — i.e.
Hadoop's 32-bit MurmurHash2 — with `Math.abs(hash % m)` positions
(BloomFilterMapper.java:43,100-104, seeds 0..k-1). The engine's
canonical family is Spark murmur3 (see core._FLAVORS); this
module closes the remaining parity gap by vendoring the PUBLIC
MurmurHash2 algorithm (Austin Appleby's MurmurHash2, as adopted by
Hadoop's `org.apache.hadoop.util.hash.MurmurHash`) including Hadoop's
Java-specific quirks, so filters built by the reference's Hadoop jobs
can be probed bit-identically.

This is a compatibility path, NOT the perf path: hashing runs in a
pandas UDF (Arrow batches, per-row bytes work) instead of
whole-stage codegen. The UDF returns the k raw signed hashes; the
build's fold reduces them with ``abs_rem`` and the probe with the same
arithmetic in SQL. Select it with ``flavor="hadoop-murmur2"`` on
build/probe.

Java quirks reproduced exactly:
- tail bytes are SIGN-EXTENDED before the xor (`(int) data[len-1]`),
  which matters for any byte ≥ 0x80;
- positions are `abs(h % m)` on the SIGNED 32-bit hash (truncated
  division), equal to `abs(h_signed) % m` for m > 0. The remainder is
  taken before the `abs`, and |h % m| < m ≤ 2^31 − 1, so Java's
  `Math.abs` never sees `Integer.MIN_VALUE`: at h = MIN_VALUE the
  reference's position is in range too, and this port (reducing in
  64-bit) agrees with it on every input.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import functions as F

_M2 = 0x5BD1E995
_MASK = 0xFFFFFFFF


def murmur2_32(data: bytes, seed: int) -> int:
    """Hadoop-variant MurmurHash2 (public algorithm), unsigned 32-bit."""
    h = (seed ^ len(data)) & _MASK
    n4 = len(data) >> 2
    for i in range(n4):
        i4 = i << 2
        k = (
            data[i4]
            | (data[i4 + 1] << 8)
            | (data[i4 + 2] << 16)
            | (data[i4 + 3] << 24)
        )
        k = (k * _M2) & _MASK
        k ^= k >> 24
        k = (k * _M2) & _MASK
        h = (h * _M2) & _MASK
        h ^= k
    left = len(data) & 3
    if left:
        # Java sign-extends each tail byte to int before the xor.
        if left >= 3:
            h ^= (_sign_extend(data[-3]) << 16) & _MASK
        if left >= 2:
            h ^= (_sign_extend(data[-2]) << 8) & _MASK
        h ^= _sign_extend(data[-1]) & _MASK
        h = (h * _M2) & _MASK
    h ^= h >> 13
    h = (h * _M2) & _MASK
    h ^= h >> 15
    return h


def _sign_extend(b: int) -> int:
    return b - 256 if b >= 128 else b


def hadoop_hashes(value: str, k: int) -> np.ndarray:
    """The reference mapper's k hashes of `value` (seeds 0..k-1), as
    Java's signed 32-bit ints."""
    data = value.encode("utf-8")
    return np.array([murmur2_32(data, s) for s in range(k)], dtype=np.uint32).view(np.int32)


def abs_rem(h: np.ndarray, m: np.ndarray) -> np.ndarray:
    """Java `Math.abs(h % m)` on int64 arrays: positions in [0, m)."""
    return np.abs(np.fmod(h, m))


def hadoop_hashes_udf(k: int):
    """(value string) → array<int> pandas UDF of `hadoop_hashes`.
    Arrow-batched; bytes work per row is the inherent cost of bit
    parity with a JVM-library hash."""

    @F.pandas_udf("array<int>")
    def hashes(values: pd.Series) -> pd.Series:
        return pd.Series([hadoop_hashes(v, k) for v in values])

    return hashes
