"""Seeded input generation for the benchmark workloads.

Every table is a pure function of (seed, size): the same seed gives
byte-identical parquet. Tables are cached under ``<cache>/<name>-s<seed>``
so set-up timing never depends on whether generation already happened;
the program under test only ever sees the parquet files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_W = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB_HEAD = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def imdb_ratings(seed: int, rows: int) -> dict[str, pa.Table]:
    """Synthetic title.ratings.tsv (the columns the pipeline reads):
    unique ``tt%07d`` ids, one-decimal ratings skewed high like the real
    table (mass around 6-8, thin tails), so ``half_up_key`` yields ten
    keys of very unequal size."""
    rng = _rng(seed, 1)
    ids = rng.permutation(10_000_000)[:rows]
    rating = np.clip(np.round(10.0 - rng.gamma(2.2, 1.45, rows), 1), 1.0, 10.0)
    return {
        "ratings": pa.table({"tconst": [f"tt{i:07d}" for i in ids], "averageRating": rating})
    }


def tpch_slice(seed: int, orders: int) -> dict[str, pa.Table]:
    """orders + lineitem with the TPC-H shape the Bloom semi-join reads:
    1-7 lines per order (mean 4), five uniform priorities. Only the
    columns the workload touches."""
    rng = _rng(seed, 2)
    okeys = np.sort(rng.choice(orders * 4, orders, replace=False)).astype("int64") + 1
    lines = rng.integers(1, 8, orders)
    li_okey = np.repeat(okeys, lines)
    li_num = (np.arange(len(li_okey)) - np.repeat(np.cumsum(lines) - lines, lines) + 1)
    return {
        "orders": pa.table(
            {
                "o_orderkey": okeys,
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, orders)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": li_okey,
                "l_linenumber": li_num.astype("int32"),
            }
        ),
    }


def _vocab(size: int) -> list[str]:
    syl = [c + v for c in "bcdfghjklmnpqrstvwz" for v in "aeiou"]
    words = list(VOCAB_HEAD)
    words += [a + b for a in syl for b in syl][: max(0, size - len(words))]
    return words[:size]


def documents(seed: int, docs: int, vocab: int = 5000) -> dict[str, pa.Table]:
    """Zipfian word-salad corpus, 10-100 tokens per doc, with planted
    verbatim and near duplicates so every curate stage has work."""
    rng = _rng(seed, 3)
    words = np.array(_vocab(vocab))
    zipf = 1.0 / np.arange(1, len(words) + 1) ** 1.1
    lens = rng.integers(10, 101, docs)
    draws = words[rng.choice(len(words), int(lens.sum()), p=zipf / zipf.sum())]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(draws[bounds[i] : bounds[i + 1]]) for i in range(docs)]
    for _ in range(max(4, docs // 650)):
        src = int(rng.integers(0, docs // 2))
        texts[docs // 2 + int(rng.integers(0, docs // 2))] = texts[src]
    for _ in range(max(2, docs // 1000)):
        src = int(rng.integers(0, docs - 1))
        texts[(src + docs // 3) % docs] = texts[src] + " extra"
    return {
        "documents": pa.table(
            {
                "doc_id": np.arange(docs, dtype="int64"),
                "text": texts,
                "lang": np.array(LANGS)[rng.choice(len(LANGS), docs, p=LANG_W)],
                "source": [f"src{i}" for i in rng.integers(0, 20, docs)],
                "n_chars": np.array([len(t) for t in texts], dtype="int64"),
            }
        )
    }


def materialize(cache_dir: str, name: str, seed: int, make) -> str:
    """Write ``make()``'s tables as ``<table>.parquet`` under a
    per-(name, seed) directory once; return the directory. A marker
    file written last makes a half-written directory regenerate."""
    out = os.path.join(cache_dir, f"{name}-s{seed}")
    done = os.path.join(out, "_COMPLETE")
    if os.path.exists(done):
        return out
    os.makedirs(out, exist_ok=True)
    for table, data in make().items():
        pq.write_table(data, os.path.join(out, f"{table}.parquet"))
    with open(done, "w"):
        pass
    return out
