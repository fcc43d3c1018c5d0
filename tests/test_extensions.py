"""Semantics tests for the north-star extensions: dedup recall,
similarity correctness, multimodal plumbing shape, and the Bloom
probe on a stream equal to the batch probe."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from mrbf_spark.functions.dedup import (
    jaccard_col,
    minhash_candidates,
    shingles_col,
)
from mrbf_spark.functions.multimodal import FEATURE_DIM, binary_payloads, decode_image
from mrbf_spark.functions.similarity import cosine_pairs
from mrbf_spark.tables import load_table

from conftest import SF_ORACLE, SF_SMOKE


def test_shingles_semantics(spark):
    df = spark.createDataFrame([("A b c d",), ("x y",)], "text string")
    got = [r[0] for r in df.select(shingles_col(F.col("text"), 3)).collect()]
    assert got[0] == ["a b c", "b c d"]
    assert got[1] == ["x y"]  # shorter than n → one short shingle


def test_jaccard_exact(spark):
    df = spark.createDataFrame([(["a", "b", "c"], ["b", "c", "d"])], "a array<string>, b array<string>")
    assert df.select(jaccard_col(F.col("a"), F.col("b"))).collect()[0][0] == pytest.approx(0.5)


def test_minhash_finds_planted_duplicate(spark):
    """A planted near-copy must survive LSH banding + jaccard verify;
    unrelated docs must not pair with it."""
    base = "the quick brown fox jumps over the lazy dog again and again in the field"
    near = base.replace("field", "meadow")
    other = "completely different words about spark query engines and bloom filters here"
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_candidates(docs, threshold=0.5).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_minhash_auto_routes_both_regimes(spark, caplog):
    """guaranteed="auto" (the r9 library default) routes on the
    df-census co-count volume: under the budget it IS the exact path
    (identical pair set + jaccards), over a forced 0 budget it IS the
    LSH path — both decisions logged (VERDICT r8 next-round #3,
    the mining method="auto" pattern)."""
    import logging

    from mrbf_spark.functions.dedup import minhash_candidates
    from mrbf_spark.registry import release_scoped_caches

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").limit(60)
    key = lambda r: (r["doc_a"], r["doc_b"], r["jaccard"])  # noqa: E731
    exact = sorted(
        map(key, minhash_candidates(docs, threshold=0.2, guaranteed=True).collect())
    )
    release_scoped_caches()
    with caplog.at_level(logging.INFO, logger="mrbf_spark.functions.dedup"):
        auto = sorted(
            map(key, minhash_candidates(docs, threshold=0.2).collect())
        )
        release_scoped_caches()
    assert auto == exact
    assert any("-> exact" in r.message for r in caplog.records)

    caplog.clear()
    lsh = sorted(
        map(
            key,
            minhash_candidates(docs, threshold=0.2, guaranteed=False).collect(),
        )
    )
    release_scoped_caches()
    with caplog.at_level(logging.INFO, logger="mrbf_spark.functions.dedup"):
        routed = sorted(
            map(
                key,
                minhash_candidates(
                    docs, threshold=0.2, auto_cocount=0
                ).collect(),
            )
        )
        release_scoped_caches()
    assert routed == lsh
    assert any("-> lsh" in r.message for r in caplog.records)


def test_minhash_guaranteed_equals_bruteforce(spark):
    """guaranteed=True must return EXACTLY the Jaccard-≥τ pair set
    (prefix-filter blocking is complete, verify is exact): compare
    against an all-pairs brute force on a real corpus slice plus a
    planted near-dup."""
    from mrbf_spark.functions.dedup import minhash_candidates

    base = "the quick brown fox jumps over the lazy dog again and again in the field"
    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").limit(80)
    docs = docs.unionByName(
        spark.createDataFrame(
            [(900001, base), (900002, base.replace("field", "meadow"))],
            "doc_id long, text string",
        )
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_candidates(docs, threshold=0.2, guaranteed=True).collect()
    }
    sh = docs.select("doc_id", shingles_col(F.col("text"), 3).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    brute = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            jaccard_col(F.col("a.sh"), F.col("b.sh")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
        .collect()
    }
    assert set(got) == set(brute)
    assert (900001, 900002) in got
    for pair, j in brute.items():
        assert got[pair] == pytest.approx(j, abs=0)  # bit-identical doubles


def test_prefix_filter_boundary_integer_math(spark):
    """A pair with jaccard EXACTLY τ at a size where float ⌈τ·n⌉
    overshoots (0.2×15 → 3.0000000000000004) must still be found —
    the join's length filter is computed with integer arithmetic."""
    from mrbf_spark.functions.dedup import minhash_candidates

    xs = [f"a{i}" for i in range(1, 18)]  # 17 tokens → 15 shingles
    ys = xs[:7] + [f"b{i}" for i in range(1, 11)]  # shares exactly 5 shingles
    docs = spark.createDataFrame(
        [(1, " ".join(xs)), (2, " ".join(ys))], "doc_id long, text string"
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_candidates(docs, threshold=0.2, guaranteed=True).collect()
    }
    # i=5 shared, u=15+15−5=25 ⇒ jaccard exactly 0.2, on the boundary
    assert got == {(1, 2): 0.2}


def test_exact_jaccard_handles_sub_ngram_docs(spark):
    """Docs shorter than the shingle width keep one padded shingle;
    ANSI element_at THREW on the pad positions until r4 switched the
    hashed path to try_element_at. Identical 2-token docs must pair at
    jaccard 1.0 through BOTH shingle representations."""
    from mrbf_spark.functions.dedup import exact_jaccard_pairs

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "c")], "doc_id long, text string"
    )
    for hashed in (False, True):
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in exact_jaccard_pairs(docs, 0.2, hashed=hashed).collect()
        }
        assert got == {(1, 2): 1.0}, f"hashed={hashed}"


def test_exact_jaccard_max_df_drops_boilerplate_keeps_neardups(spark):
    """max_df (the hot-shingle skew relaxation): 60 docs sharing ONE
    verbatim boilerplate text would pair quadratically (C(60,2) output
    rows); with the cap those pairs vanish while a planted near-dup
    pair of UNIQUE texts — whose shingles have df=2 — must survive
    with its exact jaccard intact."""
    from mrbf_spark.functions.dedup import exact_jaccard_pairs

    hot = "the same boilerplate text repeated verbatim across the corpus shard"
    base = " ".join(f"u{i}" for i in range(30))
    near = base.replace("u29", "v29")
    rows = [(i, hot) for i in range(60)] + [(100, base), (101, near)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {
        (r["doc_a"], r["doc_b"])
        for r in exact_jaccard_pairs(docs, 0.2).collect()
    }
    assert len(uncapped) == 60 * 59 // 2 + 1  # quadratic hot block + the pair
    capped = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in exact_jaccard_pairs(docs, 0.2, max_df=10).collect()
    }
    assert set(capped) == {(100, 101)}
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in exact_jaccard_pairs(docs, 0.2).collect()
    }
    assert capped[(100, 101)] == exact[(100, 101)]


def test_exact_jaccard_max_df_semi_join_fallback_identical(spark, monkeypatch):
    """Past the drop-list broadcast ceiling the cap falls back to the
    shuffled keep-list semi-join; both paths must emit the identical
    pair set (anti(df>D) == semi(df<=D) since every index row's shingle
    appears in the census)."""
    from mrbf_spark.functions import dedup

    hot = "the same boilerplate text repeated verbatim across the corpus shard"
    base = " ".join(f"u{i}" for i in range(30))
    near = base.replace("u29", "v29")
    rows = [(i, hot) for i in range(60)] + [(100, base), (101, near)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bcast = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.exact_jaccard_pairs(docs, 0.2, max_df=10).collect()
    }
    monkeypatch.setattr(dedup, "_MAX_HOT_BROADCAST_ROWS", 0)
    semi = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup.exact_jaccard_pairs(docs, 0.2, max_df=10).collect()
    }
    assert bcast == semi == {(100, 101): bcast[(100, 101)]}


def test_exact_jaccard_hashed_equals_string(spark):
    """exact_jaccard_pairs(hashed=True) — the 8-byte-shuffle-key scale
    variant gated on the corpus injectivity certificate — must return
    bit-identical (pair, jaccard) rows to the portable string-shingle
    path."""
    from mrbf_spark.functions.dedup import exact_jaccard_pairs

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").limit(80)
    a = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in exact_jaccard_pairs(docs, 0.2, hashed=False).collect()
    }
    b = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in exact_jaccard_pairs(docs, 0.2, hashed=True).collect()
    }
    assert a == b  # exact doubles: same integer c, na, nb on both sides


def test_simhash_signature_properties(spark):
    """Charikar SimHash invariants: identical text ⇒ identical
    signature; token order does not change the signature (it is a sum
    of per-token votes); near-identical text lands within a few bits
    while unrelated text is far."""
    from mrbf_spark.functions.dedup import simhash_signatures

    base = "the quick brown fox jumps over the lazy dog again and again in the field"
    docs = spark.createDataFrame(
        [
            (0, base),
            (1, base),
            (2, " ".join(reversed(base.split()))),  # same bag of tokens
            (3, base.replace("field", "meadow")),
            (4, "completely unrelated words about spark catalyst optimizer internals"),
        ],
        "doc_id long, text string",
    )
    sig = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs).collect()}
    assert sig[0] == sig[1] == sig[2]
    near = bin(sig[0] ^ sig[3]).count("1")
    far = bin(sig[0] ^ sig[4]).count("1")
    assert near < far
    assert near <= 12  # one-token edit moves only a few bit votes
    assert far >= 16  # unrelated 64-bit signatures sit near hamming ~32


def test_simhash_finds_planted_duplicate(spark):
    """The registered quarter-banded pairing must surface a planted
    near-copy (small hamming ⇒ some 16-bit quarter equal, pigeonhole)
    and must not pair unrelated docs."""
    import mrbf_spark.functions.dedup as dd
    from mrbf_spark.tables import load_table

    base_docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "text").limit(30)
    base = "the quick brown fox jumps over the lazy dog again and again in the field"
    planted = spark.createDataFrame(
        [(100001, base), (100002, base.replace("field", "meadow"))],
        "doc_id long, text string",
    )
    docs = base_docs.unionByName(planted)
    sig = {r["doc_id"]: r["simhash"] for r in dd.simhash_signatures(docs).collect()}
    # banding threshold in simhash_pairs is hamming <= 6; the pair must
    # be found whenever its distance is under it (it is, for this fixed
    # text — asserted so a hash-family change that moves the distance
    # fails loudly here instead of silently skipping)
    assert bin(sig[100001] ^ sig[100002]).count("1") <= 6
    found = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in dd.simhash_pairs(docs).collect()}
    assert (100001, 100002) in found
    # no unrelated corpus doc may pair with the planted base text
    assert not any(
        100001 in pair or 100002 in pair
        for pair in found
        if pair != (100001, 100002)
    )


def test_simhash_census_consistent_with_pair_dump(spark):
    """The registered census entry (r9) must be the exact reduction of
    the full pair dump: Σ hamming_census.n = |pairs|; Σ degree k·n =
    2·|pairs|; Σ degree.n = |docs|; survivors = docs never appearing
    as doc_b, reported with their true degree."""
    from collections import Counter

    from mrbf_spark import catalog
    from mrbf_spark.functions.dedup import simhash_pairs
    from mrbf_spark.tables import load_table

    sf = SF_ORACLE
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in simhash_pairs(
            load_table(spark, sf, "documents").select("doc_id", "text")
        ).collect()
    ]
    n_docs = load_table(spark, sf, "documents").count()
    census = catalog.queries()["dedup_simhash"](spark, sf).collect()
    ham = {r["k"]: r["n"] for r in census if r["part"] == "hamming_census"}
    deg = {r["k"]: r["n"] for r in census if r["part"] == "degree"}
    surv = {r["k"]: r["n"] for r in census if r["part"] == "survivor"}
    assert sum(ham.values()) == len(pairs) > 0
    assert sum(k * n for k, n in deg.items()) == 2 * len(pairs)
    assert sum(deg.values()) == n_docs
    true_deg = Counter()
    for a, b in pairs:
        true_deg[a] += 1
        true_deg[b] += 1
    dup_b = {b for _, b in pairs}
    all_ids = {
        d for d, in load_table(spark, sf, "documents").select("doc_id").collect()
    }
    assert set(surv) == all_ids - dup_b
    for d, n in surv.items():
        assert n == true_deg.get(d, 0)


def test_bruteforce_topk_matches_numpy(spark):
    """Engine cosine top-k == numpy ground truth on the real table."""
    import numpy as np

    emb = load_table(spark, SF_SMOKE, "embeddings")
    pdf = emb.toPandas().sort_values("vec_id")
    mat = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    q = mat[ids == 3][0]
    sims = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = [int(ids[i]) for i in np.argsort(-sims) if ids[i] != 3][:5]

    queries = emb.filter(F.col("vec_id") == 3)
    got = (
        cosine_pairs(queries, emb)
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(5)
        .collect()
    )
    assert [r["vec_id"] for r in got] == order
    # fixed-point cosine within 1e-6 of float64 truth
    for r in got:
        truth = sims[ids == r["vec_id"]][0]
        assert abs(r["cosine"] - truth) < 1e-6


def test_ivf_flat_recall_vs_bruteforce(spark):
    """The deterministic IVF-flat quantizer (the hash-matched branch of
    ann_approx_topk) must also recover a useful share of the exact
    top-k — data-point centroids are a weaker quantizer than the
    k-means refinement, so the bar is lower, but a collapse to ~0
    recall would mean the cell assignment is broken even though the
    oracle (which replays the same assignment) still matches."""
    from mrbf_spark.catalog import queries
    from mrbf_spark.functions.similarity import ann_ivf_flat_topk

    exact = {}
    for r in queries()["ann_bruteforce_topk"](spark, SF_SMOKE).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    got = {}
    for r in ann_ivf_flat_topk(spark, SF_SMOKE).collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.4, recalls


def test_pq_topk_recall_vs_bruteforce(spark):
    """PQ ADC (8 codes/vector) + exact re-rank must recover most of
    the exact top-k (r7 default PQ_CAND=64 from the sweep: measured
    0.90 at sf0.001 / 0.825 at sf0.01 / 0.80 at sf0.1; floor set
    below all three), and every returned pair carries the exact
    fixed-point cosine — the re-rank is exact, so any hit that IS in
    the brute-force top-k has an identical score."""
    from mrbf_spark.catalog import queries
    from mrbf_spark.functions.similarity import ann_pq_topk

    exact_rows = queries()["ann_bruteforce_topk"](spark, SF_SMOKE).collect()
    exact = {}
    exact_cos = {}
    for r in exact_rows:
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
        exact_cos[(r["query_id"], r["vec_id"])] = r["cosine"]
    got = {}
    for r in ann_pq_topk(spark, SF_SMOKE).collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
        if (r["query_id"], r["vec_id"]) in exact_cos:
            assert abs(r["cosine"] - exact_cos[(r["query_id"], r["vec_id"])]) < 1e-12
    recalls = [len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.7, recalls


def test_pq_refined_codebooks_recall(spark):
    """The k-means-refined codebooks (pq_fit_codebooks — the quality
    path, no SQL twin) must hold a useful recall floor. Measured at
    sf0.01: refined 0.65 vs flat 0.60 at the old cand=32 (the
    MSE-lower codebooks win at realistic cell occupancy); at the r7
    default cand=64 both land ~0.85-0.90 at sf0.001 and the sweep
    shows the refinement no longer buys recall once cand ≥ 64 — so
    the pin is a floor, not superiority (rationale in SCALING.md)."""
    from mrbf_spark.catalog import queries
    from mrbf_spark.functions.similarity import pq_fit_codebooks, pq_topk
    from mrbf_spark.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    exact = {}
    for r in queries()["ann_bruteforce_topk"](spark, SF_SMOKE).collect():
        exact.setdefault(r["query_id"], set()).add(r["vec_id"])
    got = {}
    for r in pq_topk(emb, pq_fit_codebooks(emb)).collect():
        got.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [len(exact[q] & got.get(q, set())) / len(exact[q]) for q in exact]
    assert sum(recalls) / len(recalls) >= 0.7, recalls


def test_pq_codes_match_numpy_ground_truth(spark):
    """The engine's fixed-point PQ encode (argmax of 2·dot − ‖c‖² per
    subspace, lowest-code tie-break) equals an independent numpy
    replay for every vector — pins the encode itself, not just the
    top-k it produces."""
    import numpy as np

    from mrbf_spark.functions.similarity import (
        FIXED_SCALE,
        K_CODES,
        M_SUB,
        _flat_centroids,
        _pq_cnorm_fixed,
        pq_codes_col,
        with_matrix,
    )
    from mrbf_spark.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cb = _flat_centroids(emb, K_CODES)
    sub = cb.shape[1] // M_SUB
    cn = _pq_cnorm_fixed(cb, sub)
    cnorm = F.array(*[F.array(*[F.lit(v).cast("long") for v in row]) for row in cn])
    got = {
        r["vec_id"]: r["codes"]
        for r in with_matrix(emb, emb.sparkSession, cb)
        .select(
            "vec_id",
            pq_codes_col(F.col("embedding"), F.col("mat"), cnorm, sub).alias("codes"),
        )
        .collect()
    }
    rows = emb.collect()
    fixdot = lambda a, b: int(  # noqa: E731
        np.trunc(a * b * float(FIXED_SCALE)).astype(np.int64).sum()
    )
    for r in rows:
        x = np.array(r["embedding"], dtype=np.float64)
        want = []
        for s in range(M_SUB):
            xs = x[s * sub : (s + 1) * sub]
            sc = [
                2 * fixdot(xs, cb[j, s * sub : (s + 1) * sub]) - cn[j][s]
                for j in range(K_CODES)
            ]
            want.append(int(np.argmax(sc)))  # first max = lowest code id
        assert got[r["vec_id"]] == want, r["vec_id"]
        assert all(0 <= c < K_CODES for c in want)
        assert len(want) == M_SUB


def test_multimodal_plumbing(spark):
    """Binary payload column + Arrow feature extraction: schema,
    determinism, and batch shape."""
    p = binary_payloads(spark, SF_SMOKE)
    row = p.first()
    assert isinstance(row["payload"], (bytes, bytearray))
    assert row["mime"] == "text/plain"

    from mrbf_spark.functions.multimodal import multimodal_features

    feats = multimodal_features(spark, SF_SMOKE)
    a = feats.orderBy("doc_id").limit(3).collect()
    b = feats.orderBy("doc_id").limit(3).collect()
    assert a == b  # deterministic fake decode
    for r in a:
        assert len(r["feature"]) == FEATURE_DIM
        assert r["n_bytes"] > 0


def test_frame_sampling_shape_and_determinism(spark):
    """Strided frame sample: ≤MAX_FRAMES frames/doc, stride-2 indices,
    full frames only, and bit-identical across runs/partitionings."""
    from mrbf_spark.functions.multimodal import (
        FRAME_BYTES,
        FRAME_STRIDE,
        MAX_FRAMES,
        multimodal_frame_sample,
    )

    rows = multimodal_frame_sample(spark, SF_SMOKE).collect()
    assert rows, "no frames sampled"
    per_doc: dict[int, list] = {}
    for r in rows:
        per_doc.setdefault(r["doc_id"], []).append(r)
        assert r["n_bytes"] == FRAME_BYTES  # only full frames
        assert r["frame_idx"] % FRAME_STRIDE == 0
    assert max(len(v) for v in per_doc.values()) <= MAX_FRAMES
    again = {
        (r["doc_id"], r["frame_idx"]): r["digest"]
        for r in multimodal_frame_sample(spark, SF_SMOKE).collect()
    }
    assert {(r["doc_id"], r["frame_idx"]): r["digest"] for r in rows} == again


def test_decode_wav_roundtrip_exact():
    """REAL audio decode: stereo PCM16 round-trips bit-exact through
    the RIFF container (including the odd-size word-align pad)."""
    import numpy as np

    from mrbf_spark.functions.multimodal import decode_wav, encode_wav

    samples = np.array([[1000, -1000], [32767, -32768], [0, 7]], dtype=np.int16)
    rate, got = decode_wav(encode_wav(samples, 44100))
    assert rate == 44100
    assert got.shape == (3, 2)
    assert (got == samples).all()
    # mono with odd byte count in a text-derived payload
    mono = np.array([5, -5, 300], dtype=np.int16)
    rate2, got2 = decode_wav(encode_wav(mono, 8000))
    assert rate2 == 8000 and (got2[:, 0] == mono).all()


def test_audio_features_ground_truth():
    import numpy as np

    from mrbf_spark.functions.multimodal import audio_features

    samples = np.array([[100], [-100], [100], [-100]], dtype=np.int16)
    f = audio_features(200, samples)
    assert f[0] == 4 and f[1] == 200  # n_samples, rate
    assert abs(f[2] - 0.02) < 1e-6  # duration
    assert abs(f[3] - 100.0) < 1e-4  # rms of a square wave = amplitude
    assert f[4] == 3  # zero crossings
    assert f[5] == 100.0  # peak


def test_audio_decode_path_in_spark(spark):
    """WAV payloads decode through Arrow batches with numpy ground
    truth: the feature row for one doc must equal audio_features on a
    locally-decoded copy of the same payload."""
    import numpy as np

    from mrbf_spark.functions.multimodal import (
        audio_features,
        audio_payloads,
        decode_wav,
        multimodal_audio_features,
    )

    payload_row = audio_payloads(spark, SF_SMOKE).orderBy("doc_id").first()
    expect = audio_features(*decode_wav(bytes(payload_row["payload"])))
    got_row = (
        multimodal_audio_features(spark, SF_SMOKE)
        .filter(F.col("doc_id") == payload_row["doc_id"])
        .first()
    )
    assert np.allclose(np.array(got_row["feature"]), expect)
    assert got_row["n_bytes"] == len(payload_row["payload"])


def test_decode_image_unsupported_format_raises():
    """Formats beyond PPM/BMP need an imaging library this container
    lacks — the error must be the declared NotImplementedError."""
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG...")


def test_decode_ppm_pixel_exact():
    """REAL decode: a crafted 2x2 P6 image (with a header comment)
    round-trips to the exact pixel array."""
    import numpy as np

    from mrbf_spark.functions.multimodal import decode_ppm, encode_ppm

    pix = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [10, 20, 30]]], dtype=np.uint8
    )
    assert (decode_ppm(encode_ppm(pix)) == pix).all()
    commented = b"P6\n# a comment\n2 2\n255\n" + pix.tobytes()
    assert (decode_image(commented) == pix).all()


def test_decode_bmp_pixel_exact():
    """REAL decode: a hand-built 2x2 24bpp BMP (bottom-up rows, BGR,
    4-byte row padding) decodes to the exact RGB array."""
    import struct

    import numpy as np

    from mrbf_spark.functions.multimodal import decode_bmp

    pix = np.array(
        [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [10, 20, 30]]], dtype=np.uint8
    )
    w = h = 2
    stride = (w * 3 + 3) & ~3
    rows = b""
    for y in range(h - 1, -1, -1):  # bottom-up
        row = b"".join(bytes([b, g, r]) for r, g, b in pix[y])
        rows += row + b"\x00" * (stride - len(row))
    header = (
        b"BM"
        + struct.pack("<IHHI", 54 + len(rows), 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(rows), 0, 0, 0, 0)
    )
    assert (decode_bmp(header + rows) == pix).all()
    assert (decode_image(header + rows) == pix).all()


def test_feature_batches_decode_ground_truth(spark):
    """The registered decode path: PPM payloads built from document
    text must decode back to the padded text bytes, and the feature
    vector must equal the numpy ground truth computed off-Spark."""
    import numpy as np

    from mrbf_spark.functions.multimodal import (
        PPM_WIDTH,
        decode_ppm,
        image_features,
        image_payloads,
        multimodal_features,
    )
    from mrbf_spark.tables import load_table

    texts = {
        r["doc_id"]: r["text"]
        for r in load_table(spark, SF_SMOKE, "documents").limit(5).collect()
    }
    payloads = {
        r["doc_id"]: bytes(r["payload"])
        for r in image_payloads(spark, SF_SMOKE).limit(50).collect()
        if r["doc_id"] in texts
    }
    feats = {
        r["doc_id"]: r["feature"]
        for r in multimodal_features(spark, SF_SMOKE).limit(50).collect()
        if r["doc_id"] in texts
    }
    assert payloads and feats
    row_bytes = PPM_WIDTH * 3
    for doc_id, payload in payloads.items():
        raw = texts[doc_id].encode("utf-8")
        img = decode_ppm(payload)
        flat = img.reshape(-1)
        assert img.shape[1] == PPM_WIDTH
        assert len(flat) >= len(raw) and (flat[: len(raw)] == np.frombuffer(raw, np.uint8)).all()
        assert not flat[len(raw):].any()  # zero padding
        want = image_features(img)
        got = np.array(feats[doc_id], dtype=np.float32)
        assert np.array_equal(got, want), doc_id


def test_neardup_salted_exact_path_fans_out_and_matches_bruteforce(spark):
    """Exact-path salting (r2 VERDICT #5): a group at the exact cap must
    spread its pair generation over salt_b² distinct shuffle cells —
    never one task owning the whole quadratic pair space — while the
    produced pairs stay identical to the unsalted all-pairs result."""
    import numpy as np

    from mrbf_spark.functions.similarity import _neardup_sides, neardup_pairs

    rng = np.random.RandomState(7)
    n, dim, salt_b = 48, 8, 4
    vecs = rng.randn(n, dim).astype(np.float32)
    emb = spark.createDataFrame(
        [(int(i), "g0", [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, label string, embedding array<float>",
    )

    # Fan-out: with the cap at exactly the group size (the boundary the
    # verdict flagged), the A side must carry salt_b² distinct cells.
    a, _ = _neardup_sides(emb, exact_cap=n, salt_b=salt_b)
    cells = [r["bucket"] for r in a.select("bucket").distinct().collect()]
    assert len(cells) == salt_b * salt_b
    assert all(c < 0 for c in cells)  # disjoint from LSH signatures

    # Adaptive width: far below the cap the group must collapse to ONE
    # cell — no replication overhead for ordinary groups.
    a_small, _ = _neardup_sides(emb, exact_cap=100_000, salt_b=16)
    assert a_small.select("bucket").distinct().count() == 1

    # Correctness: salted pairs == numpy brute-force pairs over tau.
    got = {
        (r["vec_a"], r["vec_b"])
        for r in neardup_pairs(emb, tau=0.3, exact_cap=n, salt_b=salt_b).collect()
    }
    norms = np.linalg.norm(vecs.astype(np.float64), axis=1)
    want = set()
    for i in range(n):
        for j in range(i + 1, n):
            cos = float(vecs[i].astype(np.float64) @ vecs[j].astype(np.float64)) / (
                norms[i] * norms[j]
            )
            if cos >= 0.3:
                want.add((i, j))
    assert got == want


def test_semdedup_matches_exact_reference(spark):
    """SemDeDup end-to-end vs an independent numpy replay of the whole
    deterministic pipeline (flat centroids → fixed-point cell argmax →
    centroid cosine → within-cell pair cosines → keeper rule): planted
    near-copies of anchor vectors must be dropped, exactly one keeper
    per duplicate group, and every (cell, cent_cosine, keep) cell must
    agree bit-for-bit."""
    import numpy as np

    from mrbf_spark.functions.similarity import (
        FIXED_SCALE,
        N_CENTROIDS,
        semdedup_verdicts,
    )

    rng = np.random.RandomState(11)
    dim = 8
    anchors = rng.randn(N_CENTROIDS + 4, dim)
    rows = [v for v in anchors]
    # plant 6 near-copies of three anchors (tiny perturbations →
    # cosine ≈ 1 ≫ τ); they should land in the anchor's cell
    for a_idx in (2, 5, 9):
        for _ in range(2):
            rows.append(anchors[a_idx] + rng.randn(dim) * 1e-3)
    vecs = np.array(rows, dtype=np.float64)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id long, embedding array<float>",
    )
    # the engine reads float32-rounded values; replay that in the ref
    vecs32 = vecs.astype(np.float32).astype(np.float64)

    def fdot(a, b):
        return int(np.trunc(a * b * FIXED_SCALE).astype(np.int64).sum())

    cents = vecs32[:N_CENTROIDS]
    tau = 0.5
    cell_of, ccos_of = {}, {}
    for i in range(len(vecs32)):
        dots = [fdot(vecs32[i], c) for c in cents]
        cell = int(np.argmax(dots))  # first max, like array_position
        cell_of[i] = cell
        num = dots[cell] / FIXED_SCALE
        ccos_of[i] = num / (
            np.sqrt(fdot(vecs32[i], vecs32[i]) / FIXED_SCALE)
            * np.sqrt(fdot(cents[cell], cents[cell]) / FIXED_SCALE)
        )
    dup_pairs = set()
    for i in range(len(vecs32)):
        for j in range(i + 1, len(vecs32)):
            if cell_of[i] != cell_of[j]:
                continue
            cos = (fdot(vecs32[i], vecs32[j]) / FIXED_SCALE) / (
                np.sqrt(fdot(vecs32[i], vecs32[i]) / FIXED_SCALE)
                * np.sqrt(fdot(vecs32[j], vecs32[j]) / FIXED_SCALE)
            )
            if cos >= tau:
                dup_pairs.add((i, j))
    keep_ref = {}
    for i in range(len(vecs32)):
        neighbors = [b for a, b in dup_pairs if a == i] + [
            a for a, b in dup_pairs if b == i
        ]
        keep_ref[i] = not any(
            (ccos_of[y], y) < (ccos_of[i], i) for y in neighbors
        )

    got = {
        r["vec_id"]: (r["cell"], r["cent_cosine"], r["keep"])
        for r in semdedup_verdicts(emb, tau=tau).collect()
    }
    assert set(got) == set(range(len(vecs32)))
    for i in range(len(vecs32)):
        assert got[i] == (cell_of[i], ccos_of[i], keep_ref[i]), (
            i, got[i], (cell_of[i], ccos_of[i], keep_ref[i])
        )
    # the planted copies produced real duplicate groups: each planted
    # triple is mutually connected (pairwise cosine ≈ 1), so at most
    # one member can survive; and the globally least-prototypical
    # member of every connected dup component is always kept
    dropped = [i for i, (_, _, k) in got.items() if not k]
    assert len(dropped) >= 3
    planted = {2: [], 5: [], 9: []}
    for off, a_idx in enumerate((2, 5, 9)):
        planted[a_idx] = [
            a_idx,
            N_CENTROIDS + 4 + 2 * off,
            N_CENTROIDS + 4 + 2 * off + 1,
        ]
    for a_idx, group in planted.items():
        for x in group:
            for y in group:
                if x < y:
                    assert (x, y) in dup_pairs, (x, y)
        kept = [i for i in group if got[i][2]]
        assert len(kept) <= 1, (a_idx, group, kept)
    # component minima survive
    adj = {i: set() for i in range(len(vecs32))}
    for a, b in dup_pairs:
        adj[a].add(b)
        adj[b].add(a)
    seen = set()
    for start in range(len(vecs32)):
        if start in seen or not adj[start]:
            continue
        comp, todo = set(), [start]
        while todo:
            v = todo.pop()
            if v in comp:
                continue
            comp.add(v)
            todo.extend(adj[v] - comp)
        seen |= comp
        champion = min(comp, key=lambda i: (ccos_of[i], i))
        assert got[champion][2], (champion, comp)
        assert any(not got[i][2] for i in comp if i != champion) or len(comp) == 1


def test_kmeans_fit_matches_exact_reference_and_is_partition_invariant(spark):
    """Distributed full-corpus Lloyd vs an exact numpy replay (flat
    init, fixed-point argmax assignment, exact integer per-dimension
    sums, empty cells keep their centroid) — centroids must agree
    bit-for-bit, including across a repartition (the integer sums are
    order-independent, so partitioning cannot leak into the result)."""
    import numpy as np

    from mrbf_spark.functions.similarity import (
        FIXED_SCALE,
        kmeans_assign,
        kmeans_fit,
    )

    rng = np.random.RandomState(3)
    n, dim, k, iters = 60, 6, 4, 3
    vecs = rng.randn(n, dim)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in vecs[i]]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    vecs32 = vecs.astype(np.float32).astype(np.float64)

    def fdot(a, b):
        return int(np.trunc(a * b * FIXED_SCALE).astype(np.int64).sum())

    cent_ref = vecs32[:k].copy()
    for _ in range(iters):
        assign = np.array(
            [
                int(np.argmax([fdot(v, c) for c in cent_ref]))
                for v in vecs32
            ]
        )
        nxt = cent_ref.copy()
        for c in range(k):
            members = vecs32[assign == c]
            if len(members):
                sums = np.trunc(members * FIXED_SCALE).astype(np.int64).sum(axis=0)
                nxt[c] = sums / (FIXED_SCALE * len(members))
        cent_ref = nxt

    got = kmeans_fit(emb, k=k, iters=iters)
    assert got.shape == (k, dim)
    assert np.array_equal(got, cent_ref)

    got_repart = kmeans_fit(emb.repartition(7), k=k, iters=iters)
    assert np.array_equal(got_repart, cent_ref)

    # assignment helper agrees with the reference on the final fit
    cells = {
        r["vec_id"]: r["cell"] for r in kmeans_assign(emb, got).collect()
    }
    final_ref = {
        i: int(np.argmax([fdot(vecs32[i], c) for c in cent_ref]))
        for i in range(n)
    }
    assert cells == final_ref


def test_temperature_mixture_semantics(spark):
    """Temperature rebalancing (α=1/2, largest stratum pinned at rate
    1): every stratum's census matches an independent Python replay of
    floor(sqrt(n_max/n_s)) + md5-fraction extra copies; the largest
    stratum is returned UNCHANGED; scarce strata only ever upsample
    (n_rows ≥ n_s); and post-mixture shares are strictly closer to
    uniform than the input's."""
    import hashlib
    import math

    from mrbf_spark.functions.sampling import (
        TEMP_FRAC_SCALE,
        temperature_mixture,
    )

    d = load_table(spark, SF_SMOKE, "documents")
    rows = d.select("doc_id", "lang", "n_chars").collect()
    n_s = {}
    for r in rows:
        n_s[r["lang"]] = n_s.get(r["lang"], 0) + 1
    n_max = max(n_s.values())
    want = {}
    for r in rows:
        rate = math.sqrt(n_max / n_s[r["lang"]])
        tfrac = int((rate - math.floor(rate)) * float(TEMP_FRAC_SCALE))
        h = int(hashlib.md5(f"{r['doc_id']}:temp".encode()).hexdigest()[:15], 16)
        k = int(math.floor(rate)) + (1 if h % TEMP_FRAC_SCALE < tfrac else 0)
        w = want.setdefault(r["lang"], [0, 0])
        w[0] += k
        w[1] += k * r["n_chars"]
    got = {
        r["lang"]: (r["n_rows"], r["total_chars"])
        for r in temperature_mixture(spark, SF_SMOKE).collect()
    }
    assert got == {k: tuple(v) for k, v in want.items()}
    big = max(n_s, key=lambda k: n_s[k])
    assert got[big][0] == n_s[big]
    assert all(got[k][0] >= n_s[k] for k in n_s)
    tot_in, tot_out = sum(n_s.values()), sum(v[0] for v in got.values())
    for k in n_s:
        if k == big:
            continue
        assert abs(got[k][0] / tot_out - 1 / len(n_s)) < abs(
            n_s[k] / tot_in - 1 / len(n_s)
        ), k


def test_dedup_exact_priority_keeper(spark):
    """The source-priority keeper retains the preferred-source copy of
    a duplicated text even when its doc_id is larger, falls back to
    min doc_id among equal priorities, and equals keep_id when no
    preferred source holds a copy."""
    from mrbf_spark.functions.dedup import PREFERRED_SOURCES

    docs = spark.createDataFrame(
        [
            (1, "dup one", "crawl"),
            (2, "dup one", PREFERRED_SOURCES[0]),
            (3, "dup one", PREFERRED_SOURCES[1]),
            (10, "dup two", "crawl"),
            (11, "dup two", "crawl2"),
            (20, "dup three", PREFERRED_SOURCES[1]),
            (21, "dup three", PREFERRED_SOURCES[1]),
        ],
        "doc_id long, text string, source string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(f"{td}/documents.parquet")
        from mrbf_spark.functions.dedup import dedup_exact

        out = {
            r["keep_id"]: (r["keep_id_pref"], r["n_copies"])
            for r in dedup_exact(spark, td).collect()
        }
    # dup one: src7 (rank 0) wins over smaller-id crawl and src3
    assert out[1] == (2, 3)
    # dup two: no preferred source -> min doc_id
    assert out[10] == (10, 2)
    # dup three: equal priority -> min doc_id tie-break
    assert out[20] == (20, 2)


def test_curate_corpus_drops_each_planted_defect_exactly(spark):
    """End-to-end curation over a corpus with one planted defect per
    stage: the census must attribute each drop to its stage and the
    survivors must be exactly the clean docs."""
    import numpy as np

    from mrbf_spark.functions.curate import curate_corpus
    from mrbf_spark.registry import release_scoped_caches

    rng = np.random.RandomState(9)
    vocab = [f"tok{i}" for i in range(60)]

    def doc(n=30):
        return " ".join(rng.choice(vocab, size=n))

    base = {i: doc() for i in range(20)}  # clean docs, > N_CENTROIDS
    rows = [(i, t, "en", "web") for i, t in base.items()]
    rows.append((100, base[3], "en", "web"))  # exact dup of 3
    # near-dup of 5 (high Jaccard: same shingles, one word changed)
    toks5 = base[5].split()
    toks5[10] = "changedword"
    rows.append((101, " ".join(toks5), "en", "web"))
    rows.append((102, "tiny", "en", "web"))  # fails token floor
    rows.append((103, doc(), "de", "web"))  # fails lang gate
    eval_text = doc()
    rows.append((104, eval_text, "en", "web"))  # contaminated (== eval)
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    )
    eval_docs = spark.createDataFrame(
        [(0, eval_text)], "doc_id long, text string"
    )

    curated, census = curate_corpus(
        docs, eval_docs, jaccard_tau=0.5
    )
    got = {r["doc_id"] for r in curated.select("doc_id").collect()}
    release_scoped_caches()

    stages = dict(census)
    assert stages["input"] == 25
    assert stages["exact_dedup"] == 24  # doc 100 dropped (dup of 3)
    assert stages["quality_gate"] == 22  # 102 (short) + 103 (lang)
    assert stages["neardup_jaccard"] == 21  # 101 dropped (keeps 5)
    # semantic stage may drop random coincidences only; planted pairs
    # are already gone — expect no further semantic drops here
    assert stages["semantic_dedup"] == 21
    assert stages["decontaminate"] == 20  # 104 dropped
    assert got == set(base)  # exactly the 20 clean docs survive


def test_text_hash_embeddings_match_md5_replay_and_dedup_planted_copy(spark):
    """text_hash_embeddings vs an independent md5 replay (bigram
    shingles, 60-bit slot, nibble sign, signed counts), and
    text-semdedup end-to-end: a planted near-verbatim copy must be
    detected (one of the pair dropped) while distinct docs survive."""
    import hashlib

    import numpy as np

    from mrbf_spark.functions.similarity import semdedup_verdicts
    from mrbf_spark.functions.text_embedding import (
        TE_DIM,
        TE_SALT,
        text_hash_embeddings,
    )
    from mrbf_spark.registry import release_scoped_caches

    # > N_CENTROIDS docs: with k >= n every doc is its own centroid
    # and no pair ever shares a cell (SemDeDup degenerates — the real
    # corpus has docs >> k)
    rng = np.random.RandomState(5)
    vocab = [f"w{i}" for i in range(40)]
    texts = {
        i: " ".join(rng.choice(vocab, size=30)) for i in range(20)
    }
    texts[20] = texts[0].rsplit(" ", 1)[0] + " changed"  # near-copy of 0
    texts[21] = "single"  # 1-token fallback path
    docs = spark.createDataFrame(
        [(i, t) for i, t in texts.items()], "doc_id long, text string"
    )

    def ref_vec(text):
        toks = text.lower().split(" ")
        shingles = (
            [a + " " + b for a, b in zip(toks, toks[1:])]
            if len(toks) >= 2
            else [toks[0]]
        )
        v = np.zeros(TE_DIM)
        for t in shingles:
            slot = int(
                hashlib.md5(f"{TE_SALT}:{t}".encode()).hexdigest()[:15], 16
            ) % TE_DIM
            sign = 1 if int(hashlib.md5(t.encode()).hexdigest()[15], 16) % 2 == 0 else -1
            v[slot] += sign
        return v

    got = {
        r["vec_id"]: np.array(r["embedding"])
        for r in text_hash_embeddings(docs).collect()
    }
    assert set(got) == set(texts)
    for i, t in texts.items():
        assert np.array_equal(got[i], ref_vec(t)), i

    verd = {
        r["vec_id"]: r["keep"]
        for r in semdedup_verdicts(
            text_hash_embeddings(docs), tau=0.8
        ).collect()
    }
    release_scoped_caches()
    assert verd[21]  # the 1-token doc survives
    assert verd[0] != verd[20]  # the near-copy pair keeps exactly one
    assert sum(not k for k in verd.values()) <= 2  # distinct docs survive


def test_ann_index_persists_and_probe_matches_inmemory(spark, tmp_path):
    """Persisted-IVF probe == the in-memory ann_ivf_flat_topk on the
    same corpus/queries (flat centroids), and the probe's corpus scan
    is PARTITION-PRUNED on cell — it reads only the probed partition
    directories, never the whole index."""
    from mrbf_spark.functions.ann_index import (
        ann_index_probe,
        read_ann_centroids,
        write_ann_index,
    )
    from mrbf_spark.functions.similarity import (
        N_QUERIES,
        _flat_centroids,
        ann_ivf_flat_topk,
    )

    idx = str(tmp_path / "ann_idx")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    cent = write_ann_index(emb, idx)
    import numpy as np

    assert np.array_equal(cent, _flat_centroids(emb))
    assert np.array_equal(read_ann_centroids(spark, idx), cent)

    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ann_index_probe(spark, idx, queries)
    want = ann_ivf_flat_topk(spark, SF_SMOKE)
    g = {(r["query_id"], r["vec_id"], r["rnk"], r["cosine"]) for r in got.collect()}
    w = {(r["query_id"], r["vec_id"], r["rnk"], r["cosine"]) for r in want.collect()}
    assert g == w and len(g) > 0

    # pruning pin: a 2-query/2-probe batch must scan with a cell IN
    # partition filter listing at most 4 of the 16 partition dirs
    import os

    n_dirs = len(
        [d for d in os.listdir(os.path.join(idx, "corpus")) if d.startswith("cell=")]
    )
    small = ann_index_probe(
        spark, idx, queries.filter(F.col("query_id") < 2), nprobe=2
    )
    plan = small._jdf.queryExecution().executedPlan().toString()
    # (match on the filter itself: Spark truncates the Location path,
    # so the "corpus" directory name may not survive into the string)
    scan_line = next(
        l
        for l in plan.splitlines()
        if "FileScan" in l and "PartitionFilters: [cell" in l
    )
    in_list = scan_line.split("IN (", 1)[1].split(")")[0]
    n_probed = in_list.count(",") + 1
    assert n_probed <= 4 < n_dirs, (in_list, n_dirs)


def test_pq_index_persists_and_probe_matches_inmemory(spark, tmp_path):
    """Persisted-PQ probe == the in-memory pq_topk on the same
    corpus/queries (flat codebook); the codebook round-trips
    bit-exactly; and the re-rank's vectors read carries a STATIC
    vec_id IN pushdown (≤ queries×PQ_CAND ids) — the full-vector table
    is never scanned whole."""
    import numpy as np

    from mrbf_spark.functions.ann_index import (
        pq_index_probe,
        read_pq_codebook,
        write_pq_index,
    )
    from mrbf_spark.functions.similarity import (
        K_CODES,
        N_QUERIES,
        PQ_CAND,
        _flat_centroids,
        pq_topk,
    )

    idx = str(tmp_path / "pq_idx")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    cb = write_pq_index(emb, idx)
    assert np.array_equal(cb, _flat_centroids(emb, K_CODES))
    assert np.array_equal(read_pq_codebook(spark, idx), cb)

    queries = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = pq_index_probe(spark, idx, queries)
    want = pq_topk(emb)
    g = {(r["query_id"], r["vec_id"], r["rnk"], r["cosine"]) for r in got.collect()}
    w = {(r["query_id"], r["vec_id"], r["rnk"], r["cosine"]) for r in want.collect()}
    assert g == w and len(g) > 0

    plan = got._jdf.queryExecution().executedPlan().toString()
    scan_line = next(
        l
        for l in plan.splitlines()
        if "FileScan" in l and "vec_id" in l and "PushedFilters: [In(vec_id" in l
    )
    in_list = scan_line.split("In(vec_id, [", 1)[1].split("]")[0]
    n_ids = in_list.count(",") + 1
    assert n_ids <= N_QUERIES * PQ_CAND, n_ids


@pytest.mark.slow
def test_dense_topk_indexed_equals_exact_dense_topk(spark, tmp_path):
    """r7 (VERDICT r6 next-round #1): the dense retrieval branch served
    from the persisted PQ index must reproduce the exact corpus-embed
    dense_topk. With cand ≥ corpus the ADC stage passes every doc to
    the exact re-rank, so the composition (query-only embedding → LUT →
    integer ADC → vec_id-IN-pushed-down re-rank) is EQUALITY-checked —
    ids, ranks, and bit-exact cosines. Recall at production cand is the
    measured sweep in SCALING.md (kmeans codebooks: 0.95/1.00 at
    cand=8k/16k, sf0.01); approximation can only drop tail members,
    never alter a returned cosine (the re-rank is exact)."""
    from mrbf_spark.functions.retrieval import (
        QUERY_TEXT,
        build_dense_pq_index,
        dense_topk,
        dense_topk_indexed,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    idx = str(tmp_path / "dense_pq")
    # flat build: the codebook flavor is equality-irrelevant once
    # cand ≥ corpus (every doc reaches the exact re-rank)
    build_dense_pq_index(docs, idx, use_kmeans=False)
    n_docs = docs.count()
    got = {
        (r["doc_id"], r["rnk"], r["cosine"])
        for r in dense_topk_indexed(
            spark, idx, QUERY_TEXT, k=10, cand=n_docs
        ).collect()
    }
    want = {
        (r["doc_id"], r["rnk"], r["cosine"])
        for r in dense_topk(docs, QUERY_TEXT, k=10).collect()
    }
    assert got == want and len(got) == 10


@pytest.mark.slow
def test_dense_topk_indexed_embeds_only_the_query(spark, tmp_path):
    """The probe plan must not contain the corpus text-embedding
    derivation — per-query cost is independent of corpus embedding.
    Pinned structurally: the probe's plan reads the persisted
    codes/vectors parquet and never scans documents.parquet."""
    from mrbf_spark.functions.retrieval import (
        QUERY_TEXT,
        build_dense_pq_index,
        dense_topk_indexed,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    idx = str(tmp_path / "dense_pq2")
    build_dense_pq_index(docs, idx, use_kmeans=False)
    probe = dense_topk_indexed(spark, idx, QUERY_TEXT, k=5)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "documents.parquet" not in plan, "probe re-scans the corpus"
    assert probe.count() == 5


def test_perplexity_buckets_match_duckdb(spark):
    """Rank-tertile perplexity buckets parity (composes the LM oracle)
    plus invariants: buckets are contiguous in rank, sizes within 1 of
    n/3, and the distributed rank is a 1..n permutation."""
    import os as _os
    import sys as _sys

    _sys.path.insert(
        0,
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "tools"
        ),
    )
    from check_correctness import compare, duck_con

    from mrbf_spark.functions.lm import (
        PPL_BUCKETS,
        perplexity_buckets,
        perplexity_buckets_duckdb_sql,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    spark_pdf = perplexity_buckets(docs).toPandas()
    con = duck_con(SF_SMOKE)
    duck_pdf = con.sql(perplexity_buckets_duckdb_sql()).df()
    problems = compare("ppl_buckets", spark_pdf, duck_pdf)
    assert not problems, problems

    n = len(spark_pdf)
    assert sorted(spark_pdf["rank"]) == list(range(1, n + 1))
    sizes = spark_pdf.groupby("bucket").size()
    assert set(sizes.index) == set(range(PPL_BUCKETS))
    assert sizes.max() - sizes.min() <= 1
    by_rank = spark_pdf.sort_values("rank")["bucket"].tolist()
    assert by_rank == sorted(by_rank)  # contiguous in rank


def test_chunk_documents_matches_duckdb(spark):
    """Overlapping token chunking parity: chunk ids, sizes, and texts
    must match the DuckDB twin cell-for-cell; adjacent chunks share
    exactly `overlap` tokens."""
    import os as _os
    import sys as _sys

    _sys.path.insert(
        0,
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "tools"
        ),
    )
    from check_correctness import compare, duck_con

    from mrbf_spark.functions.packing import (
        CHUNK_OVERLAP,
        CHUNK_SIZE,
        chunk_documents,
        chunk_documents_duckdb_sql,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    spark_pdf = chunk_documents(docs).toPandas()
    con = duck_con(SF_SMOKE)
    duck_pdf = con.sql(chunk_documents_duckdb_sql()).df()
    problems = compare("chunks", spark_pdf, duck_pdf)
    assert not problems, problems

    # overlap invariant on a doc with several chunks
    rows = sorted(
        (
            r
            for r in chunk_documents(docs).collect()
            if r["doc_id"] == spark_pdf.groupby("doc_id").size().idxmax()
        ),
        key=lambda r: r["chunk_id"],
    )
    for a, b in zip(rows, rows[1:]):
        ta, tb = a["chunk_text"].split(" "), b["chunk_text"].split(" ")
        assert ta[CHUNK_SIZE - CHUNK_OVERLAP :] == tb[: CHUNK_OVERLAP]


BM25_QUERY = ["table", "scan", "fast"]


def test_bm25_matches_duckdb(spark):
    """BM25 fixed-point parity: the Spark expression and the DuckDB
    twin (identical association order, TRUNC before the BIGINT cast)
    must agree cell-for-cell — the in-suite version of the catalog's
    oracle gate for this library op."""
    import os as _os
    import sys as _sys

    _sys.path.insert(
        0,
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "tools"
        ),
    )
    from check_correctness import compare, duck_con

    from mrbf_spark.functions.retrieval import bm25_duckdb_sql, bm25_topk

    spark_pdf = bm25_topk(
        load_table(spark, SF_SMOKE, "documents"), BM25_QUERY
    ).toPandas()
    con = duck_con(SF_SMOKE)  # hold the ref: the relation is lazy
    duck_pdf = con.sql(bm25_duckdb_sql(BM25_QUERY)).df()
    problems = compare("bm25", spark_pdf, duck_pdf)
    assert not problems, problems


def test_bm25_ranking_semantics(spark):
    """A doc stuffed with the query terms must outrank docs without
    them; docs with zero hit terms never appear; scores decrease with
    rank."""
    from mrbf_spark.functions.retrieval import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "table scan fast table scan fast table"),
            (2, "table of contents unrelated words here"),
            (3, "completely different text about nothing"),
            (4, "fast fast fast scan"),
        ],
        "doc_id long, text string",
    )
    rows = bm25_topk(docs, BM25_QUERY, k=10).orderBy("rnk").collect()
    ids = [r["doc_id"] for r in rows]
    assert 3 not in ids  # zero hit terms
    assert ids[0] in (1, 4) and 2 == ids[-1]
    scores = [r["score_q"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_rrf_fusion_semantics(spark):
    """RRF exactness on hand-built branches: fused_q is the exact
    integer sum of trunc(1e9/(60+rnk)) contributions; a doc in both
    branches outranks a better-single-branch doc when the sums say so;
    ties break by doc_id."""
    from mrbf_spark.functions.retrieval import RRF_K0, rrf_fuse

    b1 = spark.createDataFrame([(10, 1), (20, 2), (30, 3)], "doc_id long, rnk int")
    b2 = spark.createDataFrame([(20, 1), (40, 2), (10, 3)], "doc_id long, rnk int")
    out = {r["doc_id"]: r for r in rrf_fuse([b1, b2], topk=10).collect()}

    def c(r):
        return int(1e9 / (RRF_K0 + r))

    assert out[20]["fused_q"] == c(2) + c(1) and out[20]["n_branches"] == 2
    assert out[10]["fused_q"] == c(1) + c(3)
    assert out[30]["fused_q"] == c(3) and out[30]["n_branches"] == 1
    # both-branch docs outrank the single-branch ones here
    assert out[20]["rnk"] == 1 and out[10]["rnk"] == 2
    # equal single contributions (rnk 2 vs 2? no: 30 at c(3), 40 at
    # c(2)) -> strictly ordered; check full ranking is by fused desc
    ranked = sorted(out.values(), key=lambda r: r["rnk"])
    vals = [r["fused_q"] for r in ranked]
    assert vals == sorted(vals, reverse=True)


def test_rrf_tiebreak_by_doc_id(spark):
    """Docs with IDENTICAL fused scores (same rank in disjoint
    branches) order by doc_id ascending."""
    from mrbf_spark.functions.retrieval import rrf_fuse

    b1 = spark.createDataFrame([(7, 1)], "doc_id long, rnk int")
    b2 = spark.createDataFrame([(3, 1)], "doc_id long, rnk int")
    rows = rrf_fuse([b1, b2], topk=10).orderBy("rnk").collect()
    assert [r["doc_id"] for r in rows] == [3, 7]
    assert rows[0]["fused_q"] == rows[1]["fused_q"]


def test_dense_topk_ranks_query_like_doc_first(spark):
    """The dense branch must put a verbatim query-text doc at rank 1
    and exclude nothing (every doc has a cosine); ranking is total."""
    from mrbf_spark.functions.retrieval import QUERY_TEXT, dense_topk

    docs = spark.createDataFrame(
        [
            (1, QUERY_TEXT),
            (2, "an unrelated document about other things"),
            (3, "table scan fast table scan fast"),
        ],
        "doc_id long, text string",
    )
    rows = dense_topk(docs, QUERY_TEXT, k=10).orderBy("rnk").collect()
    assert rows[0]["doc_id"] == 1 and rows[0]["cosine"] > 0.999
    assert len(rows) == 3


def test_cli_shard_and_dedup_inc(spark, tmp_path, capsys):
    """The new CLI jobs run end-to-end: `shard` writes N shard dirs;
    `dedup-inc` bootstraps an index from --history and classifies the
    increment, matching the catalog entry's status census."""
    import os

    from mrbf_spark.__main__ import main
    from mrbf_spark.catalog import queries
    from mrbf_spark.functions.sampling import N_SHARDS
    import pyspark.sql.functions as F2

    docs = f"{SF_SMOKE}/documents.parquet"
    out = str(tmp_path / "shards")
    assert main(["shard", "--input", docs, "--out", out]) == 0
    shard_dirs = {p for p in os.listdir(out) if p.startswith("shard=")}
    assert len(shard_dirs) == N_SHARDS

    hist = str(tmp_path / "hist")
    inc = str(tmp_path / "inc")
    d = load_table(spark, SF_SMOKE, "documents")
    d.filter(F2.pmod(F2.col("doc_id"), F2.lit(10)) < 7).write.parquet(hist)
    d.filter(F2.pmod(F2.col("doc_id"), F2.lit(10)) >= 7).write.parquet(inc)
    res = str(tmp_path / "res")
    assert main(["dedup-inc", "--input", inc, "--history", hist, "--out", res]) == 0
    got = {
        r["status"]: r["n"]
        for r in spark.read.parquet(res).groupBy("status").agg(F2.count(F2.lit(1)).alias("n")).collect()
    }
    want = {
        r["status"]: r["n"]
        for r in queries()["dedup_incremental"](spark, SF_SMOKE)
        .groupBy("status")
        .agg(F2.count(F2.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_incremental_dedup_statuses(spark):
    """Planted increments: a text copied from history must come back
    dup_of_history with the historical keeper; two new copies in the
    same batch resolve to one 'new' + one 'dup_in_batch'; a unique
    text is 'new' and keeps itself."""
    from mrbf_spark.functions.dedup import incremental_dedup
    from mrbf_spark.functions.text import fingerprint_col

    hist = spark.createDataFrame(
        [(1, "old doc one"), (2, "old doc two"), (3, "old doc one")],
        "doc_id long, text string",
    )
    index = (
        hist.select(fingerprint_col(F.col("text")).alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("hist_id"))
    )
    new = spark.createDataFrame(
        [
            (10, "OLD  doc one"),  # dup of history (normalized match)
            (11, "fresh doc"),  # new, duplicated in-batch by 12
            (12, "fresh doc"),
            (13, "unique doc"),  # new
        ],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: r for r in incremental_dedup(index, new).collect()}
    assert got[10]["status"] == "dup_of_history" and got[10]["keep_id"] == 1
    assert got[11]["status"] == "new" and got[11]["keep_id"] == 11
    assert got[12]["status"] == "dup_in_batch" and got[12]["keep_id"] == 11
    assert got[13]["status"] == "new" and got[13]["keep_id"] == 13


def test_global_shuffle_shard_layout_and_writer(spark, tmp_path):
    """Shuffle+shard export: the layout is a complete permutation
    (every doc exactly once, pos dense per shard), shards are
    hash-balanced, the layout is partitioning-invariant, and a written
    shard read back sequentially replays the layout's pos order."""
    from mrbf_spark.functions.sampling import (
        N_SHARDS,
        global_shuffle_shard,
        write_shuffled_shards,
    )

    # builder since r6 (registered as sampling_suite part=shard)
    layout = global_shuffle_shard(spark, SF_SMOKE).collect()
    docs = load_table(spark, SF_SMOKE, "documents")
    n_docs = docs.count()
    assert len(layout) == n_docs
    assert len({r["doc_id"] for r in layout}) == n_docs
    by_shard = {}
    for r in layout:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) <= set(range(N_SHARDS))
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(1, len(poss) + 1)), shard
    sizes = [len(v) for v in by_shard.values()]
    # 60-bit-uniform hash balance: no shard more than 2x the mean
    assert max(sizes) <= 2 * (n_docs / N_SHARDS), sizes

    # partitioning invariance: same layout from a repartitioned input
    relayout = {
        (r["doc_id"], r["shard"], r["pos"])
        for r in global_shuffle_shard(spark, SF_SMOKE).collect()
    }
    assert relayout == {(r["doc_id"], r["shard"], r["pos"]) for r in layout}

    # writer: each shard dir read back in file order == layout order
    out = str(tmp_path / "shards")
    write_shuffled_shards(docs.select("doc_id", "n_chars"), "doc_id", out)
    pos_order = {
        s: [
            d
            for d, p in sorted(
                ((r["doc_id"], r["pos"]) for r in layout if r["shard"] == s),
                key=lambda t: t[1],
            )
        ]
        for s in by_shard
    }
    import pandas as pd

    for s in by_shard:
        got = pd.read_parquet(f"{out}/shard={s}")["doc_id"].tolist()
        assert got == pos_order[s], f"shard {s} order mismatch"


def test_streaming_bloom_probe_equals_batch(spark):
    """The batch probe and FP report run unchanged on a stream: a
    static filter table probed by a readStream of the events gives the
    same per-key (false_positives, total_tests) as the batch probe.
    With `k` given and broadcast forced, the probe runs no action, so
    it plans on a stream."""
    from mrbf_spark.bloom import build_bloom_filters, fp_report, probe_bloom_filters

    ev = load_table(spark, SF_SMOKE, "events")
    # filters over purchase user_ids, keyed by event_type='purchase'
    purchases = ev.filter(F.col("event_type") == "purchase")
    filters = build_bloom_filters(purchases, "event_type", "user_id", 0.05)

    # FileStreamSource needs a directory or glob, not a bare file.
    raw = spark.readStream.schema("event_type string, user_id long").parquet(
        f"{SF_SMOKE}/events.parque[t]"
    )
    streamed = fp_report(
        probe_bloom_filters(raw, "event_type", "user_id", filters, k=5, broadcast=True),
        "event_type",
    )
    q = (
        streamed.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_bloom_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["key"]: (r["false_positives"], r["total_tests"])
            for r in spark.sql("SELECT * FROM t_bloom_stream").collect()
        }
    finally:
        q.stop()

    probed = probe_bloom_filters(ev, "event_type", "user_id", filters, k=5)
    want = {
        r["key"]: (r["false_positives"], r["total_tests"])
        for r in fp_report(probed, "event_type").collect()
    }
    assert got == want and "purchase" in got


def test_connected_components_transitive(spark):
    """A-B and B-C edges (no A-C edge) must land all three in one
    cluster labeled min(doc_id); isolated docs keep their own id."""
    from mrbf_spark.functions.dedup import assign_clusters

    docs = spark.createDataFrame([(i,) for i in range(1, 6)], "doc_id long")
    edges = spark.createDataFrame(
        [(2, 3), (1, 2), (4, 5)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in assign_clusters(docs, edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 4, 5: 4}


def test_cluster_edges_jaccard_threshold(spark):
    """Near-identical docs pair (jaccard ≥ τ); docs sharing only one
    boilerplate shingle (J = 1/5 < τ) generate no edge — the r4
    complete co-count edges enforce the threshold itself, not a
    blocking heuristic."""
    from mrbf_spark.functions.dedup import _cluster_edges

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = base.replace("kappa", "lambda")
    # 12 docs all sharing exactly one shingle "common words here" —
    # pairwise jaccard 1/5, far below CLUSTER_TAU, so no edges
    common = [(100 + i, f"common words here tail{i} filler{i}") for i in range(12)]
    docs = spark.createDataFrame(
        [(1, base), (2, near)] + common, "doc_id long, text string"
    )
    pairs = {(r["doc_a"], r["doc_b"]) for r in _cluster_edges(docs).collect()}
    assert (1, 2) in pairs
    assert not any(a >= 100 and b >= 100 for a, b in pairs)


def test_repetition_stats_exact(spark):
    """Hand-computed repetition signals on a 6-token doc:
    'a a a b b c' → top token 'a' 3/6, top bigram 'a a' 2/5."""
    from mrbf_spark.functions.text import repetition_stats_df

    docs = spark.createDataFrame([(1, "a a a b b c")], "doc_id long, text string")
    r = repetition_stats_df(docs).collect()[0]
    assert r["n_tokens"] == 6 and r["n_distinct"] == 3
    assert r["distinct_ratio"] == pytest.approx(0.5)
    assert r["top_token_frac"] == pytest.approx(3 / 6)
    assert r["top_bigram_frac"] == pytest.approx(2 / 5)


def test_quality_rules_matches_duckdb(spark):
    """Gopher rule battery parity: every count, fixed-point ratio, and
    rule boolean must agree cell-for-cell with the DuckDB twin — the
    rules are exact integer cross-multiplications, so any mismatch is
    a word/line-definition drift, not float noise."""
    import os as _os
    import sys as _sys

    _sys.path.insert(
        0,
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "tools"
        ),
    )
    from check_correctness import compare, duck_con

    from mrbf_spark.functions.quality_rules import (
        quality_rules,
        quality_rules_duckdb_sql,
    )

    spark_pdf = quality_rules(load_table(spark, SF_SMOKE, "documents")).toPandas()
    con = duck_con(SF_SMOKE)
    duck_pdf = con.sql(quality_rules_duckdb_sql()).df()
    problems = compare("quality_rules", spark_pdf, duck_pdf)
    assert not problems, problems
    # the battery must discriminate on this corpus, not rubber-stamp
    assert 0 < spark_pdf["gopher_pass"].sum() < len(spark_pdf)


def test_quality_rules_planted_failures(spark):
    """Each rule fires on a doc constructed to violate exactly it."""
    from mrbf_spark.functions.quality_rules import quality_rules

    planted = [
        (1, "the " + " ".join(f"w{i:02d}ord" for i in range(20))),  # clean
        (2, "the a b"),  # too few words
        (3, "the " + " ".join("x" * 40 for _ in range(10))),  # mwl too high
        (4, "the " + "# " * 30 + " ".join(f"ok{i}word" for i in range(10))),  # symbols
        (5, "the intro\n" + "\n".join(f"- item{i} here" for i in range(20))),  # bullets
        (6, "the one...\nmore lines...\nyet more...\nok line here"),  # ellipsis
        (7, "the " + " ".join("123456" for _ in range(20))),  # non-alpha words
        (8, " ".join(f"zz{i}word" for i in range(20))),  # no stopwords
    ]
    df = spark.createDataFrame(planted, "doc_id long, text string")
    rows = {r["doc_id"]: r.asDict() for r in quality_rules(df).collect()}
    assert rows[1]["gopher_pass"]
    expect_broken = {
        2: "r_nwords",
        3: "r_mwl",
        4: "r_symbol",
        5: "r_bullet",
        6: "r_ellipsis",
        7: "r_alpha",
        8: "r_stop",
    }
    for doc_id, rule in expect_broken.items():
        assert not rows[doc_id][rule], (doc_id, rule, rows[doc_id])
        assert not rows[doc_id]["gopher_pass"]


def test_validate_events_matches_duckdb(spark):
    """Deequ-style validation suite parity: one row per constraint,
    exact integer violation counts, cell-for-cell vs the DuckDB twin."""
    import os as _os
    import sys as _sys

    _sys.path.insert(
        0,
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "tools"
        ),
    )
    from check_correctness import compare, duck_con

    from mrbf_spark.functions.validation import (
        validate_events,
        validate_events_duckdb_sql,
    )

    spark_pdf = validate_events(
        load_table(spark, SF_SMOKE, "events"), load_table(spark, SF_SMOKE, "customer")
    ).toPandas()
    con = duck_con(SF_SMOKE)
    duck_pdf = con.sql(validate_events_duckdb_sql()).df()
    problems = compare("validate_events", spark_pdf, duck_pdf)
    assert not problems, problems
    assert len(spark_pdf) == 11 and spark_pdf["ok"].all()


def test_validate_events_planted_violations(spark):
    """Every constraint fires on a batch built to violate exactly it,
    and the violation COUNT is exact (not just the boolean)."""
    from datetime import datetime

    from mrbf_spark.functions.validation import validate_events

    rows = [
        # (event_id, ts, user_id, event_type, value, props)
        (1, datetime(2024, 1, 1), 10, "click", 1.0, '{"k": 1}'),
        (1, datetime(2024, 1, 2), 10, "click", 1.0, '{"k": 2}'),  # dup PK
        (2, datetime(2024, 1, 3), None, "view", 2.0, '{"k": 3}'),  # null user
        (3, datetime(2024, 1, 4), 10, "view", None, '{"k": 4}'),  # null value
        (4, datetime(2024, 1, 5), 10, "view", 3.0, None),  # null props
        (5, datetime(2024, 1, 6), 10, "view", -7.0, '{"k": 5}'),  # negative
        (6, datetime(2024, 1, 7), 10, "view", 9999.0, '{"k": 6}'),  # over cap
        (7, datetime(2024, 1, 8), 10, "hover", 4.0, '{"k": 7}'),  # bad type
        (8, datetime(2031, 1, 1), 10, "view", 5.0, '{"k": 8}'),  # ts too late
        (9, datetime(2024, 1, 9), 10, "view", 6.0, "not json"),  # bad json
        (10, datetime(2024, 1, 10), 999, "view", 7.0, '{"k": 9}'),  # fk miss
    ]
    events = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    customer = spark.createDataFrame([(10,)], "c_custkey long")
    rep = {
        r["check"]: r["violations"] for r in validate_events(events, customer).collect()
    }
    assert rep["row_count_min"] > 0  # 11 rows < MIN_ROWS floor
    assert rep["pk_unique_event_id"] == 1
    assert rep["complete_user_id"] == 1
    assert rep["complete_value"] == 1
    assert rep["complete_props"] == 1
    assert rep["value_nonnegative"] == 1
    assert rep["value_below_cap"] == 1
    assert rep["event_type_allowed"] == 1
    assert rep["ts_in_range"] == 1
    # 'not json' AND the null-props row both fail key extraction
    assert rep["props_has_k"] == 2
    # null user_id never matches the dim; 999 is genuinely absent
    assert rep["fk_user_in_customer"] == 2


def test_profile_table_matches_duckdb(spark):
    """Generic column profiler parity on two differently-shaped tables
    (mixed int/float/timestamp/string columns) — metrics are integer
    fixed-point only, so any mismatch is a semantics drift."""
    import os as _os
    import sys as _sys

    _sys.path.insert(
        0,
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "tools"
        ),
    )
    from check_correctness import compare, duck_con

    from mrbf_spark.functions.validation import (
        _profile_kind,
        profile_duckdb_sql,
        profile_table,
    )

    con = duck_con(SF_SMOKE)
    for t in ["events", "documents", "orders"]:
        df = load_table(spark, SF_SMOKE, t)
        kinds = [(f.name, _profile_kind(f.dataType.simpleString())) for f in df.schema]
        spark_pdf = profile_table(df).toPandas()
        duck_pdf = con.sql(profile_duckdb_sql(t, kinds)).df()
        problems = compare(f"profile_{t}", spark_pdf, duck_pdf)
        assert not problems, (t, problems)
        assert len(spark_pdf) == len(df.columns)


def test_profile_table_null_and_type_semantics(spark):
    """Nulls are counted, excluded from distinct/min/max, and an
    all-null column profiles without error."""
    from mrbf_spark.functions.validation import PROFILE_FIXED, profile_table

    df = spark.createDataFrame(
        [(1, 2.5, "ab"), (2, None, None), (3, -1.25, "abcd"), (None, 2.5, None)],
        "i long, x double, s string",
    )
    prof = {r["column"]: r.asDict() for r in profile_table(df).collect()}
    assert prof["i"]["nulls"] == 1 and prof["i"]["n_distinct"] == 3
    assert prof["i"]["min_q"] == 1 and prof["i"]["max_q"] == 3
    assert prof["x"]["nulls"] == 1 and prof["x"]["n_distinct"] == 2
    assert prof["x"]["min_q"] == int(-1.25 * PROFILE_FIXED)  # trunc toward zero
    assert prof["x"]["max_q"] == int(2.5 * PROFILE_FIXED)
    assert prof["s"]["nulls"] == 2 and prof["s"]["avg_len_q"] == 3 * PROFILE_FIXED
    allnull = spark.createDataFrame([(None,), (None,)], "y double")
    row = profile_table(allnull).collect()[0]
    assert row["nulls"] == 2 and row["n_distinct"] == 0 and row["min_q"] is None


def test_snapshot_diff_matches_duckdb(spark):
    """Digest-based diff vs the oracle's direct IS DISTINCT FROM
    classification — independent formulations must agree on every pk."""
    import os as _os
    import sys as _sys

    _sys.path.insert(
        0,
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "tools"
        ),
    )
    from check_correctness import compare, duck_con

    from mrbf_spark.functions.diffing import diff_events, diff_events_duckdb_sql

    spark_pdf = diff_events(spark, SF_SMOKE).toPandas()
    con = duck_con(SF_SMOKE)
    duck_pdf = con.sql(diff_events_duckdb_sql()).df()
    problems = compare("snapshot_diff", spark_pdf, duck_pdf)
    assert not problems, problems
    summ = dict(
        spark_pdf[spark_pdf.part == "summary"][["status", "n"]].itertuples(
            index=False, name=None
        )
    )
    # the deterministic derivation plants all four statuses
    assert set(summ) == {"added", "removed", "changed", "unchanged"}


def test_snapshot_diff_semantics(spark):
    """Hand-built snapshots: every status lands on exactly the right
    pk, including a null-vs-value column change (the concat_ws
    null-swallowing trap xxhash64 avoids)."""
    from mrbf_spark.functions.diffing import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", None), (3, "c", 3.0), (4, None, 4.0)],
        "pk long, s string, x double",
    )
    new = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (4, "", 4.0), (5, "e", 5.0)],
        "pk long, s string, x double",
    )
    got = {r["pk"]: r["status"] for r in snapshot_diff(old, new, "pk").collect()}
    assert got == {
        1: "unchanged",
        2: "changed",  # null -> 2.0
        3: "removed",
        4: "changed",  # null string -> empty string must NOT collide
        5: "added",
    }


def test_snapshot_diff_null_shift_not_aliased(spark):
    """('q', NULL) vs (NULL, 'q') in adjacent same-typed columns must
    classify as changed — the digest's interleaved null flags prevent
    xxhash64's null-skip from aliasing the two rows."""
    from mrbf_spark.functions.diffing import snapshot_diff

    old = spark.createDataFrame([(7, "q", None)], "pk long, a string, b string")
    new = spark.createDataFrame([(7, None, "q")], "pk long, a string, b string")
    [row] = snapshot_diff(old, new, "pk").collect()
    assert row["status"] == "changed"


def test_snapshot_diff_pk_only_table(spark):
    """A table whose only column is the pk diffs on presence alone
    (constant digest — xxhash64 with zero args would be an
    AnalysisException; ADVICE r4)."""
    from mrbf_spark.functions.diffing import snapshot_diff

    old = spark.createDataFrame([(1,), (2,)], "pk long")
    new = spark.createDataFrame([(2,), (3,)], "pk long")
    got = {r["pk"]: r["status"] for r in snapshot_diff(old, new, "pk").collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "added"}


def test_profile_table_complex_and_temporal_types(spark):
    """array/map columns profile presence-only (n, nulls) instead of
    failing analysis; bool and date columns get exact min/max
    (ADVICE r4)."""
    from datetime import date

    from mrbf_spark.functions.validation import profile_table

    df = spark.createDataFrame(
        [
            (1, [1, 2], {"a": 1}, True, date(2024, 1, 5)),
            (2, [], None, False, date(2023, 12, 31)),
            (3, None, {"b": 2}, None, None),
        ],
        "i long, arr array<int>, m map<string,int>, flag boolean, d date",
    )
    prof = {r["column"]: r.asDict() for r in profile_table(df).collect()}
    assert prof["arr"]["dtype"] == "other" and prof["m"]["dtype"] == "other"
    assert prof["arr"]["n"] == 3 and prof["arr"]["nulls"] == 1
    assert prof["m"]["nulls"] == 1 and prof["m"]["n_distinct"] is None
    assert prof["arr"]["min_q"] is None and prof["arr"]["avg_len_q"] is None
    assert prof["flag"]["dtype"] == "bool"
    assert (prof["flag"]["min_q"], prof["flag"]["max_q"]) == (0, 1)
    assert prof["d"]["dtype"] == "date"
    assert prof["d"]["min_q"] == (date(2023, 12, 31) - date(1970, 1, 1)).days
    assert prof["d"]["max_q"] == (date(2024, 1, 5) - date(1970, 1, 1)).days
    assert prof["d"]["nulls"] == 1 and prof["d"]["n_distinct"] == 2


def test_cli_profile_validate_diff(spark, tmp_path, capsys):
    """The r4 data-ops CLI jobs run end-to-end: `profile` prints one
    line per column, `validate` exits 0 on clean data and 1 on a
    poisoned batch (the CI-gate contract), `diff` writes per-pk
    statuses and prints the summary census."""
    from mrbf_spark.__main__ import main

    events = f"{SF_SMOKE}/events.parquet"
    customer = f"{SF_SMOKE}/customer.parquet"

    assert main(["profile", "--input", events]) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if "\tn=" in l]
    assert len(lines) == 6  # one per events column

    assert main(["validate", "--input", events, "--dim", customer]) == 0
    # poison: duplicate PK + negative value -> nonzero exit
    bad = str(tmp_path / "bad")
    df = load_table(spark, SF_SMOKE, "events").limit(200)
    df.union(df.limit(1)).withColumn(
        "value", F.when(F.col("event_id") % 50 == 0, -1.0).otherwise(F.col("value"))
    ).write.parquet(bad)
    assert main(["validate", "--input", bad, "--dim", customer]) == 1

    old = str(tmp_path / "old")
    new = str(tmp_path / "new")
    d = load_table(spark, SF_SMOKE, "documents")
    d.filter(F.col("doc_id") < 400).write.parquet(old)
    d.filter(F.col("doc_id") >= 100).write.parquet(new)
    out = str(tmp_path / "diffout")
    assert main(["diff", "--old", old, "--new", new, "--pk", "doc_id", "--out", out]) == 0
    got = {
        r["status"]: r["n"]
        for r in spark.read.parquet(out)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == {"added": 100, "removed": 100, "unchanged": 300}


def test_cli_zorder_and_compact(spark, tmp_path, capsys):
    """The r5 layout CLI jobs run end-to-end: `zorder` rewrites a
    table clustered on two columns (data-identical, requested file
    count), `compact` merges a fragmented table into one file."""
    import glob as _glob

    from mrbf_spark.__main__ import main

    src = str(tmp_path / "src")
    load_table(spark, SF_SMOKE, "events").write.parquet(src)

    zout = str(tmp_path / "zout")
    assert (
        main(["zorder", "--input", src, "--out", zout,
              "--cols", "user_id,value", "--files", "4"]) == 0
    )
    assert len(_glob.glob(zout + "/part-*.parquet")) == 4
    assert (
        spark.read.parquet(zout).agg(F.sum("event_id")).collect()
        == spark.read.parquet(src).agg(F.sum("event_id")).collect()
    )

    cout = str(tmp_path / "cout")
    assert main(["compact", "--input", src, "--out", cout]) == 0
    assert len(_glob.glob(cout + "/part-*.parquet")) == 1
    assert spark.read.parquet(cout).count() == spark.read.parquet(src).count()


@pytest.mark.slow
def test_cli_pq_pack_tempmix(spark, tmp_path, capsys):
    """The late-r6 CLI jobs run end-to-end: `pq-index`/`pq-query`
    reproduce the in-memory pq_topk for the standard query batch,
    `pack-contig` writes the exact contiguous-sequence table, and
    `temp-mix` writes a corpus whose per-stratum census matches the
    registered builder's."""
    from mrbf_spark.__main__ import main
    from mrbf_spark.functions.packing import contiguous_sequences
    from mrbf_spark.functions.sampling import temperature_mixture
    from mrbf_spark.functions.similarity import N_QUERIES, pq_topk

    emb_src = f"{SF_SMOKE}/embeddings.parquet"
    doc_src = f"{SF_SMOKE}/documents.parquet"
    idx = str(tmp_path / "pqidx")
    assert main(["pq-index", "--input", emb_src, "--out", idx]) == 0

    qsrc = str(tmp_path / "queries")
    emb = load_table(spark, SF_SMOKE, "embeddings")
    emb.filter(F.col("vec_id") < N_QUERIES).write.parquet(qsrc)
    pqout = str(tmp_path / "pqout")
    assert main(["pq-query", "--index", idx, "--input", qsrc, "--out", pqout]) == 0
    got = {
        (r["query_id"], r["vec_id"], r["rnk"], r["cosine"])
        for r in spark.read.parquet(pqout).collect()
    }
    want = {
        (r["query_id"], r["vec_id"], r["rnk"], r["cosine"])
        for r in pq_topk(emb).collect()
    }
    assert got == want and len(got) > 0

    cout = str(tmp_path / "contig")
    assert main(["pack-contig", "--input", doc_src, "--out", cout]) == 0
    docs = load_table(spark, SF_SMOKE, "documents")
    written = {
        (r["seq_id"], r["seq_tokens"], r["seq_text"], r["doc_starts"])
        for r in spark.read.parquet(cout).collect()
    }
    expect = {
        (r["seq_id"], r["seq_tokens"], r["seq_text"], r["doc_starts"])
        for r in contiguous_sequences(docs).collect()
    }
    assert written == expect

    mout = str(tmp_path / "mixed")
    assert main(["temp-mix", "--input", doc_src, "--out", mout]) == 0
    census = {
        r["lang"]: r["n"]
        for r in spark.read.parquet(mout)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    expect_census = {
        r["lang"]: r["n_rows"] for r in temperature_mixture(spark, SF_SMOKE).collect()
    }
    assert census == expect_census


def test_cli_sketch(spark, tmp_path, capsys):
    """The r5 sketch CLI job: kmv prints one distinct-estimate line per
    group; cms prints a top-N probe that never underestimates."""
    from mrbf_spark.__main__ import main

    events = f"{SF_SMOKE}/events.parquet"
    assert main(["sketch", "--input", events, "--kind", "kmv"]) == 0
    out = [l for l in capsys.readouterr().out.splitlines() if "distinct~" in l]
    assert len(out) == 5  # one per event_type

    assert main(["sketch", "--input", events, "--kind", "hh", "--min-count", "80"]) == 0
    hlines = [l for l in capsys.readouterr().out.splitlines() if "\tn=" in l]
    ev_hh = load_table(spark, SF_SMOKE, "events")
    truth = {
        str(r["user_id"]): r["n"]
        for r in ev_hh.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    want_hh = {k: v for k, v in truth.items() if v >= 80}
    got_hh = {l.split("\tn=")[0]: int(l.split("\tn=")[1]) for l in hlines}
    assert got_hh == want_hh and got_hh

    assert main(["sketch", "--input", events, "--kind", "qtl"]) == 0
    qlines = [l for l in capsys.readouterr().out.splitlines() if "median~" in l]
    assert len(qlines) == 5
    # sanity: estimates sit inside each group's true value range
    ev = load_table(spark, SF_SMOKE, "events")
    rng = {
        r["event_type"]: (r["lo"], r["hi"])
        for r in ev.groupBy("event_type")
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
        .collect()
    }
    for l in qlines:
        grp, est = l.split("\tmedian~")
        assert rng[grp][0] <= float(est) <= rng[grp][1]

    assert main(["sketch", "--input", events, "--kind", "cms", "--topn", "5"]) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if "cms~" in l]
    assert len(lines) == 5
    for l in lines:
        cms_n = int(l.split("cms~")[1].split("\t")[0])
        true_n = int(l.split("true=")[1])
        assert cms_n >= true_n


def test_leakage_safe_split_no_neardup_straddles(spark):
    """Leakage property on a planted corpus: verbatim copies AND
    near-duplicates always land in the SAME split, while realized
    fractions stay near the targets on the singleton mass."""
    from mrbf_spark.functions.dedup import (
        CLUSTER_TAU,
        exact_jaccard_pairs,
        leakage_safe_split,
    )

    base = [
        (i, " ".join(f"w{i}x{j}" for j in range(30))) for i in range(300)
    ]
    # plant: 10 verbatim pairs + 10 near-dup pairs (1 token changed)
    planted = []
    for i in range(10):
        planted.append((1000 + i, base[i][1]))  # verbatim copy of doc i
        near = base[20 + i][1].replace(f"w{20+i}x29", "CHANGED")
        planted.append((2000 + i, near))
    docs = spark.createDataFrame(base + planted, "doc_id long, text string")

    split = leakage_safe_split(docs)
    by_doc = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in split.collect()}
    assert len(by_doc) == 320
    for i in range(10):
        assert by_doc[i] == by_doc[1000 + i], "verbatim pair straddles splits"
        assert by_doc[20 + i] == by_doc[2000 + i], "near-dup pair straddles splits"
    # the general guarantee: EVERY Jaccard-≥τ pair shares a split
    pairs = exact_jaccard_pairs(docs, CLUSTER_TAU).collect()
    assert pairs  # the planted near-dups are in there
    for p in pairs:
        assert by_doc[p["doc_a"]][1] == by_doc[p["doc_b"]][1]
    # realized fractions: binomial around 90/5/5 over ~310 clusters
    from collections import Counter

    frac = Counter(v[1] for v in by_doc.values())
    assert frac["train"] / 320 > 0.8
    assert frac["val"] + frac["test"] > 0


@pytest.mark.slow
def test_leakage_safe_split_matches_duckdb(spark):
    """Engine parity for the full split pipeline (clusters via the
    recursive-CTE oracle + md5 split hash)."""
    import os as _os
    import sys as _sys

    _sys.path.insert(
        0,
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "tools"
        ),
    )
    from check_correctness import compare, duck_con

    from mrbf_spark.functions.dedup import (
        leakage_safe_split,
        leakage_safe_split_duckdb_sql,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    spark_pdf = leakage_safe_split(docs).toPandas()
    con = duck_con(SF_SMOKE)
    duck_pdf = con.sql(leakage_safe_split_duckdb_sql()).df()
    problems = compare("leakage_safe_split", spark_pdf, duck_pdf)
    assert not problems, problems


def test_cli_split_safe(spark, tmp_path, capsys):
    """The split-safe CLI job writes split-partitioned parquet and
    prints the census; partitions exist for every emitted split."""
    import os as _os

    from mrbf_spark.__main__ import main

    docs = f"{SF_SMOKE}/documents.parquet"
    out = str(tmp_path / "splits")
    assert main(["split-safe", "--input", docs, "--out", out]) == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if "\t" in l]
    census = {l.split("\t")[0]: int(l.split("\t")[1]) for l in lines}
    assert sum(census.values()) == load_table(spark, SF_SMOKE, "documents").count()
    dirs = {d for d in _os.listdir(out) if d.startswith("split=")}
    assert dirs == {f"split={k}" for k in census}


def test_merge_upsert_semantics(spark):
    """Hand-built MERGE scenario: insert / update / unchanged /
    delete-vs-keep, source wins on update, null-safe compare."""
    from mrbf_spark.functions.diffing import merge_upsert

    target = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", None), (3, "c", 30.0)],
        "id long, name string, v double",
    )
    source = spark.createDataFrame(
        [(2, "b", None), (3, "C", 30.0), (4, "d", 40.0)],
        "id long, name string, v double",
    )
    got = {
        r["id"]: (r["name"], r["v"], r["__action"])
        for r in merge_upsert(target, source, "id").collect()
    }
    assert got == {
        1: ("a", 10.0, "unchanged"),       # target only, keep
        2: ("b", None, "unchanged"),       # identical incl. null <=> null
        3: ("C", 30.0, "update"),          # source wins
        4: ("d", 40.0, "insert"),
    }
    dele = {
        r["id"]: r["__action"]
        for r in merge_upsert(target, source, "id", delete_missing=True).collect()
    }
    assert dele[1] == "delete" and dele[4] == "insert"


def test_merge_upsert_matches_duckdb(spark):
    """Engine parity for the merge classification + merged rows over
    two event snapshots (old = first 800 events, new = 400-1200 with
    200 value-bumped rows)."""
    import os as _os
    import sys as _sys

    _sys.path.insert(
        0,
        _os.path.join(
            _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "tools"
        ),
    )
    from check_correctness import compare, duck_con

    from mrbf_spark.functions.diffing import merge_upsert, merge_upsert_duckdb_sql

    ev = load_table(spark, SF_SMOKE, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    old = ev.filter(F.col("event_id") < 800)
    new = ev.filter(F.col("event_id") >= 400).filter(F.col("event_id") < 1200)
    new = new.withColumn(
        "value",
        F.when(F.col("event_id") % 4 == 0, F.col("value") + 1.0).otherwise(
            F.col("value")
        ),
    )
    spark_pdf = merge_upsert(old, new, "event_id").toPandas()

    con = duck_con(SF_SMOKE)
    con.sql(
        "CREATE VIEW old AS SELECT event_id, user_id, event_type, value "
        "FROM events WHERE event_id < 800"
    )
    con.sql(
        "CREATE VIEW new AS SELECT event_id, user_id, event_type, "
        "CASE WHEN event_id % 4 = 0 THEN value + 1.0 ELSE value END AS value "
        "FROM events WHERE event_id >= 400 AND event_id < 1200"
    )
    duck_pdf = con.sql(
        merge_upsert_duckdb_sql("event_id", ["user_id", "event_type", "value"])
    ).df()
    problems = compare("merge_upsert", spark_pdf, duck_pdf)
    assert not problems, problems
    acts = set(spark_pdf["__action"])
    assert acts == {"insert", "update", "unchanged"}


def test_cli_merge(spark, tmp_path, capsys):
    """The merge CLI job writes the upserted table (deletes dropped)
    and prints the action census."""
    from mrbf_spark.__main__ import main

    d = load_table(spark, SF_SMOKE, "documents").select("doc_id", "n_chars")
    tgt, src = str(tmp_path / "tgt"), str(tmp_path / "src")
    d.filter(F.col("doc_id") < 300).write.parquet(tgt)
    d.filter(F.col("doc_id") >= 200).withColumn(
        "n_chars", F.col("n_chars") + 1
    ).write.parquet(src)
    out = str(tmp_path / "merged")
    assert main([
        "merge", "--target", tgt, "--source", src, "--pk", "doc_id",
        "--out", out, "--delete-missing",
    ]) == 0
    census = {
        l.split("\t")[0]: int(l.split("\t")[1])
        for l in capsys.readouterr().out.splitlines() if "\t" in l
    }
    assert census["delete"] == 200  # doc_id < 200 dropped
    assert census["update"] == 100  # 200-299 bumped
    assert census["insert"] == 200  # 300-499 new
    got = spark.read.parquet(out)
    assert got.count() == 300 and "__action" not in got.columns


def test_cli_report(spark, tmp_path, capsys):
    """The corpus report job prints a consistent metric table: doc
    count matches the table, rates live in [0, 1], language fractions
    sum to 1, and the exact-dup rate agrees with dedup_exact."""
    from mrbf_spark.__main__ import main
    from mrbf_spark.catalog import queries

    docs = f"{SF_SMOKE}/documents.parquet"
    assert main(["report", "--input", docs]) == 0
    m = {
        l.split("\t")[0]: float(l.split("\t")[1])
        for l in capsys.readouterr().out.splitlines() if "\t" in l
    }
    n = load_table(spark, SF_SMOKE, "documents").count()
    assert m["docs"] == n
    assert m["tokens"] > 0 and m["chars"] > m["tokens"]
    for k in ("exact_dup_rate", "gopher_pass_rate", "lang_en_frac"):
        assert 0.0 <= m[k] <= 1.0
    assert abs(m["lang_en_frac"] + m["lang_de_frac"] + m["lang_es_frac"] - 1.0) < 1e-9
    n_fp = queries()["dedup_exact"](spark, SF_SMOKE).count()
    assert abs(m["exact_dup_rate"] - (1.0 - n_fp / n)) < 1e-9


def test_cli_report_empty_corpus(spark, tmp_path, capsys):
    """An empty documents table prints a zeroed report, not TypeError
    (SUM over zero rows is NULL)."""
    from mrbf_spark.__main__ import main

    empty = str(tmp_path / "empty")
    load_table(spark, SF_SMOKE, "documents").limit(0).write.parquet(empty)
    assert main(["report", "--input", empty]) == 0
    m = {
        l.split("\t")[0]: float(l.split("\t")[1])
        for l in capsys.readouterr().out.splitlines() if "\t" in l
    }
    assert m["docs"] == 0 and m["tokens"] == 0 and m["exact_dup_rate"] == 0.0


def test_profile_table_approx_distinct_within_envelope(spark):
    """The 100 TB profiler mode: HLL n_distinct within 15% of exact on
    every scalar column, all other metrics identical."""
    from mrbf_spark.functions.validation import profile_table

    ev = load_table(spark, SF_SMOKE, "events")
    exact = {r["column"]: r.asDict() for r in profile_table(ev).collect()}
    approx = {r["column"]: r.asDict() for r in profile_table(ev, approx_distinct=True).collect()}
    assert set(exact) == set(approx)
    for c in exact:
        e, a = exact[c], approx[c]
        for k in ("n", "nulls", "min_q", "max_q", "avg_len_q"):
            assert e[k] == a[k], (c, k)
        if e["n_distinct"] is not None:
            assert abs(a["n_distinct"] - e["n_distinct"]) <= max(
                2, 0.15 * e["n_distinct"]
            ), (c, e["n_distinct"], a["n_distinct"])


def test_merge_upsert_partitioned_touches_only_its_buckets(spark, tmp_path):
    """Partition-scoped MERGE: result equals the full-table upsert on
    the touched buckets, untouched bucket directories stay
    byte-identical (never read or written), and the target scan is
    partition-pruned (PartitionFilters on pk_bucket)."""
    import glob as _glob
    import os as _os

    from mrbf_spark.functions.diffing import (
        bucket_col,
        merge_upsert,
        merge_upsert_partitioned,
        write_bucketed_target,
    )

    docs = load_table(spark, SF_SMOKE, "documents").select("doc_id", "n_chars")
    tdir = str(tmp_path / "target")
    write_bucketed_target(docs, tdir, "doc_id", n_buckets=8)

    # increment confined to buckets {0, 1}: updates picked BY bucket,
    # new pks filtered to the same buckets — so most buckets stay
    # untouched by construction
    in_01 = bucket_col(F.col("doc_id"), 8).isin(0, 1)
    inc = (
        docs.filter(in_01).limit(40).withColumn("n_chars", F.col("n_chars") + 7)
    ).unionByName(
        spark.range(10_000, 10_200)
        .select(F.col("id").alias("doc_id"), F.lit(5).cast("long").alias("n_chars"))
        .filter(in_01)
        .limit(20)
    )

    def snapshot(path):
        return {
            f: open(f, "rb").read()
            for f in _glob.glob(_os.path.join(path, "pk_bucket=*", "*.parquet"))
        }

    before = snapshot(tdir)
    touched = merge_upsert_partitioned(spark, tdir, inc, "doc_id", n_buckets=8)
    after = snapshot(tdir)

    inc_buckets = {
        r["b"] for r in inc.select(bucket_col(F.col("doc_id"), 8).alias("b")).collect()
    }
    assert set(touched) == inc_buckets and 0 < len(touched) < 8

    untouched_files = {
        f for f in before if int(f.split("pk_bucket=")[1].split("/")[0]) not in inc_buckets
    }
    assert untouched_files
    for f in untouched_files:
        assert after[f] == before[f], f"untouched bucket rewritten: {f}"

    got = {
        r["doc_id"]: r["n_chars"]
        for r in spark.read.parquet(tdir).select("doc_id", "n_chars").collect()
    }
    want = {
        r["doc_id"]: r["n_chars"]
        for r in merge_upsert(docs, inc, "doc_id")
        .filter(F.col("__action") != "delete")
        .collect()
    }
    assert got == want

    # the pruned scan: PartitionFilters on pk_bucket reach the target read
    tgt = spark.read.parquet(tdir).filter(F.col("pk_bucket").isin(sorted(inc_buckets)))
    plan = tgt._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "PartitionFilters" in scan and "pk_bucket" in scan.split("PartitionFilters:")[1].split("]")[0]


def test_cli_merge_bucketed(spark, tmp_path, capsys):
    """merge --bucketed merges in place and reports touched buckets;
    the final table equals the plain merge."""
    from mrbf_spark.functions.diffing import merge_upsert, write_bucketed_target
    from mrbf_spark.__main__ import main

    d = load_table(spark, SF_SMOKE, "documents").select("doc_id", "n_chars")
    tdir = str(tmp_path / "tgt")
    write_bucketed_target(d, tdir, "doc_id", n_buckets=8)
    src = str(tmp_path / "src")
    d.limit(30).withColumn("n_chars", F.col("n_chars") + 1).write.parquet(src)

    assert main([
        "merge", "--target", tdir, "--source", src, "--pk", "doc_id",
        "--bucketed", "--buckets", "8",
    ]) == 0
    assert "touched buckets" in capsys.readouterr().out
    got = {
        r["doc_id"]: r["n_chars"]
        for r in spark.read.parquet(tdir).select("doc_id", "n_chars").collect()
    }
    want = {
        r["doc_id"]: r["n_chars"]
        for r in merge_upsert(d, spark.read.parquet(src), "doc_id").collect()
    }
    assert got == want


def test_pair_dot_arrow_matches_jvm(spark):
    """The Arrow pair cosine must be BIT-identical to the JVM
    _decimal_dot cosine on the same pair frame — same per-element
    trunc(a·b·1e9), same exact int64 sums, same rescale and divide —
    so the doubles compare with == (no tolerance). Pinned on both
    pair shapes it serves: the near-dup self-join sides
    (neardup_pairs, the semantic-dedup pair stage) and a query×corpus
    cross (the mining negative scan, the decontam crosses)."""
    from mrbf_spark.functions.similarity import (
        NEARDUP_EXACT_CAP,
        NEARDUP_SALT_B,
        _arrow_pair_cosine,
        _decimal_dot,
        _neardup_sides,
    )

    def arrow_and_jvm(pairs, a_id, a_emb, a_nrm, b_id, b_emb, b_nrm):
        arrow = _arrow_pair_cosine(pairs, a_id, a_emb, a_nrm, b_id, b_emb, b_nrm)
        jvm = pairs.select(
            a_id,
            b_id,
            (
                _decimal_dot(F.col(a_emb), F.col(b_emb))
                / (F.sqrt(F.col(a_nrm)) * F.sqrt(F.col(b_nrm)))
            ).alias("cosine"),
        )
        return (
            sorted(map(tuple, arrow.collect())),
            sorted(map(tuple, jvm.collect())),
        )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    a, b = _neardup_sides(emb, NEARDUP_EXACT_CAP, NEARDUP_SALT_B)
    pairs = a.join(b, ["label", "bucket"]).filter(F.col("vec_a") < F.col("vec_b"))
    got, want = arrow_and_jvm(
        pairs, "vec_a", "emb_a", "nrm_a", "vec_b", "emb_b", "nrm_b"
    )
    assert got == want and len(got) > 0

    nrm = _decimal_dot(F.col("embedding"), F.col("embedding"))
    q = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        nrm.alias("q_nrm"),
    )
    c = emb.select("vec_id", "embedding", nrm.alias("c_nrm"))
    cross = c.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    got, want = arrow_and_jvm(
        cross, "query_id", "q_emb", "q_nrm", "vec_id", "embedding", "c_nrm"
    )
    assert got == want and len(got) > 0


def test_assign_arrow_matches_jvm(spark):
    """kmeans_fit's Arrow Lloyd-pass kernel must match the JVM
    kmeans_assign exactly: same first-max argmax over the fixed-point
    centroid dots, and the embedding column round-trips float→double
    exactly."""
    from mrbf_spark.functions.similarity import (
        _assign_batches,
        _flat_centroids,
        kmeans_assign,
    )

    emb = load_table(spark, SF_SMOKE, "embeddings")
    cent = _flat_centroids(emb)
    ka = sorted(
        (tuple(map(float, r["embedding"])), r["cell"])
        for r in kmeans_assign(emb.select("embedding"), cent).collect()
    )
    kb = sorted(
        (tuple(r["embedding"]), r["cell"])
        for r in emb.select("embedding")
        .mapInArrow(_assign_batches(cent), "cell int, embedding array<double>")
        .collect()
    )
    assert ka == kb and len(ka) > 0
