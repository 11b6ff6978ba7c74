"""Multimodal (image/audio/video) column support.

Design (SURVEY.md §2.2): media payloads are opaque ``BinaryType`` columns with
a typed metadata struct alongside — the same pattern the reference already
uses for its one non-tabular payload, the geometry column (sf list-column,
crowdsorsa-etl-2023.R:32-40 → WKB BinaryType here). Parquet stores binary
pages untouched; any partitioning works; nothing about the pipeline is
media-specific until a decode UDF runs.

Decode and feature extraction run as Arrow-batched
``mapInPandas`` stages: bytes in → feature columns out, one batch at a time,
so peak executor memory is one Arrow batch of payloads, not a partition.

PNG, BMP, and baseline JPEG are decoded FOR REAL with the stdlib-only
codecs in ``functions/imagecodec.py`` / ``functions/jpegcodec.py`` (zlib +
struct + numpy Huffman/DCT) — no PIL/ffmpeg needed, and JPEG covers the
bulk of any web-scraped corpus. Payloads in any other format (WebP, GIF,
progressive JPEG, ...) fall back to a deterministic header-sniffing fake
decoder when ``allow_fake=True`` (exercises the full Spark plumbing:
schema, batching, null handling), or are marked ``format='unsupported'``
with null fields otherwise — a 100 TB corpus always contains garbage rows,
and one bad payload must never fail the job.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from crowdsorsa_etl_spark.functions import audiocodec, imagecodec
from crowdsorsa_etl_spark.functions.jpegcodec import decode_jpeg, encode_jpeg
from crowdsorsa_etl_spark.functions.videocodec import (
    decode_avi,
    decode_dib_frame,
    encode_avi_mjpeg,
    encode_avi_raw,
)
from crowdsorsa_etl_spark.operators.checkpointing import materialize

_JPEG_QUALITY = 100
_AUDIO_HOP = 32
_AVI_FPS = 10
_AVI_QUALITY = 90
_BUCKET_PREFIXES = 64

# Malformed payloads that pass the magic-byte sniff can surface as any of
# these from the stdlib codec (corrupt IDAT → zlib.error, truncated headers
# → struct.error, palette index out of range → IndexError). A bad payload
# must degrade to the unsupported/null path, never kill the task.
_DECODE_ERRORS = (ValueError, struct.error, zlib.error, IndexError)

IMAGE_META = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def attach_binary_payload(df: DataFrame) -> DataFrame:
    """Fixture adapter: derive a deterministic binary payload column from the
    documents table (UTF-8 bytes prefixed with a fake magic header) so the
    binary plumbing is exercised end-to-end on driver-provided data."""
    payload = F.concat(
        F.lit(b"\x89IMG"), F.encode(F.col("text"), "UTF-8")
    ).cast("binary")
    return df.select(F.col("doc_id"), payload.alias("payload"))


def attach_png_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Fixture adapter for the REAL decode path: render each document's
    bytes into a tiny genuine PNG (one gray pixel per text byte, row-major
    8×N) via an Arrow batch stage, so downstream ``decode_images`` exercises
    the stdlib codec end-to-end on driver-provided data."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for text in pdf[text_col]:
                body = (text or "").encode("utf-8")[:256] or b"\x00"
                w = 8
                h = (len(body) + w - 1) // w
                arr = np.zeros((h, w), dtype=np.uint8)
                arr.flat[: len(body)] = np.frombuffer(body, dtype=np.uint8)
                payloads.append(imagecodec.encode_png(arr))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return df.mapInPandas(batches, "doc_id long, payload binary")


def attach_jpeg_payload(df: DataFrame) -> DataFrame:
    """Fixture adapter for the REAL JPEG path: render each document's bytes
    into a genuine baseline JPEG (one gray pixel per text byte, row-major
    8×N, same layout as ``attach_png_payload``) so ``decode_images``
    exercises the stdlib Huffman/DCT decoder end-to-end."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for text in pdf["text"]:
                body = (text or "").encode("utf-8")[:256] or b"\x00"
                w = 8
                h = (len(body) + w - 1) // w
                arr = np.zeros((h, w), dtype=np.uint8)
                arr.flat[: len(body)] = np.frombuffer(body, dtype=np.uint8)
                payloads.append(encode_jpeg(arr, quality=_JPEG_QUALITY))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return df.mapInPandas(batches, "doc_id long, payload binary")


def _fake_decode(payload: bytes | None) -> tuple | None:
    """Deterministic stand-in decoder for formats the stdlib codecs can't
    handle (WebP/GIF/progressive JPEG/...): sniff the header, derive
    width/height/luma from the byte content. Same output contract as the
    real decoder."""
    if payload is None:
        return None
    fmt = "fake-img" if payload[:4] == b"\x89IMG" else "unknown"
    body = payload[4:]
    n = len(payload)
    width = max(1, (n * 7) % 640)
    height = max(1, (n * 13) % 480)
    mean_luma = round(sum(body[:256]) / max(len(body[:256]), 1) / 255.0, 6)
    return n, fmt, width, height, mean_luma


def _decode_one(payload: bytes | None, allow_fake: bool) -> tuple | None:
    if payload is None:
        return None
    payload = bytes(payload)
    try:
        fmt, px = imagecodec.decode_image(payload)
    except _DECODE_ERRORS:
        if allow_fake:
            return _fake_decode(payload)
        return len(payload), "unsupported", None, None, None
    return (
        len(payload),
        fmt,
        px.shape[1],
        px.shape[0],
        round(imagecodec.mean_luma(px), 6),
    )


def decode_images(df: DataFrame, *, allow_fake: bool = False) -> DataFrame:
    """bytes → typed image metadata via mapInPandas (Arrow batches).

    PNG/BMP/baseline-JPEG payloads are decoded for real
    (``functions/imagecodec.py`` + ``functions/jpegcodec.py``); other
    formats use the deterministic fake decoder when ``allow_fake=True`` or
    come back ``format='unsupported'`` otherwise.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = pdf["payload"].map(lambda p: _decode_one(p, allow_fake))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": decoded.map(lambda d: d and d[0]),
                    "format": decoded.map(lambda d: d and d[1]),
                    "width": decoded.map(lambda d: d and d[2]),
                    "height": decoded.map(lambda d: d and d[3]),
                    "mean_luma": decoded.map(lambda d: d and d[4]),
                }
            )

    return df.mapInPandas(batches, IMAGE_META)


CHECKSUM_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("pix_sum", T.LongType()),
        T.StructField("pix_wsum", T.LongType()),
    ]
)


def image_checksums(df: DataFrame) -> DataFrame:
    """bytes → exact integer pixel checksums via the REAL decode path.

    ``pix_sum`` = Σ pixel values, ``pix_wsum`` = Σ pixel·(flat_index+1)
    over the decoded row-major array (first channel). The weighted sum is
    order-sensitive, so any decode bug that permutes, shifts, or rescales
    pixels changes it — this is the hash-oracle surface for the codec
    (queries/multimodal.py llm_image_decode replays both sums in DuckDB
    SQL straight from the source bytes, independent of this code path).
    Integer outputs only: no float-rounding parity risk cross-engine.
    """

    def checksum_one(payload):
        if payload is None:
            return None
        try:
            fmt, px = imagecodec.decode_image(bytes(payload))
        except _DECODE_ERRORS:
            return None
        plane = px.reshape(px.shape[0], px.shape[1], -1)[:, :, 0]
        flat = plane.reshape(-1).astype(np.int64)
        return (
            fmt,
            int(px.shape[1]),
            int(px.shape[0]),
            int(flat.sum()),
            int(np.dot(flat, np.arange(1, flat.size + 1, dtype=np.int64))),
        )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            decoded = pdf["payload"].map(checksum_one)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "format": decoded.map(lambda d: d and d[0]),
                    "width": decoded.map(lambda d: d and d[1]),
                    "height": decoded.map(lambda d: d and d[2]),
                    "pix_sum": decoded.map(lambda d: d and d[3]),
                    "pix_wsum": decoded.map(lambda d: d and d[4]),
                }
            )

    return df.mapInPandas(batches, CHECKSUM_SCHEMA)


def extract_features(df: DataFrame, *, dim: int = 16) -> DataFrame:
    """bytes → fixed-dim embedding column via mapInPandas (the
    feature-extract stage of a multimodal pipeline). The deterministic
    stand-in projects byte histograms through a fixed random-ish matrix —
    a real vision encoder replaces ONLY the per-batch function; the output
    contract (``vec_id``, ``embedding array<float>``) feeds directly into
    the similarity operators (cosine_topk / lsh_topk / ivf_topk), which is
    the point: multimodal similarity search composes from existing pieces.
    """

    # deterministic projection matrix (256 byte-values → dim), no RNG state
    proj = np.array(
        [
            [(((b * 31 + d * 17 + 7) * 2654435761) % 1000) / 500.0 - 1.0
             for d in range(dim)]
            for b in range(256)
        ],
        dtype=np.float64,
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            vecs = []
            for payload in pdf["payload"]:
                if payload is None:
                    vecs.append(None)
                    continue
                hist = np.bincount(
                    np.frombuffer(bytes(payload), dtype=np.uint8), minlength=256
                ).astype(np.float64)
                total = hist.sum()
                if total:
                    hist /= total
                vec = hist @ proj
                norm = np.linalg.norm(vec)
                if norm:
                    vec /= norm
                vecs.append([float(x) for x in vec])
            yield pd.DataFrame({"vec_id": pdf["doc_id"], "embedding": vecs})

    return df.mapInPandas(
        batches, f"vec_id long, embedding array<float>"
    )


# ---------------------------------------------------------------------------
# Audio — the third modality leg (image ↑, video frame-sample ↑, audio
# here). Same architecture: a REAL stdlib container codec
# (functions/audiocodec.py — RIFF/WAVE PCM16 via the wave module) behind
# Arrow-batched mapInPandas stages, integer-only features so the DuckDB
# oracle can replay them from the source bytes with zero float-parity
# risk.
# ---------------------------------------------------------------------------


def attach_wav_payload(df: DataFrame) -> DataFrame:
    """Fixture adapter for the real audio decode path: synthesize a PCM16
    waveform from each document's UTF-8 bytes (sample_i = (byte_i − 128)
    · 256 — full int16 swing, sign split at 0x80) and wrap it in a
    genuine WAV container so downstream ops exercise header parse +
    sample decode end-to-end."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for text in pdf["text"]:
                body = (text or "").encode("utf-8")[:256] or b"\x00"
                samples = (
                    np.frombuffer(body, dtype=np.uint8).astype(np.int32) - 128
                ) * 256
                payloads.append(
                    audiocodec.encode_wav_pcm16(
                        samples.astype(np.int16), sample_rate=16_000
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return df.mapInPandas(batches, "doc_id long, payload binary")


def audio_frame_features(df: DataFrame, *, frame: int = 64) -> DataFrame:
    """WAV payload → integer frame features: decode through the real
    codec, then per document — sample count, header sample rate, full
    frames at (frame, ``_AUDIO_HOP``) (one short frame when the signal is shorter
    than ``frame``), summed per-frame energy Σs², the max frame energy,
    and signal zero crossings (sign-split count). All integers: the
    oracle re-derives every value from the source bytes."""

    if frame < 1:
        raise ValueError(f"frame must be >= 1; got {frame}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "doc_id": [],
                "n_samples": [],
                "sample_rate": [],
                "n_frames": [],
                "energy_sum": [],
                "max_frame_energy": [],
                "zero_crossings": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                if payload is None:
                    continue
                samples, rate, _ = audiocodec.decode_wav(bytes(payload))
                s = samples.astype(np.int64)
                n = len(s)
                if n < frame:
                    frames = [s]
                else:
                    frames = [
                        s[i : i + frame]
                        for i in range(0, n - frame + 1, _AUDIO_HOP)
                    ]
                energies = [int((f * f).sum()) for f in frames]
                neg = s < 0
                zc = int((neg[1:] != neg[:-1]).sum()) if n > 1 else 0
                out["doc_id"].append(doc_id)
                out["n_samples"].append(n)
                out["sample_rate"].append(rate)
                out["n_frames"].append(len(frames))
                out["energy_sum"].append(sum(energies))
                out["max_frame_energy"].append(max(energies))
                out["zero_crossings"].append(zc)
            yield pd.DataFrame(out)

    return df.mapInPandas(
        batches,
        "doc_id long, n_samples int, sample_rate int, n_frames int, "
        "energy_sum long, max_frame_energy long, zero_crossings long",
    )


AHASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("bands", T.ArrayType(T.LongType())),
    ]
)

#: aHash geometry: 64 sample pixels packed as 8 bands of 8 bits
_AHASH_PIXELS = 64
_AHASH_BANDS = 8


def image_ahash(df: DataFrame) -> DataFrame:
    """Perceptual average-hash over the REAL decode path: the first 64
    row-major pixels of the first channel (zero-padded), each thresholded
    against the 64-sample mean with INTEGER math (``v*64 >= sum`` — no
    float, no rounding parity risk), packed as 8 big-endian 8-bit band
    values. Output: (doc_id, bands array<long> of length 8).

    Bands (not one 64-bit word) keep the cross-engine arithmetic unsigned-
    safe and feed the hamming pigeonhole join directly: hamming(a, b) ≤ 7
    over 64 bits forces at least one of 8 bands to be IDENTICAL.
    """
    def ahash_one(payload):
        if payload is None:
            return None
        try:
            _, px = imagecodec.decode_image(bytes(payload))
        except _DECODE_ERRORS:
            return None
        plane = px.reshape(px.shape[0], px.shape[1], -1)[:, :, 0]
        return _ahash_bands_from_flat(plane.reshape(-1))

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "bands": pdf["payload"].map(ahash_one),
                }
            )

    return df.mapInPandas(batches, AHASH_SCHEMA)


def image_ahash_dups(df: DataFrame, *, max_hamming: int = 7) -> DataFrame:
    """Near-duplicate IMAGES: pairs (id_a < id_b, hamming <= max_hamming)
    over the 64-bit aHash. Candidates come from the band-equality
    pigeonhole (sound for max_hamming < n_bands: fewer than 8 differing
    bits cannot touch all 8 bands); the exact hamming verify is integer
    xor + bit_count — pure codegen after the decode stage, never
    all-pairs. The image twin of simhash_hamming_candidates.
    """
    if not (0 <= max_hamming < _AHASH_BANDS):
        raise ValueError(
            f"pigeonhole needs 0 <= max_hamming < {_AHASH_BANDS}"
        )
    sig = materialize(image_ahash(df).filter(F.col("bands").isNotNull()))
    banded = sig.select(
        F.col("doc_id").alias("id"),
        F.posexplode("bands").alias("band", "v"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v") == F.col("b.v"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ha = sig.select(F.col("doc_id").alias("id_a"), F.col("bands").alias("ba"))
    hb = sig.select(F.col("doc_id").alias("id_b"), F.col("bands").alias("bb"))
    hamming = F.aggregate(
        F.zip_with(
            F.col("ba"),
            F.col("bb"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )
    return (
        cand.join(ha, "id_a")
        .join(hb, "id_b")
        .select("id_a", "id_b", hamming.cast("int").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def attach_avi_payload(df: DataFrame, *, codec: str = "mjpeg") -> DataFrame:
    """Fixture adapter for the REAL video decode path: render each
    document's bytes into a genuine AVI container
    (``functions/videocodec.py``) — ``(octet_length % 3) + 1`` frames of
    8×8 gray pixels, frame ``i`` drawn from the byte slice starting at
    ``64·i`` — so downstream ops exercise RIFF walk + per-frame decode
    end-to-end. ``codec='mjpeg'`` writes Motion-JPEG (lossy web profile,
    Huffman decode per frame); ``codec='raw'`` writes uncompressed DIB
    frames (lossless archival profile — the one whose per-frame hashes
    are exactly replayable in SQL). The frame count and geometry are
    closed-form in the text length either way."""

    if codec not in ("mjpeg", "raw"):
        raise ValueError(f"codec must be 'mjpeg' or 'raw'; got {codec!r}")

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for text in pdf["text"]:
                raw = (text or "").encode("utf-8")
                n_frames = (len(raw) % 3) + 1
                body = raw[: 64 * n_frames] or b"\x00"
                frames = []
                for i in range(n_frames):
                    chunk = body[64 * i : 64 * (i + 1)]
                    arr = np.zeros(64, dtype=np.uint8)
                    arr[: len(chunk)] = np.frombuffer(chunk, dtype=np.uint8)
                    frames.append(arr.reshape(8, 8))
                payloads.append(
                    encode_avi_mjpeg(
                        frames, fps=_AVI_FPS, quality=_AVI_QUALITY
                    )
                    if codec == "mjpeg"
                    else encode_avi_raw(frames, fps=_AVI_FPS)
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    return df.mapInPandas(batches, "doc_id long, payload binary")


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("format", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("fps", T.IntegerType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_luma", T.DoubleType()),
    ]
)


def decode_video_frames(
    df: DataFrame,
    *,
    every_n: int = 1,
    max_frames: int = 8,
) -> DataFrame:
    """REAL video frame sampling: parse the AVI container (RIFF walk),
    take every ``every_n``-th frame up to ``max_frames``, and decode each
    sampled frame's JPEG payload through the stdlib Huffman/DCT decoder —
    1 input row → ≤ max_frames frame rows, each with container metadata
    and the decoded frame's mean luma.

    Cost model matches the rest of the module: CPU-on-local-bytes inside
    one Arrow-batched ``mapInPandas`` stage, no new data movement; the
    sampling happens BEFORE any frame decodes, so the per-row cost is
    proportional to frames kept, not frames stored. A malformed payload
    (bad RIFF, non-MJPG codec, corrupt frame JPEG) degrades to one
    ``format='unsupported'`` row with null fields — never a task failure.
    """

    if every_n < 1:
        raise ValueError(f"every_n must be >= 1; got {every_n}")
    if max_frames < 1:
        raise ValueError(f"max_frames must be >= 1; got {max_frames}")

    def decode_one(doc_id, payload):
        bad = (doc_id, "unsupported", None, None, None, None, None, None)
        if payload is None:
            return [bad]
        try:
            bodies, codec, fps, w, h = decode_avi(bytes(payload))
            fmt = "avi/mjpeg" if codec == "MJPG" else "avi/raw"
            rows = []
            for idx in list(range(0, len(bodies), every_n))[:max_frames]:
                img = (
                    decode_jpeg(bodies[idx])
                    if codec == "MJPG"
                    else decode_dib_frame(bodies[idx], w, h)
                )
                rows.append(
                    (
                        doc_id,
                        fmt,
                        idx,
                        len(bodies),
                        fps,
                        int(w),
                        int(h),
                        float(np.mean(img)),
                    )
                )
            return rows
        except _DECODE_ERRORS:
            return [bad]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                out.extend(decode_one(doc_id, payload))
            yield pd.DataFrame(
                out, columns=[f.name for f in VIDEO_FRAME_SCHEMA.fields]
            )

    return df.select(F.col("doc_id"), F.col("payload")).mapInPandas(
        batches, VIDEO_FRAME_SCHEMA
    )


def _ahash_bands_from_flat(flat) -> list[int]:
    """The shared integer aHash packing: 64 samples → threshold against
    the 64-sample mean with integer math (``v*64 >= sum``) → 8 big-endian
    8-bit band values. One definition for images AND video frames, and
    the exact rule every oracle replays."""

    flat = np.asarray(flat, dtype=np.int64).reshape(-1)[:_AHASH_PIXELS]
    if flat.shape[0] < _AHASH_PIXELS:
        flat = np.pad(flat, (0, _AHASH_PIXELS - flat.shape[0]))
    s = int(flat.sum())
    bits = (flat * _AHASH_PIXELS >= s).astype(np.int64)
    width = _AHASH_PIXELS // _AHASH_BANDS
    return [
        int(
            sum(
                int(bits[b * width + j]) << (width - 1 - j)
                for j in range(width)
            )
        )
        for b in range(_AHASH_BANDS)
    ]


VIDEO_SIG_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("bands", T.ArrayType(T.LongType())),
    ]
)


def video_frame_signatures(df: DataFrame) -> DataFrame:
    """Per-frame perceptual signatures through the REAL video decode
    path: parse the AVI container, decode EVERY frame (DIB exact or MJPG
    Huffman), and aHash each frame's first channel — 1 video row →
    n_frames signature rows ``(doc_id, frame_idx, bands array<long>)``.
    A malformed payload contributes no rows (the near-dup contract: a
    corrupt video can't match anything, and must not fail the task)."""

    def sig_rows(doc_id, payload):
        if payload is None:
            return []
        try:
            bodies, codec, _, w, h = decode_avi(bytes(payload))
            rows = []
            for idx, body in enumerate(bodies):
                img = (
                    decode_jpeg(body)
                    if codec == "MJPG"
                    else decode_dib_frame(body, w, h)
                )
                plane = img.reshape(img.shape[0], img.shape[1], -1)[:, :, 0]
                rows.append(
                    (doc_id, idx, _ahash_bands_from_flat(plane.reshape(-1)))
                )
            return rows
        except _DECODE_ERRORS:
            return []

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                out.extend(sig_rows(doc_id, payload))
            yield pd.DataFrame(
                out, columns=[f.name for f in VIDEO_SIG_SCHEMA.fields]
            )

    return df.select(F.col("doc_id"), F.col("payload")).mapInPandas(
        batches, VIDEO_SIG_SCHEMA
    )


def video_ahash_dups(
    df: DataFrame,
    *,
    min_shared: int = 1,
    max_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate VIDEOS by shared perceptual frame content — the
    shot-level fingerprint join of video copy detection: two videos are
    candidate duplicates when they share at least ``min_shared`` distinct
    frame aHashes.

    Distributed shape (the 100 TB story): per-frame signatures are one
    Arrow decode stage; matching is an equi-join KEYED ON THE FRAME HASH
    (videos sharing content co-locate in a bucket) — never an all-pairs
    video comparison — followed by a pair-keyed count. Both shuffles are
    key-partitioned; a boilerplate frame (intros, black frames) is a hot
    bucket handled by AQE skew splitting, and real deployments drop
    ultra-frequent hashes the way setsim drops hot prefixes.

    Output: ``(id_a, id_b, matched_frames, n_sigs_a, n_sigs_b)`` with
    ``id_a < id_b``; ``n_sigs_*`` is the video's DISTINCT-hash count, so
    Jaccard over frame sets is derivable downstream.
    """
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1; got {min_shared}")
    sig = video_frame_signatures(df)
    return band_signature_dups(sig, min_shared=min_shared, max_freq=max_freq)


def band_signature_dups(
    sig: DataFrame,
    *,
    min_shared: int = 1,
    max_freq: int | None = None,
) -> DataFrame:
    """The fingerprint pair join shared by every per-frame modality tier
    (video frames, audio frames): ``sig`` is (doc_id, ..., bands) — one
    row per frame signature — and two documents are candidate duplicates
    when they share at least ``min_shared`` DISTINCT signatures. The join
    is keyed on the signature itself (documents sharing content co-locate
    in a hash bucket, never all-pairs); the pair count and the per-doc
    distinct-signature counts are both key-partitioned aggregations.

    ``max_freq`` is the corpus-wide stop-fingerprint knob: a signature
    shared by more than ``max_freq`` documents (silence, black frames,
    intro cards) is excluded from matching BEFORE the pair join — the
    frequency count's map-side partial aggregation absorbs the hot key,
    so the quadratic per-bucket pair blowup never happens (the setsim
    hot-prefix / substring-dedup posture). ``n_sigs_*`` count only
    kept signatures, so downstream Jaccard stays internally consistent.
    Recall trade: a pair matching ONLY on stop-fingerprints is dropped —
    which is the point."""
    if min_shared < 1:
        raise ValueError(f"min_shared must be >= 1; got {min_shared}")
    if max_freq is not None and max_freq < 1:
        raise ValueError(f"max_freq must be >= 1; got {max_freq}")
    sig = sig.select("doc_id", "bands").distinct()
    if max_freq is not None:
        keep = (
            sig.groupBy("bands")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_freq)
            .select("bands")
        )
        sig = sig.join(keep, "bands", "left_semi")
    sig = materialize(sig)
    n_sigs = sig.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n")
    )
    a, b = sig.alias("a"), sig.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.bands") == F.col("b.bands"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).cast("int").alias("matched_frames"))
        .filter(F.col("matched_frames") >= min_shared)
    )
    return (
        pairs.join(
            n_sigs.select(
                F.col("doc_id").alias("id_a"), F.col("n").alias("n_sigs_a")
            ),
            "id_a",
        )
        .join(
            n_sigs.select(
                F.col("doc_id").alias("id_b"), F.col("n").alias("n_sigs_b")
            ),
            "id_b",
        )
        .select(
            "id_a", "id_b", "matched_frames", "n_sigs_a", "n_sigs_b"
        )
    )


def audio_frame_signatures(df: DataFrame, *, frame: int = 64) -> DataFrame:
    """Per-frame acoustic fingerprints through the REAL audio decode path:
    parse the WAV container, split the PCM16 signal into non-overlapping
    ``frame``-sample windows (the tail window is zero-padded by the shared
    packing), and fingerprint each window with the SAME integer
    threshold-against-the-mean band packing images and video frames use —
    one definition, one oracle rule, across every modality. 1 audio row →
    ceil(n_samples / frame) signature rows ``(doc_id, frame_idx, bands)``.
    A malformed payload contributes no rows (a corrupt clip cannot match
    anything, and must not fail the task)."""

    if frame < 1:
        raise ValueError(f"frame must be >= 1; got {frame}")

    def sig_rows(doc_id, payload):
        if payload is None:
            return []
        try:
            samples, _rate, _ch = audiocodec.decode_wav(bytes(payload))
            sig = np.asarray(samples, dtype=np.int64)
            rows = []
            for f in range(max(1, -(-sig.shape[0] // frame))):
                rows.append(
                    (
                        doc_id,
                        f,
                        _ahash_bands_from_flat(
                            sig[f * frame : (f + 1) * frame]
                        ),
                    )
                )
            return rows
        except _DECODE_ERRORS:
            return []

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                out.extend(sig_rows(doc_id, payload))
            yield pd.DataFrame(
                out, columns=[f.name for f in VIDEO_SIG_SCHEMA.fields]
            )

    return df.select(F.col("doc_id"), F.col("payload")).mapInPandas(
        batches, VIDEO_SIG_SCHEMA
    )


def audio_fingerprint_dups(
    df: DataFrame,
    *,
    frame: int = 64,
    min_shared: int = 1,
    max_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate AUDIO by shared acoustic frame fingerprints — the
    audio mirror of :func:`video_ahash_dups` (audio copy detection joins
    clips on matching window fingerprints, Shazam-style, never all-pairs).
    Same distributed shape and output columns; see
    :func:`band_signature_dups`."""
    sig = audio_frame_signatures(df, frame=frame)
    return band_signature_dups(sig, min_shared=min_shared, max_freq=max_freq)


def _ahash_banded_rows(df: DataFrame) -> DataFrame:
    """(id, band, v, bands, pfx): one row per aHash band per image, the
    full 8-band signature carried alongside for exact hamming verify, and
    the partition prefix ``pmod(v, _BUCKET_PREFIXES)`` that every index
    writer and matcher shares."""
    sig = image_ahash(df).filter(F.col("bands").isNotNull())
    return sig.select(
        F.col("doc_id").alias("id"),
        F.posexplode("bands").alias("band", "v"),
        F.col("bands"),
    ).withColumn(
        "pfx", F.pmod(F.col("v"), F.lit(_BUCKET_PREFIXES)).cast("int")
    )


def image_index_write(df: DataFrame, path: str) -> None:
    """Materialize the corpus's aHash band rows under ``path``/bands,
    PARTITIONED by a band-value prefix — the IMAGE analogue of
    ``dedup.lsh_write_index``: an incoming batch reads only the partitions
    its own band values hash into, so per-batch match cost is batch-sized,
    not corpus-sized. Match reads with the same ``_BUCKET_PREFIXES``."""
    _ahash_banded_rows(df).write.mode(
        "overwrite"
    ).partitionBy("pfx").parquet(path.rstrip("/") + "/bands")


def image_index_match(
    spark,
    path: str,
    batch: DataFrame,
    *,
    max_hamming: int = 7,
) -> DataFrame:
    """Near-duplicate (corpus, batch) image pairs against the index at
    rest: (id_a = corpus id, id_b = batch id, hamming) with the same
    band-equality pigeonhole + integer xor/bit_count verify as
    ``image_ahash_dups`` (sound for max_hamming < 8: fewer than 8
    differing bits cannot touch all 8 bands). The batch's distinct band
    prefixes (a bounded ≤ ``_BUCKET_PREFIXES`` driver list) become a
    partition filter on the index scan; the batch side broadcasts, so the
    corpus index is never shuffled."""
    if not (0 <= max_hamming < _AHASH_BANDS):
        raise ValueError(
            f"pigeonhole needs 0 <= max_hamming < {_AHASH_BANDS}"
        )
    # prefix collect + join reuse one computation
    b = materialize(_ahash_banded_rows(batch))
    pfxs = sorted(r["pfx"] for r in b.select("pfx").distinct().collect())
    corpus = spark.read.parquet(path.rstrip("/") + "/bands").filter(
        F.col("pfx").isin(pfxs)
    )
    cand = (
        corpus.alias("a")
        .join(
            F.broadcast(b.alias("b")),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.v") == F.col("b.v")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.bands").alias("ba"),
            F.col("b.bands").alias("bb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.aggregate(
        F.zip_with(
            F.col("ba"),
            F.col("bb"),
            lambda x, y: F.bit_count(x.bitwiseXOR(y)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )
    return cand.select(
        "id_a", "id_b", hamming.cast("int").alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)
