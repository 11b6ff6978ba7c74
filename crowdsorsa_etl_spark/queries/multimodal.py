"""Multimodal: image/video/audio payload decode and perceptual-hash dedup,
caption-image pairs, HTML extraction and URL canonicalization.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from crowdsorsa_etl_spark import lsh_oracles
from crowdsorsa_etl_spark.functions.html import (
    escape_html_text,
    html_link_density,
    html_links,
    html_tag_count,
    strip_html,
)
from crowdsorsa_etl_spark.functions.url import (
    canonical_url_sql,
    canonicalize_url,
    registered_domain,
    url_host,
)
from crowdsorsa_etl_spark.operators.dedup import minhash_lsh_candidates
from crowdsorsa_etl_spark.operators.multimodal import (
    attach_avi_payload,
    attach_binary_payload,
    attach_jpeg_payload,
    attach_png_payload,
    attach_wav_payload,
    audio_fingerprint_dups,
    audio_frame_features,
    decode_images,
    decode_video_frames,
    extract_features,
    image_ahash_dups,
    image_checksums,
    image_index_match,
    image_index_write,
    video_ahash_dups,
)
from crowdsorsa_etl_spark.operators.similarity import cosine_topk
from crowdsorsa_etl_spark.queries._shared import _at_rest, _sf_cache_dir, _t, register


#: the payload-bytes prefix of the byte-level oracles: each doc's first
#: 256 UTF-8 bytes as hex (``hx``), an empty text read as one zero byte (``b``)
_PAYLOAD_HEX_CTES = """WITH hx AS (
      SELECT doc_id, substr(hex(encode(coalesce(text, ''))), 1, 512) AS h
      FROM documents WHERE doc_id < 200
    ),
    b AS (
      SELECT doc_id, CASE WHEN length(h) = 0 THEN '00' ELSE h END AS h
      FROM hx
    )"""

#: aHash replay over ``hx(doc_id, h)``: the first 64 bytes (absent -> 0)
#: thresholded against their mean and packed into 8 one-byte ``bands``
_AHASH_SIG_CTES = """bytes AS (
      SELECT doc_id, i,
             CASE WHEN length(h) >= 2*i THEN
               (strpos('0123456789ABCDEF', substr(h, CAST(2*i-1 AS INT), 1))
                - 1) * 16
               + strpos('0123456789ABCDEF', substr(h, CAST(2*i AS INT), 1))
               - 1
             ELSE 0 END AS v
      FROM hx, UNNEST(range(1, 65)) AS t(i)
    ),
    tot AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS s FROM bytes GROUP BY 1),
    bits AS (
      SELECT b.doc_id, b.i,
             CASE WHEN b.v * 64 >= t.s THEN 1 ELSE 0 END AS bit
      FROM bytes b JOIN tot t ON b.doc_id = t.doc_id
    ),
    bands AS (
      SELECT doc_id, CAST((i - 1) // 8 AS INT) AS band,
             CAST(sum(bit * (1 << (7 - CAST((i - 1) % 8 AS INT)))) AS BIGINT)
               AS v
      FROM bits GROUP BY 1, 2
    ),
    sig AS (
      SELECT doc_id, list(v ORDER BY band) AS bands FROM bands GROUP BY 1
    )"""


def _band_hamming(pad: int) -> str:
    """DuckDB sum of the bitwise hamming distance between the 8-band
    signatures ``a.bands`` and ``b.bands``; continuation lines are
    indented ``pad`` spaces."""
    return f"\n{' ' * pad}+ ".join(
        f"bit_count(xor(a.bands[{i}], b.bands[{i}]))" for i in range(1, 9)
    )


@register(
    "llm_multimodal_bytes",
    """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS n_bytes,
           CAST(len(text) AS INT) AS n_chars
    FROM documents
    """,
)
def llm_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column plumbing: text → UTF-8 bytes in a BinaryType column
    (the decode/feature-extract path continues in operators/multimodal.py)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length(F.encode(F.col("text"), "UTF-8")).alias("n_bytes"),
        F.length("text").alias("n_chars"),
    )


@register("llm_multimodal_embed_topk", lsh_oracles.multimodal_embed_topk_sql())
def llm_multimodal_embed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full multimodal similarity pipeline: binary payload → deterministic
    feature extraction (mapInPandas) → exact cosine top-k — the composition
    the engine is built for. Oracle since round 6: the stand-in encoder is
    pure integer/float arithmetic, so the DuckDB SQL replays payload → byte
    histogram → projection → float32 quantization → cosine re-rank end to
    end (lsh_oracles.multimodal_embed_topk_sql)."""
    docs = _t(spark, sf_dir, "documents")
    emb = extract_features(attach_binary_payload(docs), dim=16).localCheckpoint()
    return cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=5)


@register(
    "llm_image_decode",
    f"""
    {_PAYLOAD_HEX_CTES},
    sized AS (SELECT doc_id, h, length(h) / 2 AS nbody FROM b),
    idx AS (
      SELECT doc_id, h, nbody,
             unnest(generate_series(1, CAST(nbody AS BIGINT))) AS i
      FROM sized
    ),
    bytes AS (
      SELECT doc_id, nbody, i,
             (strpos('0123456789ABCDEF', substr(h, CAST(2*i-1 AS INT), 1))
              - 1) * 16
             + strpos('0123456789ABCDEF', substr(h, CAST(2*i AS INT), 1))
             - 1 AS v
      FROM idx
    )
    SELECT doc_id,
           'png' AS format,
           CAST(8 AS INT) AS width,
           CAST(ceil(max(nbody) / 8.0) AS INT) AS height,
           CAST(sum(v) AS BIGINT) AS pix_sum,
           CAST(sum(v * i) AS BIGINT) AS pix_wsum
    FROM bytes GROUP BY doc_id ORDER BY doc_id
    """,
)
def llm_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real multimodal decode surface, now FULLY hash-oracled: render each
    document into a genuine PNG (stdlib encoder: one gray pixel per UTF-8
    byte, 8 wide, zero-padded tail row), run the REAL decode path (no fake
    fallback), and emit exact integer pixel checksums. The DuckDB oracle
    never touches a PNG: it re-derives the expected pixels straight from
    the text's UTF-8 bytes (hex(encode(text)) → per-byte values) and
    replays both the plain and the position-weighted sum — so a bug in
    EITHER the encoder or the decoder (shifted rows, wrong filter, palette
    mixups, byte-order flips) breaks the position-weighted sum and the
    hash. Integer-only output: no cross-engine float-rounding risk.
    mean_luma/n_bytes stay covered by tests/test_imagecodec.py +
    test_multimodal e2e."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    png = attach_png_payload(docs)
    return image_checksums(png).orderBy("doc_id")


# ===========================================================================
# llm_url_canonical_cap — URL canonicalization + registered-domain
# extraction + per-domain quota (functions/url.py): the curation trio
# that keys web corpora. Raw URLs are assembled deterministically from
# document columns (messy on purpose: casing, www, default port,
# tracking params, trailing slash, fragment); BOTH engines canonicalize
# with the same rule set — the oracle replays it via
# functions/url.canonical_url_sql so the two stay in one source of
# truth. Quota = top-5 docs per domain by (n_chars DESC, doc_id).
# ===========================================================================

_RAW_URL_SQL = """
    SELECT doc_id, n_chars,
      (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
      (CASE WHEN doc_id % 4 = 0 THEN 'WWW.' ELSE '' END) || source ||
      (CASE WHEN doc_id % 5 = 0 THEN '.Example.CO.UK' ELSE '.COM' END) ||
      (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END) ||
      '/docs/' || CAST(doc_id AS VARCHAR) ||
      (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
      '?utm_source=feed&b=' || CAST(doc_id % 7 AS VARCHAR) ||
      '&a=' || CAST(doc_id % 5 AS VARCHAR) ||
      (CASE WHEN doc_id % 2 = 0 THEN '&fbclid=abc' ELSE '' END) ||
      (CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END) AS raw_url
    FROM documents
"""


def _url_cap_sql() -> str:
    return f"""
    SELECT doc_id, url_canon, domain, CAST(rnk AS INT) AS rnk
    FROM (
      SELECT doc_id, url_canon, domain,
             row_number() OVER (PARTITION BY domain
                                ORDER BY n_chars DESC, doc_id) AS rnk
      FROM ({canonical_url_sql(_RAW_URL_SQL)})
    )
    WHERE rnk <= 5
    """


@register("llm_url_canonical_cap", _url_cap_sql())
def llm_url_canonical_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize messy URLs, key on registered domain, keep 5 per
    domain — all narrow expressions plus one window shuffle on domain."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    raw = F.concat(
        F.when(did % 2 == 0, F.lit("HTTPS")).otherwise(F.lit("https")),
        F.lit("://"),
        F.when(did % 4 == 0, F.lit("WWW.")).otherwise(F.lit("")),
        F.col("source"),
        F.when(did % 5 == 0, F.lit(".Example.CO.UK")).otherwise(
            F.lit(".COM")
        ),
        F.when(did % 3 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/docs/"),
        did.cast("string"),
        F.when(did % 2 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&b="),
        (did % 7).cast("string"),
        F.lit("&a="),
        (did % 5).cast("string"),
        F.when(did % 2 == 0, F.lit("&fbclid=abc")).otherwise(F.lit("")),
        F.when(did % 6 == 0, F.lit("#frag")).otherwise(F.lit("")),
    )
    enriched = docs.select(
        "doc_id",
        "n_chars",
        canonicalize_url(raw).alias("url_canon"),
        registered_domain(url_host(raw)).alias("domain"),
    )
    w = Window.partitionBy("domain").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        enriched.withColumn("rnk", F.row_number().over(w).cast("int"))
        .filter(F.col("rnk") <= 5)
        .select("doc_id", "url_canon", "domain", "rnk")
    )


# ===========================================================================
# llm_audio_frame_energy — the audio modality leg, fully hash-oracled
# like llm_image_decode: synthesize PCM16 waveforms from document bytes,
# wrap in REAL RIFF/WAVE containers (functions/audiocodec.py), decode
# through the real wave-module path, and emit integer frame features
# (Σs² per (64,32) frame, max frame energy, zero crossings). The oracle
# never parses a WAV: it re-derives samples straight from the text's
# UTF-8 bytes and replays the framing arithmetic — a header-parse bug,
# byte-order flip, or framing off-by-one breaks the hash.
# ===========================================================================

_AUDIO_SQL = f"""
    {_PAYLOAD_HEX_CTES},
    sized AS (SELECT doc_id, h, CAST(length(h) / 2 AS BIGINT) AS n FROM b),
    idx AS (
      SELECT doc_id, h, n, unnest(generate_series(1, n)) AS i FROM sized
    ),
    smp AS (
      SELECT doc_id, n, i,
             CAST(((strpos('0123456789ABCDEF', substr(h, CAST(2*i-1 AS INT), 1))
                    - 1) * 16
                   + strpos('0123456789ABCDEF', substr(h, CAST(2*i AS INT), 1))
                   - 1 - 128) * 256 AS BIGINT) AS s
      FROM idx
    ),
    docs AS (SELECT DISTINCT doc_id, n FROM smp),
    nf AS (
      SELECT doc_id, n,
             CASE WHEN n < 64 THEN 1 ELSE (n - 64) // 32 + 1 END AS n_frames
      FROM docs
    ),
    fr AS (
      SELECT doc_id, n, unnest(generate_series(1, n_frames)) AS f FROM nf
    ),
    fe AS (
      SELECT fr.doc_id, fr.f, sum(smp.s * smp.s) AS fe
      FROM fr JOIN smp ON smp.doc_id = fr.doc_id
        AND smp.i >= (fr.f - 1) * 32 + 1
        AND smp.i <= CASE WHEN fr.n < 64 THEN fr.n
                          ELSE (fr.f - 1) * 32 + 64 END
      GROUP BY 1, 2
    ),
    agg_e AS (
      SELECT doc_id, CAST(count(*) AS INT) AS n_frames,
             CAST(sum(fe) AS BIGINT) AS energy_sum,
             CAST(max(fe) AS BIGINT) AS max_frame_energy
      FROM fe GROUP BY 1
    ),
    zc AS (
      SELECT a.doc_id,
             CAST(count(*) FILTER (WHERE (a.s < 0) <> (b2.s < 0)) AS BIGINT)
               AS zero_crossings
      FROM smp a JOIN smp b2
        ON a.doc_id = b2.doc_id AND b2.i = a.i + 1
      GROUP BY 1
    )
    SELECT d.doc_id, CAST(d.n AS INT) AS n_samples,
           CAST(16000 AS INT) AS sample_rate,
           agg_e.n_frames, agg_e.energy_sum, agg_e.max_frame_energy,
           coalesce(zc.zero_crossings, 0) AS zero_crossings
    FROM docs d
    JOIN agg_e ON d.doc_id = agg_e.doc_id
    LEFT JOIN zc ON d.doc_id = zc.doc_id
"""


@register("llm_audio_frame_energy", _AUDIO_SQL)
def llm_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real WAV decode → integer frame-energy features per document."""
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 200)
        .select("doc_id", "text")  # prune the scan: Arrow stages eat rows whole
    )
    return audio_frame_features(attach_wav_payload(docs))


# ===========================================================================
# llm_image_phash_dups — perceptual near-dup IMAGE detection through the
# real codec: render each doc into a genuine PNG (one gray pixel per UTF-8
# byte — the llm_image_decode fixture), decode it back, aHash the first
# 8×8 pixel block with integer-only math, and find pairs within hamming 7
# via the 8-band pigeonhole. The DuckDB oracle never touches a PNG: it
# re-derives the 64 sample bytes from hex(encode(text)), replays the
# integer threshold/packing, and brute-forces ALL pairs — so a decode bug,
# a threshold drift, a bit-order flip, or a pigeonhole recall miss (a
# dropped qualifying pair) each break the hash.
# ===========================================================================


def _phash_oracle() -> str:
    # v(i): byte i (1-based) of the first 64, absent -> 0
    return f"""
    WITH hx AS (
      SELECT doc_id, substr(hex(encode(coalesce(text, ''))), 1, 128) AS h
      FROM documents WHERE doc_id < 200
    ),
    {_AHASH_SIG_CTES}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST({_band_hamming(14)} AS INT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE {_band_hamming(8)} <= 7
    """


@register("llm_image_phash_dups", _phash_oracle())
def llm_image_phash_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate images by perceptual aHash within hamming 7, through
    the real PNG encode/decode round-trip; pigeonhole candidates, integer
    xor/bit_count verify."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return image_ahash_dups(attach_png_payload(docs), max_hamming=7)


# ===========================================================================
# llm_image_decode_jpeg — the REAL baseline-JPEG decode path end to end:
# each doc renders into a genuine JPEG (stdlib Huffman+DCT encoder,
# functions/jpegcodec.py), and decode_images runs the real decoder — no
# fake fallback anywhere. JPEG is lossy, so the hash oracle gates what is
# exactly derivable cross-engine (format sniff, container parse, MCU
# geometry → width/height); pixel fidelity is gated by the codec unit
# tests (roundtrip PSNR + fixed-byte fixture, tests/test_jpegcodec.py).
# ===========================================================================


@register(
    "llm_image_decode_jpeg",
    """
    SELECT doc_id,
           'jpeg' AS format,
           CAST(8 AS INT) AS width,
           CAST(ceil(greatest(least(octet_length(encode(coalesce(text, ''))),
                                    256), 1) / 8.0) AS INT) AS height
    FROM documents WHERE doc_id < 200
    """,
)
def llm_image_decode_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode genuine baseline JPEGs through the stdlib codec; emit the
    exactly-replayable metadata columns."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    jpg = attach_jpeg_payload(docs)
    return decode_images(jpg).select("doc_id", "format", "width", "height")


# ===========================================================================
# llm_video_frames — the REAL video modality end to end: each doc renders
# into a genuine MJPEG-in-AVI container (functions/videocodec.py), and
# decode_video_frames walks the RIFF tree, samples every 2nd frame, and
# Huffman-decodes each sampled frame through the stdlib JPEG decoder — no
# fake fallback anywhere. JPEG is lossy, so the hash oracle gates what is
# exactly derivable cross-engine (container geometry: frame count from the
# closed-form text-length rule, sampled frame indices, fps, dimensions);
# pixel fidelity is gated by the codec unit tests (the
# llm_image_decode_jpeg posture).
# ===========================================================================


@register(
    "llm_video_frames",
    """
    WITH d AS (
      SELECT doc_id,
             (octet_length(encode(coalesce(text, ''))) % 3) + 1 AS nf
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           'avi/mjpeg' AS format,
           CAST((i - 1) * 2 AS INT) AS frame_idx,
           CAST(nf AS INT) AS n_frames,
           CAST(10 AS INT) AS fps,
           CAST(8 AS INT) AS width,
           CAST(8 AS INT) AS height
    FROM d, UNNEST(range(1, ((nf + 1) // 2) + 1)) AS t(i)
    """,
)
def llm_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-and-decode real MJPEG/AVI frames; emit the exactly-replayable
    container-geometry columns."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    avi = attach_avi_payload(docs)
    return decode_video_frames(avi, every_n=2).select(
        "doc_id", "format", "frame_idx", "n_frames", "fps", "width", "height"
    )


# ===========================================================================
# llm_video_dups — near-duplicate VIDEO detection through the real codec:
# docs render into genuine UNCOMPRESSED AVIs (24-bit DIB frames — the
# lossless profile, so decoded pixels ARE the derived bytes), every frame
# decodes and aHashes through the shared integer packing, and videos pair
# up by shared distinct frame hashes (the shot-level fingerprint join of
# video copy detection — keyed on the hash, never all-pairs). The DuckDB
# oracle never touches an AVI: it re-derives each frame's 64 sample bytes
# from hex(encode(text)), replays the threshold/packing per frame, and
# brute-forces ALL video pairs — so a container-parse bug, a DIB
# row-order/stride bug, a hash drift, or a dropped qualifying pair each
# break the hash.
# ===========================================================================


def _video_dups_oracle() -> str:
    # exact-equality band join; a hamming-radius variant would sum
    # bit_count(xor(...)) over the 8 bands (the llm_simhash_hamming shape)
    return """
    WITH hx AS (
      SELECT doc_id, hex(encode(coalesce(text, ''))) AS h,
             (octet_length(encode(coalesce(text, ''))) % 3) + 1 AS nf
      FROM documents WHERE doc_id < 200
    ),
    fr AS (
      SELECT doc_id, h, CAST(f AS INT) AS f
      FROM hx, UNNEST(range(0, nf)) AS t(f)
    ),
    bytes AS (
      -- sample j (1..64) of frame f = byte 64*f + j of the text, absent -> 0
      SELECT doc_id, f, j,
             CASE WHEN length(h) >= 2 * (64 * f + j) THEN
               (strpos('0123456789ABCDEF',
                       substr(h, CAST(2 * (64 * f + j) - 1 AS INT), 1)) - 1)
               * 16
               + strpos('0123456789ABCDEF',
                        substr(h, CAST(2 * (64 * f + j) AS INT), 1)) - 1
             ELSE 0 END AS v
      FROM fr, UNNEST(range(1, 65)) AS t(j)
    ),
    tot AS (
      SELECT doc_id, f, CAST(sum(v) AS BIGINT) AS s
      FROM bytes GROUP BY 1, 2
    ),
    bits AS (
      SELECT b.doc_id, b.f, b.j,
             CASE WHEN b.v * 64 >= t.s THEN 1 ELSE 0 END AS bit
      FROM bytes b JOIN tot t ON b.doc_id = t.doc_id AND b.f = t.f
    ),
    bands AS (
      SELECT doc_id, f, CAST((j - 1) // 8 AS INT) AS band,
             CAST(sum(bit * (1 << (7 - CAST((j - 1) % 8 AS INT)))) AS BIGINT)
               AS v
      FROM bits GROUP BY 1, 2, 3
    ),
    sig AS (
      SELECT doc_id, f, list(v ORDER BY band) AS bands
      FROM bands GROUP BY 1, 2
    ),
    dsig AS (SELECT DISTINCT doc_id, bands FROM sig),
    nd AS (SELECT doc_id, count(*) AS n FROM dsig GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(count(*) AS INT) AS matched_frames
      FROM dsig a JOIN dsig b
        ON a.doc_id < b.doc_id AND a.bands = b.bands
      GROUP BY 1, 2
    )
    SELECT p.id_a, p.id_b, p.matched_frames,
           CAST(na.n AS INT) AS n_sigs_a, CAST(nb.n AS INT) AS n_sigs_b
    FROM pairs p
    JOIN nd na ON p.id_a = na.doc_id
    JOIN nd nb ON p.id_b = nb.doc_id
    WHERE p.matched_frames >= 1
    """


@register("llm_video_dups", _video_dups_oracle())
def llm_video_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate videos by shared distinct perceptual frame hashes,
    through the real lossless AVI/DIB decode path."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    avi = attach_avi_payload(docs, codec="raw")
    return video_ahash_dups(avi, min_shared=1)


# ===========================================================================
# llm_audio_dups — near-duplicate AUDIO by shared acoustic frame
# fingerprints, the audio mirror of llm_video_dups: clips decode through
# the REAL WAV/PCM16 codec, the signal splits into non-overlapping
# 64-sample windows, each window fingerprints through the SAME shared
# integer band packing images and video use, and clips pair up by an
# equi-join keyed on the fingerprint — bucketed, never all-pairs. The
# oracle never touches a WAV: it re-derives every sample from
# hex(encode(text)) with the fixture's (byte - 128) * 256 synthesis rule,
# replays the per-window threshold/packing, and brute-forces all pairs.
# ===========================================================================


def _audio_dups_oracle() -> str:
    return f"""
    {_PAYLOAD_HEX_CTES},
    sized AS (
      -- n must be BIGINT before the // so the division floors (double //
      -- in DuckDB does NOT floor, and the BIGINT cast would then round)
      SELECT doc_id, h, n, (n + 63) // 64 AS nf
      FROM (SELECT doc_id, h, CAST(length(h) / 2 AS BIGINT) AS n FROM b)
    ),
    fr AS (
      SELECT doc_id, h, n, CAST(f AS INT) AS f
      FROM sized, UNNEST(range(0, nf)) AS t(f)
    ),
    smp AS (
      -- window sample j (1..64) of frame f = signal sample 64*f + j,
      -- absent -> 0; sample i = (byte_i - 128) * 256
      SELECT doc_id, f, j,
             CASE WHEN n >= 64 * f + j THEN
               ((strpos('0123456789ABCDEF',
                        substr(h, CAST(2 * (64 * f + j) - 1 AS INT), 1)) - 1)
                * 16
                + strpos('0123456789ABCDEF',
                         substr(h, CAST(2 * (64 * f + j) AS INT), 1)) - 1
                - 128) * 256
             ELSE 0 END AS v
      FROM fr, UNNEST(range(1, 65)) AS t(j)
    ),
    tot AS (
      SELECT doc_id, f, CAST(sum(v) AS BIGINT) AS s
      FROM smp GROUP BY 1, 2
    ),
    bits AS (
      SELECT m.doc_id, m.f, m.j,
             CASE WHEN m.v * 64 >= t.s THEN 1 ELSE 0 END AS bit
      FROM smp m JOIN tot t ON m.doc_id = t.doc_id AND m.f = t.f
    ),
    bands AS (
      SELECT doc_id, f, CAST((j - 1) // 8 AS INT) AS band,
             CAST(sum(bit * (1 << (7 - CAST((j - 1) % 8 AS INT)))) AS BIGINT)
               AS v
      FROM bits GROUP BY 1, 2, 3
    ),
    sig AS (
      SELECT doc_id, f, list(v ORDER BY band) AS bands
      FROM bands GROUP BY 1, 2
    ),
    dsig AS (SELECT DISTINCT doc_id, bands FROM sig),
    nd AS (SELECT doc_id, count(*) AS n FROM dsig GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
             CAST(count(*) AS INT) AS matched_frames
      FROM dsig a JOIN dsig b2
        ON a.doc_id < b2.doc_id AND a.bands = b2.bands
      GROUP BY 1, 2
    )
    SELECT p.id_a, p.id_b, p.matched_frames,
           CAST(na.n AS INT) AS n_sigs_a, CAST(nb.n AS INT) AS n_sigs_b
    FROM pairs p
    JOIN nd na ON p.id_a = na.doc_id
    JOIN nd nb ON p.id_b = nb.doc_id
    WHERE p.matched_frames >= 1
    """


@register("llm_audio_dups", _audio_dups_oracle())
def llm_audio_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate audio clips by shared acoustic window fingerprints,
    through the real WAV/PCM16 decode path."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    wav = attach_wav_payload(docs)
    return audio_fingerprint_dups(wav, min_shared=1)


# ===========================================================================
# llm_html_extract — the FIRST stage of a web-corpus pipeline: HTML → main
# text + boilerplate signals. Each document renders into a deterministic
# HTML page (escaped body text, a styled head, a nav anchor carrying the
# source, a script block), then the RE2-safe expression chain strips
# blocks/tags, decodes entities, and measures tag count + link density —
# a full build→escape→extract round trip. The oracle replays BOTH sides
# in SQL with the identical pattern strings, so an escape-order bug, a
# greedy regex, a missed entity, or a wrong link-density denominator each
# break the hash.
# ===========================================================================


def _html_extract_sql() -> str:
    strip = (
        "trim(regexp_replace("
        "replace(replace(replace(replace(replace(replace(replace("
        "regexp_replace(regexp_replace(regexp_replace({x},"
        " '(?s)<!--.*?-->', ' ', 'g'),"
        " '(?is)<script[^>]*>.*?</script>', ' ', 'g'),"
        " '(?s)</?[a-zA-Z][^>]*>', ' ', 'g'),"
        " '&nbsp;', ' '), '&lt;', '<'), '&gt;', '>'),"
        " '&quot;', '\"'), '&apos;', ''''), '&#39;', ''''),"
        " '&amp;', '&'),"
        " '\\s+', ' ', 'g'))"
    )
    # the fixture page has no <style> payload inside anchors, so the
    # oracle's strip chain matches the operator's (style pass folded into
    # the script pass ordering is irrelevant here: both are removed)
    style_strip = strip.replace(
        "'(?is)<script[^>]*>.*?</script>', ' ', 'g'),",
        "'(?is)<script[^>]*>.*?</script>', ' ', 'g'),"
        " '(?is)<style[^>]*>.*?</style>', ' ', 'g'),",
    ).replace(
        "regexp_replace(regexp_replace(regexp_replace({x},",
        "regexp_replace(regexp_replace(regexp_replace(regexp_replace({x},",
    )
    page = (
        "'<html><head><title>doc</title><style>p{margin:0}</style>"
        "</head><body><nav><a href=\"/\">' || source || '</a> &amp;'"
        " || ' <a href=\"/l\">' || lang || '</a></nav><p>' ||"
        " replace(replace(replace(coalesce(text, ''),"
        " '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"
        " || '</p><script>var x = 1 < 2;</script></body></html>'"
    )
    extracted = style_strip.format(x="page")
    anchor_sum = (
        "coalesce((SELECT sum(length("
        + style_strip.format(x="a.m")
        + ")) FROM (SELECT unnest(regexp_extract_all(page,"
        r" '(?is)<a(?:\s[^>]*)?>(.*?)</a>', 1)) AS m) a), 0)"
    )
    return f"""
    WITH pages AS (
      SELECT doc_id, {page} AS page FROM documents
    ),
    ex AS (
      SELECT doc_id, page, {extracted} AS txt,
             len(regexp_extract_all(page, '(?s)</?[a-zA-Z][^>]*>', 0))
               AS n_tags,
             {anchor_sum} AS anchor_chars
      FROM pages
    )
    SELECT doc_id, md5(txt) AS text_md5,
           CAST(n_tags AS INT) AS tag_count,
           CASE WHEN length(txt) = 0 THEN 0.0
                ELSE round(anchor_chars / CAST(length(txt) AS DOUBLE), 6)
           END AS link_density
    FROM ex
    """


@register("llm_html_extract", _html_extract_sql())
def llm_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render each doc into a deterministic HTML page, then extract text
    and boilerplate signals through the RE2-safe expression chain."""
    docs = _t(spark, sf_dir, "documents")
    page = F.concat(
        F.lit(
            '<html><head><title>doc</title><style>p{margin:0}</style>'
            '</head><body><nav><a href="/">'
        ),
        F.col("source"),
        F.lit('</a> &amp; <a href="/l">'),
        F.col("lang"),
        F.lit("</a></nav><p>"),
        escape_html_text(F.coalesce(F.col("text"), F.lit(""))),
        F.lit("</p><script>var x = 1 < 2;</script></body></html>"),
    )
    pages = docs.select(F.col("doc_id"), page.alias("page"))
    return pages.select(
        "doc_id",
        F.md5(strip_html(F.col("page"))).alias("text_md5"),
        html_tag_count(F.col("page")).cast("int").alias("tag_count"),
        html_link_density(F.col("page")).alias("link_density"),
    )


# ===========================================================================
# llm_html_links — the crawl-frontier extraction: pages render with messy
# anchor URLs (casing, www, default port, tracking params, a relative
# href), html_links pulls every href, and the existing URL trio
# (canonicalize / host / registered-domain, functions/url.py) folds them
# into per-domain frontier counts. One expression chain + one groupBy —
# and the oracle composes the SAME canonical_url_sql single source of
# truth over the SAME extraction pattern.
# ===========================================================================


def _html_links_sql() -> str:
    page = (
        "'<body><a href=\"HTTPS://WWW.' || source ||"
        " '.COM:443/a/' || CAST(doc_id AS VARCHAR) ||"
        " '?utm_source=x&q=1\">one</a><p>t</p>"
        "<a class=\"n\" href=\"https://' || source ||"
        " '.Example.CO.UK/b/' || CAST(doc_id % 10 AS VARCHAR) ||"
        " '/\">two</a><a href=\"/local\">rel</a></body>'"
    )
    inner = rf"""
    SELECT doc_id, unnest(regexp_extract_all({page},
      '(?is)<a\s[^>]*href\s*=\s*"([^"]*)"[^>]*>', 1)) AS raw_url
    FROM documents
    """
    return f"""
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_links,
           CAST(count(DISTINCT url_canon) AS BIGINT) AS n_unique_urls
    FROM ({canonical_url_sql(inner)})
    GROUP BY domain
    """


@register("llm_html_links", _html_links_sql())
def llm_html_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extract anchor hrefs from rendered pages, canonicalize, and count
    the per-domain crawl frontier."""
    docs = _t(spark, sf_dir, "documents")
    page = F.concat(
        F.lit('<body><a href="HTTPS://WWW.'),
        F.col("source"),
        F.lit(".COM:443/a/"),
        F.col("doc_id").cast("string"),
        F.lit('?utm_source=x&q=1">one</a><p>t</p><a class="n" href="https://'),
        F.col("source"),
        F.lit(".Example.CO.UK/b/"),
        (F.col("doc_id") % 10).cast("string"),
        F.lit('/">two</a><a href="/local">rel</a></body>'),
    )
    links = docs.select(
        F.explode(html_links(page)).alias("raw_url")
    )
    canon = links.select(
        canonicalize_url(F.col("raw_url")).alias("url_canon"),
        registered_domain(url_host(F.col("raw_url"))).alias("domain"),
    )
    return canon.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_links"),
        F.count_distinct(F.col("url_canon"))
        .cast("bigint")
        .alias("n_unique_urls"),
    )


# ===========================================================================
# llm_caption_image_dups — the PAIRED-modality curation signal a web
# multimodal corpus needs: (image, caption) pairs where one half is
# duplicated and the other is not. Dedup that looks at each modality alone
# keeps mismatched duplicates (the same stock photo under 40 different
# captions, or near-identical captions pointing at different images); this
# tier joins the image near-dup pairs (REAL PNG encode → stdlib decode →
# integer aHash → 8-band pigeonhole, the llm_image_phash_dups machinery)
# with the caption near-dup pairs (portable-hash banded MinHash-LSH, the
# llm_minhash_lsh machinery) by pair key — a FULL OUTER join of two
# bucketed pair sets, never all-pairs — and classifies each pair as
# both / image_only / caption_only. The fixture models the web shape:
# each doc's caption is its text, its image renders from a repeating key
# ('img-' || doc_id % 37 — the same logo on many pages), so image
# duplication is independent of caption similarity by construction.
# The DuckDB oracle never touches a PNG and never sees Spark's hashes:
# it re-derives the aHash bands from hex(encode(key)) byte-for-byte and
# re-derives the full MinHash band signatures from the md5 portable-hash
# fragments — a decode bug, a hash drift, a dropped pair, or a wrong
# outer-join class each break the hash.
# ===========================================================================


_CI_GROUPS = 31  # image-key modulus: the same "logo" on ~6 of 200 pages
# (31 chosen so the sf0.01 fixture exercises ALL THREE dup classes: one
# caption near-dup pair lands in a shared image group -> 'both')
_CI_MAXDOC = 200  # image tier budget (decode cost), same as the image packs
_CI_HAMMING = 7  # pigeonhole-sound for 8 bands


def _ci_img_key_sql(col: str = "doc_id") -> str:
    # 64 bytes (two md5s), digits -> spaces: the rendered "image" fills all
    # 64 aHash samples with group-dependent letter/space structure, so the
    # mean-thresholded bits genuinely differ across groups (measured 18-46
    # bit hamming between groups) while same-group images are byte-
    # identical (hamming 0). Shorter keys are degenerate — zero padding
    # drags the 64-sample mean below every real byte, every hash becomes
    # the same ones-then-zeros pattern, and ALL C(200,2) pairs "match"
    # (measured, rejected twice: bare 'img-N' and single-md5 keys).
    grp = f"'img-' || CAST({col} % {_CI_GROUPS} AS VARCHAR)"
    return (
        f"regexp_replace(md5({grp}) || md5({grp} || 'x'), "
        "'[0-9]', ' ', 'g')"
    )


def _caption_image_sql() -> str:
    # image half: _phash_oracle's byte->threshold->band replay, but over
    # the derived image KEY (the rendered payload), not the caption text
    key = _ci_img_key_sql()
    img_half = f"""
    hx AS (
      SELECT doc_id, substr(hex(encode({key})), 1, 128) AS h
      FROM documents WHERE doc_id < {_CI_MAXDOC}
    ),
    {_AHASH_SIG_CTES},
    ham AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST({_band_hamming(16)} AS INT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    ),
    img_pairs AS (SELECT * FROM ham WHERE hamming <= {_CI_HAMMING})
    """
    return f"""
    WITH {img_half},
    cap_all AS ({lsh_oracles.minhash_lsh_sql()}),
    cap_pairs AS (
      SELECT id_a, id_b, n_bands_matched FROM cap_all
      WHERE id_a < {_CI_MAXDOC} AND id_b < {_CI_MAXDOC}
    )
    SELECT coalesce(i.id_a, c.id_a) AS id_a,
           coalesce(i.id_b, c.id_b) AS id_b,
           i.hamming,
           c.n_bands_matched,
           CASE WHEN i.hamming IS NOT NULL AND c.n_bands_matched IS NOT NULL
                  THEN 'both'
                WHEN i.hamming IS NOT NULL THEN 'image_only'
                ELSE 'caption_only' END AS dup_class
    FROM img_pairs i FULL OUTER JOIN cap_pairs c
      ON i.id_a = c.id_a AND i.id_b = c.id_b
    """


@register("llm_caption_image_dups", _caption_image_sql())
def llm_caption_image_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mismatched-duplicate detection over (image, caption) pairs: image
    near-dup pairs (real PNG decode → aHash pigeonhole) FULL OUTER joined
    with caption near-dup pairs (MinHash-LSH) and classified
    both / image_only / caption_only."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _CI_MAXDOC)
    # the web shape: the same image (key) appears on many pages whose
    # captions differ — image duplication independent of caption similarity
    grp = F.concat(
        F.lit("img-"), (F.col("doc_id") % _CI_GROUPS).cast("string")
    )
    keyed = docs.select(
        "doc_id",
        F.regexp_replace(
            F.concat(F.md5(grp), F.md5(F.concat(grp, F.lit("x")))),
            "[0-9]",
            " ",
        ).alias("img_key"),
    )
    img_pairs = image_ahash_dups(
        attach_png_payload(keyed, text_col="img_key"),
        max_hamming=_CI_HAMMING,
    )
    cap_pairs = minhash_lsh_candidates(docs, portable=True)
    joined = img_pairs.alias("i").join(
        cap_pairs.alias("c"),
        (F.col("i.id_a") == F.col("c.id_a"))
        & (F.col("i.id_b") == F.col("c.id_b")),
        "full_outer",
    )
    return joined.select(
        F.coalesce(F.col("i.id_a"), F.col("c.id_a")).alias("id_a"),
        F.coalesce(F.col("i.id_b"), F.col("c.id_b")).alias("id_b"),
        F.col("i.hamming").alias("hamming"),
        F.col("c.n_bands_matched").alias("n_bands_matched"),
        F.when(
            F.col("i.hamming").isNotNull()
            & F.col("c.n_bands_matched").isNotNull(),
            F.lit("both"),
        )
        .when(F.col("i.hamming").isNotNull(), F.lit("image_only"))
        .otherwise(F.lit("caption_only"))
        .alias("dup_class"),
    )


# ===========================================================================
# llm_image_dedup_index — the image-signature index AT REST: the corpus
# slice's aHash band rows persist partitioned by band-value prefix
# (multimodal.image_index_write — the IVF/BM25/LSH-index posture for the
# image modality) and an incoming batch matches against them reading ONLY
# its own prefixes, batch side broadcast, corpus never reshuffled. The
# fixture reuses the caption-image 64-byte group keys so batch images
# genuinely duplicate corpus images; the oracle never sees the index — it
# re-derives both slices' aHash bands from hex bytes and brute-forces the
# corpus×batch pairs, so a partition-pruning bug that DROPS a qualifying
# pair breaks the hash.
# ===========================================================================

_IDX_SPLIT = 150  # corpus = doc_id < 150, batch = 150..199


def _image_index_sql() -> str:
    key = _ci_img_key_sql()
    return f"""
    WITH hx AS (
      SELECT doc_id, substr(hex(encode({key})), 1, 128) AS h
      FROM documents WHERE doc_id < {_CI_MAXDOC}
    ),
    {_AHASH_SIG_CTES}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST({_band_hamming(14)} AS INT) AS hamming
    FROM sig a JOIN sig b
      ON a.doc_id < {_IDX_SPLIT} AND b.doc_id >= {_IDX_SPLIT}
    WHERE {_band_hamming(8)} <= {_CI_HAMMING}
    """


def _ci_keyed(docs: DataFrame) -> DataFrame:
    grp = F.concat(
        F.lit("img-"), (F.col("doc_id") % _CI_GROUPS).cast("string")
    )
    return docs.select(
        "doc_id",
        F.regexp_replace(
            F.concat(F.md5(grp), F.md5(F.concat(grp, F.lit("x")))),
            "[0-9]",
            " ",
        ).alias("img_key"),
    )


@register("llm_image_dedup_index", _image_index_sql())
def llm_image_dedup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Match a batch of incoming images against the corpus image index at
    rest (partition-pruned read, broadcast batch)."""
    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < _CI_MAXDOC)
    path = _at_rest(
        os.path.join(_sf_cache_dir(sf_dir, "imgidx_v1", "documents"), "idx"),
        lambda stage: image_index_write(
            attach_png_payload(
                _ci_keyed(docs.filter(F.col("doc_id") < _IDX_SPLIT)),
                text_col="img_key",
            ),
            stage,
        ),
    )
    batch = attach_png_payload(
        _ci_keyed(docs.filter(F.col("doc_id") >= _IDX_SPLIT)),
        text_col="img_key",
    )
    return image_index_match(spark, path, batch, max_hamming=_CI_HAMMING)
