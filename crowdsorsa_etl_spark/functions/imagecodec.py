"""Stdlib-only image codecs: PNG (zlib + struct) and BMP (struct).

The container has no PIL/ffmpeg, but PNG and BMP are simple enough to decode
with the standard library — which turns the multimodal decode stages
(``operators/multimodal.py``) from deterministic fakes into real codecs for
the two most common lossless formats. Reference parity: the reference has no
image path at all; this backs the engine-general multimodal surface
(SURVEY.md §2.2).

Scope (raise ``ValueError`` outside it, callers treat that as "unsupported"):

* PNG: 8-bit depth, color types 0 (gray), 2 (RGB), 3 (palette), 4 (gray+A),
  6 (RGBA), non-interlaced, all five scanline filters.
* BMP: BITMAPINFOHEADER, uncompressed 24/32-bit, bottom-up or top-down.

Decoded images are numpy ``uint8`` arrays shaped (height, width, channels).
These functions run inside Arrow-batched ``mapInPandas`` workers — pure
CPU-on-local-bytes, no Spark state — so they scale exactly as well as the
surrounding batching does.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_MAGIC = b"\x89PNG\r\n\x1a\n"

_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def sniff_format(payload: bytes) -> str | None:
    """'png' / 'bmp' / 'jpeg' / None by magic bytes."""
    if payload[:8] == PNG_MAGIC:
        return "png"
    if payload[:2] == b"BM":
        return "bmp"
    if payload[:3] == b"\xff\xd8\xff":
        return "jpeg"
    return None


# --------------------------------------------------------------------------
# PNG
# --------------------------------------------------------------------------


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _unfilter(raw: bytes, height: int, stride: int, bpp: int) -> bytearray:
    """Undo PNG scanline filters. Sequential by spec (each byte depends on
    the left/up neighbors), but rows are short and this runs per-image
    inside a worker batch."""
    out = bytearray(height * stride)
    pos = 0
    for y in range(height):
        ftype = raw[pos]
        pos += 1
        row_start = y * stride
        prev_start = row_start - stride
        for x in range(stride):
            v = raw[pos + x]
            a = out[row_start + x - bpp] if x >= bpp else 0
            b = out[prev_start + x] if y > 0 else 0
            if ftype == 0:
                r = v
            elif ftype == 1:
                r = v + a
            elif ftype == 2:
                r = v + b
            elif ftype == 3:
                r = v + ((a + b) >> 1)
            elif ftype == 4:
                c = out[prev_start + x - bpp] if (y > 0 and x >= bpp) else 0
                r = v + _paeth(a, b, c)
            else:
                raise ValueError(f"bad PNG filter type {ftype}")
            out[row_start + x] = r & 0xFF
        pos += stride
    return out


def decode_png(payload: bytes) -> np.ndarray:
    """PNG bytes → uint8 array (h, w, channels). Palette images expand to
    RGB; alpha is preserved for types 4/6."""
    if payload[:8] != PNG_MAGIC:
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    width = height = None
    bit_depth = color_type = interlace = None
    idat = bytearray()
    palette = None
    n = len(payload)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            width, height, bit_depth, color_type, _comp, _filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
        elif ctype == b"PLTE":
            palette = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.extend(data)
        elif ctype == b"IEND":
            break
    if width is None:
        raise ValueError("PNG missing IHDR")
    if bit_depth != 8:
        raise ValueError(f"unsupported PNG bit depth {bit_depth} (only 8)")
    if interlace != 0:
        raise ValueError("interlaced PNG unsupported")
    if color_type not in _PNG_CHANNELS:
        raise ValueError(f"unsupported PNG color type {color_type}")
    channels = _PNG_CHANNELS[color_type]
    stride = width * channels
    raw = zlib.decompress(bytes(idat))
    if len(raw) != height * (stride + 1):
        raise ValueError("PNG IDAT length mismatch")
    px = np.frombuffer(
        bytes(_unfilter(raw, height, stride, channels)), dtype=np.uint8
    ).reshape(height, width, channels)
    if color_type == 3:
        if palette is None:
            raise ValueError("palette PNG missing PLTE")
        px = palette[px[:, :, 0]]
    return px


def encode_png(img: np.ndarray) -> bytes:
    """uint8 array (h, w) or (h, w, {1,2,3,4}) → PNG bytes (filter 0)."""
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    raw = bytearray()
    body = np.ascontiguousarray(img, dtype=np.uint8)
    for y in range(h):
        raw.append(0)
        raw.extend(body[y].tobytes())
    idat = zlib.compress(bytes(raw), 6)

    def chunk(ctype: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(ctype + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + ctype + data + struct.pack(">I", crc)

    return (
        PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", idat)
        + chunk(b"IEND", b"")
    )


# --------------------------------------------------------------------------
# BMP
# --------------------------------------------------------------------------


def decode_bmp(payload: bytes) -> np.ndarray:
    """BMP bytes → uint8 array (h, w, 3|4). Uncompressed 24/32-bit only."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP (bad signature)")
    (data_offset,) = struct.unpack("<I", payload[10:14])
    (hdr_size,) = struct.unpack("<I", payload[14:18])
    if hdr_size < 40:
        raise ValueError(f"unsupported BMP header size {hdr_size}")
    width, height = struct.unpack("<ii", payload[18:26])
    (bpp,) = struct.unpack("<H", payload[28:30])
    (compression,) = struct.unpack("<I", payload[30:34])
    if compression != 0:
        raise ValueError(f"compressed BMP unsupported (method {compression})")
    if bpp not in (24, 32):
        raise ValueError(f"unsupported BMP bit depth {bpp}")
    top_down = height < 0
    height = abs(height)
    bytes_pp = bpp // 8
    row_bytes = ((width * bytes_pp + 3) // 4) * 4  # rows pad to 4 bytes
    need = data_offset + row_bytes * height
    if len(payload) < need:
        raise ValueError("BMP pixel data truncated")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=row_bytes * height, offset=data_offset
    ).reshape(height, row_bytes)[:, : width * bytes_pp]
    px = rows.reshape(height, width, bytes_pp)
    if not top_down:
        px = px[::-1]
    # BMP stores BGR(A) → return RGB(A)
    if bytes_pp == 3:
        return np.ascontiguousarray(px[:, :, ::-1])
    return np.ascontiguousarray(px[:, :, [2, 1, 0, 3]])


# --------------------------------------------------------------------------
# Operations on decoded images
# --------------------------------------------------------------------------


def decode_image(payload: bytes) -> tuple[str, np.ndarray]:
    """Sniff + decode. Returns (format, pixels). ValueError if unsupported."""
    fmt = sniff_format(payload)
    if fmt == "png":
        return "png", decode_png(payload)
    if fmt == "bmp":
        return "bmp", decode_bmp(payload)
    if fmt == "jpeg":
        from crowdsorsa_etl_spark.functions.jpegcodec import decode_jpeg

        return "jpeg", decode_jpeg(payload)
    raise ValueError("unsupported image format")


def mean_luma(img: np.ndarray) -> float:
    """Rec.601 luma in [0, 1]; grayscale uses the single channel."""
    f = img.astype(np.float64)
    if f.ndim == 2 or f.shape[2] == 1:
        y = f.reshape(f.shape[0], f.shape[1], -1)[:, :, 0]
    else:
        y = 0.299 * f[:, :, 0] + 0.587 * f[:, :, 1] + 0.114 * f[:, :, 2]
    return float(y.mean() / 255.0)
