"""Stdlib PNG/BMP codec: round-trips, all five PNG filters, palette, BMP
padding/orientation and luma math. No Spark session needed."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from crowdsorsa_etl_spark.functions import imagecodec as ic


def _rng_img(h, w, c, seed=7):
    rng = np.random.default_rng(seed)
    shape = (h, w) if c == 1 else (h, w, c)
    return rng.integers(0, 256, size=shape, dtype=np.uint8).reshape(h, w, -1)


def _encode_bmp(img):
    """uint8 array (h, w, 3) RGB → 24-bit bottom-up BMP bytes (fixture
    builder for the decoder tests)."""
    h, w, _ = img.shape
    row_bytes = ((w * 3 + 3) // 4) * 4
    pad = row_bytes - w * 3
    body = bytearray()
    bgr = np.ascontiguousarray(img[:, :, ::-1], dtype=np.uint8)
    for y in range(h - 1, -1, -1):  # bottom-up
        body.extend(bgr[y].tobytes())
        body.extend(b"\x00" * pad)
    file_hdr = struct.pack("<2sIHHI", b"BM", 54 + len(body), 0, 0, 54)
    info_hdr = struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0
    )
    return file_hdr + info_hdr + bytes(body)


class TestPngRoundtrip:
    @pytest.mark.parametrize("channels", [1, 2, 3, 4])
    def test_roundtrip_exact(self, channels):
        img = _rng_img(5, 9, channels)
        out = ic.decode_png(ic.encode_png(img))
        assert out.shape == (5, 9, channels)
        assert np.array_equal(out, img)

    def test_roundtrip_2d_gray(self):
        img = np.arange(64, dtype=np.uint8).reshape(8, 8)
        out = ic.decode_png(ic.encode_png(img))
        assert np.array_equal(out[:, :, 0], img)

    def test_sniff(self):
        assert ic.sniff_format(ic.encode_png(_rng_img(2, 2, 3))) == "png"
        assert ic.sniff_format(_encode_bmp(_rng_img(2, 2, 3))) == "bmp"
        assert ic.sniff_format(b"\xff\xd8\xffJPEG-ish") == "jpeg"
        assert ic.sniff_format(b"RIFFxxxxWEBP") is None

    def test_bad_signature_raises(self):
        with pytest.raises(ValueError):
            ic.decode_png(b"not a png at all")


def _filter_row(ftype, row, prev, bpp):
    """Reference PNG scanline filterer (spec §6) used to craft test vectors
    our encoder (filter 0 only) never emits."""
    out = bytearray([ftype])
    for x, v in enumerate(row):
        a = row[x - bpp] if x >= bpp else 0
        b = prev[x] if prev is not None else 0
        c = prev[x - bpp] if (prev is not None and x >= bpp) else 0
        if ftype == 0:
            f = v
        elif ftype == 1:
            f = v - a
        elif ftype == 2:
            f = v - b
        elif ftype == 3:
            f = v - ((a + b) >> 1)
        else:
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            f = v - pred
        out.append(f & 0xFF)
    return bytes(out)


def _png_with_filters(img, filters):
    """Hand-assemble a PNG whose row y uses filters[y]."""
    h, w, c = img.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    raw = bytearray()
    prev = None
    for y in range(h):
        row = img[y].tobytes()
        raw.extend(_filter_row(filters[y], row, prev, c))
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)

    def chunk(t, d):
        return (
            struct.pack(">I", len(d))
            + t
            + d
            + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
        )

    return (
        ic.PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


class TestPngFilters:
    @pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
    def test_each_filter_type_decodes(self, ftype):
        img = _rng_img(6, 7, 3, seed=ftype)
        data = _png_with_filters(img, [ftype] * 6)
        assert np.array_equal(ic.decode_png(data), img)

    def test_mixed_filters(self):
        img = _rng_img(5, 4, 3, seed=42)
        data = _png_with_filters(img, [0, 1, 2, 3, 4])
        assert np.array_equal(ic.decode_png(data), img)

    def test_palette_png(self):
        # 2x2 palette image: indices into a 3-color PLTE
        pal = np.array([[255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8)
        idx = np.array([[0, 1], [2, 0]], dtype=np.uint8)
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
        raw = b"\x00" + idx[0].tobytes() + b"\x00" + idx[1].tobytes()

        def chunk(t, d):
            return (
                struct.pack(">I", len(d))
                + t
                + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
            )

        data = (
            ic.PNG_MAGIC
            + chunk(b"IHDR", ihdr)
            + chunk(b"PLTE", pal.tobytes())
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b"")
        )
        out = ic.decode_png(data)
        assert np.array_equal(out, pal[idx])


class TestBmp:
    def test_roundtrip_with_row_padding(self):
        img = _rng_img(4, 3, 3)  # width 3 → 9 bytes/row → 3 pad bytes
        out = ic.decode_bmp(_encode_bmp(img))
        assert np.array_equal(out, img)

    def test_top_down_bmp(self):
        img = _rng_img(3, 2, 3)
        data = bytearray(_encode_bmp(img[::-1]))  # encoder writes bottom-up
        data[22:26] = struct.pack("<i", -3)  # negative height = top-down
        out = ic.decode_bmp(bytes(data))
        assert np.array_equal(out, img[::-1][::-1])

    def test_32bit_bmp(self):
        # hand-build a 1x2 32-bit BMP: BGRA in-file, decoder returns RGBA
        px = b"\x01\x02\x03\x04" + b"\x05\x06\x07\x08"
        file_hdr = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(px), 0, 0, 54)
        info_hdr = struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 32, 0, len(px), 0, 0, 0, 0)
        out = ic.decode_bmp(file_hdr + info_hdr + px)
        assert out.shape == (1, 2, 4)
        assert out[0, 0].tolist() == [3, 2, 1, 4]  # RGBA
        assert out[0, 1].tolist() == [7, 6, 5, 8]

    def test_compressed_rejected(self):
        data = bytearray(_encode_bmp(_rng_img(2, 2, 3)))
        data[30:34] = struct.pack("<I", 1)  # RLE8
        with pytest.raises(ValueError):
            ic.decode_bmp(bytes(data))


class TestOps:
    def test_mean_luma_known_values(self):
        white = np.full((2, 2, 3), 255, dtype=np.uint8)
        assert ic.mean_luma(white) == pytest.approx(1.0, abs=1e-9)
        red = np.zeros((1, 1, 3), dtype=np.uint8)
        red[0, 0, 0] = 255
        assert ic.mean_luma(red) == pytest.approx(0.299, abs=1e-9)
        gray = np.full((3, 3), 128, dtype=np.uint8)
        assert ic.mean_luma(gray) == pytest.approx(128 / 255, abs=1e-9)

    def test_decode_image_dispatch(self):
        img = _rng_img(3, 3, 3)
        assert ic.decode_image(ic.encode_png(img))[0] == "png"
        assert ic.decode_image(_encode_bmp(img))[0] == "bmp"
        with pytest.raises(ValueError):
            ic.decode_image(b"GIF89a...")
