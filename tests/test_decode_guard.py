"""Hostile-header memory-DoS guard: decoders must reject implausibly
large DECLARED dimensions before allocating output buffers, so a
corrupt header in an untrusted corpus can't demand multi-GB buffers
on an executor running under on_error='skip'."""

import struct
import zlib

import numpy as np
import pytest

from coastsat_spark.functions._guard import MAX_DECODE_PIXELS, check_dims
from coastsat_spark.functions.png import encode_png, decode_png
from coastsat_spark.operators import multimodal as MM

HUGE = 65535  # 65535 x 65535 x 3 would be a ~12.9 GB uint8 buffer


def test_check_dims_bounds():
    check_dims(16384, 16384, "ok")  # exactly 2^28 px passes
    with pytest.raises(ValueError, match="implausible"):
        check_dims(16384, 16385, "over")
    with pytest.raises(ValueError, match="implausible"):
        check_dims(0, 10, "zero")
    with pytest.raises(ValueError, match="implausible"):
        check_dims(-3, 10, "negative")
    with pytest.raises(ValueError, match="frames"):
        check_dims(4096, 4096, "framed", frames=64)
    assert MAX_DECODE_PIXELS == 1 << 28


def _img(w=6, h=4):
    return np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)


def test_bmp_hostile_dims():
    p = bytearray(MM.encode_bmp(_img()))
    struct.pack_into("<ii", p, 18, HUGE, HUGE)  # biWidth, biHeight
    with pytest.raises(ValueError, match="BMP.*implausible"):
        MM.decode_bmp(bytes(p))


def test_avi_hostile_dims():
    frames = np.zeros((2, 4, 6, 3), dtype=np.uint8)
    p = bytearray(MM.encode_avi(frames))
    off = bytes(p).index(b"strf") + 8  # chunk body: BITMAPINFOHEADER
    struct.pack_into("<ii", p, off + 4, HUGE, HUGE)  # biWidth, biHeight
    with pytest.raises(ValueError, match="AVI.*implausible"):
        MM.decode_avi(bytes(p))


def test_png_hostile_dims():
    p = bytearray(encode_png(_img()))
    # IHDR body starts at 16 (sig 8 + len 4 + fourcc 4); w,h big-endian
    struct.pack_into(">II", p, 16, HUGE, HUGE)
    crc = zlib.crc32(bytes(p[12 : 16 + 13])) & 0xFFFFFFFF  # fourcc+body
    struct.pack_into(">I", p, 16 + 13, crc)
    with pytest.raises(ValueError, match="PNG.*implausible"):
        decode_png(bytes(p))


def test_tiff_hostile_dims():
    from coastsat_spark.functions.tiff import encode_geotiff, decode_geotiff

    arr = np.arange(24, dtype=np.uint16).reshape(4, 6)
    p = bytes(encode_geotiff(arr, (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)))
    # Patch the ImageWidth (256) and ImageLength (257) IFD LONG values.
    out = bytearray(p)
    bo = "<" if p[:2] == b"II" else ">"
    ifd_off = struct.unpack_from(bo + "I", p, 4)[0]
    n = struct.unpack_from(bo + "H", p, ifd_off)[0]
    for i in range(n):
        e = ifd_off + 2 + 12 * i
        tag = struct.unpack_from(bo + "H", p, e)[0]
        if tag in (256, 257):
            struct.pack_into(bo + "I", out, e + 8, HUGE)
    with pytest.raises(ValueError, match="TIFF.*implausible"):
        decode_geotiff(bytes(out))


def test_valid_payloads_still_decode():
    img = _img()
    assert np.array_equal(MM.decode_bmp(MM.encode_bmp(img)), img)
    assert np.array_equal(decode_png(encode_png(img)), img)
    fps, fr = MM.decode_avi(MM.encode_avi(np.stack([img, img])))
    assert fr.shape == (2, 4, 6, 3)


# ------------------------------------------------- decompression bombs
# The dims guard bounds OUTPUT buffers; these pin that the INFLATE step
# is also bounded by the declared geometry, so a tiny hostile stream
# (zlib expands ~1000x, PackBits 128x) can't blow up an executor first.

BOMB_RAW = 256 * 1024 * 1024  # what an unbounded inflate would allocate


def _png_chunk(cid: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body)) + cid + body
        + struct.pack(">I", zlib.crc32(cid + body) & 0xFFFFFFFF)
    )


def test_png_zlib_bomb_bounded():
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)  # 4x4 RGB8
    bomb = zlib.compress(b"\x00" * BOMB_RAW, 9)  # ~250 KB compressed
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", bomb)
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="wrong length"):
        decode_png(payload)


def _retag_tiff(p: bytes, comp: int, seg: bytes) -> bytes:
    """Point a valid single-strip TIFF at a hostile appended segment."""
    out = bytearray(p)
    ifd = struct.unpack_from("<I", p, 4)[0]
    n = struct.unpack_from("<H", p, ifd)[0]
    for i in range(n):
        e = ifd + 2 + 12 * i
        tag = struct.unpack_from("<H", p, e)[0]
        if tag == 259:  # Compression
            struct.pack_into("<I", out, e + 8, comp)
        elif tag == 273:  # StripOffsets
            struct.pack_into("<I", out, e + 8, len(p))
        elif tag == 279:  # StripByteCounts
            struct.pack_into("<I", out, e + 8, len(seg))
    return bytes(out) + seg


def test_tiff_deflate_bomb_bounded():
    from coastsat_spark.functions.tiff import encode_tiff, decode_tiff

    base = encode_tiff(
        np.arange(64, dtype=np.uint8).reshape(8, 8), compression="none"
    )
    bomb = zlib.compress(b"\x00" * BOMB_RAW, 9)
    arr = decode_tiff(_retag_tiff(base, 8, bomb))  # capped at 64 bytes
    assert arr.shape[:2] == (8, 8) and not arr.any()


def test_tiff_packbits_bomb_bounded():
    from coastsat_spark.functions.tiff import encode_tiff, decode_tiff

    # 2M copies of a max-run pair would inflate to 256 MB unbounded
    bomb = b"\x81\x00" * (BOMB_RAW // 128)
    base = encode_tiff(
        np.arange(64, dtype=np.uint8).reshape(8, 8), compression="none"
    )
    arr = decode_tiff(_retag_tiff(base, 32773, bomb))
    assert arr.shape[:2] == (8, 8) and not arr.any()


def test_packbits_expected_cap_unit():
    from coastsat_spark.functions.tiff import packbits_decode

    bomb = b"\x81\xab" * 1000  # 128 KB unbounded
    out = packbits_decode(bomb, expected=64)
    assert 64 <= len(out) <= 64 + 128
    # and unbounded when expected is None (back-compat)
    assert len(packbits_decode(b"\x81\xab" * 3)) == 384
