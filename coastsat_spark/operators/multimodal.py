"""Multimodal (image/audio/video) column plumbing.

Media payloads are opaque `binary` columns with typed metadata; the
Spark-side plumbing — schema, partition-preserving mapInPandas, Arrow
batch shapes, deterministic synthetic payloads — is real and tested.

REAL codecs (pure-NumPy struct parsing, no libraries needed):
  - BMP: uncompressed 24-bit BI_RGB (bottom-up or top-down rows, 4-byte
    row padding) — encode + decode;
  - WAV: RIFF mono — PCM 16-bit, G.711 mu-law/A-law and IMA ADPCM
    (chunk-walking parser; real codecs in functions/audio.py) —
    encode + decode;
  - FLAC: full decoder (all subframe types incl. LPC, rice/rice2
    partitions, 4 stereo modes, CRC-8/16 + MD5 verify) and lossless
    encoder (functions/flac.py); this surface downmixes to mono int16;
  - PNG: bit depths 1-16, grey/RGB/RGBA/palette, all five scanline
    filters, Adam7 interlacing, CRC-validated (functions/png.py;
    DEFLATE via stdlib zlib) — encode + decode;
  - TIFF/GeoTIFF: strips + tiles, none/LZW/Deflate/PackBits,
    predictor 2, 8/16/32/64-bit uint/int/float samples, both byte
    orders, GeoTIFF georeferencing (functions/tiff.py) — encode +
    decode. This is the reference's actual scene format: CoastSat
    ingests Landsat/Sentinel `.tif` band stacks through GDAL
    (SDS_preprocess.py:66-200 preprocess_single); `geotiff_pixels`
    below is that ingest re-expressed as a UDTF-shaped mapInPandas;
  - AVI: RIFF video (chunk-walking parser) — uncompressed 24-bit DIB
    ('00db' frames with BMP row conventions) — encode + decode, with
    `video_frame_features` frame sampling.
Every other format (JPEG, GIF, WebP, MP3/AAC, motion-JPEG and other
compressed AVI streams) raises NotImplementedError, which
`on_error='skip'` quarantines and `media_decode_errors` reports.

A deterministic FAKE container format remains supported for tests:
  image: b"FIMG|" + w(le32) + h(le32) + c(le32) + w*h*c raw bytes
  audio: b"FAUD|" + sr(le32) + n(le32)  + n int16 samples (le)
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions._guard import check_dims
from ..hashing import hash_stream

IMAGE_MAGIC = b"FIMG|"
AUDIO_MAGIC = b"FAUD|"


def make_fake_image(idx: int, w: int = 16, h: int = 12, c: int = 3) -> bytes:
    px = (hash_stream(np.arange(w * h * c) + idx * 1_000_003, 77) % np.uint64(256)).astype(
        np.uint8
    )
    return IMAGE_MAGIC + struct.pack("<III", w, h, c) + px.tobytes()


def make_fake_audio(idx: int, sr: int = 8000, n: int = 1600) -> bytes:
    t = np.arange(n, dtype=np.float64)
    f = 100.0 + (idx % 40) * 10.0
    samples = (np.sin(2 * np.pi * f * t / sr) * 10000).astype("<i2")
    return AUDIO_MAGIC + struct.pack("<II", sr, n) + samples.tobytes()


def encode_bmp(im: np.ndarray) -> bytes:
    """Encode (h, w, 3) uint8 RGB as an uncompressed 24-bit BI_RGB BMP
    (bottom-up rows, 4-byte row padding) — pure struct packing."""
    h, w, _ = im.shape
    rowsize = (w * 3 + 3) & ~3
    datasize = rowsize * h
    header = b"BM" + struct.pack("<IHHI", 14 + 40 + datasize, 0, 0, 54)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, datasize, 2835, 2835, 0, 0)
    rows = np.zeros((h, rowsize), dtype=np.uint8)
    rows[:, : w * 3] = im[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
    return header + info + rows.tobytes()


def decode_bmp(payload: bytes) -> np.ndarray:
    """Decode an uncompressed 24-bit BI_RGB BMP to (h, w, 3) uint8 RGB."""
    data_off = struct.unpack_from("<I", payload, 10)[0]
    _hsz, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", payload, 14)
    if bpp != 24 or comp != 0:
        raise NotImplementedError(f"only 24-bit BI_RGB BMP supported (bpp={bpp}, comp={comp})")
    bottom_up = h > 0
    h = abs(h)
    check_dims(w, h, "BMP header")
    rowsize = (w * 3 + 3) & ~3
    arr = np.frombuffer(payload, np.uint8, rowsize * h, data_off).reshape(h, rowsize)
    img = arr[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    return (img[::-1] if bottom_up else img).copy()


def encode_wav(samples: np.ndarray, sr: int, codec: str = "pcm") -> bytes:
    """Encode int16 mono samples as a RIFF WAV. `codec` picks the
    compression: 'pcm' (tag 1, 16-bit — byte layout unchanged from the
    original PCM-only encoder), 'ulaw' / 'alaw' (G.711, tag 7 / 6,
    8-bit) or 'ima' (IMA ADPCM, tag 0x11, 4-bit blocks + fact chunk)."""
    x = np.asarray(samples).astype(np.int16)
    fact = b""
    if codec == "pcm":
        data = x.astype("<i2").tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    elif codec in ("ulaw", "alaw"):
        from ..functions.audio import alaw_encode, mulaw_encode

        enc = mulaw_encode if codec == "ulaw" else alaw_encode
        data = enc(x).tobytes()
        fmt = struct.pack("<HHIIHH", 7 if codec == "ulaw" else 6, 1, sr, sr, 1, 8)
    elif codec == "ima":
        from ..functions.audio import ima_adpcm_encode

        ba = 256
        data, n = ima_adpcm_encode(x, ba)
        spb = (ba - 4) * 2 + 1
        fmt = struct.pack(
            "<HHIIHHHH", 0x11, 1, sr, sr * ba // spb, ba, 4, 2, spb
        )
        fact = b"fact" + struct.pack("<II", 4, n)
    else:
        raise ValueError(f"unknown WAV codec {codec!r}")
    pad = b"\x00" if len(data) & 1 else b""  # RIFF pad, outside the chunk size
    return (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + len(fact) + 8 + len(data) + len(pad))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + fact
        + b"data" + struct.pack("<I", len(data)) + data + pad
    )


def decode_wav(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode a RIFF mono WAV to (sample_rate, int16 samples):
    PCM 16-bit (tag 1), G.711 mu-law / A-law (tags 7 / 6) and IMA ADPCM
    (tag 0x11) — chunk-walking parser, real codecs in functions/audio.py."""
    if payload[8:12] != b"WAVE":
        raise NotImplementedError("RIFF container is not WAVE")
    pos, sr, tag, ba, n_samples = 12, None, None, 0, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        sz = struct.unpack_from("<I", payload, pos + 4)[0]
        if cid == b"fmt ":
            tag, nch, sr, _br, ba, bps = struct.unpack_from("<HHIIHH", payload, pos + 8)
            ok = {1: 16, 6: 8, 7: 8, 0x11: 4}
            if tag not in ok or nch != 1 or bps != ok[tag]:
                raise NotImplementedError(
                    f"only mono PCM-16 / G.711 / IMA-ADPCM WAV (tag={tag},"
                    f" ch={nch}, bps={bps})"
                )
        elif cid == b"fact" and sz >= 4:
            n_samples = struct.unpack_from("<I", payload, pos + 8)[0]
        elif cid == b"data":
            if sr is None:
                raise NotImplementedError("WAV data chunk before fmt chunk")
            body = payload[pos + 8 : pos + 8 + sz]
            if tag == 1:
                return sr, np.frombuffer(body, "<i2", len(body) // 2)
            from ..functions import audio

            if tag == 7:
                return sr, audio.mulaw_decode(np.frombuffer(body, np.uint8))
            if tag == 6:
                return sr, audio.alaw_decode(np.frombuffer(body, np.uint8))
            return sr, audio.ima_adpcm_decode(body, ba, n_samples)
        pos += 8 + sz + (sz & 1)
    raise NotImplementedError("WAV has no data chunk")


def decode_image_bytes(payload: bytes) -> np.ndarray:
    """Decode an image payload to (h, w, c) uint8: real BMP, PNG (all
    PNG depths/interlace; 16-bit samples are downshifted to the top byte
    to keep the uint8 contract) and uint8 TIFF parsing, the FIMG fake
    container for tests; any other codec raises NotImplementedError."""
    if payload.startswith(b"BM"):
        return decode_bmp(payload)
    if payload.startswith(b"\x89PNG"):
        from ..functions.png import decode_png

        img = decode_png(payload)
        if img.dtype == np.uint16:
            img = (img >> 8).astype(np.uint8)
        return img if img.ndim == 3 else img[:, :, None]
    if payload[:4] in (b"II\x2a\x00", b"MM\x00\x2a"):
        from ..functions.tiff import decode_tiff

        img = decode_tiff(payload)
        if img.dtype != np.uint8:
            raise NotImplementedError(
                f"TIFF sample type {img.dtype} on the uint8 image path; "
                "use geotiff_pixels for multi-band band stacks"
            )
        return img
    if payload.startswith(IMAGE_MAGIC):
        w, h, c = struct.unpack_from("<III", payload, len(IMAGE_MAGIC))
        off = len(IMAGE_MAGIC) + 12
        return np.frombuffer(payload, dtype=np.uint8, count=w * h * c, offset=off).reshape(h, w, c)
    raise NotImplementedError(
        "unsupported image codec in this container; "
        "expected BMP, PNG, TIFF or FIMG"
    )


def decode_audio_bytes(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode an audio payload to (sample_rate, int16 mono samples): real
    WAV and FLAC parsing, the FAUD fake container for tests; any other
    codec raises NotImplementedError. FLAC stereo is downmixed (l+r)>>1
    and non-16-bit depths are shifted to 16 for this mono-int16 surface
    — `functions.flac.decode_flac` is the exact multi-channel API."""
    if payload.startswith(b"RIFF"):
        return decode_wav(payload)
    if payload.startswith(b"fLaC"):
        from ..functions.flac import decode_flac

        sr, x, bps = decode_flac(payload)
        x = x.astype(np.int64)
        if x.ndim == 2:
            x = np.sum(x, axis=1) // x.shape[1]  # floor-mean downmix
        if bps > 16:
            x = x >> (bps - 16)
        elif bps < 16:
            x = x << (16 - bps)
        return sr, x.astype(np.int16)
    if payload.startswith(AUDIO_MAGIC):
        sr, n = struct.unpack_from("<II", payload, len(AUDIO_MAGIC))
        off = len(AUDIO_MAGIC) + 8
        return sr, np.frombuffer(payload, dtype="<i2", count=n, offset=off)
    raise NotImplementedError(
        "unsupported audio codec in this container; "
        "expected WAV, FLAC or FAUD"
    )


def make_bmp_image(idx: int, w: int = 16, h: int = 12) -> bytes:
    """Deterministic REAL 24-bit BMP payload (same pixel stream as the
    fake container, struct-encoded as an actual file format)."""
    px = (hash_stream(np.arange(w * h * 3) + idx * 1_000_003, 77) % np.uint64(256)).astype(
        np.uint8
    )
    return encode_bmp(px.reshape(h, w, 3))


def make_wav_audio(idx: int, sr: int = 8000, n: int = 1600, codec: str = "pcm") -> bytes:
    """Deterministic REAL RIFF WAV payload (same sine as the fake), in
    any of the four supported compressions."""
    t = np.arange(n, dtype=np.float64)
    f = 100.0 + (idx % 40) * 10.0
    samples = (np.sin(2 * np.pi * f * t / sr) * 10000).astype("<i2")
    return encode_wav(samples, sr, codec=codec)


_WAV_CODEC_BY_MOD8 = {1: "pcm", 3: "ulaw", 5: "alaw", 7: "ima"}


def media_table(spark, n: int = 1000) -> DataFrame:
    """Deterministic synthetic media table: (media_id, kind, payload,
    width, height, channels, sample_rate, n_samples). Payloads are REAL
    file formats decoded by the engine's own struct parsers — 24-bit BMP
    images, and WAV audio cycling through all four compressions by
    media_id % 8 (1 PCM, 3 G.711 mu-law, 5 A-law, 7 IMA ADPCM), so the
    driver oracle exercises every audio codec end to end."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rows = []
            for i in ids:
                if i % 2 == 0:
                    rows.append((int(i), "image", make_bmp_image(int(i)), 16, 12, 3, None, None))
                else:
                    wav = make_wav_audio(int(i), codec=_WAV_CODEC_BY_MOD8[int(i) % 8])
                    rows.append((int(i), "audio", wav, None, None, None, 8000, 1600))
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "kind", "payload", "width", "height",
                    "channels", "sample_rate", "n_samples",
                ],
            )

    schema = (
        "media_id long, kind string, payload binary, width int, height int, "
        "channels int, sample_rate int, n_samples int"
    )
    return spark.range(0, n, numPartitions=8).mapInPandas(gen, schema=schema)


IMAGE_FEATURES_SCHEMA = (
    "media_id long, width int, height int, channels int, "
    "mean_r double, mean_g double, mean_b double, brightness double"
)


def _check_on_error(on_error: str) -> None:
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be 'raise' or 'skip', got {on_error!r}")


# Web-scale corpora contain truncated/hostile payload bytes as a matter
# of course; one bad row must not fail a whole task (and, with retries,
# the job). `on_error='skip'` quarantines the ROW and keeps the task
# alive. It deliberately catches Exception at this boundary: depending
# on where corruption lands, the pure-NumPy decoders raise ValueError,
# NotImplementedError, struct.error, zlib.error, IndexError or KeyError
# — enumerating them would silently re-crash on the next variant.
# 'raise' (the default) preserves fail-fast semantics for trusted data.


def image_features(media: DataFrame, on_error: str = "raise") -> DataFrame:
    """Per-image channel means via mapInPandas (Arrow batches of binary).

    Each payload is decoded by `decode_image_bytes` inside the Arrow
    batch. `on_error='skip'` drops undecodable rows
    instead of failing the task (see note above; pair with
    `media_decode_errors` to audit what was dropped).
    """
    _check_on_error(on_error)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    im = decode_image_bytes(bytes(payload))
                except Exception:
                    if on_error == "raise":
                        raise
                    continue
                c = im.shape[2]
                means = im.reshape(-1, c).mean(axis=0)
                if c >= 3:
                    mr, mg, mb = (float(means[j]) for j in range(3))
                    bright = float(means.mean())
                else:
                    # grayscale / grey+alpha (1-2 channels): channel 0 is
                    # the luma plane — report it as r=g=b and as the
                    # brightness (alpha excluded), instead of indexing
                    # past the channel axis
                    mr = mg = mb = bright = float(means[0])
                out.append(
                    (
                        int(mid), im.shape[1], im.shape[0], c,
                        mr, mg, mb, bright,
                    )
                )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "width", "height", "channels",
                    "mean_r", "mean_g", "mean_b", "brightness",
                ],
            )

    return media.filter(F.col("kind") == "image").select("media_id", "payload").mapInPandas(
        fn, schema=IMAGE_FEATURES_SCHEMA
    )


def _resize_nearest(im: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    h, w, _ = im.shape
    yi = np.arange(out_h) * h // out_h
    xi = np.arange(out_w) * w // out_w
    return im[yi][:, xi]


def _resize_bilinear(im: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Pixel-center-aligned bilinear resample (the convention GDAL's
    bilinear warp uses): out center (i+0.5) maps to src (i+0.5)*scale-0.5,
    edges clamped. Fully vectorized gather + lerp; uint8 out rounds
    half-up like a 0.5 offset + truncate."""
    h, w, _ = im.shape
    fy = (np.arange(out_h) + 0.5) * (h / out_h) - 0.5
    fx = (np.arange(out_w) + 0.5) * (w / out_w) - 0.5
    y0 = np.clip(np.floor(fy).astype(np.int64), 0, h - 1)
    x0 = np.clip(np.floor(fx).astype(np.int64), 0, w - 1)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = np.clip(fy - y0, 0.0, 1.0)[:, None, None]
    wx = np.clip(fx - x0, 0.0, 1.0)[None, :, None]
    a = im[y0][:, x0].astype(np.float64)
    b = im[y0][:, x1].astype(np.float64)
    c = im[y1][:, x0].astype(np.float64)
    d = im[y1][:, x1].astype(np.float64)
    top = a * (1.0 - wx) + b * wx
    bot = c * (1.0 - wx) + d * wx
    out = top * (1.0 - wy) + bot * wy
    return np.clip(out + 0.5, 0, 255).astype(np.uint8)


def resize_images(
    media: DataFrame,
    out_w: int,
    out_h: int,
    mode: str = "nearest",
    on_error: str = "raise",
) -> DataFrame:
    """Resample images inside the fake container (S6 warp analog): the
    reference's warp_image_to_target switches gdal.Warp between bilinear
    (continuous bands) and nearest (masks / categorical) at
    SDS_download.py:903-964 (mode choice :934-940); this operator mirrors
    both modes. decode -> vectorized resample -> re-encode, one Arrow
    batch at a time."""
    if mode not in ("nearest", "bilinear"):
        raise ValueError(f"mode must be 'nearest' or 'bilinear', got {mode!r}")
    _check_on_error(on_error)
    resample = _resize_nearest if mode == "nearest" else _resize_bilinear

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    raw = bytes(payload)
                    im = decode_image_bytes(raw)
                except Exception:
                    if on_error == "raise":
                        raise
                    continue
                c = im.shape[2]
                resized = resample(im, out_w, out_h)
                if raw.startswith(b"BM") and c == 3:
                    enc = encode_bmp(resized)
                else:
                    enc = IMAGE_MAGIC + struct.pack("<III", out_w, out_h, c) + resized.tobytes()
                rows.append((int(mid), enc, out_w, out_h))
            yield pd.DataFrame(rows, columns=["media_id", "payload", "width", "height"])

    return media.filter(F.col("kind") == "image").select("media_id", "payload").mapInPandas(
        fn, schema="media_id long, payload binary, width int, height int"
    )


def audio_frame_samples(
    media: DataFrame, frame_ms: int = 25, on_error: str = "raise"
) -> DataFrame:
    """Frame-sample audio payloads: per-frame RMS energy rows (UDTF-shaped
    mapInPandas: one binary row -> many frame rows)."""
    _check_on_error(on_error)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    sr, samples = decode_audio_bytes(bytes(payload))
                except Exception:
                    if on_error == "raise":
                        raise
                    continue
                flen = max(int(sr * frame_ms / 1000), 1)
                nf = len(samples) // flen
                x = samples[: nf * flen].astype(np.float64).reshape(nf, flen)
                rms = np.sqrt((x * x).mean(axis=1))
                rows.extend(
                    (int(mid), int(i), float(r)) for i, r in enumerate(rms)
                )
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "rms"])

    return media.filter(F.col("kind") == "audio").select("media_id", "payload").mapInPandas(
        fn, schema="media_id long, frame_idx int, rms double"
    )


def media_decode_errors(media: DataFrame) -> DataFrame:
    """Quarantine scan: attempt a kind-aware decode of every payload and
    emit one row per FAILING payload (media_id, kind, error_class,
    error_msg). Run it once over an untrusted corpus to audit — or
    anti-join away — the rows the feature operators will drop under
    on_error='skip'. Decodable payloads produce no output, so the result
    is tiny no matter the input scale."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, kind, payload in zip(
                pdf["media_id"], pdf["kind"], pdf["payload"]
            ):
                try:
                    if kind == "image":
                        decode_image_bytes(bytes(payload))
                    elif kind == "audio":
                        decode_audio_bytes(bytes(payload))
                    elif kind == "video":
                        decode_avi(bytes(payload))
                    else:
                        raise NotImplementedError(f"unknown media kind {kind!r}")
                except Exception as e:
                    rows.append(
                        (int(mid), str(kind), type(e).__name__, str(e)[:200])
                    )
            yield pd.DataFrame(
                rows, columns=["media_id", "kind", "error_class", "error_msg"]
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        fn,
        schema="media_id long, kind string, error_class string, error_msg string",
    )


# ------------------------------------------------------ AVI (video)

_AVI_STREAM = 83


def encode_avi(frames: np.ndarray, fps: int = 5) -> bytes:
    """Encode (n, h, w, 3) uint8 RGB frames as a RIFF AVI of uncompressed
    24-bit bottom-up BGR '00db' frames (the same row convention as BMP).
    Pure struct packing."""
    frames = np.asarray(frames)
    n, h, w, _ = frames.shape
    rowsize = (w * 3 + 3) & ~3

    def chunk(fourcc: bytes, payload: bytes) -> bytes:
        return fourcc + struct.pack("<I", len(payload)) + payload + (b"\x00" * (len(payload) & 1))

    def lst(kind: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", kind + payload)

    frame_bytes = []
    for f in frames:
        rows = np.zeros((h, rowsize), dtype=np.uint8)
        rows[:, : w * 3] = f[::-1, :, ::-1].reshape(h, w * 3)  # bottom-up, BGR
        frame_bytes.append(rows.tobytes())
    dsize = rowsize * h

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        1_000_000 // fps, dsize * fps, 0, 0x10, n, 0, 1, dsize, w, h, 0, 0, 0, 0,
    )
    strh = struct.pack(
        "<4s4sIHHIIIIIIIIhhhh",
        b"vids", b"DIB ", 0, 0, 0, 0, 1, fps, 0, n, dsize, 0xFFFFFFFF, 0, 0, 0, int(w), int(h),
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, dsize, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00db", fb) for fb in frame_bytes))
    idx_entries = []
    off = 4  # offsets within movi, relative to the 'movi' fourcc
    for fb in frame_bytes:
        idx_entries.append(struct.pack("<4sIII", b"00db", 0x10, off, len(fb)))
        off += 8 + len(fb) + (len(fb) & 1)
    idx1 = chunk(b"idx1", b"".join(idx_entries))
    return chunk(b"RIFF", b"AVI " + hdrl + movi + idx1)


def decode_avi(payload: bytes) -> tuple[int, np.ndarray]:
    """Decode an AVI to (fps, (n, h, w, 3) uint8 RGB). Chunk-walking
    parser; supports uncompressed 24-bit DIB only — compressed vids
    streams (motion-JPEG, ...) raise NotImplementedError."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise NotImplementedError("not a RIFF AVI container")
    fps, w, h, bpp, comp = None, None, None, 24, 0
    frames: list[bytes] = []

    def walk(pos: int, end: int) -> None:
        nonlocal fps, w, h, bpp, comp
        while pos + 8 <= end:
            cid = payload[pos : pos + 4]
            sz = struct.unpack_from("<I", payload, pos + 4)[0]
            body = pos + 8
            if cid == b"LIST":
                walk(body + 4, body + sz)
            elif cid == b"avih":
                us_per_frame = struct.unpack_from("<I", payload, body)[0]
                fps = round(1_000_000 / us_per_frame) if us_per_frame else 0
            elif cid == b"strf":
                _hsz, w, h, _planes, bpp, comp = struct.unpack_from("<IiiHHI", payload, body)
            elif cid in (b"00db", b"00dc"):
                frames.append(payload[body : body + sz])
            pos = body + sz + (sz & 1)

    walk(12, len(payload))
    if w is None or not frames:
        raise NotImplementedError("AVI has no vids stream format / frames")
    if bpp != 24 or comp != 0:
        raise NotImplementedError(f"only 24-bit DIB AVI (bpp={bpp}, comp={comp})")
    bottom_up = h > 0  # negative biHeight = top-down DIB (same as decode_bmp)
    h = abs(h)
    check_dims(w, h, "AVI strf", frames=len(frames))
    rowsize = (w * 3 + 3) & ~3
    out = np.empty((len(frames), h, w, 3), dtype=np.uint8)
    for i, fb in enumerate(frames):
        arr = np.frombuffer(fb, np.uint8, rowsize * h).reshape(h, rowsize)
        rgb = arr[:, : w * 3].reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
        out[i] = rgb[::-1] if bottom_up else rgb
    return fps, out


def make_avi_video(idx: int, w: int = 16, h: int = 12, n_frames: int = 8, fps: int = 5) -> bytes:
    """Deterministic REAL AVI payload: frame pixels from the splitmix64
    stream (sample j = ((frame*h + row)*w + col)*3 + channel), so oracles
    can replay the CONTENT relationally like the BMP/GeoTIFF streams."""
    px = (
        hash_stream(np.arange(w * h * 3 * n_frames) + idx * 1_000_003, _AVI_STREAM)
        % np.uint64(256)
    ).astype(np.uint8)
    return encode_avi(px.reshape(n_frames, h, w, 3), fps=fps)


def video_table(spark, n: int = 100) -> DataFrame:
    """Synthetic video table (media_id, payload) of REAL AVI bytes."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            yield pd.DataFrame(
                {"media_id": ids, "payload": [make_avi_video(i) for i in ids]}
            )

    return spark.range(0, n, numPartitions=8).mapInPandas(
        gen, schema="media_id long, payload binary"
    )


def video_frame_features(
    videos: DataFrame, every: int = 2, on_error: str = "raise"
) -> DataFrame:
    """Frame-sample video payloads: decode the AVI, keep every k-th
    frame, emit per-frame channel means + brightness (UDTF-shaped
    mapInPandas: one binary row -> n_frames/k feature rows — the video
    analog of audio_frame_samples)."""
    _check_on_error(on_error)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                try:
                    _fps, frames = decode_avi(bytes(payload))
                except Exception:
                    if on_error == "raise":
                        raise
                    continue
                for fi in range(0, len(frames), every):
                    means = frames[fi].reshape(-1, 3).mean(axis=0)
                    rows.append(
                        (
                            int(mid), int(fi),
                            float(means[0]), float(means[1]), float(means[2]),
                            float(means.mean()),
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "frame_idx", "mean_r", "mean_g", "mean_b", "brightness"],
            )

    return videos.select("media_id", "payload").mapInPandas(
        fn,
        schema="media_id long, frame_idx int, mean_r double, mean_g double, mean_b double, brightness double",
    )


def video_oracle_sql(n: int = 48, w: int = 16, h: int = 12, n_frames: int = 8, every: int = 2) -> str:
    """DuckDB mirror of the video leg of `q_multimodal_features`: replays
    the AVI frame CONTENT (splitmix64 stream) and the frame-sampling +
    channel-mean math relationally — the encode_avi -> decode_avi ->
    video_frame_features path value-checked with no binary parsing.
    Mean/brightness replay numpy's operand order exactly as the image
    leg does (integer sums / fixed counts, exact in doubles)."""
    npx = w * h * 3 * n_frames
    return f"""
        WITH vids AS (SELECT i AS media_id FROM generate_series(0, {n - 1}) t(i)),
        avsrc AS (SELECT media_id, j FROM vids, generate_series(0, {npx - 1}) p(j)),
        {splitmix_hash_sql("j + media_id * 1000003", _AVI_STREAM, prefix="av")},
        frames AS (
          SELECT media_id, CAST(j // {w * h * 3} AS INT) AS frame_idx,
                 avg(CASE WHEN j % 3 = 0 THEN CAST(val % 256 AS DOUBLE) END) AS m_r,
                 avg(CASE WHEN j % 3 = 1 THEN CAST(val % 256 AS DOUBLE) END) AS m_g,
                 avg(CASE WHEN j % 3 = 2 THEN CAST(val % 256 AS DOUBLE) END) AS m_b
          FROM avv GROUP BY 1, 2
        )
        SELECT CAST(media_id AS BIGINT) AS media_id, 'video' AS kind, frame_idx AS idx,
               round(((m_r + m_g) + m_b) / 3.0, 4) AS v1,
               round(m_r, 4) AS v2
        FROM frames WHERE frame_idx % {every} = 0
    """


# ------------------------------------------------------ GeoTIFF ingest

GEOTIFF_BANDS = ["blue", "green", "red", "nir", "swir"]
_GEOTIFF_COMPRESSIONS = ["none", "lzw", "deflate", "packbits"]
_GEOTIFF_STREAM = 91
_GEOTIFF_EPSG = 32630


def make_geotiff_scene(idx: int, w: int = 16, h: int = 12) -> bytes:
    """Deterministic REAL GeoTIFF band stack: (h, w, 5) uint16 surface-
    reflectance-style values from the splitmix64 stream (chunky
    interleaved, sample j = (row*w+col)*5+band), a UTM grid transform
    derived from idx, and a compression that cycles through all four
    codecs so the pipeline exercises each one."""
    px = (
        hash_stream(np.arange(w * h * len(GEOTIFF_BANDS)) + idx * 1_000_003, _GEOTIFF_STREAM)
        % np.uint64(10000)
    ).astype(np.uint16)
    from ..functions.tiff import encode_geotiff

    return encode_geotiff(
        px.reshape(h, w, len(GEOTIFF_BANDS)),
        transform=geotiff_scene_transform(idx, w, h),
        epsg=_GEOTIFF_EPSG,
        compression=_GEOTIFF_COMPRESSIONS[idx % 4],
        predictor=idx % 4 in (1, 2),  # predictor only where compression gains
    )


def geotiff_scene_transform(idx: int, w: int = 16, h: int = 12):
    """GDAL geotransform for scene idx: 10 m pixels on an 8x8 scene grid."""
    x0 = 500_000.0 + (idx % 8) * w * 10.0
    y0 = 4_100_000.0 - ((idx // 8) % 8) * h * 10.0
    return (x0, 10.0, 0.0, y0, 0.0, -10.0)


def geotiff_scene_table(spark, n: int = 200) -> DataFrame:
    """Synthetic scene table (scene_id, payload) of REAL GeoTIFF bytes."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(i) for i in pdf["id"]]
            yield pd.DataFrame(
                {"scene_id": ids, "payload": [make_geotiff_scene(i) for i in ids]}
            )

    return spark.range(0, n, numPartitions=8).mapInPandas(
        gen, schema="scene_id long, payload binary"
    )


def geotiff_pixels(scenes: DataFrame) -> DataFrame:
    """Band-stack ingest: GeoTIFF payloads -> per-pixel band rows with
    world coordinates (the reference's preprocess_single,
    SDS_preprocess.py:66-200, re-expressed as a UDTF-shaped mapInPandas:
    one binary row -> h*w pixel rows).

    World coords are pixel centers through the GeoTIFF affine:
    x = x0 + (col+.5)*sx + (row+.5)*rx. Decode + gather is vectorized
    NumPy per scene; the per-scene loop only walks the Arrow batch.

    Scale contract: one payload fans out to h*w rows, so peak task
    memory is ONE decoded scene (+ its pixel frame), not the whole
    Arrow batch — each scene's frame is yielded separately and Spark
    streams them out as independent batches. At real scene sizes
    (~10^8 px) partition the scene table to ~1 scene per task
    (repartition(n_scenes)) so the decode bound is per-task, and size
    executors for one scene in flight.
    """
    from ..functions.tiff import decode_geotiff

    band_cols = ", ".join(f"{b} int" for b in GEOTIFF_BANDS)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for sid, payload in zip(pdf["scene_id"], pdf["payload"]):
                arr, meta = decode_geotiff(bytes(payload))
                h, w, nb = arr.shape
                if nb != len(GEOTIFF_BANDS):
                    raise ValueError(f"scene {sid}: {nb} bands, expected {len(GEOTIFF_BANDS)}")
                x0, sx, rx, y0, ry, sy = meta["transform"]
                rows = np.repeat(np.arange(h), w)
                cols = np.tile(np.arange(w), h)
                frame = {
                    "scene_id": np.full(h * w, int(sid), dtype=np.int64),
                    "px_row": rows.astype(np.int32),
                    "px_col": cols.astype(np.int32),
                    "x": x0 + (cols + 0.5) * sx + (rows + 0.5) * rx,
                    "y": y0 + (cols + 0.5) * ry + (rows + 0.5) * sy,
                    "epsg": np.full(h * w, meta["epsg"] or 0, dtype=np.int32),
                }
                flat = arr.reshape(h * w, nb)
                for b, name in enumerate(GEOTIFF_BANDS):
                    frame[name] = flat[:, b].astype(np.int32)
                yield pd.DataFrame(frame)

    return scenes.select("scene_id", "payload").mapInPandas(
        fn,
        schema=f"scene_id long, px_row int, px_col int, x double, y double, epsg int, {band_cols}",
    )


def geotiff_shoreline_pixels(px: DataFrame, scene_month: int = 0) -> DataFrame:
    """Adapt geotiff_pixels rows to the shoreline pixel-aggregate schema
    (aggregate_pixels output: tile, scene_month, px_row, px_col, band
    means, n_docs, cloud_frac) so REAL .tif band stacks can drive
    extract_shorelines directly — the reference's tif -> preprocess ->
    threshold -> contour flow (SDS_shoreline.py:86-240) running on file
    bytes instead of the synthetic webtext observations. Each GeoTIFF
    scene becomes one (tile, scene_month) group; a single decoded file
    has exactly one observation per pixel and no cloud mask band in this
    container, hence n_docs=1, cloud_frac=0."""
    return px.select(
        F.col("scene_id").alias("tile"),
        F.lit(scene_month).cast("long").alias("scene_month"),
        "px_row",
        "px_col",
        *[F.col(b).cast("double").alias(b) for b in GEOTIFF_BANDS],
        F.lit(1).cast("long").alias("n_docs"),
        F.lit(0.0).alias("cloud_frac"),
    )


# --------------------------------------------------------- DuckDB mirror

# 64-bit wrap arithmetic + constants shared with the broader SQL hash
# mirrors (xxhash64 / splitmix64 emitters) in coastsat_spark.hashing
from ..hashing import SM_GOLDEN as _SM_GOLDEN  # noqa: E402
from ..hashing import SM_M1 as _SM_M1  # noqa: E402
from ..hashing import SM_M2 as _SM_M2  # noqa: E402
from ..hashing import SM_MUL as _SM_MUL  # noqa: E402
from ..hashing import U64 as _U64  # noqa: E402
from ..hashing import mulmod64_sql as _mulmod64_sql  # noqa: E402


def splitmix_hash_sql(
    index_expr: str, stream: int, seed: int = 42, prefix: str = "sm"
) -> str:
    """SQL CTE chain (DuckDB) computing `hashing.hash_stream(index,
    stream, seed)` bit-exactly as column ``val`` — the engine's
    data-generation PRN, mirrored so oracles can replay synthetic
    payload CONTENT (not just row counts) relationally.

    Returns CTE text (no leading WITH) reading from `{prefix}src` and
    ending in `{prefix}v`, which exposes every source column plus
    `val UBIGINT`. All CTE and intermediate column names carry `prefix`,
    so two hash streams can be embedded in one WITH clause by giving
    each a distinct prefix (and its own `{prefix}src` source CTE).
    """
    p = prefix
    add = (stream * _SM_GOLDEN + seed + _SM_GOLDEN) % _U64  # mix-const + finalizer GOLDEN
    return f"""
      {p}0 AS (SELECT *, CAST({index_expr} AS UBIGINT) AS {p}x FROM {p}src),
      {p}1 AS (SELECT *, {_mulmod64_sql(p + 'x', _SM_MUL)} AS {p}m FROM {p}0),
      {p}2 AS (SELECT *, CAST((CAST({p}m AS HUGEINT) + {add}) % {_U64} AS UBIGINT) AS {p}z0 FROM {p}1),
      {p}3 AS (SELECT *, {_mulmod64_sql(f'xor({p}z0, {p}z0 >> 30)', _SM_M1)} AS {p}z1 FROM {p}2),
      {p}4 AS (SELECT *, {_mulmod64_sql(f'xor({p}z1, {p}z1 >> 27)', _SM_M2)} AS {p}z2 FROM {p}3),
      {p}v AS (SELECT *, xor({p}z2, {p}z2 >> 31) AS val FROM {p}4)"""


def multimodal_oracle_sql(n: int = 500) -> str:
    """DuckDB mirror of `q_multimodal_features` over `media_table(n)`:
    the payloads are deterministic functions of media_id, so the oracle
    replays the generator's CONTENT (splitmix64 pixel stream; truncated
    int16 sine samples) and the decode+feature math (per-channel means,
    mean-of-means brightness, per-25ms-frame RMS) as pure SQL — an
    end-to-end value check of the real BMP/WAV encode->decode->feature
    path without any binary parsing in the oracle.

    Exactness notes: channel means are integer sums / counts (exact in
    doubles, both engines); brightness replays numpy's mean-of-3-means
    order ((m_r+m_g)+m_b)/3; sine samples replay numpy's operand order
    ((2*pi*f)*t)/sr and truncate-toward-zero int16 cast (numpy astype —
    DuckDB CAST rounds, hence TRUNC). Audio payloads cycle the four WAV
    codecs by media_id % 8, and the oracle replays each DECODED stream
    exactly: G.711 mu-law/A-law as pure integer segment algebra
    (verified over all 65536 int16 values in tests), IMA ADPCM as a
    recursive CTE walking each 505-sample block's (predictor, step
    index) state — the bit-exact mirror of functions/audio.py, encoder
    and decoder state being identical by construction."""
    w, h, sr, nsamp, frame = 16, 12, 8000, 1600, 200
    npx = w * h * 3
    from ..functions.audio import _STEP_TABLE

    spb = (256 - 4) * 2 + 1  # encode_wav's ima block_align=256 -> 505
    step_vals = ", ".join(f"({i}, {int(v)})" for i, v in enumerate(_STEP_TABLE))
    # segment = count of chord boundaries below the magnitude — the same
    # seven boundaries for mu-law (searchsorted on _MU_SEG[:-1]) and
    # A-law (_A_SEG), since only the magnitude definition differs
    g711_seg = " + ".join(
        f"CASE WHEN mag > {b} THEN 1 ELSE 0 END"
        for b in (0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF, 0x1FFF, 0x3FFF)
    )
    return f"""
        WITH RECURSIVE ids AS (SELECT i AS media_id FROM generate_series(0, {n - 1}) t(i)),
        smsrc AS (
          SELECT media_id, j
          FROM ids, generate_series(0, {npx - 1}) p(j)
          WHERE media_id % 2 = 0
        ),
        {splitmix_hash_sql(f"j + media_id * 1000003", 77)},
        img AS (
          SELECT media_id,
                 avg(CASE WHEN j % 3 = 0 THEN CAST(val % 256 AS DOUBLE) END) AS m_r,
                 avg(CASE WHEN j % 3 = 1 THEN CAST(val % 256 AS DOUBLE) END) AS m_g,
                 avg(CASE WHEN j % 3 = 2 THEN CAST(val % 256 AS DOUBLE) END) AS m_b
          FROM smv GROUP BY 1
        ),
        img_rows AS (
          SELECT media_id, 'image' AS kind, 0 AS idx,
                 round(((m_r + m_g) + m_b) / 3.0, 4) AS v1,
                 round(m_r, 4) AS v2
          FROM img
        ),
        aud AS (
          SELECT media_id, t,
                 CAST(TRUNC(sin(((2 * pi() * (100.0 + (media_id % 40) * 10.0)) * t) / {sr}.0) * 10000) AS BIGINT) AS s
          FROM ids, generate_series(0, {nsamp - 1}) g(t)
          WHERE media_id % 2 = 1
        ),
        -- G.711 roundtrip (media_id%8 = 3 mu-law, 5 A-law): encode
        -- segment/mantissa then exact table decode, all integer
        g1 AS (
          SELECT media_id, t, s, media_id % 8 = 3 AS is_mu FROM aud
          WHERE media_id % 8 IN (3, 5)),
        g2 AS (
          SELECT media_id, t, is_mu,
                 CASE WHEN is_mu THEN CASE WHEN s < 0 THEN 1 ELSE 0 END
                      ELSE CASE WHEN s >= 0 THEN 1 ELSE 0 END END AS sgn,
                 CASE WHEN is_mu THEN least(abs(s), 32635) + 132
                      ELSE least(CASE WHEN s >= 0 THEN s ELSE -s - 1 END, 32767)
                 END AS mag
          FROM g1),
        g3 AS (SELECT *, {g711_seg} AS seg FROM g2),
        g4 AS (
          SELECT *, CASE WHEN NOT is_mu AND seg < 1 THEN (mag >> 4) & 15
                         ELSE (mag >> (seg + 3)) & 15 END AS mant
          FROM g3),
        g711 AS (
          SELECT media_id, t,
                 CASE WHEN is_mu THEN
                        (CASE WHEN sgn = 1 THEN -1 ELSE 1 END)
                        * ((((mant << 3) + 132) << seg) - 132)
                      ELSE
                        (CASE WHEN sgn = 1 THEN 1 ELSE -1 END)
                        * (CASE WHEN seg = 0 THEN (mant << 4) + 8
                                ELSE ((mant << 4) + 264) << (seg - 1) END)
                 END AS dec
          FROM g4),
        -- IMA ADPCM roundtrip (media_id%8 = 7): encoder and decoder
        -- share (predictor, step-index) state, so one recursion over
        -- each {spb}-sample block replays the decoded stream exactly
        imasteps(i, st) AS (VALUES {step_vals}),
        imasamp AS (
          SELECT media_id, t, s, t // {spb} AS blk, t % {spb} AS tt
          FROM aud WHERE media_id % 8 = 7),
        imahead AS (
          SELECT a.media_id, a.blk, a.s AS pred0,
                 least((SELECT count(*) FROM imasteps
                        WHERE st < abs(coalesce(b.s, a.s) - a.s)), 88) AS ix0
          FROM imasamp a
          LEFT JOIN imasamp b
            ON b.media_id = a.media_id AND b.blk = a.blk AND b.tt = 1
          WHERE a.tt = 0),
        imarec AS (
          SELECT media_id, blk, CAST(0 AS BIGINT) AS tt,
                 CAST(pred0 AS BIGINT) AS pred, CAST(ix0 AS BIGINT) AS ix
          FROM imahead
          UNION ALL
          SELECT media_id, blk, tt,
                 greatest(-32768, least(32767,
                   base + CASE WHEN neg THEN -diff ELSE diff END)) AS pred,
                 greatest(0, least(88,
                   ix + CASE WHEN b4 = 1 THEN 2 + 2 * (2 * b2 + b1)
                             ELSE -1 END)) AS ix
          FROM (
            SELECT media_id, blk, tt, base, ix, neg, b4, b2, b1,
                   (stp >> 3) + b4 * stp + b2 * (stp >> 1) + b1 * (stp >> 2) AS diff
            FROM (
              SELECT *, CASE WHEN d2 >= (stp >> 2) THEN 1 ELSE 0 END AS b1
              FROM (
                SELECT *, CASE WHEN d1 >= (stp >> 1) THEN 1 ELSE 0 END AS b2,
                       d1 - CASE WHEN d1 >= (stp >> 1) THEN stp >> 1 ELSE 0 END AS d2
                FROM (
                  SELECT *, CASE WHEN d0 >= stp THEN 1 ELSE 0 END AS b4,
                         d0 - CASE WHEN d0 >= stp THEN stp ELSE 0 END AS d1
                  FROM (
                    SELECT r.media_id, r.blk, r.tt + 1 AS tt, r.pred AS base,
                           r.ix, st.st AS stp,
                           s2.s - r.pred < 0 AS neg, abs(s2.s - r.pred) AS d0
                    FROM imarec r
                    JOIN imasamp s2 ON s2.media_id = r.media_id
                     AND s2.blk = r.blk AND s2.tt = r.tt + 1
                    JOIN imasteps st ON st.i = r.ix)))) q)),
        dec AS (
          SELECT media_id, t, s AS d FROM aud WHERE media_id % 8 = 1
          UNION ALL SELECT media_id, t, dec FROM g711
          UNION ALL SELECT media_id, blk * {spb} + tt AS t, pred AS d
                    FROM imarec),
        aud_rows AS (
          SELECT media_id, 'audio' AS kind, CAST(t // {frame} AS INT) AS idx,
                 round(sqrt(avg(CAST(d * d AS DOUBLE))), 4) AS v1,
                 CAST(NULL AS DOUBLE) AS v2
          FROM dec GROUP BY 1, 2, 3
        )
        SELECT CAST(media_id AS BIGINT) AS media_id, kind, CAST(idx AS INT) AS idx, v1, v2 FROM img_rows
        UNION ALL
        SELECT CAST(media_id AS BIGINT) AS media_id, kind, CAST(idx AS INT) AS idx, v1, v2 FROM aud_rows
    """


def geotiff_oracle_sql(n: int = 64, w: int = 16, h: int = 12) -> str:
    """DuckDB mirror of the geotiff leg of `q_multimodal_features`: the
    GeoTIFF payloads are deterministic functions of scene_id (splitmix64
    sample stream, idx-derived UTM transform), so the oracle replays the
    pixel CONTENT and the ingest math relationally — an end-to-end value
    check of encode_geotiff -> decode_geotiff -> geotiff_pixels
    (including the four compressions + predictor the generator cycles
    through) without any binary parsing in the oracle.

    Band rows (idx 0..4): v1 = sum of band values (integer-exact in a
    double), v2 = position-weighted sum(v * (row*w+col+1)) — catches any
    row/col/band layout slip the plain sum would miss. Coord row
    (idx 99): v1 = min(x)+max(y) pixel-center corners through the
    affine, v2 = EPSG."""
    nb = len(GEOTIFF_BANDS)
    npx = w * h * nb
    return f"""
        WITH gids AS (SELECT i AS scene_id FROM generate_series(0, {n - 1}) t(i)),
        gtsrc AS (SELECT scene_id, j FROM gids, generate_series(0, {npx - 1}) p(j)),
        {splitmix_hash_sql("j + scene_id * 1000003", _GEOTIFF_STREAM, prefix="gt")},
        pix AS (
          SELECT scene_id, CAST(j % {nb} AS INT) AS bidx,
                 CAST((j // {nb}) // {w} AS BIGINT) AS r,
                 CAST((j // {nb}) % {w} AS BIGINT) AS c,
                 CAST(val % 10000 AS BIGINT) AS v
          FROM gtv
        ),
        band_rows AS (
          SELECT CAST(scene_id AS BIGINT) AS media_id, 'geotiff' AS kind, bidx AS idx,
                 CAST(sum(v) AS DOUBLE) AS v1,
                 CAST(sum(v * (r * {w} + c + 1)) AS DOUBLE) AS v2
          FROM pix GROUP BY 1, 2, 3
        ),
        coord_rows AS (
          SELECT CAST(scene_id AS BIGINT) AS media_id, 'geotiff' AS kind, 99 AS idx,
                 (500000.0 + (scene_id % 8) * {w * 10}.0 + 5.0)
                   + (4100000.0 - ((scene_id // 8) % 8) * {h * 10}.0 - 5.0) AS v1,
                 CAST({_GEOTIFF_EPSG} AS DOUBLE) AS v2
          FROM gids
        )
        SELECT media_id, kind, CAST(idx AS INT) AS idx, v1, v2 FROM band_rows
        UNION ALL
        SELECT media_id, kind, CAST(idx AS INT) AS idx, v1, v2 FROM coord_rows
    """
