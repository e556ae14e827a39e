"""Mutation fuzz across ALL media decoders: truncate or bit-flip a
valid payload anywhere and the decoder must either succeed or raise a
clean Exception — never hang, never demand a huge allocation, never
escape with an interpreter-level failure. This is the contract
`on_error='skip'` (operators/multimodal.py) relies on when scanning
untrusted corpora: any Exception quarantines the row, so the only
fatal failure modes left are non-Exception ones; these tests hunt for
them with deterministic per-offset sweeps plus hypothesis mutations."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from coastsat_spark.functions.flac import encode_flac
from coastsat_spark.functions.png import encode_png
from coastsat_spark.functions.tiff import encode_geotiff
from coastsat_spark.operators import multimodal as MM


def _img(w=10, h=8):
    rng = np.random.default_rng(7)
    return rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)


def _decoders():
    img = _img()
    gray = img[:, :, 0].astype(np.uint16)
    sr, n = 8000, 64
    samples = (np.sin(np.arange(n)) * 1000).astype(np.int16)
    return {
        "png": (encode_png(img), MM.decode_image_bytes),
        "tiff": (
            encode_geotiff(gray, (0.0, 1.0, 0.0, 0.0, 0.0, -1.0)),
            MM.decode_image_bytes,
        ),
        "bmp": (MM.encode_bmp(img), MM.decode_bmp),
        "avi": (MM.encode_avi(np.stack([img, img])), MM.decode_avi),
        "wav": (MM.encode_wav(samples, sr), MM.decode_wav),
        "wav_ulaw": (MM.encode_wav(samples, sr, codec="ulaw"), MM.decode_wav),
        "wav_alaw": (MM.encode_wav(samples, sr, codec="alaw"), MM.decode_wav),
        "wav_ima": (MM.encode_wav(samples, sr, codec="ima"), MM.decode_wav),
        "flac": (encode_flac(samples, sr), MM.decode_audio_bytes),
        "flac_stereo": (
            encode_flac(
                np.stack([samples, samples // 2], axis=1), sr, channel_mode="ms",
                partition_order=2,
            ),
            MM.decode_audio_bytes,
        ),
    }


DECODERS = _decoders()


@pytest.mark.parametrize("fmt", sorted(DECODERS))
def test_truncation_sweep(fmt):
    payload, decode = DECODERS[fmt]
    # every prefix: dense at the header, strided through the body
    cuts = list(range(0, min(len(payload), 96))) + list(
        range(96, len(payload), 7)
    )
    for cut in cuts:
        try:
            decode(payload[:cut])
        except Exception:
            pass  # any Exception is fine; hangs/aborts are not


@pytest.mark.parametrize("fmt", sorted(DECODERS))
def test_single_byteflip_sweep(fmt):
    payload, decode = DECODERS[fmt]
    step = max(1, len(payload) // 512)
    for off in range(0, len(payload), step):
        mutated = bytearray(payload)
        mutated[off] ^= 0xFF
        try:
            decode(bytes(mutated))
        except Exception:
            pass


@settings(max_examples=120, deadline=None)
@given(data=st.data())
def test_random_multiflip(data):
    fmt = data.draw(st.sampled_from(sorted(DECODERS)))
    payload, decode = DECODERS[fmt]
    mutated = bytearray(payload)
    for _ in range(data.draw(st.integers(1, 8))):
        off = data.draw(st.integers(0, len(payload) - 1))
        mutated[off] = data.draw(st.integers(0, 255))
    if data.draw(st.booleans()):
        mutated = mutated[: data.draw(st.integers(0, len(mutated)))]
    try:
        decode(bytes(mutated))
    except Exception:
        pass
