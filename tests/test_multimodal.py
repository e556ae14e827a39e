"""Multimodal plumbing: fake-container codecs, mapInPandas feature
extraction, resize, frame sampling, and the explicit stub contract."""

import numpy as np
import pytest

from coastsat_spark.operators import multimodal as MM


def test_image_roundtrip():
    b = MM.make_fake_image(7, w=10, h=6, c=3)
    im = MM.decode_image_bytes(b)
    assert im.shape == (6, 10, 3)
    assert MM.decode_image_bytes(MM.make_fake_image(7, 10, 6, 3)).tobytes() == im.tobytes()


def test_audio_roundtrip():
    sr, samples = MM.decode_audio_bytes(MM.make_fake_audio(3))
    assert sr == 8000 and len(samples) == 1600


def _mjpg_avi() -> bytes:
    """A DIB AVI whose strf biCompression is retagged 'MJPG'."""
    b = bytearray(MM.encode_avi(np.zeros((1, 4, 4, 3), dtype=np.uint8)))
    off = b.index(b"strf") + 8 + 16
    b[off : off + 4] = b"MJPG"
    return bytes(b)


def test_unimplemented_codecs_fail_loudly():
    # BMP/PNG/TIFF/WAV/FLAC/DIB-AVI are the real codecs; every other
    # format is a loud NotImplementedError naming the formats that remain
    for payload in (
        b"RIFF\x00\x00\x00\x00WEBPVP8 ",
        b"\xff\xd8\xff\xe0" + bytes(16),  # JPEG SOI
        b"GIF89a" + bytes(16),
    ):
        with pytest.raises(NotImplementedError, match="expected BMP, PNG, TIFF or FIMG"):
            MM.decode_image_bytes(payload)
    with pytest.raises(NotImplementedError, match="expected WAV, FLAC or FAUD"):
        MM.decode_audio_bytes(b"ID3\x04" + bytes(16))  # MP3 ID3 tag
    with pytest.raises(NotImplementedError):
        MM.decode_audio_bytes(b"RIFFxxxxWAVE")
    with pytest.raises(NotImplementedError, match="only 24-bit DIB AVI"):
        MM.decode_avi(_mjpg_avi())


def test_media_table_and_features(spark):
    media = MM.media_table(spark, 100)
    assert media.count() == 100
    feats = MM.image_features(media).toPandas()
    assert len(feats) == 50
    assert ((feats["mean_r"] >= 0) & (feats["mean_r"] <= 255)).all()
    # deterministic across partitionings
    f2 = MM.image_features(media.repartition(13)).toPandas()
    a = feats.sort_values("media_id").reset_index(drop=True)
    b = f2.sort_values("media_id").reset_index(drop=True)
    assert np.allclose(a["brightness"], b["brightness"])


def test_resize_preserves_container(spark):
    media = MM.media_table(spark, 20)
    out = MM.resize_images(media, 8, 8).toPandas()
    assert (out["width"] == 8).all() and (out["height"] == 8).all()
    im = MM.decode_image_bytes(bytes(out["payload"].iloc[0]))
    assert im.shape == (8, 8, 3)


def test_audio_frames(spark):
    media = MM.media_table(spark, 20)
    frames = MM.audio_frame_samples(media, frame_ms=25).toPandas()
    # 1600 samples @ 8kHz / 200-sample frames = 8 frames per clip, 10 clips
    assert len(frames) == 80
    assert (frames["rms"] > 0).all()


def test_resize_bilinear_parity_and_identity(spark):
    """S6 both modes (SDS_download.py:903-964): bilinear at the source
    size is the identity; a 2x upscale of a constant image stays constant;
    a gradient upscale is monotone with interpolated interior values."""
    import numpy as np
    import struct

    media = MM.media_table(spark, 8)
    same = MM.resize_images(media, 16, 12, mode="bilinear").toPandas()
    for _, r in same.iterrows():
        orig = MM.decode_image_bytes(MM.make_fake_image(int(r["media_id"])))
        got = MM.decode_image_bytes(bytes(r["payload"]))
        assert np.array_equal(orig, got)  # identity at source resolution

    # gradient image: interior bilinear samples are strictly interpolated
    grad = np.tile(np.arange(0, 160, 10, dtype=np.uint8)[None, :, None], (4, 1, 3))
    up = MM._resize_bilinear(grad, 32, 4)
    nn = MM._resize_nearest(grad, 32, 4)
    assert up.shape == (4, 32, 3) and nn.shape == (4, 32, 3)
    assert not np.array_equal(up, nn)  # bilinear differs from NN on gradients
    assert (np.diff(up[0, :, 0].astype(int)) >= 0).all()  # monotone gradient
    # exact value check: doubling a 2-px row [0, 100] center-aligned
    two = np.array([[[0], [100]]], dtype=np.uint8)
    out = MM._resize_bilinear(two, 4, 1)[0, :, 0]
    assert out.tolist() == [0, 25, 75, 100]


def test_resize_rejects_unknown_mode(spark):
    media = MM.media_table(spark, 2)
    import pytest as _pt
    with _pt.raises(ValueError, match="nearest"):
        MM.resize_images(media, 4, 4, mode="cubic")


def test_bmp_roundtrip_and_padding():
    """Real BMP codec: encode->decode is identity, including non-multiple-
    of-4 row widths (padding) and both pixel orders."""
    import numpy as np

    from coastsat_spark.operators import multimodal as MM

    rng = np.random.default_rng(3)
    for w, h in ((16, 12), (5, 7), (1, 1), (3, 2)):
        im = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        payload = MM.encode_bmp(im)
        assert payload[:2] == b"BM"
        back = MM.decode_bmp(payload)
        assert back.shape == (h, w, 3)
        assert (back == im).all()
        # the generic dispatcher routes BMP too
        assert (MM.decode_image_bytes(payload) == im).all()


def test_wav_roundtrip_and_chunk_walk():
    """Real WAV codec: encode->decode identity; parser walks unknown
    chunks before data."""
    import struct

    import numpy as np

    from coastsat_spark.operators import multimodal as MM

    samples = (np.sin(np.linspace(0, 20, 500)) * 12345).astype("<i2")
    payload = MM.encode_wav(samples, 8000)
    sr, back = MM.decode_wav(payload)
    assert sr == 8000 and (back == samples).all()
    # inject a LIST chunk between fmt and data; parser must skip it
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 6) + b"junk06"
    patched = payload[:fmt_end] + extra + payload[fmt_end:]
    sr2, back2 = MM.decode_wav(patched)
    assert sr2 == 8000 and (back2 == samples).all()
    assert MM.decode_audio_bytes(payload)[0] == 8000


def test_media_table_real_formats(spark):
    """media_table now carries real BMP/WAV payloads; features and frame
    sampling compute real statistics from them."""
    import numpy as np

    from coastsat_spark.operators import multimodal as MM

    media = MM.media_table(spark, 20)
    pdf = media.toPandas()
    img = bytes(pdf[pdf["kind"] == "image"]["payload"].iloc[0])
    aud = bytes(pdf[pdf["kind"] == "audio"]["payload"].iloc[0])
    assert img[:2] == b"BM" and aud[:4] == b"RIFF"

    feats = MM.image_features(media).toPandas()
    assert len(feats) == 10 and feats["brightness"].between(0, 255).all()
    # parity with a local decode of the same deterministic payload
    mid = int(feats["media_id"].iloc[0])
    im = MM.decode_image_bytes(bytes(pdf[pdf["media_id"] == mid]["payload"].iloc[0]))
    row = feats[feats["media_id"] == mid].iloc[0]
    assert np.isclose(row["mean_r"], im[:, :, 0].mean())

    frames = MM.audio_frame_samples(media).toPandas()
    assert (frames["rms"] > 0).all()


# ------------------------------------------------------ GeoTIFF ingest


def test_geotiff_scene_roundtrip():
    """Scene payloads are real GeoTIFFs: decode recovers the exact
    splitmix pixel stream, the idx-derived transform, and the EPSG."""
    from coastsat_spark.functions.tiff import decode_geotiff
    from coastsat_spark.hashing import hash_stream

    for idx in range(6):  # covers all four compressions + predictor mix
        arr, meta = decode_geotiff(MM.make_geotiff_scene(idx))
        assert arr.shape == (12, 16, 5) and arr.dtype == np.uint16
        exp = (
            hash_stream(np.arange(12 * 16 * 5) + idx * 1_000_003, 91)
            % np.uint64(10000)
        ).astype(np.uint16).reshape(12, 16, 5)
        assert np.array_equal(arr, exp)
        assert meta["transform"] == pytest.approx(MM.geotiff_scene_transform(idx))
        assert meta["epsg"] == 32630


def test_geotiff_pixels_ingest(spark):
    """UDTF-shaped ingest: one payload -> h*w pixel rows; band values and
    world coords match a direct NumPy decode of the same payload."""
    from coastsat_spark.functions.tiff import decode_geotiff

    scenes = MM.geotiff_scene_table(spark, 5)
    pdf = MM.geotiff_pixels(scenes).toPandas()
    assert len(pdf) == 5 * 12 * 16
    for sid in range(5):
        sub = pdf[pdf.scene_id == sid].sort_values(["px_row", "px_col"])
        arr, meta = decode_geotiff(MM.make_geotiff_scene(sid))
        flat = arr.reshape(-1, 5)
        for b, name in enumerate(MM.GEOTIFF_BANDS):
            assert np.array_equal(sub[name].to_numpy(), flat[:, b].astype(np.int32))
        x0 = meta["transform"][0]
        assert sub.x.iloc[0] == pytest.approx(x0 + 5.0)
        assert sub.y.iloc[0] == pytest.approx(meta["transform"][3] - 5.0)
        assert (sub.epsg == 32630).all()


def test_decode_image_bytes_tiff_dispatch():
    """uint8 TIFFs flow through the generic image path; band stacks are
    redirected to geotiff_pixels with a loud error."""
    from coastsat_spark.functions.tiff import encode_tiff

    rgb = np.arange(48, dtype=np.uint8).reshape(4, 4, 3)
    assert np.array_equal(MM.decode_image_bytes(encode_tiff(rgb)), rgb)
    be = encode_tiff(rgb, big_endian=True)
    assert np.array_equal(MM.decode_image_bytes(be), rgb)
    u16 = encode_tiff(np.zeros((4, 4), dtype=np.uint16))
    with pytest.raises(NotImplementedError, match="geotiff_pixels"):
        MM.decode_image_bytes(u16)


# -------------------------------------------------------- AVI (video)


def test_avi_roundtrip_exact():
    rng = np.random.default_rng(3)
    frames = rng.integers(0, 256, (6, 9, 13, 3), dtype=np.uint8)
    fps, out = MM.decode_avi(MM.encode_avi(frames, fps=10))
    assert fps == 10
    assert np.array_equal(out, frames)


def test_avi_container_structure():
    """The writer emits a structurally honest RIFF: declared sizes walk,
    idx1 present, strf advertises 24-bit uncompressed."""
    import struct

    b = MM.encode_avi(np.zeros((2, 4, 4, 3), dtype=np.uint8), fps=5)
    assert b[:4] == b"RIFF" and b[8:12] == b"AVI "
    assert struct.unpack_from("<I", b, 4)[0] == len(b) - 8
    assert b"idx1" in b and b"00db" in b and b"strf" in b


def test_avi_rejects_compressed_and_foreign():
    with pytest.raises(NotImplementedError, match="RIFF AVI"):
        MM.decode_avi(b"RIFF\x04\x00\x00\x00WAVE")
    # flip biCompression in strf to a nonzero codec id
    b = bytearray(MM.encode_avi(np.zeros((1, 4, 4, 3), dtype=np.uint8)))
    off = b.index(b"strf") + 8 + 16
    b[off : off + 4] = b"\x01\x00\x00\x00"
    with pytest.raises(NotImplementedError, match="24-bit DIB"):
        MM.decode_avi(bytes(b))


def test_video_frame_features(spark):
    """Frame sampling keeps every k-th frame with per-frame channel
    means matching a direct NumPy decode."""
    pdf = (
        MM.video_frame_features(MM.video_table(spark, 4), every=3)
        .toPandas()
        .sort_values(["media_id", "frame_idx"])
    )
    assert sorted(pdf.frame_idx.unique()) == [0, 3, 6]
    for mid in range(4):
        _fps, frames = MM.decode_avi(MM.make_avi_video(mid))
        sub = pdf[pdf.media_id == mid]
        for _, row in sub.iterrows():
            means = frames[int(row.frame_idx)].reshape(-1, 3).mean(axis=0)
            assert row.mean_r == pytest.approx(means[0])
            assert row.brightness == pytest.approx(means.mean())


def test_geotiff_drives_shoreline_extraction(spark):
    """End-to-end reference flow on file bytes: a coastal GeoTIFF (land
    left / water right, sharp step at col 8) -> geotiff_pixels ->
    geotiff_shoreline_pixels -> extract_shorelines finds the vertical
    shoreline between cols 7 and 8, and the distributed result equals
    the NumPy kernel run directly on the decoded array."""
    import pandas as pd

    from coastsat_spark.functions.tiff import encode_geotiff
    from coastsat_spark.operators.raster import (
        ShorelineSettings,
        extract_shorelines,
        scene_extract_pdf,
    )

    g = 16
    arr = np.zeros((g, g, 5), dtype=np.uint16)
    land = np.s_[:, :8]
    water = np.s_[:, 8:]
    arr[..., 1][land], arr[..., 4][land] = 100, 180   # green/swir: mndwi +0.29
    arr[..., 1][water], arr[..., 4][water] = 150, 40  # mndwi -0.58
    arr[..., 0] = arr[..., 2] = arr[..., 3] = 50
    payload = encode_geotiff(
        arr, transform=(0.0, 10.0, 0.0, 0.0, 0.0, -10.0), epsg=32630, compression="lzw"
    )
    scenes = spark.createDataFrame([(3, bytearray(payload))], "scene_id long, payload binary")
    pixels = MM.geotiff_shoreline_pixels(MM.geotiff_pixels(scenes))
    s = ShorelineSettings(grid_log2=4)
    out = extract_shorelines(pixels, s).toPandas().sort_values(
        ["contour_id", "point_idx"]
    ).reset_index(drop=True)

    assert len(out) >= g  # one crossing per row of the grid
    assert ((out.px_x > 7.0) & (out.px_x < 8.0)).all()
    assert (out.tile == 3).all()

    # parity: same kernel, driven directly with the decoded array
    rows, cols = np.divmod(np.arange(g * g), g)
    pdf = pd.DataFrame(
        {
            "tile": 3,
            "scene_month": 0,
            "px_row": rows,
            "px_col": cols,
            "green": arr[rows, cols, 1].astype(float),
            "swir": arr[rows, cols, 4].astype(float),
            "n_docs": 1,
            "cloud_frac": 0.0,
        }
    )
    exp = scene_extract_pdf(pdf, s).sort_values(
        ["contour_id", "point_idx"]
    ).reset_index(drop=True)
    pd.testing.assert_frame_equal(out, exp, check_dtype=False)


def test_avi_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=40, deadline=None)
    @given(
        n=st.integers(min_value=1, max_value=6),
        h=st.integers(min_value=1, max_value=24),
        w=st.integers(min_value=1, max_value=24),
        fps=st.integers(min_value=1, max_value=60),
        seed=st.integers(min_value=0, max_value=2**31),
    )
    def inner(n, h, w, fps, seed):
        frames = np.random.default_rng(seed).integers(0, 256, (n, h, w, 3), dtype=np.uint8)
        got_fps, out = MM.decode_avi(MM.encode_avi(frames, fps=fps))
        assert got_fps == fps and np.array_equal(out, frames)

    inner()


def test_on_error_skip_quarantines_corrupt_payloads(spark):
    """Web-scale contract: one hostile payload must not fail the task.
    on_error='skip' drops exactly the undecodable rows; the default
    ('raise') keeps fail-fast semantics; media_decode_errors reports
    the dropped set with exception classes."""
    good_img = MM.make_bmp_image(1)
    rows = [
        (1, "image", good_img),
        (2, "image", good_img[: len(good_img) // 2]),   # truncated BMP
        (3, "image", b"\x89PNG\r\n\x1a\njunkjunkjunk"), # corrupt PNG   
        (4, "image", MM.make_bmp_image(4)),
        (5, "audio", MM.make_wav_audio(5)),
        (6, "audio", b"RIFF\x10\x00\x00\x00WAVEjunk"),  # WAV, no chunks
        (7, "video", b"RIFF\x08\x00\x00\x00AVI "),      # AVI, no streams
        (8, "image", bytes(64)),                        # unknown magic
        (9, "image", None),                             # NULL payload
        (10, "image", b"\xff\xd8\xff\xe0" + bytes(16)),   # JPEG: unsupported
        (11, "image", b"GIF89a" + bytes(16)),            # GIF: unsupported
        (12, "audio", b"fLaC" + bytes(16)),              # corrupt FLAC     
        (13, "video", _mjpg_avi()),                      # MJPG AVI: unsupported
        (14, "video", MM.make_avi_video(14)),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary"
    )

    feats = MM.image_features(media, on_error="skip").toPandas()
    assert sorted(feats["media_id"]) == [1, 4]
    rs = MM.resize_images(media, 4, 4, on_error="skip").toPandas()
    assert sorted(rs["media_id"]) == [1, 4]
    au = MM.audio_frame_samples(media, on_error="skip").toPandas()
    assert set(au["media_id"]) == {5}
    vid = MM.video_frame_features(
        media.filter("kind = 'video'"), on_error="skip"
    ).toPandas()
    assert set(vid["media_id"]) == {14}

    errs = (
        MM.media_decode_errors(media)
        .toPandas()
        .sort_values("media_id")
        .reset_index(drop=True)
    )
    assert list(errs["media_id"]) == [2, 3, 6, 7, 8, 9, 10, 11, 12, 13]
    assert (errs["error_class"] != "").all()
    unsupported = errs[errs["media_id"].isin([10, 11, 13])]
    assert (unsupported["error_class"] == "NotImplementedError").all()
    # the default stays fail-fast
    with pytest.raises(Exception):
        MM.image_features(media).toPandas()
    with pytest.raises(ValueError, match="on_error"):
        MM.image_features(media, on_error="ignore")


def test_image_features_grayscale(spark):
    """1- and 2-channel images (grey and grey+alpha TIFF) must not crash
    image_features: channel 0 is reported as r=g=b=brightness."""
    from coastsat_spark.functions.tiff import encode_tiff

    grey = (np.arange(64, dtype=np.uint8).reshape(8, 8) * 3) % 251
    ga = np.dstack([grey, np.full((8, 8), 9, np.uint8)])  # grey+alpha
    media = spark.createDataFrame(
        [(1, "image", encode_tiff(grey)), (2, "image", encode_tiff(ga))],
        "media_id long, kind string, payload binary",
    )
    f = MM.image_features(media).toPandas().set_index("media_id").sort_index()
    assert list(f["channels"]) == [1, 2]
    for mid in (1, 2):
        r = f.loc[mid]
        assert r.mean_r == r.mean_g == r.mean_b == r.brightness == grey.mean()


def test_decode_avi_top_down():
    """Negative biHeight = top-down DIB: rows must NOT be flipped (same
    convention as decode_bmp), so the two orientations mirror each other."""
    import struct as _st

    payload = bytearray(MM.make_avi_video(7, w=6, h=4, n_frames=3))
    _, up = MM.decode_avi(bytes(payload))
    off = bytes(payload).index(b"strf") + 8 + 8  # strf body: hsz, w, THEN h
    (h,) = _st.unpack_from("<i", payload, off)
    assert h == 4
    _st.pack_into("<i", payload, off, -h)
    fps, down = MM.decode_avi(bytes(payload))
    assert down.shape == up.shape
    np.testing.assert_array_equal(down, up[:, ::-1])
