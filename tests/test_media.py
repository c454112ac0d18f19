"""Image/video multimodal plumbing (functions/media.py): real rgb8raw /
rawvid codecs, registry stubs, resize determinism, frame sampling."""

import numpy as np
from pyspark.sql import functions as F

from json_skema_spark.functions import media


def _img(seed, h=8, w=6, c=3):
    return np.random.default_rng(seed).integers(0, 256, (h, w, c), np.uint8)


def test_rgb8raw_roundtrip():
    px = _img(1)
    dec, err = media.decode_rgb8raw(media.encode_rgb8raw(px))
    assert err == "" and np.array_equal(dec, px)
    assert media.decode_rgb8raw(b"junk")[1] == "not_rgb8raw"
    good = media.encode_rgb8raw(px)
    assert media.decode_rgb8raw(good[:-5])[1] == "truncated_rgb8raw"


def test_image_decode_check_and_stubs(spark):
    rows = [("i1", "rgb8raw", bytearray(media.encode_rgb8raw(_img(2)))),
            ("i2", "jpeg", bytearray(b"\xff\xd8\xff")),
            ("i3", "tiff", bytearray(b"II*\x00")),
            ("i4", "rgb8raw", bytearray(b"bad"))]
    df = spark.createDataFrame(rows, "image_id string, codec string, bytes binary")
    got = {r.image_id: r for r in media.image_decode_check(df).collect()}
    assert got["i1"].decode_ok and (got["i1"].width, got["i1"].height) == (6, 8)
    assert got["i2"].error == "codec_not_supported:jpeg"
    assert got["i3"].error == "unknown_codec:tiff"
    assert got["i4"].error == "not_rgb8raw"


def test_image_decoder_registry(spark):
    def fake_jpeg(buf):
        # self-contained: closures ship by value, module helpers don't
        import numpy as _np
        if not bytes(buf).startswith(b"\xff\xd8"):
            return None, "not_jpeg"
        return _np.zeros((4, 4, 3), _np.uint8), ""

    df = spark.createDataFrame(
        [("j1", "jpeg", bytearray(b"\xff\xd8\xff\xe0"))],
        "image_id string, codec string, bytes binary")
    media.register_image_decoder("jpeg", fake_jpeg)
    try:
        r = media.image_decode_check(df).collect()[0]
        assert r.decode_ok and r.width == 4
    finally:
        media.unregister_image_decoder("jpeg")
    r2 = media.image_decode_check(df).collect()[0]
    assert r2.error == "codec_not_supported:jpeg"


def test_resize_deterministic_and_decodable(spark):
    px = _img(4, 10, 8)
    df = spark.createDataFrame(
        [("a", "rgb8raw", bytearray(media.encode_rgb8raw(px)))],
        "image_id string, codec string, bytes binary")
    out1 = media.resize_images(df, 4, 5).collect()[0]
    out2 = media.resize_images(df.repartition(3), 4, 5).collect()[0]
    assert bytes(out1.bytes) == bytes(out2.bytes)  # partitioning-independent
    dec, err = media.decode_rgb8raw(bytes(out1.bytes))
    assert err == "" and dec.shape == (5, 4, 3)
    # nearest-neighbor: corner pixel preserved
    assert np.array_equal(dec[0, 0], px[0, 0])


def test_image_stats(spark):
    px = np.full((4, 4, 3), 100, np.uint8)
    px[:, :, 0] = 200  # red channel brighter
    df = spark.createDataFrame(
        [("s1", "rgb8raw", bytearray(media.encode_rgb8raw(px)))],
        "image_id string, codec string, bytes binary")
    r = media.image_stats(df).collect()[0]
    assert r.decode_ok and r.mean_r == 200.0 and r.mean_g == 100.0
    assert abs(r.std_gray) < 1e-9  # constant gray plane


def test_video_frame_sampling(spark):
    rng = np.random.default_rng(5)
    frames = rng.integers(0, 256, (10, 4, 6, 3), np.uint8)  # 10 frames 6x4
    buf = media.encode_rawvid(frames, fps=5)
    hdr, err = media.decode_rawvid_header(buf)
    assert err == "" and hdr == (6, 4, 5, 10)
    df = spark.createDataFrame(
        [("v1", "rawvid", bytearray(buf)),
         ("v2", "h264", bytearray(b"\x00\x00\x01"))],
        "video_id string, codec string, bytes binary")
    # every_ms=1000 at 5 fps -> every 5th frame: indices 0, 5
    got = media.sample_video_frames(df, every_ms=1000).collect()
    assert [(r.video_id, r.frame_index) for r in got] == [("v1", 0), ("v1", 5)]
    assert got[0].ts_ms == 0.0 and got[1].ts_ms == 1000.0
    dec, _ = media.decode_rgb8raw(bytes(got[1].bytes))
    assert np.array_equal(dec, frames[5])
    # max_frames cap
    capped = media.sample_video_frames(df, every_ms=200, max_frames=3).collect()
    assert [r.frame_index for r in capped] == [0, 1, 2]


def test_image_stats_alpha_not_in_gray(spark):
    """RGBA: the alpha plane must not contaminate gray stddev — identical
    visual content scores the same as RGB."""
    import numpy as np

    from json_skema_spark.functions.media import encode_rgb8raw, image_stats

    rgb = np.zeros((4, 4, 3), np.uint8)
    rgb[:2] = 255  # high contrast
    rgba = np.dstack([rgb, np.full((4, 4), 255, np.uint8)])
    df = spark.createDataFrame(
        [("rgb", "rgb8raw", encode_rgb8raw(rgb)),
         ("rgba", "rgb8raw", encode_rgb8raw(rgba))],
        "image_id string, codec string, bytes binary")
    got = {r.image_id: r for r in image_stats(df).collect()}
    assert got["rgb"].std_gray == got["rgba"].std_gray
    assert got["rgb"].mean_r == got["rgba"].mean_r


def test_image_decode_contains_2d_decoder_output(spark):
    """A registered decoder returning a 2-D grayscale array must degrade to
    a per-row verdict, not IndexError the task (review r05c)."""
    media.register_image_decoder(
        "gray2d", lambda buf: (np.zeros((4, 5), np.uint8), ""))
    try:
        df = spark.createDataFrame(
            [("i1", "gray2d", bytearray(b"xx"))],
            "image_id string, codec string, bytes binary")
        r = media.image_decode_check(df).collect()[0]
    finally:
        media.unregister_image_decoder("gray2d")
    assert not r["decode_ok"]
    assert r["error"] == "decode_error:bad_shape:4x5"
