"""Every stage that reads a binary payload column, pinned row for row, and
the Arrow payload kernel they share (functions/payload.py).

The pinned rows (``payload_stage_rows.json``) were captured from the
pandas-batched stages that preceded the kernel; the same inputs must give
the same rows. Inputs span the edge cases every stage meets: valid,
truncated, garbage, null and empty payloads, a known codec without a
decoder, an unknown codec, and null metadata. Two records per Arrow batch
make every partition several batches long."""

import hashlib
import json
import pathlib

import numpy as np
import pytest

from json_skema_spark.functions import audio, audio_features, media

_PINNED = json.loads(
    (pathlib.Path(__file__).parent / "payload_stage_rows.json").read_text())

_CLIP_DDL = ("clip_id string, codec string, bytes binary, sr_hz int, "
             "dur_ms int, transcript string")


def _wav(i, sr, ms):
    return audio.encode_wav_pcm16(audio.synth_reference_signal(i, sr, ms), sr)


def _clips(spark):
    good = _wav(1, 8000, 300)
    rows = [
        ("clip_00000001", "pcm_s16le", good, 8000, 300, "a b"),
        # holds 200 ms, claims 900 ms
        ("clip_00000002", "pcm_s16le", _wav(2, 8000, 200), 8000, 900, "c"),
        ("clip_00000003", "pcm_s16le", good, None, None, "d"),
        ("clip_00000004", "pcm_s16le", good[:-101], 8000, 300, "e"),
        ("clip_00000005", "pcm_s16le", b"garbage, not a RIFF header " * 3,
         8000, 300, None),
        ("clip_00000006", "pcm_s16le", None, 8000, 300, "f"),
        ("clip_00000007", "pcm_s16le", b"", 8000, 300, "g"),
        ("clip_00000008", "flac", b"fLaC\x00\x00\x00\x22", 8000, 300, "h"),
        ("clip_00000009", "mp9", good, 8000, 300, "i"),
    ]
    return spark.createDataFrame(rows, _CLIP_DDL).coalesce(1)


def _images(spark):
    rng = np.random.default_rng(7)
    rgb = media.encode_rgb8raw(rng.integers(0, 256, (5, 4, 3), np.uint8))
    rgba = media.encode_rgb8raw(rng.integers(0, 256, (3, 2, 4), np.uint8))
    rows = [("img1", "rgb8raw", rgb), ("img2", "rgb8raw", rgba),
            ("img3", "rgb8raw", rgb[:-7]),
            ("img4", "rgb8raw", b"garbage, not an image " * 2),
            ("img5", "rgb8raw", None), ("img6", "rgb8raw", b""),
            ("img7", "jpeg", b"\xff\xd8\xff\xe0"), ("img8", "tiff", rgb)]
    return spark.createDataFrame(
        rows, "image_id string, codec string, bytes binary").coalesce(1)


def _videos(spark):
    rng = np.random.default_rng(8)
    vid = media.encode_rawvid(rng.integers(0, 256, (7, 3, 4, 3), np.uint8),
                              fps=4)
    rows = [("vid1", "rawvid", vid), ("vid2", "rawvid", vid[:-5]),
            ("vid3", "rawvid", b"garbage, not a video " * 2),
            ("vid4", "rawvid", None), ("vid5", "rawvid", b""),
            ("vid6", "jpeg", vid), ("vid7", "mp9", vid)]
    return spark.createDataFrame(
        rows, "video_id string, codec string, bytes binary").coalesce(1)


STAGES = {
    "decode_check": lambda s: audio.decode_check(_clips(s)),
    "pcm_invariant_check": lambda s: audio.pcm_invariant_check(
        _clips(s), check_duration=True),
    "extract_features": lambda s: audio_features.extract_features(_clips(s)),
    "resample_clips": lambda s: audio_features.resample_clips(
        _clips(s), 11025),
    "sample_frames": lambda s: audio_features.sample_frames(
        _clips(s), every_ms=100, frame_ms=40, max_frames=3),
    "audio_quality_stats": lambda s: audio_features.audio_quality_stats(
        _clips(s)),
    "duration_consistency_violations":
        lambda s: audio_features.duration_consistency_violations(_clips(s)),
    "image_decode_check": lambda s: media.image_decode_check(_images(s)),
    "resize_images": lambda s: media.resize_images(_images(s), 3, 2),
    "image_stats": lambda s: media.image_stats(_images(s)),
    "sample_video_frames": lambda s: media.sample_video_frames(
        _videos(s), every_ms=500, max_frames=2),
}


def _canon(v):
    """JSON-safe, exact: payloads and float arrays as digests, floats as
    their repr (which round-trips, infinities included)."""
    if isinstance(v, (bytes, bytearray)):
        return "sha256:" + hashlib.sha256(bytes(v)).hexdigest()[:16]
    if isinstance(v, list):
        return "sha256:" + hashlib.sha256(
            repr([float(x) for x in v]).encode()).hexdigest()[:16]
    if isinstance(v, float):
        return repr(v)
    return v


def stage_rows(spark, stage):
    rows = [[_canon(v) for v in r] for r in STAGES[stage](spark).collect()]
    return sorted(rows, key=repr)


@pytest.fixture
def two_rows_per_batch(spark):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "2")
    yield spark
    spark.conf.set(key, old)


@pytest.mark.parametrize("stage", sorted(STAGES))
def test_stage_rows_pinned(two_rows_per_batch, stage):
    assert stage_rows(two_rows_per_batch, stage) == _PINNED[stage]


def test_payload_views_match_pylist_at_offset_and_large_binary():
    """The kernel's zero-copy views over a sliced batch (non-zero array
    offset) equal ``to_pylist()`` byte for byte, for ``binary`` and
    ``large_binary``; nulls come back as ``None``, scalars as Python
    values."""
    import pyarrow as pa

    from json_skema_spark.functions.payload import batch_columns

    values = [b"first", None, b"", b"\x00\x01\x02", None, b"tail bytes"]
    for typ in (pa.binary(), pa.large_binary()):
        batch = pa.RecordBatch.from_arrays(
            [pa.array(["a", "b", None, "d", "e", "f"]),
             pa.array(values, type=typ)], names=["id", "bytes"])
        for sliced in (batch.slice(1, 4), batch.slice(2), batch.slice(6)):
            ids, views = batch_columns(sliced)
            assert ids == sliced.column(0).to_pylist()
            expect = sliced.column(1).to_pylist()
            assert [None if v is None else bytes(v) for v in views] == expect
            assert all(isinstance(v, memoryview)
                       for v, e in zip(views, expect) if e is not None)
            assert [v is None for v in views] == [e is None for e in expect]
