"""Audio feature extraction / resample / frame-sample / duration checks."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from json_skema_spark.functions import audio
from json_skema_spark.functions.audio_features import (
    audio_quality_stats, clip_features, duration_consistency_violations,
    extract_features, frame_signal, resample_clips, resample_linear,
    sample_frames)
from json_skema_spark.sources import clips as clips_src


def test_resample_linear_preserves_tone():
    sr1, sr2 = 48000, 16000
    sig = audio.synth_reference_signal(0, sr1, 500)
    r = resample_linear(sig, sr1, sr2)
    assert abs(len(r) - len(sig) * sr2 / sr1) <= 1
    # downsampled 220 Hz tone must still correlate with a freshly
    # synthesized 16 kHz version
    ref = audio.synth_reference_signal(0, sr2, 500)
    n = min(len(r), len(ref))
    corr = np.corrcoef(r[:n], ref[:n])[0, 1]
    assert corr > 0.99


def test_frame_signal_shapes():
    sig = np.arange(1000, dtype=float)
    frames = frame_signal(sig, 100, 50)
    assert frames.shape == (19, 100)
    assert frames[1][0] == 50.0


def test_clip_features_sane():
    sig = audio.synth_reference_signal(3, 16000, 1000)
    f = clip_features(sig, 16000)
    assert f["n_frames"] > 90
    # 220 Hz tone: centroid near the low end, rms ~ -5 dBFS for 0.75 peak mix
    assert 150 < np.median(f["spectral_centroid"]) < 700
    assert -12 < np.median(f["rms_db"]) < -2


def test_extract_features_df(spark):
    df = clips_src.clips_df(spark, 30, inject=False)
    out = extract_features(df).collect()
    assert len(out) == 30
    ok = [r for r in out if r.n_frames > 0]
    assert len(ok) >= 25  # flac/opus stubs yield n_frames=0
    assert all(len(r.rms_db) == r.n_frames for r in ok)


def test_resample_clips_df(spark):
    df = clips_src.clips_df(spark, 10, inject=False)
    out = resample_clips(df, 8000).filter(F.col("n_samples") > 0).collect()
    assert out and all(r.sr_hz == 8000 for r in out)
    assert all(len(r.pcm) == 2 * r.n_samples for r in out)


def test_sample_frames_df(spark):
    df = clips_src.clips_df(spark, 10, inject=False)
    out = sample_frames(df, every_ms=200, frame_ms=50, max_frames=4).collect()
    assert out
    by_clip = {}
    for r in out:
        by_clip.setdefault(r.clip_id, []).append(r)
    for rows in by_clip.values():
        assert len(rows) <= 4
        assert [r.frame_idx for r in sorted(rows, key=lambda x: x.frame_idx)] \
            == list(range(len(rows)))


def test_duration_consistency(spark):
    # fixture audio is capped at 2000ms; rows claiming more must be flagged
    df = clips_src.clips_df(spark, 60, inject=False)
    long_claims = df.filter(F.col("dur_ms") > 2100).count()
    v = duration_consistency_violations(df).collect()
    assert len(v) == long_claims
    assert all("claimed duration" in r.message for r in v)


def test_audio_quality_stats_and_violations(spark):
    """Clipped (gain-damaged), near-silent, and normal clips must be told
    apart by the content-quality stats; violations fire on the bad two."""
    import numpy as np
    from json_skema_spark.functions import audio, audio_features

    sr = 16000
    tone = audio.synth_reference_signal(3, sr, 500)
    clipped = np.clip(tone * 4.0, -1.0, 1.0)            # heavy clipping
    silent = np.zeros(sr // 2)
    rows = [
        ("ok", audio.encode_wav_pcm16(tone, sr), "pcm_s16le"),
        ("clip", audio.encode_wav_pcm16(clipped, sr), "pcm_s16le"),
        ("quiet", audio.encode_wav_pcm16(silent, sr), "pcm_s16le"),
        ("bad", b"notawav", "pcm_s16le"),
    ]
    df = spark.createDataFrame(rows, "clip_id string, bytes binary, codec string")
    stats = {r.clip_id: r for r in audio_features.audio_quality_stats(df).collect()}
    assert stats["ok"].decode_ok and stats["ok"].clipping_ratio < 0.001
    assert stats["clip"].clipping_ratio > 0.1
    assert stats["quiet"].silence_ratio == 1.0 and stats["quiet"].rms_dbfs <= -180
    assert not stats["bad"].decode_ok and stats["bad"].peak_dbfs is None
    v = {r.row_key: r.message
         for r in audio_features.audio_quality_violations(df).collect()}
    assert set(v) == {"clip", "quiet"}
    assert "clipping ratio" in v["clip"] and "silence ratio" in v["quiet"]


def test_sample_frames_includes_aligned_final_window(spark):
    """A full window whose start lands exactly at len-flen is sampled
    (off-by-one dropped it when len-flen was a multiple of the hop)."""
    import numpy as np

    from json_skema_spark.functions.audio import encode_wav_pcm16
    from json_skema_spark.functions.audio_features import sample_frames

    sr = 16000
    sig = np.zeros(9600, dtype=np.float64)  # 600 ms
    df = spark.createDataFrame(
        [("c1", "pcm_s16le", encode_wav_pcm16(sig, sr))],
        "clip_id string, codec string, bytes binary")
    rows = sample_frames(df, every_ms=500, frame_ms=100).collect()
    assert sorted(r.start_ms for r in rows) == [0, 500]


def test_clip_features_one_sample_frame_no_nan():
    f = clip_features(np.asarray([0.5], dtype=np.float64), sr=40)
    # 25ms at sr=40 -> frame_len 1: zcr must be 0.0, never NaN
    assert f["n_frames"] == 1 and f["zcr"] == [0.0]
    assert not any(np.isnan(f["rms_db"]))


def test_frame_signal_is_a_view_and_matches_copy_semantics():
    sig = np.arange(100, dtype=np.float64)
    frames = frame_signal(sig, 25, 10)
    assert frames.shape == (8, 25)
    # identical frame content to the index-materialized formulation
    idx = np.arange(25)[None, :] + 10 * np.arange(8)[:, None]
    assert np.array_equal(frames, sig[idx])
    assert frames.base is not None  # a view, not a copy


# Registered decoders reporting a bad sample rate, one codec each: 0
# (review r04), None (review r05c), -1 (review r05) and -48000 beside a
# valid claimed 48000 (review r05c). Each returns 4800 samples, which is
# exactly the claimed 100 ms at the claimed rate.
_BAD_RATES = {"srzero": 0, "nonesr": None, "negsr": -1, "negsr48k": -48000}


def _features_empty(rows):
    assert sorted(r.clip_id for r in rows) == sorted(_BAD_RATES)
    assert all(r.n_frames == 0 for r in rows)


def _resampled_empty(rows):
    assert sorted(r.clip_id for r in rows) == sorted(_BAD_RATES)
    assert all(r.n_samples == 0 for r in rows)


def _quality_degraded(rows):
    assert sorted(r.clip_id for r in rows) == sorted(_BAD_RATES)
    assert all(r.decode_ok is False for r in rows)
    assert all(r.silence_ratio is None for r in rows)


def _decoder_rate_reported(rows):
    assert {r.clip_id: r.sr_hz_decoded for r in rows} == _BAD_RATES
    assert all(r.decode_ok and r.n_samples == 4800 for r in rows)


def _invariant_fails(rows):
    assert sorted(r.clip_id for r in rows) == sorted(_BAD_RATES)
    assert not any(r.invariant_ok for r in rows)


def _no_rows(rows):
    # sample_frames: no window at an unusable rate; duration: a bad decoder
    # rate falls back to the claimed 48000, so 4800 samples = 100 ms is
    # consistent, never a bogus negative-duration violation
    assert rows == []


@pytest.mark.parametrize("stage, check", [
    (audio.decode_check, _decoder_rate_reported),
    (audio.pcm_invariant_check, _invariant_fails),
    (extract_features, _features_empty),
    (lambda df: resample_clips(df, target_sr=8000), _resampled_empty),
    (sample_frames, _no_rows),
    (audio_quality_stats, _quality_degraded),
    (duration_consistency_violations, _no_rows),
], ids=["decode_check", "pcm_invariant_check", "extract_features",
        "resample_clips", "sample_frames", "audio_quality_stats",
        "duration_consistency_violations"])
def test_audio_stages_contain_bad_sample_rates(spark, stage, check):
    """A third-party decoder's bad sample rate must degrade its row, never
    ZeroDivisionError/TypeError the task (the registry contract)."""
    for codec, sr in _BAD_RATES.items():
        audio.register_decoder(
            codec, lambda buf, sr=sr: (np.zeros(4800), sr, ""))
    try:
        df = spark.createDataFrame(
            [(codec, codec, bytearray(b"xx"), 48000, 100, "t")
             for codec in _BAD_RATES],
            "clip_id string, codec string, bytes binary, sr_hz int, "
            "dur_ms int, transcript string")
        check(stage(df).collect())
    finally:
        for codec in _BAD_RATES:
            audio.unregister_decoder(codec)
            audio._KNOWN_CODECS.discard(codec)
