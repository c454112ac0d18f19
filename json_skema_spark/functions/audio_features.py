"""Audio feature extraction / transformation over ``binary`` WAV columns.

The multimodal-pipeline surface for the audio payload: decode ->
feature-extract -> resample -> frame-sample, each a per-row numpy function
behind the shared Arrow batch kernel (``payload.map_payload``). All DSP is
numpy (rFFT, linear-interp resampling) — no external audio libraries;
compressed codecs stay stubbed in functions/audio.py.

Scale notes: every stage projects only the columns it needs before the UDF
(bytes never ship unless decoding), and per-clip outputs are bounded arrays
(n_frames x small), so downstream aggregation is cheap.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_skema_spark.functions.audio import CLIP_PAYLOAD, _decoder_snapshot
from json_skema_spark.functions.payload import map_payload

FEATURES_SCHEMA = ("clip_id string, n_frames int, rms_db array<float>, "
                   "zcr array<float>, spectral_centroid array<float>")
RESAMPLE_SCHEMA = "clip_id string, sr_hz int, n_samples long, pcm binary"
FRAMES_SCHEMA = ("clip_id string, frame_idx int, start_ms int, pcm binary")


def resample_linear(sig: np.ndarray, from_sr: int, to_sr: int) -> np.ndarray:
    """Deterministic linear-interpolation resampler (numpy)."""
    if from_sr == to_sr or len(sig) == 0:
        return sig
    n_out = max(int(round(len(sig) * to_sr / from_sr)), 1)
    x_out = np.arange(n_out, dtype=np.float64) * (from_sr / to_sr)
    return np.interp(x_out, np.arange(len(sig), dtype=np.float64), sig)


def frame_signal(sig: np.ndarray, frame_len: int, hop: int) -> np.ndarray:
    """(n_frames, frame_len) framing — a TRUE zero-copy strided view;
    fancy indexing materialized a ~frame_len/hop x copy of the signal per
    clip (review r05c)."""
    if len(sig) < frame_len:
        return sig[np.newaxis, :] if len(sig) else np.empty((0, frame_len))
    return np.lib.stride_tricks.sliding_window_view(sig, frame_len)[::hop]


def clip_features(sig: np.ndarray, sr: int, *, frame_ms: int = 25,
                  hop_ms: int = 10) -> dict:
    """Frame-level RMS (dBFS), zero-crossing rate, spectral centroid."""
    frame_len = max(int(sr * frame_ms / 1000), 1)
    hop = max(int(sr * hop_ms / 1000), 1)
    frames = frame_signal(sig, frame_len, hop)
    if frames.size == 0:
        return {"n_frames": 0, "rms_db": [], "zcr": [], "spectral_centroid": []}
    rms = np.sqrt(np.mean(frames * frames, axis=1))
    rms_db = 20.0 * np.log10(np.maximum(rms, 1e-10))
    if frames.shape[1] > 1:
        zcr = np.mean(np.abs(np.diff(np.signbit(frames), axis=1)), axis=1)
    else:
        # a 1-sample frame has no crossings; np.diff over zero columns
        # would make np.mean emit NaN + RuntimeWarning (review r05c)
        zcr = np.zeros(frames.shape[0])
    spec = np.abs(np.fft.rfft(frames * np.hanning(frames.shape[1]), axis=1)) ** 2
    freqs = np.fft.rfftfreq(frames.shape[1], d=1.0 / sr)
    denom = spec.sum(axis=1)
    centroid = np.where(denom > 0, (spec * freqs).sum(axis=1) / np.maximum(denom, 1e-12), 0.0)
    return {"n_frames": int(len(frames)),
            "rms_db": rms_db.astype(np.float32).tolist(),
            "zcr": zcr.astype(np.float32).tolist(),
            "spectral_centroid": centroid.astype(np.float32).tolist()}


def extract_features(df: DataFrame, *, frame_ms: int = 25,
                     hop_ms: int = 10) -> DataFrame:
    """Per-clip frame features -> (clip_id, n_frames, rms_db[], zcr[],
    spectral_centroid[]). Undecodable clips yield n_frames=0."""
    decode = _decoder_snapshot()

    def row(cid, codec, buf):
        sig, sr, _err = decode(codec, buf)
        # sr<=0 / sr=None guard (review r04/r05c): a third-party decoder
        # reporting rate 0 or None must degrade to an empty feature row,
        # not TypeError/ZeroDivisionError the whole task
        if sig is None or not sr or sr <= 0:
            return [(cid, 0, [], [], [])]
        f = clip_features(sig, sr, frame_ms=frame_ms, hop_ms=hop_ms)
        return [(cid, f["n_frames"], f["rms_db"], f["zcr"],
                 f["spectral_centroid"])]

    return map_payload(df, CLIP_PAYLOAD, FEATURES_SCHEMA, lambda: row)


def resample_clips(df: DataFrame, target_sr: int) -> DataFrame:
    """Decode + resample to ``target_sr`` -> raw PCM16 bytes (no container)."""
    decode = _decoder_snapshot()

    def row(cid, codec, buf):
        sig, sr, _err = decode(codec, buf)
        if sig is None or not sr or sr <= 0:  # sr guard: see extract_features
            return [(cid, 0, 0, b"")]
        r = resample_linear(sig, sr, target_sr)
        pcm = (np.clip(r, -1, 1) * 32767.0).astype("<i2").tobytes()
        return [(cid, target_sr, len(r), pcm)]

    return map_payload(df, CLIP_PAYLOAD, RESAMPLE_SCHEMA, lambda: row)


def sample_frames(df: DataFrame, *, every_ms: int = 500,
                  frame_ms: int = 100, max_frames: int = 16) -> DataFrame:
    """Deterministic frame sampling (the audio analogue of video
    frame-sampling): one row per sampled window -> (clip_id, frame_idx,
    start_ms, pcm). Exploded rows are bounded by ``max_frames``."""
    decode = _decoder_snapshot()

    def row(cid, codec, buf):
        sig, sr, _err = decode(codec, buf)
        # sr<=0: see extract_features. len==0: a VALID zero-sample clip has
        # no window to sample — emitting one empty-pcm "frame" would
        # disagree with extract_features' 0-frame verdict for the same clip
        # (review r04)
        if sig is None or not sr or sr <= 0 or len(sig) == 0:
            return
        hop = max(int(sr * every_ms / 1000), 1)
        flen = max(int(sr * frame_ms / 1000), 1)
        # stop is len-flen+1 so an exactly-aligned final full window is
        # included (stop of len-flen drops it whenever len-flen is a
        # positive multiple of hop)
        for i, start in enumerate(range(0, max(len(sig) - flen + 1, 1), hop)):
            if i >= max_frames:
                break
            chunk = sig[start:start + flen]
            pcm = (np.clip(chunk, -1, 1) * 32767.0).astype("<i2").tobytes()
            yield cid, i, int(start * 1000 / sr), pcm

    return map_payload(df, CLIP_PAYLOAD, FRAMES_SCHEMA, lambda: row)


QUALITY_SCHEMA = ("clip_id string, decode_ok boolean, peak_dbfs double, "
                  "rms_dbfs double, clipping_ratio double, silence_ratio double")


def audio_quality_stats(df: DataFrame, *, silence_db: float = -50.0,
                        frame_ms: int = 25, hop_ms: int = 10) -> DataFrame:
    """Per-clip content-quality stats — the audio analogue of
    functions/text.quality_score: peak/RMS level (dBFS), clipping ratio
    (fraction of samples at full scale) and silence ratio (fraction of
    frames under ``silence_db``). One Arrow-batched kernel pass; all DSP
    numpy-vectorized per clip."""
    decode = _decoder_snapshot()

    def row(cid, codec, buf):
        sig, sr, _err = decode(codec, buf)
        # sr <= 0 matches the sibling stages' r04 containment guard: a
        # third-party decoder reporting a NEGATIVE rate must degrade the
        # row, not compute 1-sample frames (review r05)
        if sig is None or len(sig) == 0 or not sr or sr <= 0:
            return [(cid, False, None, None, None, None)]
        a = np.abs(sig)
        peak = float(a.max())
        rms = float(np.sqrt(np.mean(sig * sig)))
        peak_db = 20.0 * np.log10(max(peak, 1e-10))
        rms_db = 20.0 * np.log10(max(rms, 1e-10))
        # PCM16 full scale after /32767 normalization is ~1.0
        clipping = float(np.mean(a >= 32766.0 / 32767.0))
        flen = max(int(sr * frame_ms / 1000), 1)
        hop = max(int(sr * hop_ms / 1000), 1)
        frames = frame_signal(sig, flen, hop)
        if frames.size == 0:
            silence = 1.0
        else:
            frms = np.sqrt(np.mean(frames * frames, axis=1))
            frms_db = 20.0 * np.log10(np.maximum(frms, 1e-10))
            silence = float(np.mean(frms_db < silence_db))
        return [(cid, True, peak_db, rms_db, clipping, silence)]

    return map_payload(df, CLIP_PAYLOAD, QUALITY_SCHEMA, lambda: row)


def audio_quality_violations(df: DataFrame, *, max_clipping_ratio: float = 0.001,
                             max_silence_ratio: float = 0.95,
                             silence_db: float = -50.0) -> DataFrame:
    """Content-quality constraints rendered as violation rows: clipped
    payloads (gain damage) and near-silent payloads (dead air) — the checks
    a training-data ingest actually gates on."""
    q = audio_quality_stats(df, silence_db=silence_db)
    bad = q.filter(F.col("decode_ok")
                   & ((F.col("clipping_ratio") > max_clipping_ratio)
                      | (F.col("silence_ratio") > max_silence_ratio)))
    return bad.select(
        F.col("clip_id").alias("row_key"),
        F.lit("format").alias("keyword"),
        F.lit("#/properties/bytes/quality").alias("keyword_location"),
        F.lit("#/bytes").alias("instance_location"),
        F.lit("#/properties/bytes/quality").alias("dynamic_path"),
        F.when(F.col("clipping_ratio") > max_clipping_ratio,
               F.format_string("clipping ratio %.4f exceeds %.4f",
                               F.col("clipping_ratio"),
                               F.lit(max_clipping_ratio)))
        .otherwise(F.format_string("silence ratio %.3f exceeds %.3f",
                                   F.col("silence_ratio"),
                                   F.lit(max_silence_ratio))).alias("message"),
        F.spark_partition_id().alias("partition_id"),
    )


def duration_consistency_violations(df: DataFrame, *,
                                    tolerance_ms: int = 50) -> DataFrame:
    """Validation-tier content check: the decoded sample count must match the
    claimed ``dur_ms`` within tolerance (catches truncated payloads whose
    metadata still claims full length). Synthetic fixture caveat: generated
    clips cap audio at 2000 ms (FIXTURES.md), so pass ``max_claim_ms`` rows
    already filtered, or use on real tables where bytes cover dur_ms."""
    decode = _decoder_snapshot()

    def row(cid, codec, buf, sr, dur):
        sig, dec_sr, _err = decode(codec, buf)
        # decoder-reported rate, claimed sr_hz as the fallback (same
        # convention as pcm_invariant_check). sr <= 0 containment like the
        # sibling stages (r04/r05c): a decoder-reported or claimed NEGATIVE
        # rate would flow into the duration math and emit bogus
        # negative-duration violations for every such clip
        eff_sr = dec_sr if dec_sr and dec_sr > 0 else (
            None if sr is None else int(sr))
        if sig is None or not eff_sr or eff_sr <= 0 or dur is None:
            # a missing claim is required's problem, not a
            # duration-consistency violation (ADVICE r01)
            return []
        actual_ms = int(len(sig) * 1000 / eff_sr)
        if abs(actual_ms - int(dur)) > tolerance_ms:
            return [(cid, int(dur), actual_ms)]
        return []

    mism = map_payload(df, [*CLIP_PAYLOAD, "sr_hz", "dur_ms"],
                       "clip_id string, claimed_ms int, actual_ms int",
                       lambda: row)
    return mism.select(
        F.col("clip_id").alias("row_key"),
        F.lit("const").alias("keyword"),
        F.lit("#/properties/dur_ms/const").alias("keyword_location"),
        F.lit("#/dur_ms").alias("instance_location"),
        F.lit("#/properties/dur_ms/const").alias("dynamic_path"),
        F.format_string("claimed duration %s ms but decoded %s ms",
                        F.col("claimed_ms"), F.col("actual_ms")).alias("message"),
        F.spark_partition_id().alias("partition_id"),
    )
