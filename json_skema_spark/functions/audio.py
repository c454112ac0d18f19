"""Audio decode + content invariants over ``binary`` columns.

The reference's ``format`` keyword validates string *content* beyond its
type (Format.kt:23-160); this module is the audio-payload analogue (north
rule: decoded-PCM allclose with SNR >= 30 dB vs the reference signal, plus
decode-ability itself as a per-row constraint).

Execution model: every stage here runs through ``payload.map_payload``,
one ``mapInArrow`` pass per Arrow record batch with only the stage's columns
projected into it, so the 100 TB scan doesn't ship unused columns through
Arrow. The WAV payload arrives as a zero-copy ``memoryview`` of the Arrow
buffer; the per-row work is numpy.

Codec support: WAV/RIFF PCM16 ("pcm_s16le") decoded for real. "flac" /
"opus" decoders are STUBS (no codec libs in this container): they
deterministically reject with ``error='codec_not_supported:<codec>'`` —
the Spark-side plumbing (schema, batching, dispatch) is real and tested.
"""

from __future__ import annotations

import struct
from typing import Any

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from json_skema_spark.functions.payload import Decoders, map_payload

CLIP_PAYLOAD = ("clip_id", "codec", "bytes")
DECODE_SCHEMA = ("clip_id string, decode_ok boolean, error string, "
                 "sr_hz_decoded int, n_samples long")
SNR_SCHEMA = ("clip_id string, invariant_ok boolean, snr_db double, "
              "transcript_ok boolean, error string")

# largest header-claimed sample rate for which the SNR checker caches a
# full one-second reference period (2x DSD-rate headroom over any real
# PCM16 stream); a forged header above this synthesizes only the compared
# prefix so one hostile row can't allocate an absurd cached array
_SR_CACHE_MAX = 768_000
# total cached reference SAMPLES per worker before the cache resets —
# bounds cache BYTES (~32 MB at float64), not entry count: 256 entries of
# near-_SR_CACHE_MAX periods would otherwise pin ~1.5 GB per Python
# worker under adversarial sr diversity (review r05)
_REF_CACHE_MAX_SAMPLES = 4_000_000


def synth_reference_signal(i: int, sr_hz: int, dur_ms: int,
                           max_samples: int | None = None,
                           dtype=np.float64) -> np.ndarray:
    """The deterministic reference signal for clip index ``i``
    (FIXTURES.md §1): ``0.5*sin(2π*220*t) + 0.25*sin(2π*(220+i%16)*t)``.

    ``max_samples`` caps synthesis when the consumer only compares a prefix
    (SNR compares min(len(ref), len(decoded)) — synthesizing a 2-hour
    reference for a row whose *claimed* dur_ms is bogus would be O(hours)
    of wasted numpy). ``dtype``: float64 is the generator's encoding path
    (bit-stable across sessions); float32 is the faster SNR *checker* path.
    The checker computes the PHASE in float64 (reduced modulo one period)
    and only applies ``sin`` in float32: a float32 phase argument ``w*t``
    loses precision linearly with t, dropping the SNR floor below 30 dB
    past ~10 minutes of audio (ADVICE r02); phase reduction keeps the error
    flat (~1e-7, 300x below PCM16 quantization noise) at any duration."""
    n = max(int(round(sr_hz * dur_ms / 1000.0)), 1)
    if max_samples is not None:
        n = min(n, max_samples)
    if dtype is np.float64:
        t = np.arange(n, dtype=np.float64) / float(sr_hz)
        f2 = 220.0 + (i % 16)
        return 0.5 * np.sin(2 * np.pi * 220.0 * t) + 0.25 * np.sin(2 * np.pi * f2 * t)
    # Checker fast path. Both component frequencies are integers (220 and
    # 220+i%16), so the signal is EXACTLY periodic with period sr_hz samples
    # (one second): sample k+sr has phase k*f/sr + f — an integer number of
    # extra cycles. Synthesize one period with float64 phase (no drift) and
    # tile; error stays ~1e-7 at any duration instead of growing with t.
    period = int(sr_hz)
    base_n = min(n, period)
    t = np.arange(base_n, dtype=np.float64) / float(sr_hz)
    f2 = 220.0 + (i % 16)
    one = (0.5 * np.sin(2 * np.pi * 220.0 * t)
           + 0.25 * np.sin(2 * np.pi * f2 * t)).astype(dtype)
    if n <= base_n:
        return one
    reps = -(-n // base_n)
    return np.tile(one, reps)[:n]


def encode_wav_pcm16(signal: np.ndarray, sr_hz: int) -> bytes:
    """Minimal RIFF/WAVE container around little-endian PCM16."""
    pcm = np.clip(signal, -1.0, 1.0)
    data = (pcm * 32767.0).astype("<i2").tobytes()
    byte_rate = sr_hz * 2
    hdr = b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
    fmt = b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, sr_hz, byte_rate, 2, 16)
    return hdr + fmt + b"data" + struct.pack("<I", len(data)) + data


def _parse_wav_pcm16(buf) -> tuple[np.ndarray | None, int, str]:
    """Parse RIFF/WAVE PCM16 -> (int16 sample VIEW over ``buf``, sr_hz,
    error) without materializing a float array. ``buf`` may be ``bytes``
    or a ``memoryview`` (zero-copy slice of an Arrow buffer). The float
    conversion is left to the caller so the SNR path can convert
    chunk-wise (touch each byte once — VERDICT r05 #4); identical control
    flow and error strings to the r05 ``decode_wav_pcm16`` body."""
    try:
        if buf is None or len(buf) < 44 or bytes(buf[:4]) != b"RIFF" \
                or bytes(buf[8:12]) != b"WAVE":
            return None, 0, "not_riff_wave"
        pos, sr, data = 12, 0, None
        while pos + 8 <= len(buf):
            cid = bytes(buf[pos:pos + 4])
            (clen,) = struct.unpack_from("<I", buf, pos + 4)
            body = buf[pos + 8: pos + 8 + clen]
            if cid == b"fmt ":
                if clen < 16:
                    return None, 0, "bad_fmt_chunk"
                fmt_tag, channels, sr, _br, _ba, bits = struct.unpack_from("<HHIIHH", body, 0)
                if fmt_tag != 1 or bits != 16 or channels != 1:
                    return None, sr, "unsupported_pcm_layout"
            elif cid == b"data":
                if len(body) < clen:
                    return None, sr, "truncated_data_chunk"
                data = body
            pos += 8 + clen + (clen & 1)
        if sr == 0 or data is None:
            return None, sr, "missing_chunks"
        # odd-length data raises in frombuffer -> decode_error:<type>,
        # identical to the r05 behavior (same call, same except clause)
        return np.frombuffer(data, dtype="<i2"), sr, ""
    except Exception as exc:  # malformed container must not kill the task
        return None, 0, f"decode_error:{type(exc).__name__}"


def decode_wav_pcm16(buf: bytes) -> tuple[np.ndarray | None, int, str]:
    """Parse RIFF/WAVE PCM16 -> (float64 signal in [-1,1], sr_hz, error)."""
    s16, sr, err = _parse_wav_pcm16(buf)
    if s16 is None:
        return None, sr, err
    # astype then in-place divide: one n*8 allocation, not two — the
    # decode is the audio path's biggest allocator (VERDICT r04 #2)
    sig = s16.astype(np.float64)
    sig /= 32767.0
    return sig, sr, err


# Decoder registry: codec name -> callable(bytes) -> (signal, sr_hz, error).
# Pluggable (VERDICT r02 #7): a real deployment registers pyflac/pyogg
# decoders with the same signature; tests register fakes to pin the
# integration contract. Stages dispatch through a by-value snapshot of it
# (``_decoder_snapshot``, see ``payload.Decoders``).
Decoder = Any  # Callable[[bytes], tuple[np.ndarray | None, int, str]]

_DECODERS: dict[str, Decoder] = {
    "pcm_s16le": decode_wav_pcm16,
    # "flac" / "opus": intentionally absent — no codec libs in this
    # container; absence reports codec_not_supported, never a crash.
}

_KNOWN_CODECS = {"pcm_s16le", "flac", "opus"}


def register_decoder(codec: str, fn: Decoder) -> None:
    """Register/replace the decoder for ``codec``. ``fn(buf)`` receives the
    payload as ``bytes`` (``None`` for a null payload) and must return
    ``(float signal in [-1,1] | None, sr_hz, error_string)``; exceptions it
    leaks are contained per row as ``decode_error:<type>`` verdicts.
    Register before building the plan: stages snapshot the registry."""
    _DECODERS[codec] = fn
    _KNOWN_CODECS.add(codec)


def unregister_decoder(codec: str) -> None:
    _DECODERS.pop(codec, None)


def register_optional_decoders() -> list[str]:
    """Register REAL flac/opus decoders when ``soundfile`` (libsndfile) is
    importable; returns the codecs registered ([] when the lib is absent —
    the registry keeps its deterministic ``codec_not_supported`` reject).

    Call on the driver BEFORE building a plan: UDF closures snapshot the
    registry by value. The decode contract is identical to
    ``decode_wav_pcm16``: mono float in [-1,1], true sample rate, error
    string — so ``pcm_invariant_check``/``audio_violations`` work
    unchanged whichever decoder served the row.
    """
    registered: list[str] = []
    try:
        import soundfile as sf  # optional: not in the sandbox image
    except ImportError:
        return registered

    def _sf_decode(buf: Any) -> tuple[np.ndarray | None, int, str]:
        # imports INSIDE the body: cloudpickle would otherwise capture the
        # soundfile module by reference and an executor lacking the lib
        # would die at closure DESERIALIZATION (whole-task failure, 4
        # retries, job dead) instead of containing the miss per row as a
        # decode_error verdict — the registry's never-crash contract
        import io as _io

        import soundfile as _sf
        try:
            data, sr = _sf.read(_io.BytesIO(bytes(buf)), dtype="float64",
                                always_2d=True)
        except Exception as exc:
            return None, 0, f"decode_error:{type(exc).__name__}"
        if data.shape[1] != 1:
            return None, int(sr), "unsupported_pcm_layout"
        return data[:, 0], int(sr), ""

    register_decoder("flac", _sf_decode)
    registered.append("flac")
    # opus support depends on the linked libsndfile (>= 1.0.29): register
    # only when the driver's library actually has it, else keep the honest
    # codec_not_supported reject instead of per-row decode_error blaming
    # valid rows for an environment limitation
    try:
        has_opus = "OPUS" in sf.available_subtypes("OGG")
    except Exception:
        has_opus = False
    if has_opus:
        register_decoder("opus", _sf_decode)
        registered.append("opus")
    return registered


def _decoder_snapshot() -> Decoders:
    """The audio registry's dispatch, ``decode(codec, payload) -> (signal,
    sr_hz, error)``; the built-in WAV decoder reads the payload view."""
    return Decoders(_DECODERS, _KNOWN_CODECS, (None, 0),
                    native=(decode_wav_pcm16,))


def decode_check(df: DataFrame) -> DataFrame:
    """Per-row decode-ability check -> (clip_id, decode_ok, error,
    sr_hz_decoded, n_samples)."""
    decode = _decoder_snapshot()

    def row(cid, codec, buf):
        sig, sr, err = decode(codec, buf)
        return [(cid, sig is not None, err, sr, 0 if sig is None else len(sig))]

    return map_payload(df, CLIP_PAYLOAD, DECODE_SCHEMA, lambda: row)


def snr_db(reference: np.ndarray, decoded: np.ndarray) -> float:
    n = min(len(reference), len(decoded))
    if n == 0:
        return float("-inf")
    ref, dec = reference[:n], decoded[:n]
    noise = ref - dec
    p_sig = float(np.sum(ref * ref))
    p_noise = float(np.sum(noise * noise))
    if p_noise == 0.0:
        return float("inf")
    return 10.0 * np.log10(p_sig / p_noise) if p_sig > 0 else float("-inf")


def snr_db_periodic(one: np.ndarray, decoded: np.ndarray) -> float:
    """SNR of ``decoded`` against the PERIODIC EXTENSION of ``one`` —
    tile-free: signal/noise power accumulate chunk-wise against the single
    synthesized period, so the only full-length array ever touched is the
    decoded signal itself. The old path materialized a full tiled
    reference plus a full noise array (~3x the bytes); at high core counts
    the audio check is Python-worker memory-bandwidth-bound, so bytes
    touched per clip IS the throughput (VERDICT r04 #2).

    Numerically: noise values are IDENTICAL to ``snr_db`` against the
    tiled reference (same float64 upcast of the same float32 period
    samples); the power sums use per-chunk ``np.dot`` instead of one
    global pairwise sum — different rounding in the last ulp, orders of
    magnitude below any verdict threshold. ``len(decoded)`` may be any
    length >= 0; a final partial chunk is handled exactly."""
    n = len(decoded)
    if n == 0:
        return float("-inf")
    one64 = np.asarray(one, dtype=np.float64)  # no-op for cached float64
    p = len(one64)
    if p == 0:  # empty reference: zero signal power (range step 0 guard)
        return float("-inf")
    one_sq = float(np.dot(one64, one64))
    p_sig = 0.0
    p_noise = 0.0
    for start in range(0, n, p):
        chunk = decoded[start:start + p]
        ref = one64 if len(chunk) == p else one64[:len(chunk)]
        p_sig += one_sq if len(chunk) == p else float(np.dot(ref, ref))
        noise = ref - chunk
        p_noise += float(np.dot(noise, noise))
    if p_noise == 0.0:
        return float("inf")
    return 10.0 * np.log10(p_sig / p_noise) if p_sig > 0 else float("-inf")


def snr_db_periodic_i16(one: np.ndarray, s16: np.ndarray, n_cmp: int) -> float:
    """``snr_db_periodic`` taking the RAW int16 samples: each period-sized
    chunk is converted int16 -> float64 -> /32767 inside the loop, so the
    full-length float64 signal is never materialized (a 2 s 48 kHz clip is
    192 KB of int16 but 768 KB of float64; the audio check is memory-
    bandwidth-bound at high core counts, so bytes touched per clip IS the
    throughput). Bit-identical to ``snr_db_periodic(one, sig[:n_cmp])``
    with ``sig = s16.astype(float64)/32767``: astype and divide are
    elementwise, so converting a slice equals slicing the conversion, and
    the accumulation order is unchanged."""
    n = min(n_cmp, len(s16))
    if n == 0:
        return float("-inf")
    one64 = np.asarray(one, dtype=np.float64)
    p = len(one64)
    if p == 0:
        return float("-inf")
    one_sq = float(np.dot(one64, one64))
    p_sig = 0.0
    p_noise = 0.0
    for start in range(0, n, p):
        chunk = s16[start:min(start + p, n)].astype(np.float64)
        chunk /= 32767.0
        ref = one64 if len(chunk) == p else one64[:len(chunk)]
        p_sig += one_sq if len(chunk) == p else float(np.dot(ref, ref))
        noise = ref - chunk
        p_noise += float(np.dot(noise, noise))
    if p_noise == 0.0:
        return float("inf")
    return 10.0 * np.log10(p_sig / p_noise) if p_sig > 0 else float("-inf")


def pcm_invariant_check(df: DataFrame, ref_transcripts: DataFrame | None = None,
                        *, min_snr_db: float = 30.0,
                        check_duration: bool = False,
                        duration_tolerance: float = 0.02) -> DataFrame:
    """North-rule per-row invariant: decoded PCM vs the deterministic
    reference signal (allclose expressed as SNR >= ``min_snr_db``), plus
    transcript equality when a reference transcript table is joined in.

    ``check_duration=True`` additionally fails rows whose decoded sample
    count deviates from ``sr * dur_ms`` by more than ``duration_tolerance``
    — without it, a structurally valid WAV holding only the first N samples
    of a much longer claimed clip passes (the reference synth is truncated
    to the decoded length and SNR compares the common prefix). Default OFF
    because the in-repo fixtures intentionally cap synthesized audio at 2 s
    (BENCH note) — enable it on production tables, or use the dedicated
    ``audio_features.duration_consistency_violations`` report.

    A clip absent from ``ref_transcripts`` (or a null transcript) gets
    ``transcript_ok=False`` with ``error="missing_reference_transcript"``
    so it is distinguishable from a genuine text mismatch.

    Output: (clip_id, invariant_ok, snr_db, transcript_ok, error) —
    ``invariant_ok`` is the PER-ROW INVARIANT verdict (decode AND SNR AND
    metadata AND optional duration), deliberately NOT named decode_ok:
    ``decode_check``'s column of that name means only "decoder returned a
    signal", and sharing the name over-counted decode failures in any
    consumer comparing the two outputs (review r05c).
    """
    cols = [*CLIP_PAYLOAD, "sr_hz", "dur_ms", "transcript", "_ref_transcript"]
    base = df.select(*cols[:-1])
    if ref_transcripts is not None:
        r = ref_transcripts.select(
            F.col("clip_id"), F.col("transcript").alias("_ref_transcript"))
        base = base.join(r, "clip_id", "left")
    else:
        base = base.withColumn("_ref_transcript", F.col("transcript"))

    decode = _decoder_snapshot()

    def task():
        # reference-period cache, one per task: only 16 distinct signals
        # exist per sample rate (i % 16 picks the second tone), and every
        # shorter reference is a PREFIX of the one-second period (same
        # t = arange(n)/sr slice, so prefix-of-period is bit-identical to a
        # shorter synth). Synthesizing two np.sin's per CLIP was the hot
        # loop's dominant compute — 75% of per-clip time under cProfile
        # (VERDICT r04 #2); with the cache the synth count is <= 16 x
        # distinct-sample-rates per task, ~zero amortized. Keyed
        # (i % 16, sr); float64 upcast once here (bit-identical to upcasting
        # per row). _SR_CACHE_MAX caps a forged-header sr from synthesizing
        # an absurd period; _REF_CACHE_MAX_SAMPLES bounds total cache BYTES
        # — an entry-count bound would let ~256 near-cap periods pin
        # ~1.5 GB per worker under adversarial sr diversity (review r05).
        ref_cache: dict[tuple, np.ndarray] = {}
        cache_samples = 0

        def reference(i: int, sr_i: int, dur_i: int, base_n: int) -> np.ndarray:
            nonlocal cache_samples
            if sr_i > _SR_CACHE_MAX:  # forged-header sr: synth only what's compared
                return synth_reference_signal(
                    i, sr_i, dur_i, max_samples=base_n,
                    dtype=np.float32).astype(np.float64)
            key = (i % 16, sr_i)
            period = ref_cache.get(key)
            if period is None:
                if cache_samples + sr_i > _REF_CACHE_MAX_SAMPLES:
                    ref_cache.clear()
                    cache_samples = 0
                period = ref_cache[key] = synth_reference_signal(
                    i, sr_i, 1000, max_samples=sr_i,
                    dtype=np.float32).astype(np.float64)
                cache_samples += sr_i
            return period if base_n == sr_i else period[:base_n]

        def row(cid, codec, buf, sr, dur, tr, rtr):
            # the built-in WAV decoder's int16 VIEW of the payload is
            # converted to float64 chunk-wise inside snr_db_periodic_i16:
            # each payload byte is touched once and the peak per-clip
            # allocation is one period, not the whole clip (r06)
            fast = decode.fns.get(codec) is decode_wav_pcm16
            sig, dec_sr, err = _parse_wav_pcm16(buf) if fast \
                else decode(codec, buf)
            ok, snr = False, -np.inf
            if sig is not None:
                # null metadata must be *reported*, never kill the
                # validator (ADVICE r01)
                eff_sr = dec_sr if dec_sr else sr
                if dur is None or eff_sr is None or not eff_sr:
                    err = "missing_metadata"
                else:
                    try:
                        i = int(str(cid)[5:], 16)
                    except (ValueError, TypeError):
                        i = 0
                    # compare length = min(claimed samples, decoded
                    # samples): snr_db's common-prefix contract
                    sr_i, dur_i = int(eff_sr), int(dur)
                    n_cmp = min(max(int(round(sr_i * dur_i / 1000.0)), 1),
                                len(sig))
                    one = reference(i, sr_i, dur_i, min(n_cmp, sr_i))
                    snr = snr_db_periodic_i16(one, sig, n_cmp) if fast \
                        else snr_db_periodic(one, sig[:n_cmp])
                    ok = snr >= min_snr_db
                    if check_duration:
                        expected = sr_i * dur_i / 1000.0
                        if abs(len(sig) - expected) > max(
                                duration_tolerance * expected, 2.0):
                            ok = False
                            err = (f"duration_mismatch: decoded {len(sig)} "
                                   f"samples, claimed ~{int(expected)}")
            if (rtr is None or tr is None) and not err:
                err = "null_transcript" if tr is None \
                    else "missing_reference_transcript"
            return [(cid, ok, snr, tr is not None and tr == rtr, err)]

        return row

    return map_payload(base, cols, SNR_SCHEMA, task)


def audio_violations(df: DataFrame, *, min_snr_db: float = 30.0,
                     ref_transcripts: DataFrame | None = None,
                     **invariant_kwargs) -> DataFrame:
    """Failed invariants rendered in the standard violations shape.

    ``invariant_kwargs`` pass through to ``pcm_invariant_check`` so the
    production violations path can enable the opt-in gates
    (``check_duration=True``, ``duration_tolerance=...``) — without this,
    runner.py's pipeline had no way to turn them on (review r04)."""
    checked = pcm_invariant_check(df, ref_transcripts, min_snr_db=min_snr_db,
                                  **invariant_kwargs)
    bad = checked.filter(~F.col("invariant_ok") | ~F.col("transcript_ok"))
    return bad.select(
        F.col("clip_id").alias("row_key"),
        F.lit("format").alias("keyword"),
        F.lit("#/properties/bytes/format").alias("keyword_location"),
        F.lit("#/bytes").alias("instance_location"),
        F.lit("#/properties/bytes/format").alias("dynamic_path"),
        F.when(~F.col("invariant_ok"),
               F.concat(F.lit(f"decoded PCM SNR below {min_snr_db} dB or decode "
                              "failed: "), F.coalesce(F.col("error"), F.lit(""))))
        .when(F.col("error") == "missing_reference_transcript",
              F.lit("no reference transcript exists for this clip"))
        .when(F.col("error") == "null_transcript",
              F.lit("transcript is null"))
        .otherwise(F.lit("transcript does not equal reference transcript"))
        .alias("message"),
        F.spark_partition_id().alias("partition_id"),
    )
