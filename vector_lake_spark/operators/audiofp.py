"""Perceptual audio fingerprint (sign-of-band-energy-delta) and the
Spark operator that computes it — the audio leg of the near-duplicate
family (r11, VERDICT r10 #5).

A speech/music curation pipeline needs audio-level near-dup BEFORE any
embedding model runs: two re-encodes/re-levels of the same clip should
collapse under a cheap integer signature. The classic public answer
(Haitsma-Kalker / Philips-style fingerprinting) takes the SIGN of
band-energy differences over a time-frequency grid: energy ordering
survives re-encoding and gain changes far better than raw magnitudes.
This implementation is the integer-exact, seedless variant suited to an
oracle gate: 8 non-overlapping 64-sample frames × 9 single-bin FFT
bands (bins 3..11 of the 64-point rFFT), bit (f·8 + b) set iff band
b+1's energy strictly exceeds band b's in frame f — 64 bits packed
into ONE signed int64 with the same two's-complement convention as
``imagehash.dhash64``. Structurally the fingerprint IS a dHash of the
spectrogram, so the whole banded-Hamming pair machinery
(``binary.hamming_neardup_pairs``) applies unchanged.

Robustness note (why the comparisons are float-safe): a full-frame
cosine at integer bin k concentrates exactly in bin k (orthogonality —
zero leakage into other bins), so band energies compare across a ≥2×
energy gap in the fixture regime while int16 quantization perturbs a
band by ≪1%; strict inequality can never flip. The reference has no
audio operators at all (SURVEY §2.B multimodal).

Scale posture: samples never leave the Arrow stage — audio decode, FFT
and the hash all run inside one ``rowmap.map_rows`` stage; only (id, int64) rows
shuffle, exactly the image-signature contract.

r12 (VERDICT r11 #1-scope items #2/#3): ``decode_wav_samples`` routes
the repo's WHOLE audio decode stack (integer PCM, IEEE float, G.711,
both ADPCM families, FLAC) instead of gating non-PCM out, and
``audio_fingerprint_windows`` / ``audio_window_signatures`` extend the
~64 ms whole-clip fingerprint to long-form recordings (one fingerprint
per consecutive 512-sample window + the grouped-join m-of-n aggregate,
``queries.q_mm_audio_neardup_long``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from vector_lake_spark.multimodal import decode_audio_samples
from vector_lake_spark.rowmap import map_rows

FRAME = 64
N_FRAMES = 8
N_BANDS = 9
BASE_BIN = 3


def decode_wav_samples(payload: bytes):
    """Audio payload → (mono float64 samples, sample_rate): a channel-
    mean downmix over ``multimodal.decode_audio_samples``, the one
    audio-format dispatch (FLAC, WAV at every sample format; MP3 and
    Ogg raise their named gates). A dangling partial frame (sample
    count not divisible by the channel count) is trimmed. The
    fingerprint is amplitude-scale-invariant (energy ORDERING), so the
    decoders' differing sample domains need no normalization here. A
    payload no audio decoder recognizes raises ``UnrecognizedMedia``,
    as it does on the stats path; a damaged payload of a recognized
    format raises ValueError."""
    samples, rate, n_channels, _codec = decode_audio_samples(payload)
    n_frames = samples.size // n_channels
    mono = samples[: n_frames * n_channels].astype(np.float64)
    return mono.reshape(-1, n_channels).mean(axis=1), rate


def audio_fingerprint64(
    samples,
    frame: int = FRAME,
    n_frames: int = N_FRAMES,
    base_bin: int = BASE_BIN,
    n_bands: int = N_BANDS,
) -> int:
    """Sign-of-adjacent-band-energy fingerprint over the first
    ``n_frames`` non-overlapping ``frame``-sample windows: bit
    (f·(n_bands−1) + b) set iff |rFFT(frame f)[base_bin+b+1]|² >
    |rFFT(frame f)[base_bin+b]|² (strict). Defaults give exactly 64
    bits (8 frames × 8 comparisons) in one signed int64."""
    x = np.asarray(samples, dtype=np.float64)
    need = frame * n_frames
    if x.size < need:
        raise ValueError(
            f"audio too short to fingerprint: {x.size} < {need} samples"
        )
    v = 0
    width = n_bands - 1
    for f in range(n_frames):
        seg = x[f * frame : (f + 1) * frame]
        spec = np.abs(np.fft.rfft(seg)) ** 2
        bands = spec[base_bin : base_bin + n_bands]
        for b in np.flatnonzero(bands[1:] > bands[:-1]):
            v |= 1 << (f * width + int(b))
    return v - (1 << 64) if v >= (1 << 63) else v


def audio_fingerprint_windows(
    samples,
    window: int = FRAME * N_FRAMES,
    max_windows: int | None = None,
):
    """Per-window fingerprints for LONG-FORM audio (r12, VERDICT r11
    #3): ``audio_fingerprint64`` over consecutive non-overlapping
    ``window``-sample windows (default 512 = the whole-clip
    fingerprint's exact footprint, so window 0 of a long clip equals
    the short-form fingerprint of its head). Returns
    [(window_no, sig), ...]; a trailing partial window is dropped
    (defined, not padded — padding would hash silence into the tail).
    ``max_windows`` bounds cost for arbitrarily long recordings — the
    sampling-plan knob, exactly ``frame_indices`` in the video stack.

    Whole-recording near-dup then rides the SAME temporal-alignment
    machinery as video: window_no as ``group_cols`` in
    ``binary.hamming_neardup_pairs`` + an m-of-n matched-windows
    aggregate (two re-encodes of the same recording match
    window-for-window on the shared timeline)."""
    x = np.asarray(samples, dtype=np.float64)
    n_win = x.size // window
    if n_win == 0:
        raise ValueError(
            f"audio too short to window-fingerprint: {x.size} < {window} "
            f"samples"
        )
    if max_windows is not None:
        n_win = min(n_win, max_windows)
    return [
        (w, audio_fingerprint64(x[w * window : (w + 1) * window]))
        for w in range(n_win)
    ]


def audio_window_signatures(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    window: int = FRAME * N_FRAMES,
    max_windows: int | None = None,
) -> DataFrame:
    """(id, payload) → (id, window_no, sig) per-window audio
    fingerprints for long-form near-dup (r12) through ONE
    ``map_rows`` stage: decode + FFT + hash per row, samples never
    serialized out of Python — the audio twin of
    ``imagehash.video_frame_signatures``. Downstream, feed
    ``binary.hamming_neardup_pairs(group_cols=["window_no"])`` and an
    m-of-n matched-windows aggregate (``queries.q_mm_audio_neardup_long``)."""

    def windows_of(row):
        mid, payload = row
        samples, _rate = decode_wav_samples(payload)
        for wno, sig in audio_fingerprint_windows(
            samples, window=window, max_windows=max_windows
        ):
            yield mid, wno, sig

    return map_rows(
        df.select(id_col, payload_col),
        windows_of,
        f"{id_col} long, window_no int, sig long",
    )


def mux_pcm16_wav(samples, rate: int = 8000) -> bytes:
    """Mono 16-bit PCM WAV writer (stdlib ``wave``) — the fixture/test
    muxer feeding ``decode_wav_samples``."""
    import io
    import wave

    x = np.asarray(samples)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(x.astype("<i2").tobytes())
    return buf.getvalue()


def audio_signatures(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
) -> DataFrame:
    """(id, payload) → (id, sig int64) audio fingerprints through ONE
    ``map_rows`` stage: WAV decode + FFT + hash per row,
    samples never serialized out of Python. Downstream, feed
    ``binary.hamming_neardup_pairs`` (exact at radius < n_blocks)."""

    def one(row):
        mid, payload = row
        yield mid, audio_fingerprint64(decode_wav_samples(payload)[0])

    return map_rows(
        df.select(id_col, payload_col), one, f"{id_col} long, sig long"
    )
