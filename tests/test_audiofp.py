"""Audio fingerprint (`operators/audiofp`): fingerprint determinism and
bit layout, WAV round-trip through the real muxer/decoder, gain
invariance of the sign structure, the named non-PCM gate, and the
fixture's closed-form parity (synth → mux → REAL decode → fingerprint
== formula)."""

import numpy as np
import pytest

from vector_lake_spark.multimodal import UnrecognizedMedia
from vector_lake_spark.operators.audiofp import (
    audio_fingerprint64,
    audio_signatures,
    decode_wav_samples,
    mux_pcm16_wav,
)


def _tone_frames(levels):
    """Synthesize 8×64 samples from an (8, 9) level grid — the fixture
    renderer's core, inlined for independence from queries.py."""
    n = np.arange(64)
    out = np.zeros(512)
    for f in range(8):
        seg = np.zeros(64)
        for b in range(9):
            amp = 2.0 ** ((float(levels[f][b]) - 64) / 16.0 + 4.0)
            seg += amp * np.cos(2.0 * np.pi * (3 + b) * n / 64.0)
        out[f * 64 : (f + 1) * 64] = seg
    return np.round(out).astype(np.int16)


def test_fingerprint_bit_layout():
    # strictly rising bands in every frame -> all 64 bits set
    rising = np.tile(np.arange(9) * 8 + 80, (8, 1))
    assert audio_fingerprint64(_tone_frames(rising)) == -1
    # strictly falling -> no bits
    assert audio_fingerprint64(_tone_frames(rising[:, ::-1])) == 0
    # one rising comparison: frame 2, band 3 -> bit 2*8+3
    lv = rising[:, ::-1].copy()
    lv[2] = [144, 136, 128, 120, 128, 120, 112, 104, 96]
    # comparisons: falls, falls, falls, RISES at b=3, then falls
    got = audio_fingerprint64(_tone_frames(lv))
    assert got == (1 << 19), hex(got)


def test_fingerprint_is_gain_invariant():
    """Energy ORDERING survives a volume change — the property that
    makes sign-of-delta a perceptual fingerprint."""
    rng = np.random.RandomState(3)
    lv = rng.choice([64, 80, 96, 112, 128, 144], size=(8, 9))
    # break ties: walk rows so adjacent levels always differ
    for f in range(8):
        for b in range(1, 9):
            if lv[f][b] == lv[f][b - 1]:
                lv[f][b] += 8
    x = _tone_frames(lv).astype(np.float64)
    assert audio_fingerprint64(x) == audio_fingerprint64(x * 0.25)
    assert audio_fingerprint64(x) == audio_fingerprint64(x * 3.0)


def test_fingerprint_short_audio_raises():
    with pytest.raises(ValueError, match="too short"):
        audio_fingerprint64(np.zeros(100))


def test_wav_roundtrip_and_downmix():
    rng = np.random.RandomState(5)
    x = rng.randint(-3000, 3000, size=512).astype(np.int16)
    got, rate = decode_wav_samples(mux_pcm16_wav(x, rate=16000))
    assert rate == 16000
    assert np.array_equal(got, x.astype(np.float64))
    # stereo downmix = channel mean
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(2)
        w.setsampwidth(2)
        w.setframerate(8000)
        inter = np.empty(1024, dtype=np.int16)
        inter[0::2] = x
        inter[1::2] = x // 3
        w.writeframes(inter.astype("<i2").tobytes())
    got2, _ = decode_wav_samples(buf.getvalue())
    assert np.allclose(got2, (x.astype(np.float64) + x // 3) / 2.0)


def test_non_pcm_routing_g711(spark_noop=None):
    """r12 (VERDICT r11 #2): the integer-PCM-only gate is CLOSED —
    G.711 WAV routes through the ext RIFF walk to the same linear
    samples audio_stats reports stats over."""
    from vector_lake_spark.g711 import ulaw_decode, ulaw_encode
    from vector_lake_spark.multimodal import encode_wav_ext

    rng = np.random.RandomState(11)
    x = rng.randint(-20000, 20000, size=512).astype(np.int16)
    got, rate = decode_wav_samples(encode_wav_ext(x, 8000, "ulaw"))
    assert rate == 8000
    want = ulaw_decode(ulaw_encode(x)).astype(np.float64)
    assert np.array_equal(got, want)


def test_non_pcm_routing_float_and_fingerprint_parity():
    """float32 WAV: int16-valued floats round-trip exactly, so the
    fingerprint equals the PCM leg's bit-for-bit (scale-invariance
    handles the domain difference)."""
    from vector_lake_spark.multimodal import encode_wav_ext
    from vector_lake_spark.queries import (
        _audio_fixture_sig,
        _render_audio_pcm,
    )

    pcm = _render_audio_pcm(_audio_fixture_sig(7))
    got, rate = decode_wav_samples(
        encode_wav_ext(pcm.astype(np.float64), 8000, "float32")
    )
    assert np.array_equal(got, pcm.astype(np.float64))
    assert audio_fingerprint64(got) == _audio_fixture_sig(7)


def test_flac_routing_is_lossless():
    from vector_lake_spark.flac import encode_flac
    from vector_lake_spark.queries import (
        _audio_fixture_sig,
        _render_audio_pcm,
    )

    pcm = _render_audio_pcm(_audio_fixture_sig(13))
    got, rate = decode_wav_samples(encode_flac(pcm, 8000, 16))
    assert rate == 8000
    assert np.array_equal(got, pcm.astype(np.float64))


def test_adpcm_routing_lossy_regime_is_near_not_equal():
    """The REAL nibble-quantized IMA regime (samples_per_block=505, the
    production layout — unlike the oracle leg's header-literal exact
    regime): decode differs from the source, but the fingerprint's
    2×-energy-gap design keeps the Hamming distance small — the
    perceptual property the operator exists for."""
    from vector_lake_spark.adpcm import ima_adpcm_encode, mux_ima_adpcm_wav
    from vector_lake_spark.queries import (
        _audio_fixture_sig,
        _render_audio_pcm,
    )

    sig = _audio_fixture_sig(21)
    pcm = _render_audio_pcm(sig)
    data, block_align = ima_adpcm_encode(pcm, 1, samples_per_block=505)
    payload = mux_ima_adpcm_wav(data, 8000, 1, block_align, len(pcm))
    got, _ = decode_wav_samples(payload)
    assert not np.array_equal(got, pcm.astype(np.float64))  # truly lossy
    d = bin((audio_fingerprint64(got) ^ sig) & ((1 << 64) - 1)).count("1")
    assert d <= 7, d


def test_remaining_audio_gate_is_named():
    """MP3-in-WAV (tag 0x55) stays a named NotImplementedError — the
    ext walk's gate, surfaced unchanged through the routing."""
    import struct

    fmt = struct.pack("<HHIIHH", 0x55, 1, 8000, 8000, 1, 0)
    payload = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8) + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(NotImplementedError, match="format tag 85"):
        decode_wav_samples(payload)


def test_corrupt_wav_routes_to_valueerror():
    """Review r11: damage and format novelty must split per the repo's
    routing contract — a RIFF/WAVE payload damaged inside its header is
    corrupt (ValueError); a payload no audio decoder claims is
    ``UnrecognizedMedia``, as on the stats path."""
    with pytest.raises(ValueError, match="corrupt WAV"):
        decode_wav_samples(b"RIFFxxxxWAVE" + b"\x01" * 8)
    with pytest.raises(UnrecognizedMedia):
        decode_wav_samples(b"not a wav at all, definitely")
    # a real PCM WAV cut inside the header is damage, not novelty
    good = mux_pcm16_wav(np.zeros(512, dtype=np.int16))
    with pytest.raises(ValueError, match="corrupt WAV"):
        decode_wav_samples(good[:20])


def test_fixture_closed_form_parity_sweep():
    """The mm_audio_neardup contract: synth → WAV mux → REAL decode →
    fingerprint must equal the oracle's closed-form signature across
    every group and deep members."""
    from vector_lake_spark.queries import (
        _audio_fixture_sig,
        _render_audio_pcm,
    )

    for doc_id in list(range(40)) + [40, 85, 163, 247, 361, 499, 1234]:
        sig = _audio_fixture_sig(doc_id)
        assert 0 <= sig < (1 << 63)
        samples, _ = decode_wav_samples(
            mux_pcm16_wav(_render_audio_pcm(sig))
        )
        assert audio_fingerprint64(samples) == sig


def test_window_fingerprints_long_form():
    """r12 (VERDICT r11 #3): long-form = consecutive 512-sample windows;
    window 0 equals the short-form fingerprint of the clip head, a
    trailing partial window is dropped, max_windows bounds the plan."""
    from vector_lake_spark.operators.audiofp import (
        audio_fingerprint_windows,
    )
    from vector_lake_spark.queries import (
        _audio_long_fixture_sig,
        _render_audio_pcm,
    )

    sigs = [_audio_long_fixture_sig(43, w) for w in range(4)]
    clip = np.concatenate([_render_audio_pcm(s) for s in sigs])
    got = audio_fingerprint_windows(clip)
    assert got == list(enumerate(sigs))
    assert got[0][1] == audio_fingerprint64(clip[:512])
    # 100 trailing samples are a partial window: dropped, not padded
    longer = np.concatenate([clip, clip[:100]])
    assert audio_fingerprint_windows(longer) == got
    assert audio_fingerprint_windows(clip, max_windows=2) == got[:2]
    with pytest.raises(ValueError, match="too short"):
        audio_fingerprint_windows(clip[:511])


def test_audio_window_signatures_operator(spark):
    from vector_lake_spark.operators.audiofp import (
        audio_window_signatures,
    )
    from vector_lake_spark.queries import (
        _audio_long_fixture_sig,
        _render_audio_pcm,
    )

    rows = []
    for i in range(6):
        clip = np.concatenate(
            [
                _render_audio_pcm(_audio_long_fixture_sig(i, w))
                for w in range(4)
            ]
        )
        rows.append((i, bytearray(mux_pcm16_wav(clip))))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        (r.media_id, r.window_no): r.sig
        for r in audio_window_signatures(df).collect()
    }
    assert len(got) == 24
    for i in range(6):
        for w in range(4):
            assert got[(i, w)] == _audio_long_fixture_sig(i, w)


def test_audio_signatures_operator(spark):
    from vector_lake_spark.queries import (
        _audio_fixture_sig,
        _render_audio_pcm,
    )

    rows = [
        (i, bytearray(mux_pcm16_wav(_render_audio_pcm(_audio_fixture_sig(i)))))
        for i in range(8)
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {r.media_id: r.sig for r in audio_signatures(df).collect()}
    for i, _ in rows:
        assert got[i] == _audio_fixture_sig(i)


def test_truncated_multichannel_frame_trims():
    """Review r12: a multi-channel non-PCM payload whose sample count
    is not divisible by the channel count (truncated final frame) must
    trim the dangling samples — mirroring the stats decoder — not
    escape as a raw numpy reshape error."""
    import struct

    vals = [100.0, 300.0, -200.0, 400.0, 500.0, 700.0, 999.0]  # 3.5 frames
    data = struct.pack("<7f", *vals)
    fmt = struct.pack("<HHIIHH", 3, 2, 8000, 8000 * 8, 8, 32)
    payload = (
        b"RIFF"
        + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    got, rate = decode_wav_samples(payload)
    assert rate == 8000
    # 3 complete stereo frames downmixed; the 7th sample is dropped
    assert np.allclose(got, [200.0, 100.0, 600.0])
