"""IMA/DVI ADPCM (`vector_lake_spark.adpcm`, WAV tag 0x0011): spec
table arithmetic, encode→decode tracking, block/stereo layout, the WAV
integration through `multimodal.audio_stats`, and the crafted-nibble
exact-decode regime the mm_wav_depths oracle relies on."""

import struct

import numpy as np
import pytest

from vector_lake_spark.adpcm import (
    INDEX_TABLE,
    STEP_TABLE,
    _decode_nibbles,
    ima_adpcm_decode,
    ima_adpcm_encode,
    mux_ima_adpcm_wav,
)
from vector_lake_spark.multimodal import audio_stats


def test_spec_tables():
    assert len(STEP_TABLE) == 89
    assert STEP_TABLE[0] == 7 and STEP_TABLE[88] == 32767
    assert list(INDEX_TABLE) == [-1, -1, -1, -1, 2, 4, 6, 8]


def test_exact_decode_regime():
    """At step index 0 (step 7) nibbles 1/9/0 decode to +1/−1/0 deltas
    and LEAVE the index at 0 — the closed-form regime the oracle's
    triangle fixture uses."""
    s, pred, idx = _decode_nibbles([1, 1, 1, 9, 9, 0, 1], 500, 0)
    assert s == [501, 502, 503, 502, 501, 501, 502]
    assert pred == 502 and idx == 0


def test_step_adaptation_and_clamping():
    # nibble 7 (max magnitude, positive) pushes the index up by 8
    _s, _p, idx = _decode_nibbles([7], 0, 0)
    assert idx == 8
    # index clamps at 88, predictor clamps at int16 range
    s, _p, idx = _decode_nibbles([7] * 40, 0, 80)
    assert idx == 88
    assert s[-1] == 32767
    s2, _p2, _i = _decode_nibbles([0xF] * 40, 0, 80)
    assert s2[-1] == -32768


def test_encode_decode_tracks_smooth_signal():
    t = np.arange(4000)
    sig = (np.sin(t / 30.0) * 8000).astype(np.int64)
    data, ba = ima_adpcm_encode(sig, 1, 505)
    dec = ima_adpcm_decode(data, 1, ba)[: len(sig)]
    rms_err = float(np.sqrt(((dec - sig) ** 2).mean()))
    assert rms_err < 120  # ~ 37 measured; generous bound vs host noise
    # block headers re-seed the predictor with the true sample: the
    # first sample of every block is EXACT
    spb = 505
    assert all(dec[b] == sig[b] for b in range(0, len(sig), spb))


def test_stereo_interleave_roundtrip():
    t = np.arange(2000)
    st = np.empty(4000, dtype=np.int64)
    st[0::2] = (np.sin(t / 25.0) * 5000).astype(np.int64)
    st[1::2] = (np.cos(t / 40.0) * 3000).astype(np.int64)
    data, ba = ima_adpcm_encode(st, 2, 505)
    dec = ima_adpcm_decode(data, 2, ba)[: len(st)]
    for c in (0, 1):
        rms_err = float(np.sqrt(((dec[c::2] - st[c::2]) ** 2).mean()))
        assert rms_err < 120


def test_wav_integration_with_fact_trim():
    n = 777  # not a multiple of the block size: final block zero-pads
    sig = (np.cos(np.arange(n) / 11.0) * 3000).astype(np.int64)
    data, ba = ima_adpcm_encode(sig, 1, 505)
    wav = mux_ima_adpcm_wav(data, 11025, 1, ba, n)
    info = audio_stats(wav)
    assert info["codec"] == "ima_adpcm"
    assert info["sample_rate"] == 11025
    assert info["n_samples"] == n  # fact chunk trims the padding
    dec = ima_adpcm_decode(data, 1, ba)[:n]
    exp = float(np.sqrt((dec.astype(np.float64) ** 2).mean()))
    assert abs(info["rms"] - exp) < 1e-3


def test_validation_errors():
    with pytest.raises(ValueError, match="block align"):
        ima_adpcm_decode(b"\x00" * 16, 1, 6)
    with pytest.raises(ValueError, match="step index"):
        ima_adpcm_decode(struct.pack("<hBB", 0, 99, 0) + b"\x00" * 4, 1, 8)
    with pytest.raises(ValueError, match="multiple of 8"):
        ima_adpcm_encode(np.zeros(16, dtype=np.int64), 1, 10)
    # unsupported sibling (MP3-in-WAV, tag 0x55) still gates by name
    fmt_chunk = struct.pack("<HHIIHH", 0x55, 1, 8000, 8000, 256, 0)
    wav = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt_chunk) + 8)
        + b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt_chunk)) + fmt_chunk
        + b"data" + struct.pack("<I", 0)
    )
    with pytest.raises(NotImplementedError, match="format tag 85"):
        audio_stats(wav)


def test_ms_adpcm_roundtrip_and_wav():
    """MS ADPCM (r10): encode→decode tracking on a smooth signal, the
    two verbatim header samples, stereo per-nibble interleave, and the
    WAV path through audio_stats with fact-chunk trim."""
    from vector_lake_spark.adpcm import (
        ms_adpcm_decode,
        ms_adpcm_encode,
        mux_ms_adpcm_wav,
    )

    t = np.arange(3000)
    sig = (np.sin(t / 40.0) * 9000).astype(np.int64)
    data, ba = ms_adpcm_encode(sig, 1, 500)
    dec = ms_adpcm_decode(data, 1, ba, 500)[: len(sig)]
    # the first two samples of every block are stored verbatim
    assert dec[0] == sig[0] and dec[1] == sig[1]
    rms_err = float(np.sqrt(((dec - sig) ** 2).mean()))
    assert rms_err < 200
    # stereo
    st = np.empty(4000, dtype=np.int64)
    st[0::2] = (np.sin(t[:2000] / 30.0) * 6000).astype(np.int64)
    st[1::2] = (np.cos(t[:2000] / 50.0) * 2000).astype(np.int64)
    data2, ba2 = ms_adpcm_encode(st, 2, 500)
    dec2 = ms_adpcm_decode(data2, 2, ba2, 500)[: len(st)]
    for c in (0, 1):
        assert float(np.sqrt(((dec2[c::2] - st[c::2]) ** 2).mean())) < 200
    # full WAV path with a non-block-aligned frame count
    n = 1234
    data3, ba3 = ms_adpcm_encode(sig[:n], 1, 500)
    wav = mux_ms_adpcm_wav(data3, 22050, 1, ba3, n)
    info = audio_stats(wav)
    assert info["codec"] == "ms_adpcm" and info["n_samples"] == n
    assert info["sample_rate"] == 22050


def test_ms_adpcm_exact_regime():
    """At the delta floor (16) with coefficient pair 0, nibbles ±1 step
    by exactly ±16 and the delta stays pinned — the closed-form regime
    the mm_wav_depths oracle uses (MS_ADAPT[1] = MS_ADAPT[15] = 230,
    and 16·230//256 = 14 clamps back to 16)."""
    import struct as _st

    from vector_lake_spark.adpcm import ms_adpcm_decode

    P = 1000
    nibs = [1, 1, 1, 15, 15, 0]  # +16 +16 +16 -16 -16 +0
    packed = bytes(
        [(nibs[i] << 4) | nibs[i + 1] for i in range(0, len(nibs), 2)]
    )
    block = bytes([0]) + _st.pack("<h", 16) + _st.pack("<h", P)         + _st.pack("<h", P) + packed
    dec = ms_adpcm_decode(block, 1, len(block), 8)
    assert list(dec) == [P, P, P + 16, P + 32, P + 48, P + 32, P + 16,
                         P + 16]


def test_ms_adpcm_encoder_needs_two_frames():
    from vector_lake_spark.adpcm import ms_adpcm_encode

    with pytest.raises(ValueError, match="two frames"):
        ms_adpcm_encode(np.zeros(1, dtype=np.int64), 1, 500)
