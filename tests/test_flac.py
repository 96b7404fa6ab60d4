"""FLAC codec (`vector_lake_spark.flac`).

Round-trip sweeps prove the encoder/decoder pair; the hand-assembled
fixtures prove the DECODER against the public format spec directly —
each frame below is written bit-by-bit by the test's own MSB-first
writer (LPC subframes, stereo decorrelation, RICE2, multi-partition
and escape residuals, wasted bits), none of which the module's
FIXED-predictor encoder emits."""

import struct

import numpy as np
import pytest

from vector_lake_spark.flac import (
    _crc8,
    _crc16,
    decode_flac_samples,
    encode_flac,
    is_flac,
    probe_flac,
)
from vector_lake_spark.multimodal import audio_stats


class W:
    """Test-side MSB-first bit writer (independent of the module's)."""

    def __init__(self):
        self.bits = []

    def w(self, n, v):
        for i in range(n - 1, -1, -1):
            self.bits.append((v >> i) & 1)
        return self

    def sw(self, n, v):  # signed, two's complement
        return self.w(n, v & ((1 << n) - 1))

    def unary(self, q):
        self.bits.extend([0] * q + [1])
        return self

    def rice(self, r, param):
        u = (r << 1) if r >= 0 else ((-r) << 1) - 1
        self.unary(u >> param)
        if param:
            self.w(param, u & ((1 << param) - 1))
        return self

    def align(self):
        while len(self.bits) % 8:
            self.bits.append(0)
        return self

    def bytes(self):
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for bit in self.bits[i : i + 8]:
                b = (b << 1) | bit
            out.append(b)
        return bytes(out)


def _streaminfo(rate, n_ch, bps, total):
    si = W()
    si.w(16, 4096).w(16, 4096).w(24, 0).w(24, 0)
    si.w(20, rate).w(3, n_ch - 1).w(5, bps - 1).w(36, total)
    body = si.bytes() + b"\x00" * 16
    return b"fLaC" + bytes([0x80]) + len(body).to_bytes(3, "big") + body


def _frame_header(block_size, n_ch_code, frame_no=0):
    h = W()
    h.w(14, 0b11111111111110).w(1, 0).w(1, 0)
    h.w(4, 7)  # 16-bit block size field
    h.w(4, 0)  # rate from STREAMINFO
    h.w(4, n_ch_code)
    h.w(3, 0)  # bps from STREAMINFO
    h.w(1, 0)
    h.w(8, frame_no)  # UTF-8 single byte
    h.w(16, block_size - 1)
    hdr = h.bytes()
    return hdr + bytes([_crc8(hdr)])


def _finish_frame(header: bytes, body: W) -> bytes:
    body.align()
    frame = header + body.bytes()
    return frame + struct.pack(">H", _crc16(frame))


def test_fixture_lpc_subframe():
    """LPC order 2, coefficients (3, -1), shift 1: s[i] = r[i] +
    ((3*s[i-1] - s[i-2]) >> 1) — hand-computed expected samples."""
    body = W()
    body.w(1, 0).w(6, 32 + 1)  # LPC, order field 33 -> order 2
    body.w(1, 0)  # no wasted bits
    body.sw(16, 10).sw(16, 14)  # warmup
    body.w(4, 14)  # precision 15
    body.sw(5, 1)  # shift
    body.sw(15, 3).sw(15, -1)  # coefficients (c1 applies to s[i-1])
    body.w(2, 0).w(4, 0)  # RICE, 1 partition
    body.w(4, 2)
    for r in (5, -3):
        body.rice(r, 2)
    payload = _streaminfo(8000, 1, 16, 4) + _finish_frame(
        _frame_header(4, 0), body
    )
    out = decode_flac_samples(payload)
    s2 = 5 + ((3 * 14 - 10) >> 1)  # 21
    s3 = -3 + ((3 * s2 - 14) >> 1)  # 21
    assert out["samples"][:, 0].tolist() == [10, 14, s2, s3]


def test_fixture_stereo_decorrelation_all_three():
    """left/side, right/side and mid/side frames must reconstruct the
    same (L, R) = (7, 3) constant pair; the side channel carries
    bps+1 bits per spec."""
    def const_sub(v, bits):
        b = W()
        b.w(1, 0).w(6, 0).w(1, 0)
        b.sw(bits, v)
        return b.bits

    L, R = 7, 3
    frames = b""
    # ch_code 8: left/side — side = L - R = 4
    body = W()
    body.bits += const_sub(L, 16) + const_sub(L - R, 17)
    frames += _finish_frame(_frame_header(2, 8, 0), body)
    # ch_code 9: right/side — stored side first, then right
    body = W()
    body.bits += const_sub(L - R, 17) + const_sub(R, 16)
    frames += _finish_frame(_frame_header(2, 9, 1), body)
    # ch_code 10: mid/side — mid = (L+R)>>1, side = L-R
    body = W()
    body.bits += const_sub((L + R) >> 1, 16) + const_sub(L - R, 17)
    frames += _finish_frame(_frame_header(2, 10, 2), body)
    payload = _streaminfo(8000, 2, 16, 6) + frames
    out = decode_flac_samples(payload)
    assert out["samples"].tolist() == [[L, R]] * 6


def test_fixture_rice2_partitions_and_escape():
    """RICE2 (5-bit params) with FOUR partitions, one of them an
    escape-to-raw partition — the partition arithmetic subtracts the
    predictor order only from the first partition."""
    vals = [3, -1, 2, 0, 5, -5, 1, -2]  # order-0 fixed, 8 samples
    body = W()
    body.w(1, 0).w(6, 8)  # FIXED order 0
    body.w(1, 0)
    body.w(2, 1)  # RICE2
    body.w(4, 2)  # partition order 2 -> 4 partitions of 2
    body.w(5, 1)
    for r in vals[0:2]:
        body.rice(r, 1)
    body.w(5, 31)  # escape
    body.w(5, 7)  # raw 7-bit residuals
    for r in vals[2:4]:
        body.sw(7, r)
    body.w(5, 0)
    for r in vals[4:6]:
        body.rice(r, 0)
    body.w(5, 3)
    for r in vals[6:8]:
        body.rice(r, 3)
    payload = _streaminfo(16000, 1, 16, 8) + _finish_frame(
        _frame_header(8, 0), body
    )
    out = decode_flac_samples(payload)
    assert out["samples"][:, 0].tolist() == vals


def test_fixture_wasted_bits():
    """A subframe with 2 wasted bits: decoded at bps-2 then shifted
    left — constant 5 becomes 20."""
    body = W()
    body.w(1, 0).w(6, 0)
    body.w(1, 1).unary(1)  # wasted-bits flag, count = 1+1 = 2
    body.sw(14, 5)
    payload = _streaminfo(8000, 1, 16, 3) + _finish_frame(
        _frame_header(3, 0), body
    )
    out = decode_flac_samples(payload)
    assert out["samples"][:, 0].tolist() == [20, 20, 20]


def test_fixture_crc_mismatches_raise():
    body = W()
    body.w(1, 0).w(6, 0).w(1, 0).sw(16, 1)
    good = _streaminfo(8000, 1, 16, 2) + _finish_frame(
        _frame_header(2, 0), body
    )
    decode_flac_samples(good)  # sanity
    bad_footer = bytearray(good)
    bad_footer[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC-16"):
        decode_flac_samples(bytes(bad_footer))
    # corrupt a header byte but fix nothing else: CRC-8 catches it
    hdr_off = len(_streaminfo(8000, 1, 16, 2))
    bad_hdr = bytearray(good)
    bad_hdr[hdr_off + 2] ^= 0x04  # flip a channel-assignment bit
    with pytest.raises(ValueError, match="CRC-8|channel"):
        decode_flac_samples(bytes(bad_hdr))


def test_fixture_corrupt_structures_raise_by_name():
    with pytest.raises(ValueError, match="magic"):
        probe_flac(b"RIFFxxxx")
    with pytest.raises(ValueError, match="STREAMINFO"):
        probe_flac(b"fLaC" + bytes([0x81]) + b"\x00\x00\x01" + b"\x00")
    # reserved subframe type
    body = W()
    body.w(1, 0).w(6, 2).w(1, 0)
    payload = _streaminfo(8000, 1, 16, 1) + _finish_frame(
        _frame_header(1, 0), body
    )
    with pytest.raises(ValueError, match="reserved subframe"):
        decode_flac_samples(payload)


# ---------------------------------------------------------------------------
# Encoder round trips
# ---------------------------------------------------------------------------


def test_round_trip_sweep():
    rng = np.random.default_rng(7)
    cases = [
        ((3000 * np.sin(np.arange(10000) * 0.01)).astype(np.int64)[:, None],
         44100, 16),
        (rng.integers(-(1 << 15), 1 << 15, (5000, 2)), 48000, 16),
        (np.full((300, 1), -123, dtype=np.int64), 8000, 16),
        (np.array([[1], [2], [-3]]), 16000, 16),
        (rng.integers(-128, 128, (1000, 2)), 22050, 8),
        ((np.arange(9000) * 800 - 3_600_000).astype(np.int64)[:, None],
         96000, 24),
        (rng.integers(-1000, 1000, (9000, 3)), 44100, 16),
    ]
    for s, rate, bps in cases:
        f = encode_flac(s, rate, bps)
        assert is_flac(f)
        out = decode_flac_samples(f)
        assert out["sample_rate"] == rate
        assert np.array_equal(out["samples"], np.asarray(s, dtype=np.int64))


def test_compression_is_real():
    smooth = (3000 * np.sin(np.arange(20000) * 0.005)).astype(np.int64)
    f = encode_flac(smooth[:, None], 44100, 16)
    assert len(f) < 0.2 * smooth.size * 2  # >5x on smooth signals


def test_probe_and_stats_contract():
    s = np.full((400, 2), 100, dtype=np.int64)
    f = encode_flac(s, 16000, 16)
    info = probe_flac(f)
    assert (info["sample_rate"], info["n_channels"]) == (16000, 2)
    assert info["bits_per_sample"] == 16 and info["n_samples"] == 400
    stats = audio_stats(f)
    assert stats == {
        "sample_rate": 16000, "n_channels": 2, "n_samples": 400,
        "duration_ms": 25, "rms": 100.0, "codec": "flac",
    }


def test_encoder_input_validation():
    with pytest.raises(ValueError, match="range"):
        encode_flac(np.array([[40000]]), 8000, 16)
    with pytest.raises(ValueError, match="channels"):
        encode_flac(np.zeros((4, 9), dtype=np.int64), 8000, 16)
    # STREAMINFO holds the rate in 20 bits — wider must raise, not wrap
    with pytest.raises(ValueError, match="20-bit"):
        encode_flac(np.zeros((4, 1), dtype=np.int64), 1 << 20, 16)
    with pytest.raises(ValueError, match="20-bit"):
        encode_flac(np.zeros((4, 1), dtype=np.int64), 0, 16)
    f = encode_flac(np.zeros((4, 1), dtype=np.int64), (1 << 20) - 1, 16)
    assert audio_stats(f)["sample_rate"] == (1 << 20) - 1


def test_audio_stats_match_the_former_flac_stats():
    """The one audio stats entry reports a FLAC's stats unchanged from
    the former FLAC-only stats path (values recorded from it): 24-bit
    stereo, where float64 square sums are inexact, and 16-bit mono."""
    rng = np.random.default_rng(8)
    s = rng.integers(-(1 << 23), 1 << 23, (3000, 2))
    assert audio_stats(encode_flac(s, 48000, 24)) == {
        "sample_rate": 48000, "n_channels": 2, "n_samples": 3000,
        "duration_ms": 62, "rms": 4751278.79536, "codec": "flac",
    }
    t = (3000 * np.sin(np.arange(4410) * 0.05)).astype(np.int64)[:, None]
    assert audio_stats(encode_flac(t, 44100, 16)) == {
        "sample_rate": 44100, "n_channels": 1, "n_samples": 4410,
        "duration_ms": 100, "rms": 2118.562723, "codec": "flac",
    }


def test_audio_dispatch_through_spark(spark):
    """Mixed WAV/FLAC column through the magic-dispatched Arrow
    operator: both formats land in the same stats schema, and an
    unknown payload names the real gate."""
    import io
    import wave

    from vector_lake_spark.multimodal import extract_audio_stats

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(16000)
        w.writeframes(
            b"".join(
                int(v).to_bytes(2, "little", signed=True)
                for v in [900, -900] * 100
            )
        )
    flac = encode_flac(np.full((150, 2), 70, dtype=np.int64), 22050, 16)
    df = spark.createDataFrame(
        [(1, bytearray(buf.getvalue())), (2, bytearray(flac))],
        "media_id long, payload binary",
    )
    got = {r["media_id"]: r for r in extract_audio_stats(df).collect()}
    assert got[1]["sample_rate"] == 16000 and got[1]["rms"] == 900.0
    assert got[2]["sample_rate"] == 22050 and got[2]["n_channels"] == 2
    assert got[2]["rms"] == 70.0 and got[2]["n_samples"] == 150
    with pytest.raises(NotImplementedError, match="unrecognized audio"):
        audio_stats(b"Qfmt....")
    # an Ogg magic is RECOGNIZED since late r09: a truncated page is
    # corrupt (ValueError), a valid stream names its codec gate
    with pytest.raises(ValueError, match="truncated Ogg"):
        audio_stats(b"OggS....")


# ---------------------------------------------------------------------------
# r12 vectorization pins: every rewritten hot path bit-identical to the
# pre-r12 per-sample/per-bit implementation, kept VERBATIM below.
# ---------------------------------------------------------------------------


def _crc8_ref(data):  # pre-r12, verbatim
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


def _crc16_ref(data):  # pre-r12, verbatim
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
    return crc


def test_table_crcs_match_bit_loop_reference():
    import random

    rnd = random.Random(5)
    blobs = [b"", b"\x00", b"\xff" * 33] + [
        bytes(rnd.randrange(256) for _ in range(rnd.randrange(1, 300)))
        for _ in range(40)
    ]
    for blob in blobs:
        assert _crc8(blob) == _crc8_ref(blob)
        assert _crc16(blob) == _crc16_ref(blob)


def _rice_stream_ref(resid, param):
    """Pre-r12 per-sample writer (write_unary + low bits), verbatim,
    on a fresh module _BitWriter using only its scalar write()."""
    from vector_lake_spark.flac import _BitWriter

    bw = _BitWriter()
    for r in resid:
        u = (r << 1) if r >= 0 else ((-r) << 1) - 1
        q = u >> param
        while q >= 32:
            bw.write(32, 0)
            q -= 32
        bw.write(q + 1, 1)
        if param:
            bw.write(param, u & ((1 << param) - 1))
    bw.align()
    return bw.getvalue()


def test_vectorized_rice_write_matches_scalar_reference():
    import random

    from vector_lake_spark.flac import _BitWriter, _write_rice

    rnd = random.Random(9)
    for param in [0, 1, 2, 5, 9, 14]:
        for trial in range(6):
            resid = [
                rnd.randrange(-(1 << 14), 1 << 14)
                for _ in range(rnd.randrange(1, 200))
            ]
            bw = _BitWriter()
            # start unaligned half the time to exercise the pending-bit path
            lead = trial % 5
            if lead:
                bw.write(lead, (1 << lead) - 1)
            _write_rice(bw, resid, param)
            bw.align()
            ref = _BitWriter()
            if lead:
                ref.write(lead, (1 << lead) - 1)
            for r in resid:
                u = (r << 1) if r >= 0 else ((-r) << 1) - 1
                q = u >> param
                while q >= 32:
                    ref.write(32, 0)
                    q -= 32
                ref.write(q + 1, 1)
                if param:
                    ref.write(param, u & ((1 << param) - 1))
            ref.align()
            assert bw.getvalue() == ref.getvalue(), (param, trial)


def test_vectorized_rice_read_matches_scalar_reference():
    """Round-trip through the REAL writer, then decode the residual
    region with both the vectorized reader and the pre-r12 scalar
    loop (verbatim) on independent readers."""
    import random

    from vector_lake_spark.flac import _BitReader, _BitWriter, _read_rice_vec, _write_rice

    rnd = random.Random(17)
    for param in [0, 1, 3, 7, 13]:
        for trial in range(5):
            resid = [
                rnd.randrange(-(1 << 12), 1 << 12)
                for _ in range(rnd.randrange(1, 300))
            ]
            bw = _BitWriter()
            lead = (trial * 3) % 8
            if lead:
                bw.write(lead, rnd.randrange(1 << lead))
            _write_rice(bw, resid, param)
            bw.align()
            payload = bw.getvalue()

            fast = _BitReader(payload)
            if lead:
                fast.read(lead)
            got = _read_rice_vec(fast, len(resid), param).tolist()

            ref = _BitReader(payload)
            if lead:
                ref.read(lead)
            out = []
            for _ in range(len(resid)):  # pre-r12 loop, verbatim
                q = ref.read_unary()
                u = (q << param) | ref.read(param)
                out.append((u >> 1) ^ -(u & 1))
            assert got == out == resid, (param, trial)
            assert (fast.pos, fast.bit) == (ref.pos, ref.bit)


def test_read_fixed_vec_matches_scalar_reference():
    import random

    from vector_lake_spark.flac import _BitReader, _BitWriter

    rnd = random.Random(23)
    for width in [1, 5, 8, 13, 16, 24, 31]:
        vals = [
            rnd.randrange(-(1 << (width - 1)), 1 << (width - 1))
            for _ in range(50)
        ]
        bw = _BitWriter()
        bw.write(3, 5)  # unaligned lead
        for val in vals:
            bw.write(width, val)
        bw.align()
        payload = bw.getvalue()
        fast = _BitReader(payload)
        fast.read(3)
        got = fast.read_fixed_vec(width, len(vals), signed=True).tolist()
        ref = _BitReader(payload)
        ref.read(3)
        want = [ref.read_signed(width) for _ in range(len(vals))]
        assert got == want == vals, width
        assert (fast.pos, fast.bit) == (ref.pos, ref.bit)


def test_fixed_reconstruct_matches_prediction_loop():
    import random

    from vector_lake_spark.flac import _fixed_reconstruct

    rnd = random.Random(31)
    for order in range(5):
        for _ in range(6):
            warm = [rnd.randrange(-30000, 30000) for _ in range(order)]
            resid = [rnd.randrange(-5000, 5000) for _ in range(rnd.randrange(0, 120))]
            samples = list(warm)  # pre-r12 loop, verbatim
            for r in resid:
                if order == 0:
                    pred = 0
                elif order == 1:
                    pred = samples[-1]
                elif order == 2:
                    pred = 2 * samples[-1] - samples[-2]
                elif order == 3:
                    pred = 3 * samples[-1] - 3 * samples[-2] + samples[-3]
                else:
                    pred = (
                        4 * samples[-1] - 6 * samples[-2] + 4 * samples[-3]
                        - samples[-4]
                    )
                samples.append(r + pred)
            got = _fixed_reconstruct(
                np.array(warm, dtype=np.int64),
                np.array(resid, dtype=np.int64),
                order,
            ).tolist()
            assert got == samples, order
