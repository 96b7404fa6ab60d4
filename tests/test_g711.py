"""G.711 companders (`vector_lake_spark.g711`) and the extended WAV
formats (`multimodal._decode_wav_ext_samples`): exhaustive cross-checks against
the stdlib `audioop` C implementation where it exists (removed in
Python 3.13 — the tests skip there, the exhaustive equality having been
recorded on 3.11), level-exactness invariants that hold everywhere, and
the RIFF walk for float/companded/extensible WAV."""

import struct

import numpy as np
import pytest

from vector_lake_spark.g711 import (
    alaw_decode,
    alaw_encode,
    alaw_level,
    ulaw_decode,
    ulaw_encode,
    ulaw_level,
)
from vector_lake_spark.multimodal import audio_stats, encode_wav_ext

try:
    import audioop  # stdlib C reference, deprecated; gone in 3.13

    HAVE_AUDIOOP = True
except ImportError:
    HAVE_AUDIOOP = False


# ---------------------------------------------------------------------------
# compander correctness
# ---------------------------------------------------------------------------


@pytest.mark.skipif(not HAVE_AUDIOOP, reason="audioop removed (3.13+)")
class TestAgainstAudioop:
    def test_ulaw_decode_all_256_codes(self):
        codes = np.arange(256, dtype=np.uint8)
        ref = np.frombuffer(audioop.ulaw2lin(codes.tobytes(), 2), dtype="<i2")
        assert np.array_equal(ulaw_decode(codes), ref)

    def test_alaw_decode_all_256_codes(self):
        codes = np.arange(256, dtype=np.uint8)
        ref = np.frombuffer(audioop.alaw2lin(codes.tobytes(), 2), dtype="<i2")
        assert np.array_equal(alaw_decode(codes), ref)

    def test_ulaw_encode_all_65536_samples(self):
        x = np.arange(-32768, 32768, dtype=np.int16)
        ref = np.frombuffer(audioop.lin2ulaw(x.tobytes(), 2), dtype=np.uint8)
        assert np.array_equal(ulaw_encode(x), ref)

    def test_alaw_encode_all_65536_samples(self):
        x = np.arange(-32768, 32768, dtype=np.int16)
        ref = np.frombuffer(audioop.lin2alaw(x.tobytes(), 2), dtype=np.uint8)
        assert np.array_equal(alaw_encode(x), ref)


class TestCodecInvariants:
    def test_every_ulaw_level_roundtrips_exactly(self):
        for e in range(8):
            for m in range(16):
                v = ulaw_level(e, m)
                back = ulaw_decode(ulaw_encode(np.array([v, -v])))
                assert int(back[0]) == v, (e, m)
                assert int(back[1]) == -v, (e, m)

    def test_every_alaw_level_roundtrips_exactly(self):
        for s in range(8):
            for q in range(16):
                v = alaw_level(s, q)
                assert int(alaw_decode(alaw_encode(np.array([v])))[0]) == v

    def test_known_anchor_codes(self):
        # mu-law code 0xFF is +0, 0x7F is -0, 0x80 is the max positive
        assert int(ulaw_decode(np.array([0xFF], dtype=np.uint8))[0]) == 0
        assert int(ulaw_decode(np.array([0x7F], dtype=np.uint8))[0]) == 0
        assert int(ulaw_decode(np.array([0x80], dtype=np.uint8))[0]) == 32124
        assert int(ulaw_decode(np.array([0x00], dtype=np.uint8))[0]) == -32124
        # A-law: 0x55 -> -8 (smallest negative), 0xD5 -> +8, 0xAA/0x2A max
        assert int(alaw_decode(np.array([0x55], dtype=np.uint8))[0]) == -8
        assert int(alaw_decode(np.array([0xD5], dtype=np.uint8))[0]) == 8
        assert int(alaw_decode(np.array([0xAA], dtype=np.uint8))[0]) == 32256
        assert int(alaw_decode(np.array([0x2A], dtype=np.uint8))[0]) == -32256

    def test_quantization_error_bounded(self):
        """Every 16-bit sample decodes back within its segment's step."""
        x = np.arange(-32768, 32768, 7, dtype=np.int16)
        for enc, dec, max_rel in (
            (ulaw_encode, ulaw_decode, 0.07),
            (alaw_encode, alaw_decode, 0.07),
        ):
            back = dec(enc(x)).astype(np.int64)
            err = np.abs(back - x.astype(np.int64))
            big = np.abs(x.astype(np.int64)) > 1024
            rel = err[big] / np.abs(x.astype(np.int64))[big]
            assert float(rel.max()) < max_rel


# ---------------------------------------------------------------------------
# extended WAV formats through audio_stats
# ---------------------------------------------------------------------------


class TestExtWav:
    def test_ulaw_square_wave_rms_exact(self):
        amp = ulaw_level(4, 11)
        sq = np.array([amp, -amp] * 30, dtype=np.int16)
        out = audio_stats(encode_wav_ext(sq, 8000, "ulaw"))
        assert out["codec"] == "ulaw"
        assert out["rms"] == float(amp)
        assert out["n_samples"] == 60

    def test_alaw_square_wave_rms_exact(self):
        amp = alaw_level(5, 3)
        sq = np.array([amp, -amp] * 30, dtype=np.int16)
        out = audio_stats(encode_wav_ext(sq, 8000, "alaw"))
        assert out["codec"] == "alaw"
        assert out["rms"] == float(amp)

    @pytest.mark.parametrize("fmt,bits", [("float32", 32), ("float64", 64)])
    def test_ieee_float_roundtrip(self, fmt, bits):
        x = np.array([0.5, -0.5] * 25)  # powers of two: exact in f32
        out = audio_stats(encode_wav_ext(x, 44100, fmt))
        assert out["codec"] == fmt
        assert out["rms"] == 0.5
        assert out["sample_rate"] == 44100

    def test_stereo_frame_count(self):
        amp = alaw_level(2, 7)
        x = np.array([amp, -amp] * 10, dtype=np.int16)
        out = audio_stats(encode_wav_ext(x, 16000, "alaw", n_channels=2))
        assert out["n_channels"] == 2
        assert out["n_samples"] == 10  # 20 samples / 2 channels

    def test_extensible_wrapper_resolves_subformat(self):
        """WAVE_FORMAT_EXTENSIBLE (0xFFFE) + SubFormat GUID leading tag."""
        amp = ulaw_level(3, 3)
        base = encode_wav_ext(
            np.array([amp, -amp] * 8, dtype=np.int16), 8000, "ulaw"
        )
        # rebuild with an extensible fmt chunk wrapping tag 7
        tag, nch, rate, br, ba, bits = struct.unpack_from("<HHIIHH", base, 20)
        sub = struct.pack("<H", tag) + b"\x00\x00" + bytes(12)
        fmt = (
            struct.pack("<HHIIHH", 0xFFFE, nch, rate, br, ba, bits)
            + struct.pack("<HHI", 22, bits, 1)
            + sub
        )
        i = base.find(b"data")
        (dsize,) = struct.unpack_from("<I", base, i + 4)
        data = base[i + 8 : i + 8 + dsize]
        out = bytearray(b"RIFF\x00\x00\x00\x00WAVE")
        out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
        out += b"data" + struct.pack("<I", len(data)) + data
        struct.pack_into("<I", out, 4, len(out) - 8)
        got = audio_stats(bytes(out))
        assert got["codec"] == "ulaw"
        assert got["rms"] == float(amp)

    def test_extensible_integer_pcm_decodes(self):
        """The top r09-review finding: WAVE_FORMAT_EXTENSIBLE wrapping
        plain integer PCM (the form multichannel/24-bit encoders emit)
        must decode through the shared width logic, not error out."""
        amp = 12000
        data = np.array([amp, -amp] * 16, dtype="<i2").tobytes()
        fmt = (
            struct.pack("<HHIIHH", 0xFFFE, 1, 8000, 16000, 2, 16)
            + struct.pack("<HHI", 22, 16, 1)  # cbSize, valid bits, tag 1
            + struct.pack("<H", 1) + bytes(14)  # SubFormat GUID lead
        )
        out = bytearray(b"RIFF\x00\x00\x00\x00WAVE")
        out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
        out += b"data" + struct.pack("<I", len(data)) + data
        struct.pack_into("<I", out, 4, len(out) - 8)
        got = audio_stats(bytes(out))
        assert got["codec"] == "pcm"
        assert got["rms"] == float(amp)
        assert got["n_samples"] == 32

    def test_short_fmt_chunk_is_valueerror(self):
        out = bytearray(b"RIFF\x00\x00\x00\x00WAVE")
        out += b"fmt " + struct.pack("<I", 8) + bytes(8)
        out += b"data" + struct.pack("<I", 0)
        struct.pack_into("<I", out, 4, len(out) - 8)
        with pytest.raises(ValueError, match="fmt chunk too short"):
            audio_stats(bytes(out))

    def test_riff_size_covers_pad_byte(self):
        """Odd-length data chunks get a pad byte that the declared RIFF
        size must include (strict external parsers honor it)."""
        payload = encode_wav_ext(
            np.zeros(5, dtype=np.int16), 8000, "ulaw"
        )
        (declared,) = struct.unpack_from("<I", payload, 4)
        assert declared == len(payload) - 8

    def test_unsupported_tag_gates_loudly(self):
        base = bytearray(
            encode_wav_ext(np.zeros(4, dtype=np.int16), 8000, "ulaw")
        )
        struct.pack_into("<H", base, 20, 0x55)  # MP3-in-WAV
        with pytest.raises(NotImplementedError, match="format tag 85"):
            audio_stats(bytes(base))
        # ADPCM tags decode since r10; a re-tagged G.711 stream (8-bit
        # "nibbles") is corrupt input for them, not a gate
        struct.pack_into("<H", base, 20, 0x11)
        with pytest.raises(ValueError, match="8-bit nibbles"):
            audio_stats(bytes(base))

    def test_corrupt_riff_is_valueerror(self):
        with pytest.raises(ValueError):
            audio_stats(b"RIFF\x04\x00\x00\x00WAVE")
        base = bytearray(
            encode_wav_ext(np.zeros(4, dtype=np.int16), 8000, "alaw")
        )
        struct.pack_into("<H", base, 34, 16)  # G.711 claiming 16-bit
        with pytest.raises(ValueError, match="16-bit"):
            audio_stats(bytes(base))

    def test_float_odd_width_rejected(self):
        base = bytearray(
            encode_wav_ext(np.zeros(4), 8000, "float32")
        )
        struct.pack_into("<H", base, 34, 16)
        with pytest.raises(ValueError, match="16-bit"):
            audio_stats(bytes(base))

    def test_pcm_path_reports_codec(self):
        import io
        import wave

        buf = io.BytesIO()
        with wave.open(buf, "wb") as w:
            w.setnchannels(1)
            w.setsampwidth(2)
            w.setframerate(8000)
            w.writeframes(np.array([5, -5] * 4, dtype="<i2").tobytes())
        assert audio_stats(buf.getvalue())["codec"] == "pcm"
