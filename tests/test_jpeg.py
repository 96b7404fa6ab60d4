"""Baseline JPEG codec (`vector_lake_spark.jpeg`): exact round trips
where the math is exact, PSNR floors where quantization is lossy, loud
gates for the unsupported subset, and the Arrow operator path.

Both ends are this module (the encoder exists for exactly this reason),
so exactness claims are provable without a reference binary: at quality
100 the quant tables are all ones and DC-only blocks are integer
arithmetic end-to-end."""

import numpy as np
import pytest

from vector_lake_spark.jpeg import (
    ZIGZAG,
    decode_jpeg_pixels,
    encode_jpeg,
)
from vector_lake_spark.multimodal import image_stats


def test_zigzag_is_the_standard_scan():
    assert len(ZIGZAG) == 64 and len(set(ZIGZAG)) == 64
    assert ZIGZAG[:6] == [(0, 0), (0, 1), (1, 0), (2, 0), (1, 1), (0, 2)]
    assert ZIGZAG[-1] == (7, 7)


def test_constant_gray_exact_at_q100():
    img = np.full((16, 24), 77, dtype=np.uint8)
    assert np.array_equal(decode_jpeg_pixels(encode_jpeg(img, 100)), img)


def test_dc_prediction_chain_exact_at_q100():
    img = np.zeros((8, 32), dtype=np.uint8)
    for i, v in enumerate([40, 200, 10, 255]):
        img[:, i * 8 : (i + 1) * 8] = v
    assert np.array_equal(decode_jpeg_pixels(encode_jpeg(img, 100)), img)


def test_odd_dimensions_exact_at_q100():
    img = np.full((9, 13), 130, dtype=np.uint8)
    out = decode_jpeg_pixels(encode_jpeg(img, 100))
    assert out.shape == (9, 13)
    assert np.array_equal(out, img)


def test_rgb_gradient_psnr_floor():
    h, w = 40, 56
    rgb = np.stack(
        [
            np.linspace(0, 200, w)[None, :].repeat(h, 0),
            np.linspace(30, 220, h)[:, None].repeat(w, 1),
            np.full((h, w), 128.0),
        ],
        axis=2,
    ).astype(np.uint8)
    dec = decode_jpeg_pixels(encode_jpeg(rgb, 90))
    assert dec.shape == (h, w, 3)
    mse = float(((dec.astype(float) - rgb.astype(float)) ** 2).mean())
    psnr = 10 * np.log10(255**2 / mse)
    assert psnr > 35, psnr


def test_noise_image_round_trips_within_quant_error():
    """Random noise is the quantizer's worst case — still bounded."""
    rng = np.random.RandomState(7)
    img = rng.randint(0, 256, size=(24, 24, 3)).astype(np.uint8)
    dec = decode_jpeg_pixels(encode_jpeg(img, 95))
    mse = float(((dec.astype(float) - img.astype(float)) ** 2).mean())
    assert 10 * np.log10(255**2 / mse) > 20


def test_stats_shape_matches_image_contract():
    img = np.full((10, 12, 3), 50, dtype=np.uint8)
    img[:, :, 1] = 100
    d = image_stats(encode_jpeg(img, 100))
    assert (d["width"], d["height"]) == (12, 10)
    assert (d["mean_r"], d["mean_g"], d["mean_b"]) == (50.0, 100.0, 50.0)


def test_unsupported_features_raise_loudly():
    img = np.full((8, 8), 9, dtype=np.uint8)
    payload = bytearray(encode_jpeg(img, 100))
    # flip SOF0 -> SOF5 (differential — still honestly gated; SOF2
    # decodes since r07, SOF3 lossless since late r09)
    i = payload.find(b"\xff\xc0")
    payload[i + 1] = 0xC5
    with pytest.raises(NotImplementedError, match="SOF5"):
        decode_jpeg_pixels(bytes(payload))
    # a BASELINE stream relabeled SOF3 is corrupt for the lossless
    # walk (its SOS carries predictor 0), not a gate
    payload = bytearray(encode_jpeg(img, 100))
    i = payload.find(b"\xff\xc0")
    payload[i + 1] = 0xC3
    with pytest.raises(ValueError, match="predictor 0"):
        decode_jpeg_pixels(bytes(payload))
    with pytest.raises(ValueError, match="SOI"):
        decode_jpeg_pixels(b"nonsense")
    # sampling factor 5 is outside the spec's 1..4 range: corrupt, not
    # a gate (factors up to 4 with integer ratios decode since late r09)
    payload = bytearray(encode_jpeg(img, 100))
    i = payload.find(b"\xff\xc0")
    payload[i + 11] = 0x51  # Hi=5
    with pytest.raises(ValueError, match="spec range"):
        decode_jpeg_pixels(bytes(payload))


def test_jpeg_through_spark_arrow_boundary(spark):
    from vector_lake_spark.multimodal import extract_image_stats

    px1 = np.full((6, 4, 3), 0, dtype=np.uint8)
    px1[:, :, 0] = 200
    px2 = np.full((16, 16), 77, dtype=np.uint8)
    rows = [
        (1, bytearray(encode_jpeg(px1, 100))),
        (2, bytearray(encode_jpeg(px2, 100))),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in extract_image_stats(df).collect()}
    assert (out[1]["width"], out[1]["height"]) == (4, 6)
    assert (out[1]["mean_r"], out[1]["mean_g"], out[1]["mean_b"]) == (
        200.0,
        0.0,
        0.0,
    )
    assert out[2]["mean_r"] == 77.0


def test_dispatch_recognizes_jpeg():
    img = np.full((8, 8), 5, dtype=np.uint8)
    d = image_stats(encode_jpeg(img, 100))
    assert (d["width"], d["height"], d["mean_r"]) == (8, 8, 5.0)


def test_420_subsampled_round_trip():
    """4:2:0 — 4 Y blocks + Cb + Cr per MCU, chroma 2x2-averaged at
    encode and nearest-upsampled at decode. Gray content is exact at
    q100 (chroma planes are constant 128 — averaging is lossless);
    colored gradients clear a PSNR floor."""
    gray_rgb = np.full((20, 28, 3), 90, dtype=np.uint8)
    out = decode_jpeg_pixels(encode_jpeg(gray_rgb, 100, subsample=True))
    assert out.shape == (20, 28, 3)
    assert np.array_equal(out, gray_rgb)

    h, w = 32, 48
    rgb = np.stack(
        [
            np.linspace(0, 200, w)[None, :].repeat(h, 0),
            np.linspace(30, 220, h)[:, None].repeat(w, 1),
            np.full((h, w), 128.0),
        ],
        axis=2,
    ).astype(np.uint8)
    dec = decode_jpeg_pixels(encode_jpeg(rgb, 90, subsample=True))
    mse = float(((dec.astype(float) - rgb.astype(float)) ** 2).mean())
    assert 10 * np.log10(255**2 / mse) > 30
    # the 4:2:0 file is genuinely smaller (half the chroma blocks)
    assert len(encode_jpeg(rgb, 90, subsample=True)) < len(
        encode_jpeg(rgb, 90)
    )


def test_420_odd_dimensions():
    img = np.full((17, 23, 3), 64, dtype=np.uint8)
    out = decode_jpeg_pixels(encode_jpeg(img, 100, subsample=True))
    assert out.shape == (17, 23, 3)
    assert np.array_equal(out, img)


def test_restart_intervals_round_trip():
    """DRI/RSTn: encoder emits a restart marker every n MCUs (byte
    re-alignment + DC predictor reset), decoder honors them — exact
    round trip at q100 across several intervals, including 4:2:0."""
    img = np.zeros((8, 64), dtype=np.uint8)
    for i, v in enumerate([10, 60, 110, 160, 210, 255, 5, 95]):
        img[:, i * 8 : (i + 1) * 8] = v
    payload = encode_jpeg(img, 100, restart_interval=3)
    assert b"\xff\xdd" in payload and b"\xff\xd0" in payload
    assert np.array_equal(decode_jpeg_pixels(payload), img)

    rgb = np.full((32, 48, 3), 120, dtype=np.uint8)
    p2 = encode_jpeg(rgb, 100, subsample=True, restart_interval=2)
    assert np.array_equal(decode_jpeg_pixels(p2), rgb)
    # corrupted restart marker fails loudly, not silently
    broken = bytearray(payload)
    i = broken.find(b"\xff\xd0")
    broken[i + 1] = 0xD7  # wrong RST index
    with pytest.raises(ValueError, match="restart marker"):
        decode_jpeg_pixels(bytes(broken))


def test_fill_bytes_and_tem_markers_are_skipped():
    """ISO 10918-1 B.1.1.2 allows any run of 0xFF fill bytes before a
    marker, and TEM (0xFF01) carries no length field — both must be
    skipped, not parsed as a segment (r06 review)."""
    img = np.full((8, 8), 42, dtype=np.uint8)
    payload = encode_jpeg(img, 100)
    # inject fill bytes + a TEM marker right after SOI
    patched = payload[:2] + b"\xff\xff\xff" + b"\xff\x01" + payload[2:]
    assert np.array_equal(decode_jpeg_pixels(patched), img)


# ---------------------------------------------------------------------------
# Progressive (SOF2) — r07
# ---------------------------------------------------------------------------


class TestProgressive:
    """Progressive decode correctness is anchored to baseline: both
    encoders quantize identically, so at EVERY quality the progressive
    decode must equal the baseline decode pixel-for-pixel — a stronger
    claim than PSNR, and one that exercises all four Annex G scan
    algorithms (the scan script uses spectral selection AND successive
    approximation)."""

    def _roundtrip_equal(self, img, quality, subsample=False):
        from vector_lake_spark.jpeg import encode_jpeg_progressive

        base = decode_jpeg_pixels(encode_jpeg(img, quality, subsample))
        prog = decode_jpeg_pixels(
            encode_jpeg_progressive(img, quality, subsample)
        )
        assert np.array_equal(prog, base)

    def test_constant_gray_exact_at_q100(self):
        from vector_lake_spark.jpeg import encode_jpeg_progressive

        img = np.full((16, 24), 77, dtype=np.uint8)
        out = decode_jpeg_pixels(encode_jpeg_progressive(img, 100))
        assert np.array_equal(out, img)

    def test_random_rgb_matches_baseline_all_qualities(self):
        rng = np.random.default_rng(11)
        img = rng.integers(0, 256, size=(33, 41, 3), dtype=np.uint8)
        for q in (10, 50, 90, 100):
            self._roundtrip_equal(img, q)

    def test_subsampled_420_matches_baseline(self):
        rng = np.random.default_rng(12)
        img = rng.integers(0, 256, size=(37, 53, 3), dtype=np.uint8)
        self._roundtrip_equal(img, 100, subsample=True)
        self._roundtrip_equal(img, 60, subsample=True)

    def test_sparse_blocks_exercise_zrl_and_eob(self):
        # one hot pixel per 8x8 block: isolated high-frequency
        # coefficients with >16 zero runs in both first and refine scans
        img = np.full((40, 40), 128, dtype=np.uint8)
        img[::8, ::8] = 255
        self._roundtrip_equal(img, 100)
        self._roundtrip_equal(img, 40)

    def test_smooth_gradient_matches_baseline(self):
        gy, gx = np.mgrid[0:64, 0:96]
        grad = ((gy * 2 + gx) % 256).astype(np.uint8)
        self._roundtrip_equal(grad, 75)

    def test_odd_dimensions(self):
        rng = np.random.default_rng(13)
        img = rng.integers(0, 256, size=(9, 13, 3), dtype=np.uint8)
        self._roundtrip_equal(img, 100)

    def test_negative_dc_refinement_bits(self):
        # dark image → negative DC coefficients; the refinement bit is
        # a two's-complement OR, which only round-trips if the decoder
        # treats it that way (Annex G.1.2.1)
        rng = np.random.default_rng(14)
        img = rng.integers(0, 40, size=(24, 24), dtype=np.uint8)
        self._roundtrip_equal(img, 100)
        self._roundtrip_equal(img, 30)

    def test_dispatch_reaches_progressive(self):
        from vector_lake_spark.jpeg import encode_jpeg_progressive

        img = np.full((8, 16, 3), 200, dtype=np.uint8)
        d = image_stats(encode_jpeg_progressive(img, 100))
        assert (d["width"], d["height"]) == (16, 8)
        assert d["mean_r"] == 200.0

    def test_truncated_progressive_raises(self):
        from vector_lake_spark.jpeg import encode_jpeg_progressive

        img = np.full((8, 8), 100, dtype=np.uint8)
        p = encode_jpeg_progressive(img, 100)
        # cut inside the last scan's entropy data: the bit reader runs
        # off the payload — loud failure, never a silent partial image
        with pytest.raises((ValueError, IndexError)):
            decode_jpeg_pixels(p[: len(p) - 6])


# ---------------------------------------------------------------------------
# 12-bit extended sequential (SOF1) — r09: level shift 2048, widened
# amplitude categories, 16-bit DQT entries, uint16 output
# ---------------------------------------------------------------------------


class Test12Bit:
    def test_constant_gray_exact_at_q100(self):
        px = np.full((16, 24), 3000, dtype=np.uint16)
        out = decode_jpeg_pixels(encode_jpeg(px, quality=100, precision=12))
        assert out.dtype == np.uint16
        assert np.array_equal(out, px)

    def test_blockwise_constant_exact_at_q100(self):
        """Per-8x8-block constants are DC-only: the whole chain is
        integer arithmetic at the all-ones table, so the 12-bit decode
        must be EXACT — this is the invariant the oracle entry uses."""
        vals = (np.arange(6 * 5) * 131 % 4096).astype(np.uint16).reshape(6, 5)
        px = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        out = decode_jpeg_pixels(encode_jpeg(px, quality=100, precision=12))
        assert np.array_equal(out[:, :, ] if out.ndim == 2 else out, px)

    def test_blockwise_constant_rgb_exact_at_q100(self):
        """RGB adds the float YCbCr round trip: per-channel DC rounding
        errors stay under 0.2 of a sample step, so integer RGB inputs
        still reconstruct exactly."""
        rng = np.random.default_rng(9)
        vals = rng.integers(0, 4096, (4, 6, 3), dtype=np.uint16)
        px = np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)
        out = decode_jpeg_pixels(encode_jpeg(px, quality=100, precision=12))
        assert out.dtype == np.uint16 and out.shape == px.shape
        assert np.array_equal(out, px)

    def test_smooth_gradient_psnr_floor(self):
        y = np.arange(64)[:, None] * 30
        x = np.arange(48)[None, :] * 20
        px = np.clip(y + x, 0, 4095).astype(np.uint16)
        out = decode_jpeg_pixels(encode_jpeg(px, quality=90, precision=12))
        err = out.astype(np.float64) - px
        psnr = 10 * np.log10(4095.0**2 / max((err**2).mean(), 1e-12))
        assert psnr > 35, psnr

    def test_full_range_values_survive(self):
        """Samples at 0 and 4095 (8x the 8-bit range) prove the decode
        path really carries 12-bit amplitudes, not clipped 8-bit."""
        px = np.full((8, 8), 4095, dtype=np.uint16)
        px[:4, :] = 0
        out = decode_jpeg_pixels(encode_jpeg(px, quality=95, precision=12))
        assert out.max() > 3800 and out.min() < 300

    def test_16bit_dqt_entries_decode(self):
        """Rewrite the encoder's 8-bit DQT segments as Pq=1 16-bit
        entries with identical values: the decode must not change."""
        import struct
        px = np.repeat(np.repeat(
            (np.arange(12).astype(np.uint16) * 300).reshape(3, 4), 8, 0), 8, 1)
        f = encode_jpeg(px, quality=100, precision=12)
        out = bytearray()
        pos = 0
        while pos < len(f):
            if f[pos : pos + 2] == b"\xff\xdb":
                (seglen,) = struct.unpack_from(">H", f, pos + 2)
                body = f[pos + 4 : pos + 2 + seglen]
                tq = body[0] & 0xF
                out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 128)
                out += bytes([0x10 | tq])
                out += struct.pack(">64H", *body[1:65])
                pos += 2 + seglen
            else:
                out.append(f[pos])
                pos += 1
        got = decode_jpeg_pixels(bytes(out))
        assert np.array_equal(got, decode_jpeg_pixels(f))

    def test_sof1_8bit_also_decodes(self):
        """8-bit extended sequential is baseline with a different SOF
        marker — flipping SOF0 to SOF1 must not change the decode."""
        rng = np.random.default_rng(3)
        px = rng.integers(0, 256, (24, 16), dtype=np.uint8)
        f = bytearray(encode_jpeg(px, quality=85))
        i = bytes(f).find(b"\xff\xc0")
        f[i + 1] = 0xC1
        assert np.array_equal(
            decode_jpeg_pixels(bytes(f)), decode_jpeg_pixels(bytes(f[:i]) + b"\xff\xc0" + bytes(f[i + 2 :]))
        )

    def test_validation_and_gates(self):
        with pytest.raises(ValueError, match="uint16"):
            encode_jpeg(np.zeros((8, 8), dtype=np.uint8), precision=12)
        with pytest.raises(ValueError, match="4095"):
            encode_jpeg(np.full((8, 8), 5000, dtype=np.uint16), precision=12)
        with pytest.raises(ValueError, match="precision"):
            encode_jpeg(np.zeros((8, 8), dtype=np.uint8), precision=10)
        # a SEQUENTIAL scan header relabeled SOF2 is corrupt (progressive
        # DC scans must have Se = 0), not a gate — 12-bit progressive
        # decodes for real since late r09
        f = bytearray(encode_jpeg(np.zeros((8, 8), dtype=np.uint16),
                                  precision=12))
        i = bytes(f).find(b"\xff\xc1")
        f[i + 1] = 0xC2
        with pytest.raises(ValueError, match="Se = 0"):
            decode_jpeg_pixels(bytes(f))
        # baseline SOF0 claiming 12-bit is corrupt, not a gate
        g = bytearray(encode_jpeg(np.zeros((8, 8), dtype=np.uint16),
                                  precision=12))
        i = bytes(g).find(b"\xff\xc1")
        g[i + 1] = 0xC0
        with pytest.raises(ValueError, match="baseline"):
            decode_jpeg_pixels(bytes(g))


# ---------------------------------------------------------------------------
# 12-bit PROGRESSIVE (SOF2) — late r09: the four Annex G scan decoders
# over the widened amplitude categories, 16-bit DQT (Pq=1), level shift
# 2048. Both encoders quantize identically, so at every quality the
# progressive and sequential decodes of the same 12-bit image agree
# pixel-for-pixel.
# ---------------------------------------------------------------------------


class Test12BitProgressive:
    def test_block_constant_q100_exact_gray(self):
        rng = np.random.default_rng(41)
        px = np.repeat(np.repeat(
            rng.integers(0, 4096, (3, 5), dtype=np.uint16), 8, 0), 8, 1)
        from vector_lake_spark.jpeg import encode_jpeg_progressive
        out = decode_jpeg_pixels(
            encode_jpeg_progressive(px, quality=100, precision=12))
        assert out.dtype == np.uint16
        assert np.array_equal(out, px)

    def test_progressive_matches_sequential_every_quality(self):
        from vector_lake_spark.jpeg import encode_jpeg_progressive
        rng = np.random.default_rng(42)
        px = rng.integers(0, 4096, (21, 37, 3), dtype=np.uint16)
        for quality, subsample in ((100, False), (90, False), (75, True)):
            prog = decode_jpeg_pixels(encode_jpeg_progressive(
                px, quality=quality, precision=12, subsample=subsample))
            seq = decode_jpeg_pixels(encode_jpeg(
                px, quality=quality, precision=12, subsample=subsample))
            assert np.array_equal(prog, seq), (quality, subsample)

    def test_twelve_bit_amplitudes_survive(self):
        """A gradient spanning the full 12-bit range decodes with >8-bit
        dynamic range intact (values above 255 present and ordered)."""
        from vector_lake_spark.jpeg import encode_jpeg_progressive
        px = np.repeat(np.repeat(
            (np.arange(8, dtype=np.uint16) * 585).reshape(1, 8), 8, 0), 8, 1)
        out = decode_jpeg_pixels(
            encode_jpeg_progressive(px, quality=100, precision=12))
        assert np.array_equal(out, px)
        assert out.max() > 255

    def test_sixteen_bit_dqt_written_and_read(self):
        """The 12-bit progressive encoder writes Pq=1 DQT segments; the
        decoder reads them (not the 8-bit table walk)."""
        from vector_lake_spark.jpeg import encode_jpeg_progressive
        import struct
        f = encode_jpeg_progressive(
            np.full((8, 8), 2048, dtype=np.uint16), quality=50, precision=12)
        i = f.find(b"\xff\xdb")
        assert f[i + 4] >> 4 == 1  # Pq=1: 16-bit entries
        (seglen,) = struct.unpack_from(">H", f, i + 2)
        assert seglen == 131  # 2 len + 1 id + 128 entries

    def test_validation(self):
        from vector_lake_spark.jpeg import encode_jpeg_progressive
        with pytest.raises(ValueError, match="uint16"):
            encode_jpeg_progressive(
                np.zeros((8, 8), dtype=np.uint8), precision=12)
        with pytest.raises(ValueError, match="4095"):
            encode_jpeg_progressive(
                np.full((8, 8), 4096, dtype=np.uint16), precision=12)
        with pytest.raises(ValueError, match="precision"):
            encode_jpeg_progressive(
                np.zeros((8, 8), dtype=np.uint8), precision=10)

    def test_truncated_16bit_dqt_is_valueerror(self):
        """r09 review: a Pq=1 DQT segment shorter than its 129 bytes
        must raise the decoder's ValueError contract, not struct.error
        — in both the sequential and progressive walks."""
        import struct

        from vector_lake_spark.jpeg import encode_jpeg_progressive
        for f in (
            encode_jpeg(np.full((8, 8), 9, dtype=np.uint16), quality=100,
                        precision=12),
            encode_jpeg_progressive(np.full((8, 8), 9, dtype=np.uint16),
                                    quality=100, precision=12),
        ):
            i = f.find(b"\xff\xdb")
            (seglen,) = struct.unpack_from(">H", f, i + 2)
            # promote the 8-bit table to a Pq=1 id WITHOUT widening the
            # body: the declared 16-bit table is now truncated
            cut = bytearray(f)
            if seglen == 67:  # 8-bit body: flip Pq to 1
                cut[i + 4] |= 0x10
            else:  # already 16-bit: shorten the segment body
                cut = cut[: i + 4 + 65] + cut[i + 2 + seglen :]
                struct.pack_into(">H", cut, i + 2, 2 + 1 + 64)
            with pytest.raises(ValueError, match="DQT"):
                decode_jpeg_pixels(bytes(cut))

    def test_truncated_8bit_dqt_is_valueerror(self):
        """r09 advice: the 8-bit (Pq=0) DQT guard was missing — a body
        shorter than 65 bytes leaked IndexError from direct callers; it
        must raise the same ValueError contract as the 16-bit case, in
        both the sequential and progressive walks."""
        import struct

        from vector_lake_spark.jpeg import encode_jpeg_progressive

        for f in (
            encode_jpeg(np.full((8, 8), 9, dtype=np.uint8), quality=100),
            encode_jpeg_progressive(
                np.full((8, 8), 9, dtype=np.uint8), quality=100
            ),
        ):
            i = f.find(b"\xff\xdb")
            (seglen,) = struct.unpack_from(">H", f, i + 2)
            assert seglen == 67  # Pq=0 body: id byte + 64 entries
            # shorten the segment body mid-table
            cut = bytearray(f[: i + 4 + 40] + f[i + 2 + seglen :])
            struct.pack_into(">H", cut, i + 2, 2 + 1 + 39)
            with pytest.raises(ValueError, match="truncated 8-bit DQT"):
                decode_jpeg_pixels(bytes(cut))


# ---------------------------------------------------------------------------
# Lossless (SOF3) — late r09: Annex H DPCM, exact on arbitrary content
# ---------------------------------------------------------------------------


class TestLossless:
    def test_exact_roundtrip_every_predictor(self):
        from vector_lake_spark.jpeg import encode_jpeg_lossless

        rng = np.random.default_rng(11)
        gray8 = rng.integers(0, 256, (13, 21), dtype=np.uint8)
        rgb8 = rng.integers(0, 256, (9, 17, 3), dtype=np.uint8)
        gray16 = rng.integers(0, 65536, (11, 7), dtype=np.uint16)
        for px in (gray8, rgb8, gray16):
            for pred in range(1, 8):
                out = decode_jpeg_pixels(encode_jpeg_lossless(px, pred))
                assert np.array_equal(out, px), (px.shape, pred)
                assert out.dtype == px.dtype

    def test_extreme_differences_use_special_category(self):
        """Alternating 0/65535 at 16-bit exercises the modulo-2^16
        wraparound and the no-extra-bits 32768 category."""
        from vector_lake_spark.jpeg import encode_jpeg_lossless

        px = np.zeros((6, 6), dtype=np.uint16)
        px[::2, ::2] = 65535
        px[1::2, 1::2] = 65535
        for pred in (1, 2, 4, 6, 7):
            assert np.array_equal(
                decode_jpeg_pixels(encode_jpeg_lossless(px, pred)), px
            )

    def test_odd_precision_and_range_validation(self):
        from vector_lake_spark.jpeg import encode_jpeg_lossless

        px = np.arange(12, dtype=np.uint16).reshape(3, 4)
        out = decode_jpeg_pixels(encode_jpeg_lossless(px, 4, precision=4))
        assert np.array_equal(out, px)
        with pytest.raises(ValueError, match="range"):
            encode_jpeg_lossless(np.full((2, 2), 16, dtype=np.uint16),
                                 precision=4)
        with pytest.raises(ValueError, match="predictor"):
            encode_jpeg_lossless(px, predictor=0)
        with pytest.raises(ValueError, match="precision"):
            encode_jpeg_lossless(px, precision=17)

    def test_named_gates(self):
        """Restart intervals, subsampled components and point
        transforms stay loud; corrupt predictor is ValueError."""
        import struct

        from vector_lake_spark.jpeg import encode_jpeg_lossless

        f = bytearray(encode_jpeg_lossless(
            np.full((4, 4), 7, dtype=np.uint8)))
        # inject a DRI segment before SOS
        i = bytes(f).find(b"\xff\xda")
        with_dri = f[:i] + b"\xff\xdd\x00\x04\x00\x02" + f[i:]
        with pytest.raises(NotImplementedError, match="restart"):
            decode_jpeg_pixels(bytes(with_dri))
        # point transform (Al) in the SOS tail
        g = bytearray(encode_jpeg_lossless(
            np.full((4, 4), 7, dtype=np.uint8)))
        i = bytes(g).find(b"\xff\xda")
        (slen,) = struct.unpack_from(">H", g, i + 2)
        g[i + 2 + slen - 1] = 2  # Ah<<4|Al byte -> Al=2
        with pytest.raises(NotImplementedError, match="point transform"):
            decode_jpeg_pixels(bytes(g))

    def test_lossless_beats_png_posture_not_required_but_sane_size(self):
        """Smooth content compresses (diffs are small categories)."""
        from vector_lake_spark.jpeg import encode_jpeg_lossless

        px = np.tile(np.arange(64, dtype=np.uint8), (64, 1))
        f = encode_jpeg_lossless(px, predictor=1)
        assert len(f) < px.size  # < 1 byte/sample on a gradient


# ---------------------------------------------------------------------------
# 4:2:2 / 4:1:1 sampling (late r09) — factors above 2 decode for real
# ---------------------------------------------------------------------------


class TestWideSampling:
    def test_constant_exact_at_q100_every_mode(self):
        rgb = np.full((20, 28, 3), 90, dtype=np.uint8)
        for mode in ("420", "422", "411", True):
            out = decode_jpeg_pixels(encode_jpeg(rgb, 100, subsample=mode))
            assert np.array_equal(out, rgb), mode

    def test_gradient_psnr_floor_411_and_422(self):
        h, w = 32, 48
        grad = np.stack(
            [
                np.linspace(0, 200, w)[None, :].repeat(h, 0),
                np.linspace(30, 220, h)[:, None].repeat(w, 1),
                np.full((h, w), 128.0),
            ],
            axis=2,
        ).astype(np.uint8)
        for mode, floor in (("422", 40), ("411", 35)):
            dec = decode_jpeg_pixels(encode_jpeg(grad, 90, subsample=mode))
            mse = ((dec.astype(float) - grad.astype(float)) ** 2).mean()
            assert 10 * np.log10(255**2 / mse) > floor, mode
        # 4:1:1 is genuinely smaller than 4:2:2 (half the chroma
        # again) once the width fills the 32-sample MCU without padding
        wide = np.tile(grad, (1, 2, 1))[:, :64]
        assert len(encode_jpeg(wide, 90, subsample="411")) < len(
            encode_jpeg(wide, 90, subsample="422")
        )

    def test_progressive_matches_sequential_every_mode(self):
        from vector_lake_spark.jpeg import encode_jpeg_progressive

        rng = np.random.default_rng(3)
        px = rng.integers(0, 256, (21, 37, 3), dtype=np.uint8)
        for mode in ("420", "422", "411"):
            a = decode_jpeg_pixels(
                encode_jpeg_progressive(px, 100, subsample=mode))
            b = decode_jpeg_pixels(encode_jpeg(px, 100, subsample=mode))
            assert np.array_equal(a, b), mode

    def test_odd_dimensions_411(self):
        img = np.full((17, 23, 3), 64, dtype=np.uint8)
        out = decode_jpeg_pixels(encode_jpeg(img, 100, subsample="411"))
        assert out.shape == (17, 23, 3)
        assert np.array_equal(out, img)

    def test_fractional_ratio_gates_by_name(self):
        import struct as _s

        f = bytearray(encode_jpeg(
            np.full((16, 16, 3), 5, dtype=np.uint8), 90, subsample="420"))
        i = bytes(f).find(b"\xff\xc0")
        f[i + 14] = 0x33  # chroma 3x3 vs luma 2x2 -> fractional
        with pytest.raises(NotImplementedError, match="fractional"):
            decode_jpeg_pixels(bytes(f))
        # factor 5 is outside the spec range -> corrupt, not a gate
        g = bytearray(encode_jpeg(
            np.full((16, 16, 3), 5, dtype=np.uint8), 90))
        i = bytes(g).find(b"\xff\xc0")
        g[i + 11] = 0x51
        with pytest.raises(ValueError, match="spec range"):
            decode_jpeg_pixels(bytes(g))

    def test_bad_subsample_mode_rejected(self):
        with pytest.raises(ValueError, match="subsample"):
            encode_jpeg(np.zeros((8, 8, 3), dtype=np.uint8),
                        subsample="444x")


def test_single_component_frames_ignore_declared_factors():
    """T.81: a single-component scan is non-interleaved — the declared
    sampling factors only matter relative to siblings, so a grayscale
    frame claiming 3x3 (or 2x2) factors must decode identically to the
    1x1 layout (r09 review: the widened factor range must not scramble
    single-component block order)."""
    img = np.arange(64, dtype=np.uint8).reshape(8, 8)
    base = encode_jpeg(img, 100)
    for hv in (0x22, 0x33, 0x44):
        f = bytearray(base)
        i = bytes(f).find(b"\xff\xc0")
        f[i + 11] = hv
        assert np.array_equal(decode_jpeg_pixels(bytes(f)), img), hex(hv)


def test_gray_input_still_validates_subsample_mode():
    with pytest.raises(ValueError, match="subsample"):
        encode_jpeg(np.zeros((8, 8), dtype=np.uint8), subsample="441")


# ---------------------------------------------------------------------------
# r12 vectorization pins: lossless entropy coding and inverse DPCM are
# bit/byte-identical to the pre-r12 scalar implementations, kept
# VERBATIM below (they reuse the module's own _BitWriter/_BitReader /
# _build_decode_table / _huff_decode, which the sequential and
# progressive paths still use unchanged).
# ---------------------------------------------------------------------------


def _encode_lossless_scalar_tail(diffs, h, w):
    """Pre-r12 emission loop, verbatim: the interleaved per-sample
    category/amplitude writes through the scalar _BitWriter."""
    from vector_lake_spark.jpeg import (
        DC_CODES_LL,
        _amplitude,
        _BitWriter,
        _category,
    )

    bw = _BitWriter()
    for y in range(h):
        for x in range(w):
            for dplane in diffs:
                d = int(dplane[y, x])
                if d == -0x8000:
                    code, length = DC_CODES_LL[16]
                    bw.write(code, length)
                    continue
                size = _category(d)
                code, length = DC_CODES_LL[size]
                bw.write(code, length)
                if size:
                    bw.write(_amplitude(d, size), size)
    return bw.flush()


def _ll_reconstruct_scalar(d, predictor, default):
    """Pre-r12 per-pixel reconstruction, verbatim (_ll_predict loop)."""
    from vector_lake_spark.jpeg import _ll_predict

    h, w = d.shape
    plane = np.zeros((h, w), dtype=np.int64)
    for y in range(h):
        for x in range(w):
            pred = _ll_predict(plane, x, y, predictor, default)
            plane[y, x] = (pred + int(d[y, x])) & 0xFFFF
    return plane


def test_lossless_vectorized_encode_and_decode_match_scalar():
    import random

    from vector_lake_spark.jpeg import (
        _ll_reconstruct,
        decode_jpeg_pixels,
        encode_jpeg_lossless,
    )

    rng = np.random.default_rng(19)
    for predictor in range(1, 8):
        for prec, dt in [(8, np.uint8), (12, np.uint16), (16, np.uint16)]:
            for shape in [(1, 1), (1, 9), (7, 1), (11, 13)]:
                for channels in (None, 3):
                    s = shape if channels is None else shape + (3,)
                    img = rng.integers(0, 1 << prec, size=s).astype(dt)
                    enc = encode_jpeg_lossless(
                        img, predictor=predictor, precision=prec
                    )
                    dec = decode_jpeg_pixels(enc)
                    assert np.array_equal(dec, img), (predictor, prec, s)
    # reconstruction: vectorized vs verbatim scalar, every predictor,
    # including the special -0x8000 wraparound diffs
    for predictor in range(1, 8):
        for _ in range(4):
            h, w = int(rng.integers(1, 14)), int(rng.integers(1, 14))
            d = rng.integers(-40000, 40000, size=(h, w)).astype(np.int64)
            d[rng.random((h, w)) < 0.1] = -0x8000
            got = _ll_reconstruct(d, predictor, 2048)
            want = _ll_reconstruct_scalar(d, predictor, 2048)
            assert np.array_equal(got, want), predictor


def test_lossless_emission_bytes_match_scalar_writer():
    rng = np.random.default_rng(23)
    from vector_lake_spark.jpeg import encode_jpeg_lossless

    for predictor in range(1, 8):
        img = rng.integers(0, 1 << 12, size=(9, 7)).astype(np.uint16)
        enc = encode_jpeg_lossless(img, predictor=predictor, precision=12)
        # recompute the diffs exactly as the encoder does, then emit
        # them through the verbatim scalar tail; the entropy segment
        # (between SOS payload end and EOI) must match byte-for-byte
        p = img.astype(np.int64)
        ra = np.zeros_like(p); ra[:, 1:] = p[:, :-1]
        rb = np.zeros_like(p); rb[1:, :] = p[:-1, :]
        rc = np.zeros_like(p); rc[1:, 1:] = p[:-1, :-1]
        pred = {
            1: ra, 2: rb, 3: rc, 4: ra + rb - rc,
            5: ra + ((rb - rc) >> 1), 6: rb + ((ra - rc) >> 1),
            7: (ra + rb) >> 1,
        }[predictor]
        pred[0, :] = ra[0, :]; pred[1:, 0] = rb[1:, 0]; pred[0, 0] = 2048
        d = (p - pred) & 0xFFFF
        d[d >= 0x8000] -= 0x10000
        want_tail = _encode_lossless_scalar_tail([d], 9, 7) + b"\xff\xd9"
        assert enc.endswith(want_tail), predictor


def test_progressive_refine_matches_old_decoder_on_dense_content():
    """The r12 nonzero-slot refinement rewrite must decode real dense-AC
    progressive streams identically: progressive-vs-sequential equality
    at lossy qualities exercises every refinement path (EOB runs, ZRL,
    newly-nonzero arrivals, correction bits)."""
    from vector_lake_spark.jpeg import (
        decode_jpeg_pixels,
        encode_jpeg,
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(31)
    for q in (50, 75, 90):
        img = rng.integers(0, 256, size=(24, 17, 3)).astype(np.uint8)
        seq = decode_jpeg_pixels(encode_jpeg(img, quality=q))
        pro = decode_jpeg_pixels(encode_jpeg_progressive(img, quality=q))
        assert np.array_equal(seq, pro), q


def _r12_ll_symbol_loop(data, nbits, bad, luts, nc, n_symbols):
    """The pre-r13 per-symbol window loop, kept VERBATIM (modulo the
    windows being built from the unstuffed bytes here) as the in-test
    oracle for the vectorized orbit decoder."""
    bits = np.concatenate([np.unpackbits(data), np.ones(80, dtype=np.uint8)])
    win = np.lib.stride_tricks.sliding_window_view(bits, 16)
    weights = (1 << np.arange(15, -1, -1)).astype(np.int64)
    W = (win @ weights).tolist()
    diffs_flat = np.empty(n_symbols, dtype=np.int64)
    p = 0
    i = 0
    for _ in range(n_symbols // nc):
        for ci in range(nc):
            sym_a, len_a = luts[ci]
            sym_l, len_l = sym_a.tolist(), len_a.tolist()
            if bad is not None and p >= nbits:
                raise ValueError(
                    f"unexpected marker 0xFF{bad:02X} in entropy stream"
                )
            if p + 32 > len(W):
                W.extend([0xFFFF] * 4096)
            wv = W[p]
            L = len_l[wv]
            if L == 0:
                raise ValueError("invalid Huffman code in entropy stream")
            size = sym_l[wv]
            p += L
            if size == 16:
                diff = 0x8000
            elif size:
                if bad is not None and p >= nbits:
                    raise ValueError(
                        f"unexpected marker 0xFF{bad:02X} in entropy stream"
                    )
                mag = W[p] >> (16 - size)
                p += size
                diff = (
                    mag if mag >= (1 << (size - 1)) else mag - (1 << size) + 1
                )
            else:
                diff = 0
            diffs_flat[i] = diff
            i += 1
    return diffs_flat


def test_ll_entropy_decode_matches_per_symbol_loop():
    """r13: the chunked orbit-walk lossless entropy decoder must produce
    diff-identical output to the verbatim r12 per-symbol loop — gray and
    RGB, every predictor-relevant category incl. the 0x8000 special,
    and across chunk boundaries (chunk size forced tiny)."""
    import struct

    import vector_lake_spark.jpeg as J

    rng = np.random.default_rng(31)
    images = [
        rng.integers(0, 256, (13, 21)).astype(np.uint8),
        rng.integers(0, 4096, (9, 17, 3)).astype(np.uint16),
        np.zeros((6, 6), dtype=np.uint16),
    ]
    images[2][::2, ::2] = 65535  # forces the 16-category wraparound
    old_chunk = J._LL_CHUNK_BITS
    try:
        for px in images:
            prec = 16 if px.dtype == np.uint16 and px.max() > 4095 else (
                12 if px.dtype == np.uint16 else 8
            )
            for predictor in (1, 4, 7):
                payload = J.encode_jpeg_lossless(
                    px, predictor=predictor, precision=prec
                )
                # walk the markers exactly as the decoder does to find
                # the scan start + tables
                pos = 2
                htabs = {}
                scan_comps = None
                while pos < len(payload):
                    while payload[pos + 1] == 0xFF:
                        pos += 1
                    marker = payload[pos + 1]
                    (seglen,) = struct.unpack_from(">H", payload, pos + 2)
                    body = payload[pos + 4 : pos + 2 + seglen]
                    if marker == 0xC4:
                        bpos = 0
                        while bpos < len(body):
                            tc, th = body[bpos] >> 4, body[bpos] & 0xF
                            bits = list(body[bpos + 1 : bpos + 17])
                            n = sum(bits)
                            htabs[(tc, th)] = (
                                bits, list(body[bpos + 17 : bpos + 17 + n])
                            )
                            bpos += 17 + n
                    elif marker == 0xDA:
                        ns = body[0]
                        scan_comps = [
                            (body[1 + 2 * i], body[2 + 2 * i] >> 4)
                            for i in range(ns)
                        ]
                        pos += 2 + seglen
                        break
                    pos += 2 + seglen
                nc = len(scan_comps)
                h, w = px.shape[:2]
                n_symbols = h * w * nc
                data, nbits, bad = J._unstuffed_entropy(payload, pos)
                luts = [J._huff_lut16(*htabs[(0, td)]) for _c, td in scan_comps]
                want = _r12_ll_symbol_loop(data, nbits, bad, luts, nc, n_symbols)
                got = J._ll_entropy_decode(data, nbits, bad, luts, nc, n_symbols)
                assert np.array_equal(got, want), (px.shape, predictor)
                J._LL_CHUNK_BITS = 1 << 11  # force many chunks
                got_chunked = J._ll_entropy_decode(
                    data, nbits, bad, luts, nc, n_symbols
                )
                J._LL_CHUNK_BITS = old_chunk
                assert np.array_equal(got_chunked, want)
    finally:
        J._LL_CHUNK_BITS = old_chunk


def test_ll_entropy_error_parity():
    """r13 error contract: an in-stream marker raises only when decode
    needs bits at/past it; a final-symbol overrun past a marker raises
    (the r12 ADVICE #3 fix); a truncated trailing 0xFF is a bad marker
    rather than a clean end."""
    import vector_lake_spark.jpeg as J

    px = np.full((8, 8), 1234, dtype=np.uint16)
    payload = bytearray(J.encode_jpeg_lossless(px, predictor=1, precision=12))
    # corrupt: replace the EOI with a bogus marker -> decode still fine
    assert payload[-2:] == b"\xff\xd9"
    ok = J.decode_jpeg_pixels(bytes(payload))
    assert np.array_equal(ok, px)
    bogus = bytes(payload[:-2]) + b"\xff\xc8"
    assert np.array_equal(J.decode_jpeg_pixels(bogus), px)
    # truncate the entropy stream before its end, ending on a marker:
    # decode must need the missing bits and raise the marker error
    cut = bytes(payload[:-8]) + b"\xff\xc8"
    with pytest.raises(ValueError, match="unexpected marker 0xFFC8"):
        J.decode_jpeg_pixels(cut)
    # truncated trailing 0xFF: bad marker, not clean end
    cut_ff = bytes(payload[:-8]) + b"\xff"
    with pytest.raises(ValueError, match="truncated 0xFF|unexpected"):
        J.decode_jpeg_pixels(cut_ff)


def _r12_emit_ac_first(bw, coef, ss, se, al, ac_codes=None):
    from vector_lake_spark.jpeg import AC_CODES, _amplitude, _category

    ac_codes = ac_codes or AC_CODES
    run = 0
    last = -1
    vals = []
    for k in range(ss, se + 1):
        v = int(coef[k])
        az = (abs(v) >> al) * (1 if v >= 0 else -1)
        vals.append(az)
        if az:
            last = k
    for k in range(ss, se + 1):
        az = vals[k - ss]
        if k > last:
            break
        if az == 0:
            run += 1
            continue
        while run >= 16:
            code, length = ac_codes[0xF0]
            bw.write(code, length)
            run -= 16
        size = _category(az)
        code, length = ac_codes[(run << 4) | size]
        bw.write(code, length)
        bw.write(_amplitude(az, size), size)
        run = 0
    if last < se:
        code, length = ac_codes[0x00]
        bw.write(code, length)


def _r12_emit_ac_refine(bw, coef, ss, se, al, ac_codes=None):
    from vector_lake_spark.jpeg import AC_CODES

    ac_codes = ac_codes or AC_CODES
    absv = []
    eob = ss - 1
    for k in range(ss, se + 1):
        v = int(coef[k])
        a = abs(v) >> al
        absv.append(a)
        if a == 1:
            eob = k
    run = 0
    pending = []
    for k in range(ss, se + 1):
        a = absv[k - ss]
        if a == 0:
            run += 1
            continue
        while run > 15 and k <= eob:
            code, length = ac_codes[0xF0]
            bw.write(code, length)
            run -= 16
            for bit in pending:
                bw.write(bit, 1)
            pending = []
        if a > 1:
            pending.append(a & 1)
            continue
        code, length = ac_codes[(run << 4) | 1]
        bw.write(code, length)
        bw.write(1 if int(coef[k]) > 0 else 0, 1)
        for bit in pending:
            bw.write(bit, 1)
        pending = []
        run = 0
    if run > 0 or pending:
        code, length = ac_codes[0x00]
        bw.write(code, length)
        for bit in pending:
            bw.write(bit, 1)


def test_ac_emit_loops_bit_identical_to_r12():
    """r13: the nonzero-slot AC emit rewrites must produce the same
    bytes as the verbatim r12 per-slot walks, over blocks covering
    all-zero bands, long runs (>16 zeros -> ZRL), history coefficients
    with pending bits, and high-band spectral selection."""
    from vector_lake_spark.jpeg import (
        _BitWriter,
        _emit_ac_first,
        _emit_ac_refine,
    )

    rng = np.random.default_rng(77)
    blocks = [np.zeros(64, dtype=np.int64)]
    b = np.zeros(64, dtype=np.int64)
    b[60] = 3  # 59 leading zeros -> multiple ZRLs
    blocks.append(b)
    for density in (0.05, 0.3, 0.9):
        for _ in range(6):
            b = np.where(
                rng.random(64) < density,
                rng.integers(-70, 70, 64),
                0,
            ).astype(np.int64)
            blocks.append(b)
    for coef in blocks:
        for ss, se in ((1, 5), (6, 63), (1, 63)):
            for al in (0, 1):
                for emit_new, emit_old in (
                    (_emit_ac_first, _r12_emit_ac_first),
                    (_emit_ac_refine, _r12_emit_ac_refine),
                ):
                    a, c = _BitWriter(), _BitWriter()
                    emit_new(a, coef, ss, se, al)
                    emit_old(c, coef, ss, se, al)
                    a.write(1, 1)  # flush alignment parity too
                    c.write(1, 1)
                    assert a.flush() == c.flush(), (
                        emit_new.__name__, ss, se, al, coef.tolist())


def test_scan_reader_matches_bitreader_walk():
    """r13: _ScanReader (window-LUT cursor) must consume identical
    symbols/bits as the per-bit _BitReader + _huff_decode walk (kept in
    the module as the reference), across stuffed 0xFF00 bytes, restart
    markers and the EOI feed-1s tail."""
    import random

    from vector_lake_spark.jpeg import (
        _BitReader,
        _ScanReader,
        _build_decode_table,
        _huff_decode,
        _huff_lut16_lists,
    )

    # a real DC-style table: lengths 2..6 over symbols 0..11
    bits = [0, 2, 3, 3, 2, 2, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0]
    vals = list(range(12))
    table = _build_decode_table(bits, vals)
    lut = _huff_lut16_lists(bits, vals)

    rng = random.Random(5)
    for trial in range(20):
        n_seg = rng.randint(1, 3)
        payload = bytearray(b"\xff\xd8")
        pos = len(payload)
        for s in range(n_seg):
            seg = bytes(
                rng.randrange(256) for _ in range(rng.randint(8, 40))
            )
            # stuff: 0xFF -> 0xFF 0x00
            stuffed = bytearray()
            for b in seg:
                stuffed.append(b)
                if b == 0xFF:
                    stuffed.append(0x00)
            payload += stuffed
            payload += bytes([0xFF, 0xD0 + (s % 8)]) if s < n_seg - 1 \
                else b"\xff\xd9"
        old = _BitReader(bytes(payload), pos)
        new = _ScanReader(bytes(payload), pos)
        rst = 0
        for step in range(500):
            op = rng.random()
            try:
                if op < 0.5:
                    want = _huff_decode(old, table)
                else:
                    n = rng.randint(1, 12)
                    want = old.read_bits(n)
                old_err = None
            except (ValueError, IndexError) as e:
                old_err = e
            try:
                if op < 0.5:
                    got = new.huff(lut)
                else:
                    got = new.read_bits(n)
                new_err = None
            except (ValueError, IndexError) as e:
                new_err = e
            if old_err is not None:
                assert new_err is not None, (trial, step)
                break
            assert new_err is None, (trial, step, new_err)
            assert got == want, (trial, step, got, want)
        # seeds must stay aligned: both readers consumed the same rng ops


def test_sequential_encoder_matches_per_block_reference():
    """r13: encode_jpeg's batched-FDCT + nonzero-gap emission must be
    byte-identical to the old per-block pipeline — reconstructed here
    from the verbatim _encode_block (kept in the module as reference)
    plus the same header bytes — across gray/RGB, 8/12-bit, subsample
    modes, restart intervals and qualities."""
    import struct as _s

    import vector_lake_spark.jpeg as J

    def old_entropy(px, quality, subsample, restart_interval, precision):
        half = float(1 << (precision - 1))
        gray = px.ndim == 2
        h, w = px.shape[:2]
        if gray:
            subsample = False
            planes = [px.astype(np.float64)]
        else:
            r = px[:, :, 0].astype(np.float64)
            g = px[:, :, 1].astype(np.float64)
            b = px[:, :, 2].astype(np.float64)
            planes = [
                0.299 * r + 0.587 * g + 0.114 * b,
                -0.168736 * r - 0.331264 * g + 0.5 * b + half,
                0.5 * r - 0.418688 * g - 0.081312 * b + half,
            ]
        qlum = J._quality_scale(J.LUM_Q, quality)
        qchr = J._quality_scale(J.CHR_Q, quality)
        qtbls = [qlum] if gray else [qlum, qchr]
        ncomp = 1 if gray else 3
        samp = J._subsample_factors(subsample, gray)
        hmax = max(s[0] for s in samp)
        vmax = max(s[1] for s in samp)
        mcus_x = -(-w // (8 * hmax))
        mcus_y = -(-h // (8 * vmax))
        padded = []
        for ci, p in enumerate(planes):
            hi, vi = samp[ci]
            if ci > 0 and (hmax, vmax) != (1, 1):
                p = J._chroma_average(p, h, w, hmax // hi, vmax // vi)
            padded.append(
                J._pad_replicate(p, mcus_y * 8 * vi, mcus_x * 8 * hi)
            )
        out = bytearray()
        bw = J._BitWriter()
        pred = [0] * ncomp
        mcu_no = 0
        rst = 0
        for by in range(mcus_y):
            for bx in range(mcus_x):
                if (
                    restart_interval and mcu_no
                    and mcu_no % restart_interval == 0
                ):
                    out += bw.flush()
                    bw = J._BitWriter()
                    out += bytes([0xFF, 0xD0 + rst])
                    rst = (rst + 1) % 8
                    pred = [0] * ncomp
                mcu_no += 1
                for ci in range(ncomp):
                    hi, vi = samp[ci]
                    for vy in range(vi):
                        for vx in range(hi):
                            r0 = (by * vi + vy) * 8
                            c0 = (bx * hi + vx) * 8
                            block = padded[ci][r0 : r0 + 8, c0 : c0 + 8]
                            pred[ci] = J._encode_block(
                                bw, block, qtbls[0 if ci == 0 else 1],
                                pred[ci], half=half,
                                dc_codes=J.DC_CODES if precision == 8
                                else J.DC_CODES_12,
                                ac_codes=J.AC_CODES if precision == 8
                                else J.AC_CODES_12,
                                max_ac=10 if precision == 8 else 14,
                            )
        out += bw.flush()
        return bytes(out)

    rng = np.random.default_rng(41)
    cases = []
    for gray in (True, False):
        for precision in (8, 12):
            hi = 256 if precision == 8 else 4096
            dt = np.uint8 if precision == 8 else np.uint16
            shape = (21, 29) if gray else (21, 29, 3)
            cases.append((rng.integers(0, hi, shape).astype(dt), precision))
    for px, precision in cases:
        for subsample in (False, True, "422"):
            if px.ndim == 2 and subsample:
                continue
            for rst in (0, 3):
                for quality in (90, 100):
                    new = J.encode_jpeg(
                        px, quality=quality, subsample=subsample,
                        restart_interval=rst, precision=precision,
                    )
                    want_tail = old_entropy(
                        px, quality, subsample, rst, precision
                    ) + b"\xff\xd9"
                    assert new.endswith(want_tail), (
                        px.shape, precision, subsample, rst, quality)


def test_huffman_lut_cache_is_bounded():
    """The per-DHT decode-LUT cache clears on full at both insert sites
    (ndarray and list forms): cap + 1 distinct table specs leave at most
    cap entries, and a decode after the clear is byte-identical."""
    from vector_lake_spark import jpeg as J

    img = (np.arange(24 * 40).reshape(24, 40) * 7 % 256).astype(np.uint8)
    f = encode_jpeg(img, 75)
    before = decode_jpeg_pixels(f).tobytes()
    J._LL_LUT_CACHE.clear()
    bits = [0] * 15 + [1]  # one 16-bit code: a valid spec per symbol
    for sym in range(J._LL_LUT_CACHE_CAP + 1):
        build = J._huff_lut16 if sym % 2 else J._huff_lut16_lists
        build(bits, [sym])
        assert len(J._LL_LUT_CACHE) <= J._LL_LUT_CACHE_CAP
    assert decode_jpeg_pixels(f).tobytes() == before
