"""TIFF codec (`vector_lake_spark.tiff`).

Round-trip sweeps prove the encoder/decoder pair; the hand-assembled
fixtures prove the DECODER against the public TIFF 6.0 spec directly —
a big-endian uncompressed file the little-endian-only writer never
emits, the PackBits worked example from the spec's own appendix, and
MinIsWhite inversion."""

import struct

import numpy as np
import pytest

from vector_lake_spark.tiff import (
    _unpackbits,
    decode_tiff_pixels,
    encode_tiff,
    is_tiff,
    probe_tiff,
)


def _be_tiff(w, h, pixels, photometric=1):
    """Hand-assembled BIG-ENDIAN uncompressed grayscale TIFF (the
    writer only emits little-endian, so this is writer-independent)."""
    data = bytes(pixels)
    n = 8  # entries
    ifd_off = 8
    data_off = ifd_off + 2 + 12 * n + 4

    def entry(tag, typ, count, value):
        if typ == 3:
            packed = struct.pack(">HH", value, 0)
        else:
            packed = struct.pack(">I", value)
        return struct.pack(">HHI", tag, typ, count) + packed

    ifd = struct.pack(">H", n)
    ifd += entry(256, 3, 1, w)
    ifd += entry(257, 3, 1, h)
    ifd += entry(258, 3, 1, 8)
    ifd += entry(259, 3, 1, 1)  # uncompressed
    ifd += entry(262, 3, 1, photometric)
    ifd += entry(273, 4, 1, data_off)
    ifd += entry(278, 3, 1, h)
    ifd += entry(279, 4, 1, len(data))
    ifd += struct.pack(">I", 0)
    return b"MM\x00*" + struct.pack(">I", ifd_off) + ifd + data


def test_big_endian_hand_fixture():
    px = list(range(12))
    out = decode_tiff_pixels(_be_tiff(4, 3, px))
    assert out.shape == (3, 4, 1)
    assert out.reshape(-1).tolist() == px
    info = probe_tiff(_be_tiff(4, 3, px))
    assert info["pages"][0]["compression"] == "none"
    assert (info["pages"][0]["width"], info["pages"][0]["height"]) == (4, 3)


def test_min_is_white_inverts():
    out = decode_tiff_pixels(_be_tiff(2, 1, [0, 255], photometric=0))
    assert out.reshape(-1).tolist() == [255, 0]


def test_packbits_spec_appendix_example():
    """The worked example from the TIFF 6.0 spec's PackBits appendix."""
    compressed = bytes(
        [0xFE, 0xAA, 0x02, 0x80, 0x00, 0x2A, 0xFD, 0xAA, 0x03, 0x80,
         0x00, 0x2A, 0x22, 0xF7, 0xAA]
    )
    expected = bytes(
        [0xAA] * 3 + [0x80, 0x00, 0x2A] + [0xAA] * 4
        + [0x80, 0x00, 0x2A, 0x22] + [0xAA] * 10
    )
    assert _unpackbits(compressed, len(expected)) == expected


def test_round_trip_sweep():
    rng = np.random.default_rng(7)
    cases = [
        (rng.integers(0, 256, (13, 9), dtype=np.uint8), "none", False, None),
        (rng.integers(0, 256, (7, 5, 3), dtype=np.uint8), "none", False, None),
        (np.repeat(rng.integers(0, 4, (20, 1), dtype=np.uint8) * 60, 17,
                   axis=1), "packbits", False, None),
        (rng.integers(0, 256, (31, 23), dtype=np.uint8), "lzw", False, None),
        ((np.arange(40 * 30 * 3) % 251).astype(np.uint8).reshape(40, 30, 3),
         "lzw", True, None),
        (rng.integers(0, 16, (200, 150, 3), dtype=np.uint8) * 16, "lzw",
         False, 37),
        # random 400x400 forces LZW table clears mid-stream
        (rng.integers(0, 256, (150, 400), dtype=np.uint8), "lzw", False, None),
    ]
    for px, comp, pred, rps in cases:
        f = encode_tiff(px, compression=comp, predictor=pred,
                        rows_per_strip=rps)
        assert is_tiff(f)
        got = decode_tiff_pixels(f)
        want = px if px.ndim == 3 else px[:, :, None]
        assert np.array_equal(got, want), (comp, pred)


def test_lzw_early_change_boundary():
    """A strip long enough to cross the 9->10 and 10->11 bit widths:
    the decoder must widen ONE entry before its table fills (the
    encoder adds entries one step ahead — the spec's early change)."""
    rng = np.random.default_rng(3)
    px = rng.integers(0, 256, (60, 60), dtype=np.uint8)  # 3600 codes-ish
    f = encode_tiff(px, compression="lzw")
    assert np.array_equal(decode_tiff_pixels(f)[:, :, 0], px)


def test_compression_is_real():
    smooth = np.clip(
        np.arange(300)[:, None] + np.arange(200)[None, :], 0, 255
    ).astype(np.uint8)
    f = encode_tiff(smooth, compression="lzw", predictor=True)
    assert len(f) < 0.1 * smooth.size


def test_gates_and_corruption():
    f = bytearray(encode_tiff(np.zeros((4, 4), dtype=np.uint8)))
    with pytest.raises(ValueError, match="magic"):
        probe_tiff(b"ABCD" + bytes(f[4:]))
    # unsupported compression id gates by name (7 decodes since late
    # r09, so use 6 — the deprecated old-style JPEG)
    g = bytearray(f)
    idx = bytes(g).find(struct.pack("<HHI", 259, 3, 1))
    struct.pack_into("<H", g, idx + 8, 6)  # old-style JPEG
    with pytest.raises(NotImplementedError, match="jpeg-old"):
        decode_tiff_pixels(bytes(g))
    # an LZW page relabeled new-style JPEG is corrupt (no SOI), not a
    # gate
    g2 = bytearray(f)
    idx = bytes(g2).find(struct.pack("<HHI", 259, 3, 1))
    struct.pack_into("<H", g2, idx + 8, 7)
    with pytest.raises(ValueError, match="SOI"):
        decode_tiff_pixels(bytes(g2))
    # strip offset out of range is corrupt, not a crash
    g = bytearray(f)
    idx = bytes(g).find(struct.pack("<HHI", 273, 4, 1))
    struct.pack_into("<I", g, idx + 8, len(g) + 999)
    with pytest.raises(ValueError, match="tag 273|strip"):
        decode_tiff_pixels(bytes(g))


def test_stats_contract_and_dispatch(spark):
    from vector_lake_spark.multimodal import (
        extract_image_stats,
        image_stats,
    )

    px = np.zeros((5, 8, 3), dtype=np.uint8)
    px[:, :, 0] = 40
    px[:, :, 1] = 50
    px[:, :, 2] = 60
    f = encode_tiff(px, compression="packbits")
    assert image_stats(f) == {
        "width": 8, "height": 5,
        "mean_r": 40.0, "mean_g": 50.0, "mean_b": 60.0,
    }
    df = spark.createDataFrame(
        [(3, bytearray(f))], "media_id long, payload binary"
    )
    r = extract_image_stats(df).collect()[0]
    assert (r["width"], r["height"], r["mean_g"]) == (8, 5, 50.0)


def test_multipage_probe():
    """Two chained IFDs: probe reports both pages."""
    one = _be_tiff(2, 2, [1, 2, 3, 4])
    # append a second IFD by patching the first's next-IFD pointer
    page2 = _be_tiff(3, 1, [9, 9, 9])
    blob = bytearray(one)
    second_off = len(blob)  # page2's IFD (its offset-8 content) lands here
    # first IFD's next pointer sits right before its data block
    next_ptr_off = 8 + 2 + 12 * 8
    struct.pack_into(">I", blob, next_ptr_off, second_off)
    # re-rebase page2: offsets were relative to its own file start,
    # and we drop its 8-byte header, so shift by second_off - 8
    p2 = bytearray(page2)
    idx = bytes(p2).find(struct.pack(">HHI", 273, 4, 1))
    (old_off,) = struct.unpack_from(">I", p2, idx + 8)
    struct.pack_into(">I", p2, idx + 8, old_off - 8 + second_off)
    blob += p2[8:]  # drop page2's file header, keep IFD + data
    info = probe_tiff(bytes(blob))
    assert info["n_pages"] == 2
    assert info["pages"][1]["width"] == 3


def test_review_fixes():
    """r08 review: the 129-byte-literal PackBits trap (header byte 128
    is the spec no-op), planar-configuration named gate, and the
    short-strip-table labeled error."""
    # 127 non-repeating bytes then an isolated pair: the buggy encoder
    # emitted a 129-byte literal that _unpackbits skips as a no-op
    row = np.array([[i % 2 for i in range(127)] + [7, 7]], dtype=np.uint8)
    f = encode_tiff(row, compression="packbits")
    assert np.array_equal(decode_tiff_pixels(f)[:, :, 0], row)
    # fuzz the boundary region for good measure
    rng = np.random.default_rng(11)
    for w in (126, 127, 128, 129, 130, 255, 256, 257):
        r = rng.integers(0, 2, (1, w), dtype=np.uint8) * 200
        f = encode_tiff(r, compression="packbits")
        assert np.array_equal(decode_tiff_pixels(f)[:, :, 0], r), w
    # planar configuration decodes since the r09 wave-2 gate close: a
    # hand-assembled BE plane-major fixture (one strip per plane) the
    # little-endian writer never emits
    def be_entry(tag, typ, count, value):
        packed = struct.pack(">HH", value, 0) if typ == 3 else struct.pack(">I", value)
        return struct.pack(">HHI", tag, typ, count) + packed

    n = 9
    arrays_off = 8 + 2 + 12 * n + 4
    data_off = arrays_off + 24  # two 3-long arrays, then the planes
    ifd = struct.pack(">H", n)
    ifd += be_entry(256, 3, 1, 2) + be_entry(257, 3, 1, 1)
    ifd += be_entry(258, 3, 1, 8) + be_entry(259, 3, 1, 1)
    ifd += be_entry(262, 3, 1, 2) + be_entry(273, 4, 3, arrays_off)
    ifd += be_entry(277, 3, 1, 3) + be_entry(279, 4, 3, arrays_off + 12)
    ifd += be_entry(284, 3, 1, 2)  # planar
    ifd += struct.pack(">I", 0)
    planar = (
        b"MM\x00*" + struct.pack(">I", 8) + ifd
        + struct.pack(">3I", data_off, data_off + 2, data_off + 4)
        + struct.pack(">3I", 2, 2, 2)
        + bytes([10, 11, 20, 21, 30, 31])  # R plane, G plane, B plane
    )
    got = decode_tiff_pixels(planar)
    assert got.tolist() == [[[10, 20, 30], [11, 21, 31]]]
    # strip table covering fewer rows than the image: labeled error
    short = _be_tiff(4, 3, list(range(12)))
    b = bytearray(short)
    idx = bytes(b).find(struct.pack(">HHI", 257, 3, 1))
    struct.pack_into(">H", b, idx + 8, 6)  # claim 6 rows, data holds 3
    with pytest.raises(ValueError, match="fewer rows"):
        decode_tiff_pixels(bytes(b))


# ---------------------------------------------------------------------------
# Tiled layout (r09 — the §15 gate the verdict flagged as the one format
# variant real crawl corpora hit early)
# ---------------------------------------------------------------------------


def test_tiled_round_trip_sweep():
    rng = np.random.default_rng(21)
    cases = [
        # exact multiple of the tile grid
        (rng.integers(0, 256, (32, 48), dtype=np.uint8), "none", False, 16),
        # ragged edges on both axes: padding must decode then crop
        (rng.integers(0, 256, (33, 49, 3), dtype=np.uint8), "lzw", False, 16),
        (rng.integers(0, 256, (20, 20), dtype=np.uint8), "packbits", False, 32),
        # predictor restarts per tile row, not per image row
        ((np.arange(45 * 70 * 3) % 253).astype(np.uint8).reshape(45, 70, 3),
         "lzw", True, 16),
        (rng.integers(0, 256, (100, 90, 3), dtype=np.uint8), "packbits",
         True, (32, 16)),
        # single padded tile larger than the whole image
        (rng.integers(0, 256, (5, 7), dtype=np.uint8), "lzw", True, 16),
    ]
    for px, comp, pred, ts in cases:
        f = encode_tiff(px, compression=comp, predictor=pred, tile_size=ts)
        got = decode_tiff_pixels(f)
        want = px if px.ndim == 3 else px[:, :, None]
        assert np.array_equal(got, want), (comp, pred, ts)


def test_tiled_probe_and_layout():
    img = (np.arange(33 * 49) % 251).astype(np.uint8).reshape(33, 49)
    f = encode_tiff(img, compression="lzw", tile_size=16)
    info = probe_tiff(f)["pages"][0]
    assert (info["tile_width"], info["tile_length"]) == (16, 16)
    assert info["n_tiles"] == 3 * 4  # ceil(33/16) x ceil(49/16)
    assert info["n_strips"] == 0 and info["rows_per_strip"] is None
    # striped files report no tiles
    s = probe_tiff(encode_tiff(img))["pages"][0]
    assert s["n_tiles"] == 0 and s["tile_width"] is None


def test_tiled_predictor_restarts_per_tile():
    """A horizontal gradient differenced per IMAGE row would produce
    all-1s after the first pixel; per TILE row each tile's first column
    must re-anchor. A decoder that cumsums across tile boundaries gets
    every tile after the first wrong."""
    img = np.tile(np.arange(64, dtype=np.uint8), (16, 1))  # 16x64 gradient
    f = encode_tiff(img, compression="none", predictor=True, tile_size=16)
    assert np.array_equal(decode_tiff_pixels(f)[:, :, 0], img)


def test_tiled_validation():
    img = np.zeros((8, 8), dtype=np.uint8)
    with pytest.raises(ValueError, match="multiples of 16"):
        encode_tiff(img, tile_size=8)
    f = bytearray(encode_tiff(img, tile_size=16))
    # tile grid arity mismatch is corrupt, not a crash: claim 64px width
    idx = bytes(f).find(struct.pack("<HHI", 256, 3, 1))
    struct.pack_into("<H", f, idx + 8, 64)
    with pytest.raises(ValueError, match="tiles for a"):
        decode_tiff_pixels(bytes(f))
    # tile offset out of range
    g = bytearray(encode_tiff(img, tile_size=16))
    idx = bytes(g).find(struct.pack("<HHI", 324, 4, 1))
    struct.pack_into("<I", g, idx + 8, len(g) + 999)
    with pytest.raises(ValueError, match="tag 324|tile"):
        decode_tiff_pixels(bytes(g))


# ---------------------------------------------------------------------------
# 16-bit and palette pages (r09 — the depth gates scanned archives hit)
# ---------------------------------------------------------------------------


def test_16bit_round_trip_sweep():
    rng = np.random.default_rng(33)
    cases = [
        (rng.integers(0, 1 << 16, (9, 13), dtype=np.uint16), "none", False, None),
        (rng.integers(0, 1 << 16, (21, 17, 3), dtype=np.uint16), "lzw", False, None),
        # predictor differencing must wrap mod 65536, not 256
        ((np.arange(40 * 30 * 3, dtype=np.uint16) * 523 % 65521)
         .reshape(40, 30, 3), "lzw", True, None),
        (rng.integers(0, 1 << 16, (33, 20), dtype=np.uint16), "packbits",
         True, 16),  # tiled 16-bit, ragged edge
    ]
    for px, comp, pred, ts in cases:
        f = encode_tiff(px, compression=comp, predictor=pred, tile_size=ts)
        got = decode_tiff_pixels(f)
        assert got.dtype == np.uint16
        want = px if px.ndim == 3 else px[:, :, None]
        assert np.array_equal(got, want), (comp, pred, ts)
    info = probe_tiff(encode_tiff(cases[1][0]))["pages"][0]
    assert info["bits_per_sample"] == [16, 16, 16]


def test_16bit_big_endian_fixture():
    """Hand-assembled BE 16-bit gray 2x1: samples must read MSB-first."""
    def be_entry(tag, typ, count, value):
        packed = struct.pack(">HH", value, 0) if typ == 3 else struct.pack(">I", value)
        return struct.pack(">HHI", tag, typ, count) + packed

    n = 8
    data_off = 8 + 2 + 12 * n + 4
    ifd = struct.pack(">H", n)
    ifd += be_entry(256, 3, 1, 2) + be_entry(257, 3, 1, 1)
    ifd += be_entry(258, 3, 1, 16) + be_entry(259, 3, 1, 1)
    ifd += be_entry(262, 3, 1, 1) + be_entry(273, 4, 1, data_off)
    ifd += be_entry(277, 3, 1, 1) + be_entry(279, 4, 1, 4)
    ifd += struct.pack(">I", 0)
    samples = struct.pack(">HH", 0x1234, 0xFFFE)
    blob = b"MM\x00*" + struct.pack(">I", 8) + ifd + samples
    got = decode_tiff_pixels(blob)
    assert got.dtype == np.uint16
    assert got[0, 0, 0] == 0x1234 and got[0, 1, 0] == 0xFFFE


def test_palette_round_trip():
    rng = np.random.default_rng(5)
    idx = rng.integers(0, 7, (19, 23), dtype=np.uint8)
    cmap = (np.stack([np.arange(7) * 257, (6 - np.arange(7)) * 400,
                      np.arange(7) * 13], axis=1).astype(np.uint16))
    for comp in ("none", "packbits", "lzw"):
        for ts in (None, 16):
            f = encode_tiff(idx, compression=comp, tile_size=ts, colormap=cmap)
            info = probe_tiff(f)["pages"][0]
            assert info["photometric"] == 3
            got = decode_tiff_pixels(f)
            assert got.dtype == np.uint16 and got.shape == (19, 23, 3)
            assert np.array_equal(got, cmap[idx])
    # predictor applies to the INDEX plane (spec) and must invert
    f = encode_tiff(idx, compression="lzw", predictor=True, colormap=cmap)
    assert np.array_equal(decode_tiff_pixels(f), cmap[idx])


def test_palette_validation():
    idx = np.zeros((4, 4), dtype=np.uint8)
    cmap = np.zeros((4, 3), dtype=np.uint16)
    with pytest.raises(ValueError, match="index exceeds"):
        encode_tiff(idx + 9, colormap=cmap)
    with pytest.raises(ValueError, match="uint8 indices"):
        encode_tiff(np.zeros((4, 4), dtype=np.uint16), colormap=cmap)
    # palette page missing its ColorMap is corrupt, not a crash
    f = bytearray(encode_tiff(idx, colormap=cmap))
    i = bytes(f).find(struct.pack("<HHI", 320, 3, 768))
    struct.pack_into("<H", f, i, 3200)  # rename the ColorMap tag away
    with pytest.raises(ValueError, match="ColorMap"):
        decode_tiff_pixels(bytes(f))


# ---------------------------------------------------------------------------
# Deflate, sub-byte depths, MinIsWhite writer, planar (r09 wave 2)
# ---------------------------------------------------------------------------


def test_deflate_round_trip_sweep():
    rng = np.random.default_rng(41)
    cases = [
        (rng.integers(0, 256, (13, 9), dtype=np.uint8), False, None),
        (rng.integers(0, 256, (21, 17, 3), dtype=np.uint8), True, None),
        (rng.integers(0, 1 << 16, (33, 20), dtype=np.uint16), True, 16),
    ]
    for px, pred, ts in cases:
        f = encode_tiff(px, compression="deflate", predictor=pred, tile_size=ts)
        info = probe_tiff(f)["pages"][0]
        assert info["compression"] == "deflate"
        got = decode_tiff_pixels(f)
        want = px if px.ndim == 3 else px[:, :, None]
        assert np.array_equal(got, want), (pred, ts)
    # deflate actually compresses a smooth page
    smooth = np.clip(
        np.arange(300)[:, None] + np.arange(200)[None, :], 0, 255
    ).astype(np.uint8)
    assert len(encode_tiff(smooth, compression="deflate")) < 0.1 * smooth.size


def test_deflate_legacy_id_and_corruption():
    img = (np.arange(64) % 256).astype(np.uint8).reshape(8, 8)
    f = bytearray(encode_tiff(img, compression="deflate"))
    idx = bytes(f).find(struct.pack("<HHI", 259, 3, 1))
    struct.pack_into("<H", f, idx + 8, 32946)  # legacy Adobe deflate id
    assert probe_tiff(bytes(f))["pages"][0]["compression"] == "deflate-old"
    assert np.array_equal(decode_tiff_pixels(bytes(f))[:, :, 0], img)
    # a garbage zlib stream is corrupt, not a crash
    g = bytearray(encode_tiff(img, compression="deflate"))
    g[-4:] = b"\xff\xff\xff\xff"
    with pytest.raises(ValueError, match="deflate"):
        decode_tiff_pixels(bytes(g))


def test_subbyte_round_trip_sweep():
    rng = np.random.default_rng(43)
    for depth in (1, 2, 4):
        # odd widths force row pad bits; both layouts; all codecs
        px = rng.integers(0, 1 << depth, (23, 17), dtype=np.uint8)
        for comp in ("none", "packbits", "lzw", "deflate"):
            for ts in (None, 16):
                f = encode_tiff(px, compression=comp, tile_size=ts,
                                bit_depth=depth)
                info = probe_tiff(f)["pages"][0]
                assert info["bits_per_sample"] == [depth]
                got = decode_tiff_pixels(f)
                assert got.dtype == np.uint8
                assert np.array_equal(got[:, :, 0], px), (depth, comp, ts)


def test_subbyte_row_padding_is_per_row():
    """w=3 at 1 bit: each row packs into ONE byte with 5 pad bits — a
    decoder that streams bits across rows reads the pad as data."""
    px = np.array([[1, 0, 1], [0, 1, 1], [1, 1, 0]], dtype=np.uint8)
    f = encode_tiff(px, compression="none", bit_depth=1)
    assert np.array_equal(decode_tiff_pixels(f)[:, :, 0], px)
    # hand-check the packed strip: rows 1010_0000 / 0110_0000 / 1100_0000
    assert bytes([0b10100000, 0b01100000, 0b11000000]) in f


def test_subbyte_hand_fixture_msb_first():
    """Hand-assembled 4-bit gray 3x1 (big-endian IFD): 0xAB 0xC0 must
    read MSB-first as samples A, B, C."""
    def be_entry(tag, typ, count, value):
        packed = struct.pack(">HH", value, 0) if typ == 3 else struct.pack(">I", value)
        return struct.pack(">HHI", tag, typ, count) + packed

    n = 8
    data_off = 8 + 2 + 12 * n + 4
    ifd = struct.pack(">H", n)
    ifd += be_entry(256, 3, 1, 3) + be_entry(257, 3, 1, 1)
    ifd += be_entry(258, 3, 1, 4) + be_entry(259, 3, 1, 1)
    ifd += be_entry(262, 3, 1, 1) + be_entry(273, 4, 1, data_off)
    ifd += be_entry(277, 3, 1, 1) + be_entry(279, 4, 1, 2)
    blob = b"MM\x00*" + struct.pack(">I", 8) + ifd + struct.pack(">I", 0)[:0]
    blob = b"MM\x00*" + struct.pack(">I", 8) + ifd + struct.pack(">I", 0) + bytes([0xAB, 0xC0])
    got = decode_tiff_pixels(blob)
    assert got[:, :, 0].tolist() == [[0xA, 0xB, 0xC]]


def test_min_is_white_round_trip():
    rng = np.random.default_rng(47)
    bilevel = rng.integers(0, 2, (19, 31), dtype=np.uint8)
    f = encode_tiff(bilevel, compression="packbits", bit_depth=1,
                    min_is_white=True)
    info = probe_tiff(f)["pages"][0]
    assert info["photometric"] == 0
    # decode re-inverts the stored samples: round trip is identity
    assert np.array_equal(decode_tiff_pixels(f)[:, :, 0], bilevel)
    # and the stored bits really are inverted (0 stored where px==1)
    gray = rng.integers(0, 256, (7, 5), dtype=np.uint8)
    g = encode_tiff(gray, compression="none", min_is_white=True)
    assert np.array_equal(decode_tiff_pixels(g)[:, :, 0], gray)
    assert (255 - gray).astype(np.uint8).tobytes() in g


def test_planar_round_trip_sweep():
    rng = np.random.default_rng(53)
    cases = [
        (rng.integers(0, 256, (13, 9, 3), dtype=np.uint8), "none", False, None),
        (rng.integers(0, 256, (33, 49, 3), dtype=np.uint8), "lzw", True, None),
        (rng.integers(0, 256, (20, 20, 3), dtype=np.uint8), "deflate",
         False, 16),
        # 16-bit planar tiled with predictor and ragged edges
        (rng.integers(0, 1 << 16, (33, 20, 3), dtype=np.uint16), "packbits",
         True, 16),
    ]
    for px, comp, pred, ts in cases:
        f = encode_tiff(px, compression=comp, predictor=pred, tile_size=ts,
                        planar=True)
        info = probe_tiff(f)["pages"][0]
        assert info["planar"] is True
        if ts:
            assert info["n_tiles"] == 3 * -(-px.shape[0] // 16) * -(-px.shape[1] // 16)
        else:
            assert info["n_strips"] % 3 == 0
        got = decode_tiff_pixels(f)
        assert np.array_equal(got, px), (comp, pred, ts)
    # chunky files report planar False
    assert probe_tiff(encode_tiff(cases[0][0]))["pages"][0]["planar"] is False


def test_planar_strip_table_really_is_plane_major():
    """Constant-valued planes: plane-major uncompressed strips mean the
    data region is R-plane bytes, then G, then B — not interleaved."""
    px = np.empty((4, 4, 3), dtype=np.uint8)
    px[:, :, 0], px[:, :, 1], px[:, :, 2] = 11, 22, 33
    f = encode_tiff(px, compression="none", planar=True, rows_per_strip=4)
    assert f.endswith(bytes([11] * 16 + [22] * 16 + [33] * 16))
    assert np.array_equal(decode_tiff_pixels(f), px)


def test_new_gates_and_validation():
    with pytest.raises(ValueError, match="bit_depth"):
        encode_tiff(np.zeros((4, 4), dtype=np.uint8), bit_depth=3)
    with pytest.raises(ValueError, match="single-sample"):
        encode_tiff(np.zeros((4, 4, 3), dtype=np.uint8), bit_depth=4)
    with pytest.raises(ValueError, match="range"):
        encode_tiff(np.full((4, 4), 4, dtype=np.uint8), bit_depth=2)
    with pytest.raises(ValueError, match="whole-byte"):
        encode_tiff(np.zeros((4, 4), dtype=np.uint8), bit_depth=4,
                    predictor=True)
    with pytest.raises(ValueError, match="3-sample"):
        encode_tiff(np.zeros((4, 4), dtype=np.uint8), planar=True)
    # sub-byte predictor pages gate by name on decode: a hand-built BE
    # 4-bit fixture claiming predictor 2 (the writer refuses to emit one)
    def be_entry(tag, typ, count, value):
        packed = struct.pack(">HH", value, 0) if typ == 3 else struct.pack(">I", value)
        return struct.pack(">HHI", tag, typ, count) + packed

    n = 9
    data_off = 8 + 2 + 12 * n + 4
    ifd = struct.pack(">H", n)
    ifd += be_entry(256, 3, 1, 2) + be_entry(257, 3, 1, 1)
    ifd += be_entry(258, 3, 1, 4) + be_entry(259, 3, 1, 1)
    ifd += be_entry(262, 3, 1, 1) + be_entry(273, 4, 1, data_off)
    ifd += be_entry(277, 3, 1, 1) + be_entry(279, 4, 1, 1)
    ifd += be_entry(317, 3, 1, 2)  # predictor on a 4-bit page
    ifd += struct.pack(">I", 0)
    blob = b"MM\x00*" + struct.pack(">I", 8) + ifd + bytes([0xAB])
    with pytest.raises(NotImplementedError, match="whole-byte"):
        decode_tiff_pixels(blob)
    # planar table not divisible by samples is corrupt
    g = bytearray(encode_tiff(np.zeros((4, 4, 3), dtype=np.uint8),
                              compression="none", planar=True,
                              rows_per_strip=2))  # 2 strips x 3 planes
    idx = bytes(g).find(struct.pack("<HHI", 273, 4, 6))
    struct.pack_into("<I", g, idx + 4, 5)  # claim 5 strips over 3 planes
    with pytest.raises(ValueError, match="divisible"):
        decode_tiff_pixels(bytes(g))


class TestSubBytePalette:
    """Late r09: palette pages with 1/2/4-bit indices (the spec sizes
    the ColorMap to 3*2^depth) — GIF-era scanned assets use these."""

    def test_roundtrip_all_depths_compressions_layouts(self):
        rng = np.random.default_rng(6)
        for depth in (1, 2, 4):
            n = 1 << depth
            cm = rng.integers(0, 65536, (n, 3)).astype(np.uint16)
            idx = rng.integers(0, n, (13, 21, 1)).astype(np.uint8)
            for comp in ("none", "packbits", "lzw", "deflate"):
                for tiled in (None, 16):
                    f = encode_tiff(idx, compression=comp, colormap=cm,
                                    bit_depth=depth, tile_size=tiled)
                    out = decode_tiff_pixels(f)
                    assert np.array_equal(out, cm[idx[:, :, 0]])

    def test_colormap_sized_to_depth(self):
        cm = np.arange(12, dtype=np.uint16).reshape(4, 3)
        idx = np.zeros((4, 4, 1), dtype=np.uint8)
        f = encode_tiff(idx, colormap=cm, bit_depth=2)
        page = probe_tiff(f)["pages"][0]
        assert page["bits_per_sample"] == [2]
        assert page["photometric"] == 3
        # undersized ColorMap is corrupt at decode
        import struct as _s

        g = bytearray(f)
        i = bytes(g).find(_s.pack("<HHI", 320, 3, 12))
        _s.pack_into("<I", g, i + 4, 6)  # claim 3x2 entries
        with pytest.raises(ValueError, match="ColorMap"):
            decode_tiff_pixels(bytes(g))

    def test_bad_palette_depth_rejected(self):
        cm = np.zeros((16, 3), dtype=np.uint16)
        with pytest.raises(ValueError, match="bit_depth"):
            encode_tiff(np.zeros((2, 2, 1), dtype=np.uint8),
                        colormap=cm, bit_depth=3)


def test_oversized_colormap_and_palette8_predictor():
    """r09 review: a colormap larger than the index space raises a
    named error (not a numpy broadcast crash), and bit_depth=8 palette
    pages accept the predictor exactly like default-depth ones."""
    with pytest.raises(ValueError, match="index space"):
        encode_tiff(np.zeros((2, 2, 1), dtype=np.uint8),
                    colormap=np.zeros((16, 3), dtype=np.uint16),
                    bit_depth=2)
    cm = np.arange(768, dtype=np.uint16).reshape(256, 3)
    idx = np.arange(4, dtype=np.uint8).reshape(2, 2, 1)
    f = encode_tiff(idx, colormap=cm, bit_depth=8, predictor=True)
    assert np.array_equal(decode_tiff_pixels(f), cm[idx[:, :, 0]])


class TestJpegInTiff:
    """Late r09: new-style JPEG-in-TIFF (compression 7, TIFF-TN2) —
    each strip is a whole JPEG stream; shared tables may live in the
    JPEGTables field as an abbreviated SOI..EOI prefix."""

    @staticmethod
    def _page(shape=(16, 24), nstrips=None):
        rng = np.random.default_rng(12)
        base = rng.integers(
            0, 256, (shape[0] // 8, shape[1] // 8) + shape[2:]
        ).astype(np.uint8)
        px = np.repeat(np.repeat(base, 8, 0), 8, 1)
        f = encode_tiff(
            px if px.ndim == 3 else px[:, :, None],
            compression="jpeg",
            rows_per_strip=8 if nstrips else None,
        )
        return px, f

    def test_exact_roundtrip_gray_rgb_multistrip(self):
        for shape in [(16, 24), (16, 24, 3)]:
            for nstrips in (None, True):
                px, f = self._page(shape, nstrips)
                want = px if px.ndim == 3 else px[:, :, None]
                assert np.array_equal(decode_tiff_pixels(f), want)
        assert probe_tiff(f)["pages"][0]["compression"] == "jpeg"

    def test_jpegtables_abbreviated_streams(self):
        """jpeg_tables=True hoists the shared DQT/DHT into a JPEGTables
        (347, UNDEFINED) field and writes abbreviated strips — the
        decode path must merge the prefix back (r09 review: this merge
        was dead for the canonical type-7 tag until the IFD reader
        learned the type)."""
        px, f_full = self._page((16, 24, 3), nstrips=True)
        f_ab = encode_tiff(px, compression="jpeg", rows_per_strip=8,
                           jpeg_tables=True)
        assert np.array_equal(decode_tiff_pixels(f_ab), px)
        assert len(f_ab) < len(f_full)  # tables stored once, not per strip
        # the field really is type 7 (UNDEFINED) and SOI..EOI framed
        import struct as _s

        i = bytes(f_ab).find(_s.pack("<HH", 347, 7))
        assert i != -1
        (count,) = _s.unpack_from("<I", f_ab, i + 4)
        (voff,) = _s.unpack_from("<I", f_ab, i + 8)
        tbl = f_ab[voff : voff + count]
        assert tbl[:2] == b"\xff\xd8" and tbl[-2:] == b"\xff\xd9"
        # corrupting the field is loud
        bad = bytearray(f_ab)
        bad[voff] = 0
        with pytest.raises(ValueError, match="JPEGTables"):
            decode_tiff_pixels(bytes(bad))
        # abbreviated strips WITHOUT the tables are corrupt by
        # ValueError, not a raw KeyError from the JPEG decoder
        worse = bytearray(f_ab)
        _s.pack_into("<H", worse, i, 39999)  # unknown the reader skips
        with pytest.raises(ValueError, match="failed to decode"):
            decode_tiff_pixels(bytes(worse))

    def test_rgb_photometric_gates_and_mcu_strips(self):
        """Photometric 2 (stored-RGB) JPEG pages gate by name — the
        codec's color path assumes YCbCr scans; and rows_per_strip must
        hold whole MCUs."""
        import struct as _s

        px, f = self._page((16, 24, 3))
        i = bytes(f).find(_s.pack("<HHI", 262, 3, 1))
        g = bytearray(f)
        _s.pack_into("<H", g, i + 8, 2)
        with pytest.raises(NotImplementedError, match="RGB-stored"):
            decode_tiff_pixels(bytes(g))
        with pytest.raises(ValueError, match="whole MCUs"):
            encode_tiff(px, compression="jpeg", rows_per_strip=5)
        # tag 530 (YCbCrSubSampling) declares the 4:4:4 the strips use
        assert _s.pack("<HHI", 530, 3, 2) + _s.pack("<HH", 1, 1) in f

    def test_gates_and_corrupt(self):
        px = np.zeros((8, 8, 1), dtype=np.uint8)
        with pytest.raises(ValueError, match="8-bit"):
            encode_tiff(np.zeros((8, 8, 1), dtype=np.uint16),
                        compression="jpeg")
        with pytest.raises(ValueError, match="predictor"):
            encode_tiff(px, compression="jpeg", predictor=True)
        # a strip without SOI is corrupt by name
        import struct as _s

        f = bytearray(encode_tiff(px, compression="jpeg"))
        i = bytes(f).find(_s.pack("<HHI", 273, 4, 1))
        (off,) = _s.unpack_from("<I", f, i + 8)
        f[off] = 0x00
        with pytest.raises(ValueError, match="SOI"):
            decode_tiff_pixels(bytes(f))


def test_tiled_jpeg_in_tiff_roundtrip():
    """Late r09: tiled JPEG-in-TIFF (the pyramidal-TIFF layout) — each
    tile is its own JPEG stream, ragged edges padded to full tiles and
    cropped back. Dims stay 8-aligned so q100 DC-exactness holds right
    up to the crop."""
    rng = np.random.default_rng(13)
    base = rng.integers(0, 256, (5, 7, 3)).astype(np.uint8)
    px = np.repeat(np.repeat(base, 8, 0), 8, 1)  # 40x56, ragged 16-tiles
    for jt in (False, True):
        f = encode_tiff(px, compression="jpeg", tile_size=16,
                        jpeg_tables=jt)
        assert np.array_equal(decode_tiff_pixels(f), px), jt
        page = probe_tiff(f)["pages"][0]
        assert page["compression"] == "jpeg"
        assert page["n_tiles"] == 3 * 4
    # gray variant through the same path
    g = np.repeat(np.repeat(
        rng.integers(0, 256, (5, 3)).astype(np.uint8), 8, 0), 8, 1)
    f = encode_tiff(g[:, :, None], compression="jpeg", tile_size=16,
                    jpeg_tables=True)
    assert np.array_equal(decode_tiff_pixels(f)[:, :, 0], g)
    # a tile whose stream geometry disagrees with the IFD is corrupt
    import struct as _s

    bad = bytearray(encode_tiff(px, compression="jpeg", tile_size=16))
    i = bytes(bad).find(_s.pack("<HH", 322, 3))
    _s.pack_into("<H", bad, i + 8, 32)  # claim 32-wide tiles
    with pytest.raises(ValueError):
        decode_tiff_pixels(bytes(bad))


# ---------------------------------------------------------------------------
# r13 identity pins: LZW cursor decode + int-pair-keyed encode
# ---------------------------------------------------------------------------


def _r12_lzw_decode(data, expected):
    """Verbatim pre-r13 decoder (per-byte bigint accumulator)."""
    from vector_lake_spark.tiff import _CLEAR, _EOI

    out = bytearray()
    table = []
    width = 9

    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    reset()
    acc = 0
    nbits = 0
    prev = None
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == _CLEAR:
                reset()
                prev = None
                continue
            if code == _EOI:
                if len(out) < expected:
                    raise ValueError("corrupt TIFF: LZW strip too short")
                return bytes(out[:expected])
            if prev is None:
                if code >= len(table):
                    raise ValueError("corrupt TIFF: bad first LZW code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("corrupt TIFF: LZW code out of range")
            out += entry
            prev = entry
            if len(table) + 2 >= (1 << width) and width < 12:
                width += 1
            if len(out) >= expected:
                return bytes(out[:expected])
    raise ValueError("corrupt TIFF: LZW strip ended without EOI")


def _r12_lzw_encode(data):
    """Verbatim pre-r13 encoder (bytes-keyed table)."""
    from vector_lake_spark.tiff import _CLEAR, _EOI

    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code, width):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    table = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(_CLEAR, width)
    cur = b""
    for b in data:
        nxt = cur + bytes([b])
        if nxt in table:
            cur = nxt
            continue
        emit(table[cur], width)
        table[nxt] = next_code
        next_code += 1
        if next_code + 1 >= (1 << width) and width < 12:
            width += 1
        if next_code >= 4094:
            emit(_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
        cur = bytes([b])
    if cur:
        emit(table[cur], width)
    emit(_EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


def test_lzw_bit_identical_to_r12():
    """r13: the cursor decoder and int-pair-keyed encoder must emit and
    decode byte-identical streams vs the verbatim pre-r13 pair — runs
    long enough to cross every width bump and the 4094 table clear."""
    import random

    from vector_lake_spark.tiff import _lzw_decode, _lzw_encode

    rng = random.Random(9)
    payloads = [
        b"",
        b"\x00",
        bytes(range(256)) * 4,
        bytes(rng.randrange(4) for _ in range(5000)),     # dense repeats
        bytes(rng.randrange(256) for _ in range(30000)),  # forces clear
        b"\xff" * 2000,
    ]
    for raw in payloads:
        enc_new = _lzw_encode(raw)
        enc_old = _r12_lzw_encode(raw)
        assert enc_new == enc_old, len(raw)
        dec_new = _lzw_decode(enc_new, len(raw))
        dec_old = _r12_lzw_decode(enc_new, len(raw))
        assert dec_new == dec_old == raw, len(raw)
