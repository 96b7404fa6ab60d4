"""GIF codec (`vector_lake_spark.gif`): byte-exact round trips (GIF is
lossless within a 256-color palette), a HAND-ASSEMBLED spec fixture whose
LZW codes were derived on paper from the GIF89a specification (no repo
encoder involved — the interop stance of tests/test_interop_fixtures.py),
interlace, animation composition (transparency + disposal), loud gates,
and the Arrow operator path."""

import numpy as np
import pytest

from vector_lake_spark.gif import (
    decode_gif_frames,
    decode_gif_pixels,
    encode_gif,
    probe_gif,
    _lzw_encode,
)
from vector_lake_spark.multimodal import image_stats


# ---------------------------------------------------------------------------
# Spec-derived interop fixture (no repo encoder): 2x2 black/white checker.
#
# LZW hand-encoding, min_code_size=2 → clear=4, eoi=5, first dynamic
# code 6, initial width 3. Indices [0,1,1,0]:
#   emit CLEAR(4); emit 0 (add (0,1)=6); emit 1 (add (1,1)=7);
#   emit 1 (add (1,0)=8 → table hits 2^3, width grows to 4);
#   emit 0 @4 bits; emit EOI(5) @4 bits
# Codes (4₃,0₃,1₃,1₃,0₄,5₄) packed LSB-first:
#   bit2=1 (CLEAR), bit6=1, bit9=1, bit16=1, bit18=1
#   → bytes 0x44 0x02 0x05
# ---------------------------------------------------------------------------
SPEC_GIF = bytes.fromhex(
    "474946383961"  # "GIF89a"
    "0200" "0200"   # logical screen 2x2
    "80" "00" "00"  # GCT present (2 entries), bg=0, aspect=0
    "000000" "ffffff"  # palette: black, white
    "2c" "0000" "0000" "0200" "0200" "00"  # image descriptor, no LCT
    "02"            # LZW min code size
    "03" "440205"   # one 3-byte sub-block (hand-packed codes)
    "00"            # block terminator
    "3b"            # trailer
)


def test_spec_fixture_decodes_to_checker():
    px = decode_gif_pixels(SPEC_GIF)
    expect = np.array(
        [[[0, 0, 0], [255, 255, 255]], [[255, 255, 255], [0, 0, 0]]],
        dtype=np.uint8,
    )
    assert np.array_equal(px, expect)


def test_spec_fixture_probe_without_decode():
    info = probe_gif(SPEC_GIF)
    assert (info["width"], info["height"]) == (2, 2)
    assert info["version"] == "89a"
    assert info["n_frames"] == 1
    f = info["frames"][0]
    assert (f["width"], f["height"]) == (2, 2)
    assert not f["interlaced"]
    assert f["min_code_size"] == 2


def test_probe_skips_lzw_entirely():
    # corrupt every LZW byte; probe must still read the frame table
    bad = bytearray(SPEC_GIF)
    start, end = probe_gif(SPEC_GIF)["frames"][0]["data_span"]
    for i in range(start + 1, end):  # keep sub-block length bytes intact
        if (i - start) % 256 != 0:
            bad[i] ^= 0xFF
    info = probe_gif(bytes(bad))
    assert info["n_frames"] == 1


# ---------------------------------------------------------------------------
# Round trips (lossless domain)
# ---------------------------------------------------------------------------


def test_round_trip_exact_random_palette():
    rng = np.random.default_rng(42)
    pal = rng.integers(0, 256, size=(200, 3), dtype=np.uint8)
    idx = rng.integers(0, 200, size=(37, 53))
    img = pal[idx]
    assert np.array_equal(decode_gif_pixels(encode_gif(img)), img)


def test_round_trip_two_color():
    img = np.zeros((5, 7, 3), dtype=np.uint8)
    img[::2, ::3] = 255
    assert np.array_equal(decode_gif_pixels(encode_gif(img)), img)


def test_round_trip_single_color():
    img = np.full((4, 4, 3), 123, dtype=np.uint8)
    assert np.array_equal(decode_gif_pixels(encode_gif(img)), img)


def test_round_trip_long_runs_exercise_table_growth():
    # 64k pixels of few colors → the LZW table grows to the 12-bit cap
    # and the safety-margin CLEAR fires at least once
    rng = np.random.default_rng(7)
    img = np.repeat(
        rng.integers(0, 4, size=(256, 32), dtype=np.uint8) * 80, 8, axis=1
    )
    rgb = np.stack([img, img // 2, 255 - img], axis=2).astype(np.uint8)
    assert np.array_equal(decode_gif_pixels(encode_gif(rgb)), rgb)


def test_too_many_colors_raises():
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, size=(32, 32, 3), dtype=np.uint8)
    assert len(np.unique(img.reshape(-1, 3), axis=0)) > 256
    with pytest.raises(ValueError, match="unique colors"):
        encode_gif(img)


def test_stats_decode_contract():
    img = np.zeros((4, 8, 3), dtype=np.uint8)
    img[:, :, 0] = 100
    d = image_stats(encode_gif(img))
    assert (d["width"], d["height"]) == (8, 4)
    assert d["mean_r"] == 100.0 and d["mean_g"] == 0.0 and d["mean_b"] == 0.0


# ---------------------------------------------------------------------------
# Interlace
# ---------------------------------------------------------------------------


def _build_gif(frames, w, h, palette, bg=0, version=b"GIF89a"):
    """Minimal hand-rolled container builder for decoder cases the
    static encoder does not emit (interlace, animation, transparency).
    Uses _lzw_encode for the code stream only — container layout is
    assembled per spec here."""
    import struct

    n_pal = 1 << max(1, int(np.ceil(np.log2(max(2, len(palette))))))
    pal = np.zeros((n_pal, 3), dtype=np.uint8)
    pal[: len(palette)] = palette
    bits = int(np.log2(n_pal))
    out = bytearray(version)
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), bg, 0)
    out += pal.tobytes()
    mcs = max(2, bits)
    for f in frames:
        if "gce" in f:
            disposal, trans = f["gce"]
            gflags = (disposal << 2) | (0 if trans is None else 1)
            out += b"\x21\xf9\x04" + struct.pack(
                "<BHB", gflags, 0, trans or 0
            ) + b"\x00"
        idx = f["indices"]
        fh, fw = idx.shape
        iflags = 0x40 if f.get("interlaced") else 0
        out += b"\x2c" + struct.pack(
            "<HHHHB", f.get("left", 0), f.get("top", 0), fw, fh, iflags
        )
        out += bytes([mcs])
        if f.get("interlaced"):
            order = [
                y
                for start, step in ((0, 8), (4, 8), (2, 4), (1, 2))
                for y in range(start, fh, step)
            ]
            idx = idx[np.asarray(order)]
        lzw = _lzw_encode(idx.reshape(-1).astype(np.int64), mcs)
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            out += bytes([len(chunk)]) + chunk
        out += b"\x00"
    out += b"\x3b"
    return bytes(out)


def test_interlaced_decode():
    rng = np.random.default_rng(3)
    pal = np.array(
        [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], dtype=np.uint8
    )
    idx = rng.integers(0, 4, size=(19, 11)).astype(np.uint8)
    payload = _build_gif(
        [{"indices": idx, "interlaced": True}], 11, 19, pal
    )
    assert probe_gif(payload)["frames"][0]["interlaced"]
    assert np.array_equal(decode_gif_pixels(payload), pal[idx])


# ---------------------------------------------------------------------------
# Animation: composition, transparency, disposal
# ---------------------------------------------------------------------------


def _anim_palette():
    return np.array(
        [[10, 20, 30], [200, 0, 0], [0, 200, 0], [0, 0, 200]],
        dtype=np.uint8,
    )


def test_animation_frames_compose_as_deltas():
    pal = _anim_palette()
    base = np.full((4, 4), 1, dtype=np.uint8)
    patch = np.full((2, 2), 2, dtype=np.uint8)
    payload = _build_gif(
        [
            {"indices": base},
            {"indices": patch, "left": 1, "top": 1},
        ],
        4, 4, pal,
    )
    info, frames = decode_gif_frames(payload)
    assert info["n_frames"] == 2 and len(frames) == 2
    f0, f1 = frames[0][1], frames[1][1]
    assert np.array_equal(f0, pal[base])
    expect = pal[base].copy()
    expect[1:3, 1:3] = pal[2]
    assert np.array_equal(f1, expect)


def test_transparency_keeps_prior_canvas():
    pal = _anim_palette()
    base = np.full((3, 3), 1, dtype=np.uint8)
    # second frame: index 3 drawn, index 0 transparent (shows base)
    patch = np.array([[0, 3, 0], [3, 0, 3], [0, 3, 0]], dtype=np.uint8)
    payload = _build_gif(
        [
            {"indices": base},
            {"indices": patch, "gce": (1, 0)},  # disposal keep, trans=0
        ],
        3, 3, pal,
    )
    _, frames = decode_gif_frames(payload, [1])
    assert len(frames) == 1 and frames[0][0] == 1
    out = frames[0][1]
    mask = patch == 3
    assert np.array_equal(out[mask], np.broadcast_to(pal[3], (mask.sum(), 3)))
    assert np.array_equal(out[~mask], np.broadcast_to(pal[1], ((~mask).sum(), 3)))


def test_disposal_2_restores_background():
    pal = _anim_palette()
    full = np.full((3, 3), 2, dtype=np.uint8)
    dot = np.full((1, 1), 3, dtype=np.uint8)
    payload = _build_gif(
        [
            {"indices": full, "gce": (2, None)},  # restore-bg after frame 0
            {"indices": dot, "left": 2, "top": 2},
        ],
        3, 3, pal, bg=1,
    )
    _, frames = decode_gif_frames(payload, [1])
    out = frames[0][1]
    expect = np.broadcast_to(pal[1], (3, 3, 3)).copy()  # bg restored
    expect[2, 2] = pal[3]
    assert np.array_equal(out, expect)


def test_disposal_3_restores_previous_canvas():
    pal = _anim_palette()
    base = np.full((3, 3), 1, dtype=np.uint8)
    splash = np.full((3, 3), 2, dtype=np.uint8)  # disposal 3: undone after
    dot = np.full((1, 1), 3, dtype=np.uint8)
    payload = _build_gif(
        [
            {"indices": base},
            {"indices": splash, "gce": (3, None)},
            {"indices": dot, "left": 0, "top": 0},
        ],
        3, 3, pal,
    )
    _, frames = decode_gif_frames(payload)
    f1, f2 = frames[1][1], frames[2][1]
    # frame 1 shows the splash...
    assert np.array_equal(f1, pal[splash])
    # ...but frame 2 composes onto the RESTORED base canvas
    expect = pal[base].copy()
    expect[0, 0] = pal[3]
    assert np.array_equal(f2, expect)


def test_selective_decode_skips_trailing_frames():
    pal = _anim_palette()
    ok = np.full((2, 2), 1, dtype=np.uint8)
    payload = _build_gif([{"indices": ok}, {"indices": ok}], 2, 2, pal)
    # corrupt frame 1's LZW bytes (0xFF → first code 7 > next_code 6, an
    # invalid stream): decoding only frame 0 must never touch them
    info = probe_gif(payload)
    s, e = info["frames"][1]["data_span"]
    bad = bytearray(payload)
    for i in range(s + 1, e):
        bad[i] = 0xFF
    _, frames = decode_gif_frames(bytes(bad), [0])
    assert frames[0][0] == 0
    with pytest.raises(ValueError):
        decode_gif_frames(bytes(bad), [1])


# ---------------------------------------------------------------------------
# Loud gates
# ---------------------------------------------------------------------------


def test_not_a_gif_raises():
    with pytest.raises(ValueError, match="GIF87a/GIF89a"):
        probe_gif(b"\x89PNG\r\n\x1a\nnope")


def test_truncated_lzw_raises():
    bad = SPEC_GIF[:-6] + b"\x01\x44\x00\x3b"  # 1 LZW byte only
    with pytest.raises(ValueError, match="truncated"):
        decode_gif_pixels(bad)


def test_frame_index_out_of_range():
    with pytest.raises(IndexError):
        decode_gif_frames(SPEC_GIF, [5])


def test_probe_truncated_payloads_raise_by_name():
    """probe_gif's block walk must turn ANY truncation into the named
    ValueError contract, never IndexError/struct.error (r07 advice).
    Sweep every prefix of a multi-frame GIF with extensions."""
    pal = _anim_palette()
    base = np.full((4, 4), 1, dtype=np.uint8)
    patch = np.full((2, 2), 2, dtype=np.uint8)
    full = _build_gif(
        [
            {"indices": base, "gce": (1, None)},
            {"indices": patch, "left": 1, "top": 1, "gce": (2, 0)},
        ],
        4, 4, pal,
    )
    probe_gif(full)  # sanity: the untruncated payload parses
    for cut in range(6, len(full)):
        try:
            probe_gif(full[:cut])
        except ValueError:
            pass  # named contract — acceptable at any truncation point
        # any other exception type (IndexError, struct.error) fails the
        # test by propagating


# ---------------------------------------------------------------------------
# Arrow operator path + dispatch
# ---------------------------------------------------------------------------


def test_magic_dispatch_reaches_gif():
    img = np.full((2, 3, 3), 200, dtype=np.uint8)
    d = image_stats(encode_gif(img))
    assert (d["width"], d["height"]) == (3, 2) and d["mean_r"] == 200.0


def test_extract_gif_features_arrow_end_to_end(spark):
    from vector_lake_spark.multimodal import extract_image_stats

    imgs = []
    for seed in range(4):
        rng = np.random.default_rng(seed)
        pal = rng.integers(0, 256, size=(16, 3), dtype=np.uint8)
        imgs.append(pal[rng.integers(0, 16, size=(6 + seed, 9))])
    rows = [(i, bytearray(encode_gif(im))) for i, im in enumerate(imgs)]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        r["media_id"]: r
        for r in extract_image_stats(df).collect()
    }
    assert len(got) == 4
    for i, im in enumerate(imgs):
        r = got[i]
        assert (r["width"], r["height"]) == (im.shape[1], im.shape[0])
        assert abs(r["mean_r"] - im[:, :, 0].mean()) < 1e-6


def test_early_eoi_raises_never_returns_garbage():
    """A stream that EOIs before the raster is full must raise, not
    return the uninitialized tail of the output buffer (r07 review)."""
    # reuse the spec fixture's container but replace the LZW data with
    # CLEAR + EOI only: codes (4, 5) at width 3, LSB-first -> 0b101100
    bad = bytearray(SPEC_GIF)
    s, e = probe_gif(SPEC_GIF)["frames"][0]["data_span"]
    assert e - s == 4  # 1 length byte + 3 data bytes
    bad[s : e] = bytes([2, 0b00101100, 0x00])  # 2-byte sub-block
    bad[e] = 0  # block terminator shifts left by one
    with pytest.raises(ValueError, match="ended early"):
        decode_gif_pixels(bytes(bad[:-1]))


def test_large_image_decodes_in_linear_time():
    """The LZW bit reader must be windowed, not one whole-stream bigint
    (the quadratic jpeg._BitReader pathology, r07 review): a 512x512
    noise image (~200k codes) decodes in well under a second."""
    import time

    rng = np.random.default_rng(5)
    pal = rng.integers(0, 256, size=(64, 3), dtype=np.uint8)
    img = pal[rng.integers(0, 64, size=(512, 512))]
    payload = encode_gif(img)
    t0 = time.time()
    out = decode_gif_pixels(payload)
    dt = time.time() - t0
    assert np.array_equal(out, img)
    assert dt < 5.0, f"LZW decode took {dt:.1f}s — bigint quadratic is back"


# ---------------------------------------------------------------------------
# r12: LZW fast paths are pinned bit-identical to the pre-r12 references
# ---------------------------------------------------------------------------


def _lzw_encode_tuple_reference(indices, min_code_size):
    """Pre-r12 tuple-key encoder, kept verbatim as the oracle for the
    int-key rewrite (identical code stream, not just identical decode)."""
    from vector_lake_spark.gif import _MAX_CODE

    clear = 1 << min_code_size
    eoi = clear + 1
    out_bits = []
    table = {}

    def reset():
        table.clear()
        for i in range(clear):
            table[(i,)] = i
        return eoi + 1, min_code_size + 1

    next_code, code_size = reset()
    out_bits.append((clear, code_size))
    buf = ()
    for raw in indices:
        idx = int(raw)
        cand = buf + (idx,)
        if cand in table:
            buf = cand
            continue
        out_bits.append((table[buf], code_size))
        table[cand] = next_code
        next_code += 1
        if next_code == (1 << code_size) + 1 and code_size < 12:
            code_size += 1
        if next_code >= _MAX_CODE - 2:
            out_bits.append((clear, code_size))
            next_code, code_size = reset()
        buf = (idx,)
    if buf:
        out_bits.append((table[buf], code_size))
    out_bits.append((eoi, code_size))
    acc = 0
    accbits = 0
    data = bytearray()
    for value, width in out_bits:
        acc |= value << accbits
        accbits += width
        while accbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            accbits -= 8
    if accbits:
        data.append(acc & 0xFF)
    return bytes(data)


def _lzw_decode_walk_reference(data, min_code_size, n_pixels):
    """Pre-r12 parent-pointer decoder, kept verbatim as the oracle for
    the sequence-table rewrite."""
    from vector_lake_spark.gif import _MAX_CODE

    clear = 1 << min_code_size
    eoi = clear + 1
    out = np.empty(n_pixels, dtype=np.uint8)
    n_out = 0
    prefix = np.full(_MAX_CODE, -1, dtype=np.int32)
    tail = np.zeros(_MAX_CODE, dtype=np.uint8)
    first = np.zeros(_MAX_CODE, dtype=np.uint8)
    for i in range(clear):
        tail[i] = i
        first[i] = i

    def reset():
        return eoi + 1, min_code_size + 1

    next_code, code_size = reset()
    prev = -1
    acc = 0
    nbits = 0
    pos = 0
    n_data = len(data)
    scratch = np.empty(_MAX_CODE, dtype=np.uint8)
    while n_out < n_pixels:
        while nbits < code_size:
            if pos >= n_data:
                raise ValueError("truncated")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            next_code, code_size = reset()
            prev = -1
            continue
        if code == eoi:
            raise ValueError("ended early")
        if code > next_code:
            raise ValueError("corrupt")
        if code == next_code:
            if prev < 0:
                raise ValueError("KwKwK at start")
            cur_first = first[prev]
            seq_code, use_prev = prev, True
        else:
            cur_first = first[code]
            seq_code, use_prev = code, False
        n = 0
        c = seq_code
        while c >= 0:
            scratch[n] = tail[c]
            n += 1
            c = prefix[c] if c >= clear else -1
        seq = scratch[:n][::-1]
        emit_len = n + 1 if use_prev else n
        if n_out + emit_len > n_pixels:
            emit_len = n_pixels - n_out
        out[n_out : n_out + min(n, emit_len)] = seq[: min(n, emit_len)]
        if use_prev and emit_len == n + 1:
            out[n_out + n] = cur_first
        n_out += emit_len
        if prev >= 0 and next_code < _MAX_CODE:
            prefix[next_code] = prev
            tail[next_code] = cur_first
            first[next_code] = first[prev]
            next_code += 1
            if next_code == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = seq_code if not use_prev else next_code - 1
    return out


def _lzw_stream_corpus():
    """Index streams that exercise every automaton regime: tiny, runs
    (KwKwK), noise at several palette widths, and streams long enough to
    cross the width-growth ladder AND the safety-margin table reset."""
    rng = np.random.default_rng(12)
    streams = [
        (np.array([0], dtype=np.int64), 2),
        (np.zeros(1, dtype=np.int64), 2),
        (np.zeros(400, dtype=np.int64), 2),  # pure run: KwKwK chains
        (np.tile([0, 1], 300).astype(np.int64), 2),
        (rng.integers(0, 4, size=5_000).astype(np.int64), 2),
        (rng.integers(0, 16, size=20_000).astype(np.int64), 4),
        # 256-palette noise, long enough for >1 table reset at width 12
        (rng.integers(0, 256, size=60_000).astype(np.int64), 8),
        # structured: repeated phrases so the table fills with long seqs
        (np.tile(rng.integers(0, 8, size=97), 700).astype(np.int64), 3),
    ]
    return streams


def test_lzw_encode_bit_identical_to_tuple_reference():
    from vector_lake_spark.gif import _lzw_encode

    for stream, mcs in _lzw_stream_corpus():
        assert _lzw_encode(stream, mcs) == _lzw_encode_tuple_reference(
            stream, mcs
        ), (len(stream), mcs)


def test_lzw_decode_bit_identical_to_walk_reference():
    from vector_lake_spark.gif import _lzw_decode, _lzw_encode

    for stream, mcs in _lzw_stream_corpus():
        data = _lzw_encode(stream, mcs)
        got = _lzw_decode(data, mcs, len(stream))
        ref = _lzw_decode_walk_reference(data, mcs, len(stream))
        assert np.array_equal(got, ref), (len(stream), mcs)
        assert np.array_equal(got, stream.astype(np.uint8)), (
            len(stream),
            mcs,
        )


def test_lzw_decode_error_paths_unchanged():
    from vector_lake_spark.gif import _lzw_decode

    # truncated stream
    with pytest.raises(ValueError, match="truncated"):
        _lzw_decode(b"", 2, 4)
    # premature EOI: CLEAR (4) then EOI (5) at width 3, LSB-first
    with pytest.raises(ValueError, match="ended early"):
        _lzw_decode(bytes([0b00101100]), 2, 4)
    # KwKwK as the first real code: CLEAR (4) then code 6 (== next_code)
    with pytest.raises(ValueError, match="KwKwK at start"):
        _lzw_decode(bytes([0b00110100]), 2, 4)
    # code beyond next_code: CLEAR (4) then code 7 (> next_code 6)
    with pytest.raises(ValueError, match="corrupt"):
        _lzw_decode(bytes([0b00111100]), 2, 4)
