"""Independent-encoder interop fixtures for the DCT codecs (r06
verdict #2).

Every other JPEG/AVI exactness test decodes bytes produced by THIS
repo's encoders — a bug shared by both ends would be invisible. The
fixtures here are hand-assembled byte streams derived ONLY from the
public specs (ITU-T T.81 / ISO 10918-1 for JPEG segment layout, Huffman
coding and coefficient coding; the JFIF / ITU-R BT.601 color transform;
the Microsoft RIFF/AVI container layout). Nothing in this file imports
``encode_jpeg`` or ``encode_avi_mjpeg``; the expected pixel values are
computed inline from the spec's own arithmetic (DC-only IDCT is
``dequantized_DC / 8`` for an orthonormal 8-point DCT; the BT.601
inverse transform with the JFIF constants), NOT from repo code.

The Huffman tables are tiny hand-rolled canonical tables carried in the
fixture's own DHT segments (any valid prefix code is a legal DHT — the
decoder must build its tables from the file, exactly what an
independent encoder would force it to do; the repo encoder happens to
write different tables, which is the point).
"""

from __future__ import annotations

import struct

import numpy as np
import pytest

from vector_lake_spark.avi import decode_avi_frames, probe_avi
from vector_lake_spark.jpeg import decode_jpeg_pixels
from vector_lake_spark.multimodal import image_stats

# ---------------------------------------------------------------------------
# JPEG fixture assembly (ITU-T T.81 Annex B segment layout)
# ---------------------------------------------------------------------------


def _seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", len(body) + 2) + body


# DQT: 8-bit table 0, every entry 16 (zigzag order irrelevant for a
# constant table).
_DQT = _seg(0xDB, bytes([0x00]) + bytes([16] * 64))

# DHT, DC table 0: categories 0..3, all code length 2 → canonical codes
# 00, 01, 10, 11 (T.81 C.2: codes assigned in value order within
# ascending code length).
_DHT_DC = _seg(0xC4, bytes([0x00]) + bytes([0, 4] + [0] * 14) + bytes([0, 1, 2, 3]))

# DHT, AC table 0: the single symbol 0x00 (EOB) at code length 1 → "0".
_DHT_AC = _seg(0xC4, bytes([0x10]) + bytes([1] + [0] * 15) + bytes([0x00]))


def _sof0(w: int, h: int, comps: list[tuple[int, int, int]]) -> bytes:
    body = struct.pack(">BHHB", 8, h, w, len(comps))
    for cid, hv, tq in comps:
        body += bytes([cid, hv, tq])
    return _seg(0xC0, body)


def _sos(comps: list[tuple[int, int]]) -> bytes:
    body = bytes([len(comps)])
    for cid, tdta in comps:
        body += bytes([cid, tdta])
    body += bytes([0, 63, 0])  # Ss, Se, Ah/Al
    return _seg(0xDA, body)


def _gray_dc_jpeg(scan: bytes) -> bytes:
    """8x8 grayscale baseline JPEG whose single block is the given
    hand-coded entropy segment."""
    return (
        b"\xff\xd8"
        + _DQT
        + _sof0(8, 8, [(1, 0x11, 0)])
        + _DHT_DC
        + _DHT_AC
        + _sos([(1, 0x00)])
        + scan
        + b"\xff\xd9"
    )


# Scan for quantized DC diff = +4: category 3 → code "11", amplitude
# bits "100" (T.81 F.1.2.1: positive v encodes as v in `size` bits),
# EOB "0"; 6 bits padded with 1s → 0b11100011.
_GRAY_DC4 = _gray_dc_jpeg(bytes([0b11100011]))
# Scan for DC diff = +7: "11" + "111" + EOB "0" + pad "11" → 0b11111011.
_GRAY_DC7 = _gray_dc_jpeg(bytes([0b11111011]))


def _dc_only_pixel(dc_quantized: int, qstep: int = 16) -> int:
    """Spec arithmetic for a DC-only block: the 2-D IDCT of a lone DC
    coefficient is flat at ``dc * C0 * C0`` with C0 = 1/sqrt(8) per
    axis → dc/8, then the +128 level shift (T.81 A.3.1/A.3.3)."""
    return int(round(dc_quantized * qstep / 8.0 + 128.0))


def test_jpeg_interop_grayscale_dc_only():
    px = decode_jpeg_pixels(_GRAY_DC4)
    assert px.shape == (8, 8) and px.dtype == np.uint8
    assert np.all(px == _dc_only_pixel(4))  # 4*16/8 + 128 = 136

    px7 = decode_jpeg_pixels(_GRAY_DC7)
    assert np.all(px7 == _dc_only_pixel(7))  # 7*16/8 + 128 = 142


# Color fixture: 4:4:4, three DC-only components sharing the hand
# tables. Scan bits: Y diff 0 → "00"+"0"; Cb diff +2 → "10"+"10"+"0";
# Cr diff −2 → "10"+"01"+"0" (negative v encodes the low `size` bits of
# v−1, T.81 F.1.2.1) → 000 10100 10010 + pad "111" → 0x14 0x97.
_COLOR_444 = (
    b"\xff\xd8"
    + _DQT
    + _sof0(8, 8, [(1, 0x11, 0), (2, 0x11, 0), (3, 0x11, 0)])
    + _DHT_DC
    + _DHT_AC
    + _sos([(1, 0x00), (2, 0x00), (3, 0x00)])
    + bytes([0x14, 0x97])
    + b"\xff\xd9"
)


def test_jpeg_interop_color_444_dc_only():
    # spec-side expectation: Y=128, Cb=132, Cr=124 flat planes, then the
    # JFIF (BT.601) inverse transform with round + clip
    y, cb, cr = 128.0, float(_dc_only_pixel(2)), float(_dc_only_pixel(-2))
    assert (cb, cr) == (132.0, 124.0)
    exp_r = int(np.clip(round(y + 1.402 * (cr - 128.0)), 0, 255))
    exp_g = int(
        np.clip(
            round(y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)),
            0,
            255,
        )
    )
    exp_b = int(np.clip(round(y + 1.772 * (cb - 128.0)), 0, 255))

    px = decode_jpeg_pixels(_COLOR_444)
    assert px.shape == (8, 8, 3) and px.dtype == np.uint8
    assert np.all(px[:, :, 0] == exp_r)
    assert np.all(px[:, :, 1] == exp_g)
    assert np.all(px[:, :, 2] == exp_b)

    stats = image_stats(_COLOR_444)
    assert (stats["width"], stats["height"]) == (8, 8)
    assert stats["mean_r"] == float(exp_r)


def test_jpeg_interop_rejects_truncated_fixture():
    with pytest.raises(Exception):
        decode_jpeg_pixels(_GRAY_DC4[:-4] )


# ---------------------------------------------------------------------------
# AVI fixture assembly (Microsoft RIFF/AVI layout, all little-endian)
# ---------------------------------------------------------------------------


def _chunk(fourcc: bytes, body: bytes) -> bytes:
    pad = b"\x00" if len(body) % 2 else b""
    return fourcc + struct.pack("<I", len(body)) + body + pad


def _rlist(list_type: bytes, body: bytes) -> bytes:
    return _chunk(b"LIST", list_type + body)


def _mjpeg_avi(frames: list[bytes], fps: int, w: int, h: int) -> bytes:
    avih = struct.pack(
        "<14I",
        1_000_000 // fps,  # dwMicroSecPerFrame
        0, 0, 0,           # max bytes/sec, padding, flags (no idx1)
        len(frames), 0, 1, 0,
        w, h,
        0, 0, 0, 0,        # dwReserved[4]
    )
    strh = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, len(frames), 0, 0, 0)
        + struct.pack("<4h", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0)
    hdrl = _rlist(
        b"hdrl",
        _chunk(b"avih", avih)
        + _rlist(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi = _rlist(b"movi", b"".join(_chunk(b"00dc", f) for f in frames))
    return _chunk(b"RIFF", b"AVI " + hdrl + movi)


def test_avi_interop_mjpeg_two_frames():
    avi = _mjpeg_avi([_GRAY_DC4, _GRAY_DC7], fps=5, w=8, h=8)

    info = probe_avi(avi)
    assert info["n_frames"] == 2
    assert (info["width"], info["height"]) == (8, 8)
    assert info["fps"] == 5.0
    assert info["duration_ms"] == 400

    _, frames = decode_avi_frames(avi)
    assert [i for i, _ in frames] == [0, 1]
    assert np.all(frames[0][1] == _dc_only_pixel(4))
    assert np.all(frames[1][1] == _dc_only_pixel(7))

    # selective decode touches only the sampled frame
    _, only1 = decode_avi_frames(avi, [1])
    assert len(only1) == 1 and np.all(only1[0][1] == _dc_only_pixel(7))
