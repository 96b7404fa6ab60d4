"""WebP container (`vector_lake_spark.webp`): header probes against
hand-assembled RIFF/VP8/VP8L/VP8X fixtures built from the public spec
(independent of the repo's own r08 encoders), the VP8X chunk walk,
lossless decode dispatch, animation mux + composition, and the loud
lossy-decode gate."""

import struct

import pytest

from vector_lake_spark.multimodal import image_stats
from vector_lake_spark.webp import is_webp, probe_webp


def _riff(fourcc: bytes, body: bytes) -> bytes:
    chunk = fourcc + struct.pack("<I", len(body)) + body
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def _vp8(w: int, h: int) -> bytes:
    body = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", w, h)
    return _riff(b"VP8 ", body + b"\x00" * 8)


def _vp8l(w: int, h: int, alpha: bool) -> bytes:
    bits = (w - 1) | ((h - 1) << 14) | (int(alpha) << 28)
    return _riff(b"VP8L", b"\x2f" + bits.to_bytes(4, "little") + b"\x00" * 4)


def _vp8x(w: int, h: int, alpha: bool, anim: bool) -> bytes:
    flags = (0x10 if alpha else 0) | (0x02 if anim else 0)
    body = (
        bytes([flags]) + b"\x00\x00\x00"
        + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
    )
    return _riff(b"VP8X", body)


def test_vp8_lossy_dims():
    info = probe_webp(_vp8(640, 480))
    assert info == {
        "format": "vp8", "width": 640, "height": 480,
        "has_alpha": False, "animated": False, "n_frames": 1,
    }


def test_vp8l_lossless_dims_and_alpha():
    info = probe_webp(_vp8l(16383, 1, True))
    assert (info["format"], info["width"], info["height"]) == (
        "vp8l", 16383, 1,
    )
    assert info["has_alpha"]


def test_vp8x_extended_flags():
    info = probe_webp(_vp8x(1920, 1080, alpha=True, anim=True))
    assert (info["width"], info["height"]) == (1920, 1080)
    assert info["has_alpha"] and info["animated"]


def test_not_webp_and_corrupt():
    assert not is_webp(b"RIFF\x00\x00\x00\x00AVI LIST")
    with pytest.raises(ValueError, match="WEBP header"):
        probe_webp(b"\x00" * 32)
    bad = bytearray(_vp8(8, 8))
    bad[23] = 0x00  # break the VP8 start code
    with pytest.raises(ValueError, match="start code"):
        probe_webp(bytes(bad))


def test_decode_gates_naming_variant_and_dims():
    """VP8L decodes for real since r08; VP8 and VP8X stay named gates."""
    with pytest.raises(NotImplementedError, match="vp8,.*10x10"):
        image_stats(_vp8(10, 10))
    with pytest.raises(NotImplementedError, match="vp8x.*12x7"):
        image_stats(_vp8x(12, 7, True, False))
    # a header-only VP8L body is now CORRUPT, not unimplemented
    with pytest.raises(ValueError, match="corrupt VP8L"):
        image_stats(_vp8l(33, 9, False))


def test_decode_webp_lossless_stats_contract():
    import numpy as np

    from vector_lake_spark.vp8l import encode_webp_lossless

    px = np.zeros((4, 8, 3), dtype=np.uint8)
    px[:, :, 0] = 10
    px[:, :, 1] = 20
    px[:, :, 2] = 30
    out = image_stats(encode_webp_lossless(px))
    assert out == {
        "width": 8, "height": 4,
        "mean_r": 10.0, "mean_g": 20.0, "mean_b": 30.0,
    }


def test_image_dispatch_names_webp():
    with pytest.raises(NotImplementedError, match="vp8"):
        image_stats(_vp8(10, 10))


def test_hashing_and_stats_agree_on_webp_variants():
    """The image hash decodes through the same dispatch as the stats:
    an animated WebP hashes its first composed frame, and a lossy VP8
    still is unsupported (NotImplementedError) in both entries."""
    import numpy as np

    from vector_lake_spark.operators.imagehash import decode_image_gray
    from vector_lake_spark.webp import encode_webp_animation

    rng = np.random.default_rng(3)
    frames = [rng.integers(0, 256, (4, 6, 4), dtype=np.uint8) for _ in range(2)]
    for f in frames:
        f[:, :, 3] = 255
    payload = encode_webp_animation(frames, [10, 10], blends=[False] * 2)
    rgb = frames[0][:, :, :3].astype(np.float64)
    want = (299 * rgb[:, :, 0] + 587 * rgb[:, :, 1] + 114 * rgb[:, :, 2]) / 1000.0
    assert np.array_equal(decode_image_gray(payload), want)
    for decode in (decode_image_gray, image_stats):
        with pytest.raises(NotImplementedError, match="vp8,.*10x10"):
            decode(_vp8(10, 10))


def test_image_dispatch_decodes_lossless_webp():
    import numpy as np

    from vector_lake_spark.vp8l import encode_webp_lossless

    rng = np.random.default_rng(5)
    px = rng.integers(0, 256, (6, 9, 3), dtype=np.uint8)
    out = image_stats(encode_webp_lossless(px))
    assert (out["width"], out["height"]) == (9, 6)
    assert out["mean_r"] == round(float(px[:, :, 0].mean()), 6)


def test_vp8x_wrapped_lossless_decodes():
    """Extended-format container holding a VP8L still: the chunk walk
    finds the VP8L payload behind the VP8X header (+ an EXIF chunk to
    prove non-image chunks are skipped, with odd-size padding)."""
    import numpy as np

    from vector_lake_spark.vp8l import encode_vp8l
    from vector_lake_spark.webp import walk_webp_chunks

    rng = np.random.default_rng(23)
    px = rng.integers(0, 256, (5, 7, 3), dtype=np.uint8)
    vp8l_chunk = encode_vp8l(px, use_palette=False)
    vp8x_body = (
        b"\x00" + b"\x00\x00\x00"
        + (7 - 1).to_bytes(3, "little") + (5 - 1).to_bytes(3, "little")
    )
    exif = b"odd-length-exif-body!"  # 21 bytes -> exercises pad byte

    def chunk(fourcc, body):
        out = fourcc + struct.pack("<I", len(body)) + body
        return out + (b"\x00" if len(body) % 2 else b"")

    body = (
        b"WEBP"
        + chunk(b"VP8X", vp8x_body)
        + chunk(b"EXIF", exif)
        + chunk(b"VP8L", vp8l_chunk)
    )
    payload = b"RIFF" + struct.pack("<I", len(body)) + body
    assert [f for f, _, _ in walk_webp_chunks(payload)] == [
        b"VP8X", b"EXIF", b"VP8L",
    ]
    out = image_stats(payload)
    assert (out["width"], out["height"]) == (7, 5)
    assert out["mean_g"] == round(float(px[:, :, 1].mean()), 6)


def test_vp8x_without_decodable_still_gates_by_name():
    # VP8X without any VP8L still (e.g. lossy-only) keeps the plain gate
    with pytest.raises(NotImplementedError, match="vp8x"):
        image_stats(_vp8x(8, 8, False, False))


# ---------------------------------------------------------------------------
# Animated WebP (r08): ANIM/ANMF composition with real VP8L frames
# ---------------------------------------------------------------------------


def _np():
    import numpy as np

    return np


def test_animation_mux_probe_and_overwrite_composition():
    np = _np()
    from vector_lake_spark.webp import (
        decode_webp_frames,
        encode_webp_animation,
        probe_webp,
    )

    base = np.full((8, 8, 4), 100, dtype=np.uint8)
    base[:, :, 3] = 255
    patch = np.zeros((4, 4, 4), dtype=np.uint8)
    patch[:, :, 0] = 250
    patch[:, :, 3] = 255
    payload = encode_webp_animation(
        [base, patch],
        [40, 60],
        offsets=[(0, 0), (2, 4)],
        blends=[False, False],
        loop=3,
    )
    info = probe_webp(payload)
    assert info["format"] == "vp8x" and info["animated"]
    assert (info["width"], info["height"]) == (8, 8)
    assert info["n_frames"] == 2
    meta, frames = decode_webp_frames(payload)
    assert meta["n_frames"] == 2 and meta["loop_count"] == 3
    f0, f1 = frames[0][1], frames[1][1]
    assert (f0 == base).all()
    # frame 1 overwrites the 4x4 rect at (x=2, y=4); rest persists
    assert (f1[4:8, 2:6] == patch).all()
    assert (f1[:4, :] == base[:4, :]).all()


def test_animation_alpha_blend_and_background_disposal():
    np = _np()
    from vector_lake_spark.webp import decode_webp_frames, encode_webp_animation

    opaque = np.zeros((4, 4, 4), dtype=np.uint8)
    opaque[:, :, :3] = 200
    opaque[:, :, 3] = 255
    # half-transparent red overlay: spec formula at aD=1 reduces to
    # round(src*aS + dst*(1-aS))
    overlay = np.zeros((4, 4, 4), dtype=np.uint8)
    overlay[:, :, 0] = 100
    overlay[:, :, 3] = 127
    payload = encode_webp_animation(
        [opaque, overlay, opaque],
        [10, 10, 10],
        blends=[False, True, False],
        disposals=[False, True, False],  # dispose overlay to background
        bg=(1, 2, 3, 4),
    )
    meta, frames = decode_webp_frames(payload)
    f1 = frames[1][1]
    a_s = 127 / 255.0
    want_r = int(np.floor(100 * a_s + 200 * (1 - a_s) + 0.5))
    assert f1[0, 0, 0] == want_r
    assert f1[0, 0, 3] == 255  # blending onto opaque stays opaque
    # frame 2 overwrites the full canvas AFTER the disposal, so the
    # background fill is observable only between frames; dispose path
    # exercised via a 3rd frame smaller than the canvas
    patch = np.full((2, 2, 4), 9, dtype=np.uint8)
    payload = encode_webp_animation(
        [opaque, patch],
        [10, 10],
        offsets=[(0, 0), (0, 0)],
        blends=[False, False],
        disposals=[True, False],  # frame 0 disposes to bg before frame 1
        bg=(11, 22, 33, 44),
    )
    _, frames = decode_webp_frames(payload)
    f1 = frames[1][1]
    assert (f1[:2, :2, 0] == 9).all()  # patch drew over disposed canvas
    assert tuple(f1[3, 3]) == (11, 22, 33, 44)  # disposed region = ANIM bg


def test_animation_stats_contract_and_selective_decode():
    np = _np()
    from vector_lake_spark.webp import decode_webp_frames, encode_webp_animation

    rng = np.random.default_rng(41)
    frames = [
        rng.integers(0, 256, (6, 6, 4), dtype=np.uint8) for _ in range(4)
    ]
    for f in frames:
        f[:, :, 3] = 255
    payload = encode_webp_animation(frames, [10] * 4, blends=[False] * 4)
    # image dispatch: stats over the FIRST composed frame (GIF stance)
    out = image_stats(payload)
    assert out["mean_r"] == round(float(frames[0][:, :, 0].mean()), 6)
    # selective decode: frame 2 composes 0..2 but outputs only 2
    _, got = decode_webp_frames(payload, [2])
    assert [i for i, _ in got] == [2]
    assert (got[0][1] == frames[2]).all()
    with pytest.raises(IndexError, match="out of range"):
        decode_webp_frames(payload, [4])


def test_animation_lossy_frames_gate_by_name():
    np = _np()
    from vector_lake_spark.webp import decode_webp_frames, encode_webp_animation

    # hand-splice a fake VP8 (lossy) frame payload into an ANMF
    good = encode_webp_animation(
        [np.full((4, 4, 4), 5, dtype=np.uint8)], [10]
    )
    bad = good.replace(b"VP8L", b"VP8 ", 1)
    with pytest.raises(NotImplementedError, match="lossy VP8"):
        decode_webp_frames(bad)


def test_animation_encoder_validation_and_alpha_flag():
    """r08 review fixes: mismatched per-frame lists raise instead of
    zip-truncating; the VP8X alpha flag is set when any frame carries
    transparency (probe-based routing depends on it)."""
    np = _np()
    from vector_lake_spark.webp import encode_webp_animation

    frames = [np.zeros((4, 4, 4), np.uint8)] * 3
    with pytest.raises(ValueError, match="durations has 1"):
        encode_webp_animation(frames, [40])
    with pytest.raises(ValueError, match="blends has 2"):
        encode_webp_animation(frames, [40] * 3, blends=[True, False])
    translucent = np.zeros((4, 4, 4), np.uint8)
    translucent[:, :, 3] = 100
    from vector_lake_spark.webp import probe_webp

    assert probe_webp(encode_webp_animation([translucent], [10]))["has_alpha"]
    opaque = np.full((4, 4, 4), 255, np.uint8)
    assert not probe_webp(encode_webp_animation([opaque], [10]))["has_alpha"]


def test_animation_selective_decode_stops_early():
    """r08 review fix: requesting only early frames must not entropy-
    decode the rest of the animation (later frames cannot affect
    earlier canvases)."""
    np = _np()
    from vector_lake_spark.webp import decode_webp_frames, encode_webp_animation

    frames = [np.full((4, 4, 4), i * 10 + 5, np.uint8) for i in range(3)]
    payload = encode_webp_animation(frames, [10] * 3, blends=[False] * 3)
    # corrupt the LAST frame's VP8L stream: a frame-0 request must
    # succeed anyway, proving the loop stopped before touching it
    idx = payload.rfind(b"VP8L")
    bad = payload[: idx + 12] + b"\xff\xff" + payload[idx + 14 :]
    meta, out = decode_webp_frames(bad, [0])
    assert (out[0][1] == frames[0]).all()
    with pytest.raises(ValueError):  # sanity: the corruption is real
        decode_webp_frames(bad)


def test_animated_file_with_no_frames_raises_by_name():
    """r08 advice fix: a VP8X payload flagged animated but holding zero
    ANMF chunks must raise the module's named corrupt-input ValueError,
    not leak an IndexError out of the image dispatch's frames[0]."""
    from vector_lake_spark.webp import decode_webp_frames

    payload = _vp8x(8, 8, False, True)  # animated flag, no ANIM/ANMF
    with pytest.raises(ValueError, match="no ANMF frames"):
        decode_webp_frames(payload)
    with pytest.raises(ValueError, match="no ANMF frames"):
        image_stats(payload)
