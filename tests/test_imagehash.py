"""Perceptual hashing (`operators/imagehash`) + banded-Hamming pairs
(`operators/binary.hamming_neardup_pairs`): hash determinism across
codecs, exact box resampling, the pigeonhole-exactness of the banded
join vs a brute-force reference, and the fixture's closed-form parity
(render → encode → real decode → hash == formula)."""

import numpy as np
import pytest

from vector_lake_spark.operators.imagehash import (
    _box_resample,
    ahash64,
    decode_image_gray,
    dhash64,
    image_signatures,
)


def _rand_gray(rng, h=32, w=36):
    return rng.randint(0, 256, size=(h, w)).astype(np.uint8)


def test_box_resample_exact_on_dividing_dims():
    rng = np.random.RandomState(7)
    grid = rng.randint(0, 256, size=(8, 9)).astype(np.float64)
    up = np.kron(grid, np.ones((4, 2)))
    assert np.array_equal(_box_resample(up, 8, 9), grid)


def test_box_resample_non_dividing_shape():
    rng = np.random.RandomState(8)
    g = _rand_gray(rng, 33, 41).astype(np.float64)
    out = _box_resample(g, 8, 9)
    assert out.shape == (8, 9)
    # every cell is a mean of real pixels: inside the sample range
    assert out.min() >= g.min() and out.max() <= g.max()


def _box_resample_scalar_reference(gray, rows, cols):
    """Pre-r12 per-cell implementation, kept verbatim as the oracle for
    the vectorized non-dividing path (bit-identity, not approximation)."""
    h, w = gray.shape
    ii = np.zeros((h + 1, w + 1), dtype=np.float64)
    ii[1:, 1:] = np.cumsum(np.cumsum(gray, axis=0), axis=1)
    ys = np.linspace(0, h, rows + 1)
    xs = np.linspace(0, w, cols + 1)

    def _area(y0, y1, x0, x1):
        y0i = min(int(round(y0)), h - 1)
        x0i = min(int(round(x0)), w - 1)
        y1i = min(max(int(round(y1)), y0i + 1), h)
        x1i = min(max(int(round(x1)), x0i + 1), w)
        s = ii[y1i, x1i] - ii[y0i, x1i] - ii[y1i, x0i] + ii[y0i, x0i]
        return s / ((y1i - y0i) * (x1i - x0i))

    out = np.empty((rows, cols), dtype=np.float64)
    for r in range(rows):
        for c in range(cols):
            out[r, c] = _area(ys[r], ys[r + 1], xs[c], xs[c + 1])
    return out


def test_box_resample_vectorized_bit_identical_to_scalar_reference():
    """r12: the vectorized integral-image path must reproduce the former
    per-cell loop bit-for-bit — including upsampling geometries (image
    smaller than the grid, the clamp paths) and banker's-rounded
    boundaries."""
    rng = np.random.RandomState(12)
    shapes = [
        (33, 41, 8, 9),
        (16, 18, 32, 32),  # the pHash grid over a tiny fixture image
        (5, 7, 32, 32),  # image far smaller than the grid (clamps)
        (101, 67, 16, 17),
        (64, 64, 9, 8),  # dividing rows, non-dividing cols mix
        (2, 2, 8, 8),
        (1, 1, 8, 9),
        (250, 3, 8, 9),
    ]
    for h, w, rows, cols in shapes:
        g = rng.randint(0, 256, size=(h, w)).astype(np.float64)
        got = _box_resample(g, rows, cols)
        ref = _box_resample_scalar_reference(g, rows, cols)
        assert got.shape == ref.shape == (rows, cols), (h, w, rows, cols)
        assert np.array_equal(got, ref), (h, w, rows, cols)


def test_dhash_bit_layout():
    # strictly increasing rows -> every comparison true -> all 64 bits
    grid = np.tile(np.arange(9, dtype=np.float64) * 10, (8, 1))
    assert dhash64(grid) == -1  # all-ones in signed int64
    # strictly decreasing -> no bits; flat -> ties are 0
    assert dhash64(grid[:, ::-1]) == 0
    assert dhash64(np.full((8, 9), 5.0)) == 0
    # exactly one comparison true: row 2, x 3 -> bit 2*8+3
    g = np.full((8, 9), 50.0)
    g[2, 4] = 60.0  # g[2,4] > g[2,3] AND g[2,5] < g[2,4] (bit 2*8+4 off)
    g[2, 5] = 50.0
    got = dhash64(g)
    assert got == (1 << 19), hex(got)


def test_ahash_mean_threshold():
    g = np.full((8, 8), 10.0)
    g[0, 0] = 250.0  # one bright cell above the mean
    assert ahash64(g) == 1
    assert ahash64(np.full((8, 8), 7.0)) == 0  # flat: nothing strictly >


def test_hashes_survive_lossless_codecs_identically():
    """The same pixels through GIF and TIFF (both lossless here) must
    produce the identical signature — the hash sees pixels, not bytes."""
    from vector_lake_spark.gif import encode_gif
    from vector_lake_spark.tiff import encode_tiff

    rng = np.random.RandomState(11)
    gray = (rng.randint(0, 32, size=(16, 18)) * 8).astype(np.uint8)
    rgb = np.repeat(gray[:, :, None], 3, axis=2)
    sig_direct = dhash64(gray.astype(np.float64))
    sig_gif = dhash64(decode_image_gray(encode_gif(rgb)))
    sig_tiff = dhash64(decode_image_gray(encode_tiff(gray)))
    assert sig_direct == sig_gif == sig_tiff


def test_decode_image_gray_unknown_magic_gates():
    with pytest.raises(NotImplementedError, match="unrecognized image"):
        decode_image_gray(b"\x00\x01\x02\x03 not an image")


def test_fixture_closed_form_parity_sweep():
    """The mm_image_neardup contract: render → GIF encode → REAL decode
    → dHash must equal the oracle's closed-form signature, for a sweep
    covering every group and several members."""
    from vector_lake_spark.gif import encode_gif
    from vector_lake_spark.queries import (
        _dhash_fixture_sig,
        _render_dhash_grid,
    )

    for doc_id in list(range(40)) + [40, 85, 163, 247, 361, 499, 1234]:
        sig = _dhash_fixture_sig(doc_id)
        assert 0 <= sig < (1 << 63)  # bit 63 clear by construction
        img = np.kron(
            _render_dhash_grid(sig), np.ones((2, 2), dtype=np.uint8)
        )
        payload = encode_gif(np.repeat(img[:, :, None], 3, axis=2))
        assert dhash64(decode_image_gray(payload)) == sig


def _brute_pairs(sigs, radius):
    out = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
            if d <= radius:
                out.add((a, b, d))
    return out


@pytest.mark.parametrize("radius,n_blocks", [(3, 8), (7, 8), (1, 4)])
def test_banded_pairs_equal_brute_force(spark, radius, n_blocks):
    """radius < n_blocks ⇒ pigeonhole exactness: the banded join must
    emit exactly the brute-force pair set. Corpus is engineered to hold
    clusters at several distances plus far-apart noise."""
    from vector_lake_spark.operators.binary import hamming_neardup_pairs

    rng = np.random.RandomState(13)
    sigs = {}
    base = int(rng.randint(0, 1 << 62))
    for i in range(30):
        # clusters of ids perturbing 0..9 random bit positions
        flips = rng.choice(64, size=i % 10, replace=False)
        v = base
        for f in flips:
            v ^= 1 << int(f)
        sigs[i] = v
    for i in range(30, 60):  # independent noise
        sigs[i] = int(rng.randint(0, 1 << 63))
    want = _brute_pairs(sigs, radius)
    df = spark.createDataFrame(
        [(k, v - (1 << 64) if v >= (1 << 63) else v)
         for k, v in sigs.items()],
        "media_id long, sig long",
    )
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in hamming_neardup_pairs(
            df, radius=radius, n_blocks=n_blocks
        ).collect()
    }
    assert got == want


def test_banded_pairs_validation():
    from vector_lake_spark.operators.binary import hamming_neardup_pairs

    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_neardup_pairs(None, radius=8, n_blocks=8)


def test_image_signatures_operator(spark):
    """(id, payload) → (id, sig) through one Arrow stage; ahash and
    dhash kinds both route."""
    from vector_lake_spark.gif import encode_gif

    rng = np.random.RandomState(17)
    rows = []
    for i in range(6):
        gray = (rng.randint(0, 32, size=(16, 18)) * 8).astype(np.uint8)
        rgb = np.repeat(gray[:, :, None], 3, axis=2)
        rows.append((i, bytearray(encode_gif(rgb)), gray))
    df = spark.createDataFrame(
        [(i, p) for i, p, _ in rows], "media_id long, payload binary"
    )
    got = {
        r.media_id: r.sig
        for r in image_signatures(df, kind="dhash").collect()
    }
    for i, _p, gray in rows:
        assert got[i] == dhash64(gray.astype(np.float64))
    got_a = {
        r.media_id: r.sig
        for r in image_signatures(df, kind="ahash").collect()
    }
    for i, _p, gray in rows:
        assert got_a[i] == ahash64(gray.astype(np.float64))


@pytest.mark.parametrize("n_blocks", [8, 9, 10])
def test_block_combination_tables_equal_brute_force(spark, n_blocks):
    """The generalized Manku-style construction: any block count gives
    the IDENTICAL exact pair set — more blocks only re-shapes cost
    (C(b, b-radius) tables of wider keys)."""
    from vector_lake_spark.operators.binary import hamming_neardup_pairs

    rng = np.random.RandomState(23)
    sigs = {}
    base = int(rng.randint(0, 1 << 62))
    for i in range(40):
        flips = rng.choice(64, size=i % 9, replace=False)
        v = base
        for f in flips:
            v ^= 1 << int(f)
        sigs[i] = v
    for i in range(40, 70):
        sigs[i] = int(rng.randint(0, 1 << 63))
    want = _brute_pairs(sigs, 7)
    df = spark.createDataFrame(
        [(k, v - (1 << 64) if v >= (1 << 63) else v)
         for k, v in sigs.items()],
        "media_id long, sig long",
    )
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in hamming_neardup_pairs(
            df, radius=7, n_blocks=n_blocks
        ).collect()
    }
    assert got == want


def test_auto_hamming_blocks_rule():
    """Auto block count, calibrated to the measured ladder: minimal
    (radius+1) everywhere it was measured fastest — including 2M rows
    at radius 7 (311 s, candidate-bound but still the best shape) and
    radius 3 (6.4 s) — stepping up only past the candidate budget
    (~13 min of codegen probing), which on 64-bit signatures means
    radius ≥ 6 at ≥10M uniform rows."""
    import math

    from vector_lake_spark.operators.binary import auto_hamming_blocks

    assert auto_hamming_blocks(0, 7) == 8
    assert auto_hamming_blocks(500, 7) == 8        # sf0.01
    assert auto_hamming_blocks(200_000, 7) == 8    # measured: 6.5 s
    assert auto_hamming_blocks(2_000_000, 7) == 8  # measured: 311 s
    assert auto_hamming_blocks(2_000_000, 3) == 4  # measured: 6.4 s
    assert auto_hamming_blocks(20_000_000, 7) > 8  # past the budget
    # block count never exceeds the table cap
    b = auto_hamming_blocks(10**9, 7)
    assert math.comb(b, b - 7) <= 64


def test_apply_exif_orientation_all_cases():
    """Each of the 8 EXIF cases must invert its INVERSE_ORIENTATION
    twin exactly, and the quarter-rotations must change the shape."""
    from vector_lake_spark.operators.imagehash import (
        INVERSE_ORIENTATION,
        apply_exif_orientation,
    )

    g = np.arange(6 * 8, dtype=np.float64).reshape(6, 8)
    for o in range(1, 9):
        stored = apply_exif_orientation(g, INVERSE_ORIENTATION[o])
        if o in (5, 6, 7, 8):
            assert stored.shape == (8, 6)
        assert np.array_equal(apply_exif_orientation(stored, o), g)
    # 3-channel arrays keep their channel axis
    rgb = np.repeat(g[:, :, None], 3, axis=2)
    assert apply_exif_orientation(rgb, 6).shape == (8, 6, 3)
    with pytest.raises(ValueError, match="1..8"):
        apply_exif_orientation(g, 9)


def test_orientation_tagged_tiff_hash_pipeline():
    """The mm_image_orient contract end-to-end off-Spark: store the
    upright fixture inverse-rotated + tagged, then probe → decode →
    correct → hash must return the closed-form signature for every
    orientation."""
    from vector_lake_spark.exif import probe_exif
    from vector_lake_spark.operators.imagehash import (
        INVERSE_ORIENTATION,
        apply_exif_orientation,
    )
    from vector_lake_spark.queries import (
        _dhash_fixture_sig,
        _render_dhash_grid,
    )
    from vector_lake_spark.tiff import encode_tiff

    for doc_id in range(16):  # covers orientations 1..8 twice
        ori = doc_id % 8 + 1
        sig = _dhash_fixture_sig(doc_id)
        upright = np.kron(
            _render_dhash_grid(sig), np.ones((2, 2), dtype=np.uint8)
        )
        stored = apply_exif_orientation(upright, INVERSE_ORIENTATION[ori])
        payload = encode_tiff(np.ascontiguousarray(stored), orientation=ori)
        got_ori = probe_exif(payload)["orientation"] or 1
        assert got_ori == ori
        px = apply_exif_orientation(decode_image_gray(payload), got_ori)
        assert dhash64(px) == sig
        if ori in (5, 6, 7, 8):
            # hashing WITHOUT correction would be wrong by construction
            assert dhash64(decode_image_gray(payload)) != sig


def test_hash_of_images_smaller_than_the_grid():
    """Review fix: an image smaller than the 8x9/8x8 hash grid must
    hash (cells repeat pixels) rather than divide by zero."""
    rng = np.random.RandomState(31)
    tiny = rng.randint(0, 256, size=(4, 5)).astype(np.float64)
    assert isinstance(dhash64(tiny), int)
    assert isinstance(ahash64(tiny), int)
    assert dhash64(np.ones((1, 1))) == 0  # single pixel: all ties


def test_radius_zero_single_block_exact_dups(spark):
    """Review fix: radius 0 with the minimal single-table config keys
    on the whole signature (a 64-bit mask literal would overflow);
    result is the exact-duplicate pair set."""
    from vector_lake_spark.operators.binary import hamming_neardup_pairs

    rows = [(0, 7), (1, 7), (2, -9000000000000000000), (3, 7),
            (4, -9000000000000000000)]
    df = spark.createDataFrame(rows, "media_id long, sig long")
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in hamming_neardup_pairs(df, radius=0, n_blocks=1).collect()
    }
    assert got == {(0, 1, 0), (0, 3, 0), (1, 3, 0), (2, 4, 0)}


def test_bmp_dispatch_validates_format():
    """r10 review: non-24bpp BMPs must hit decode_bmp_pixels' named gate, not
    silently hash garbage."""
    import struct

    hdr = bytearray(b"BM" + bytes(12))
    hdr += struct.pack("<IiiHHII", 40, 4, 4, 1, 32, 0, 64)  # 32bpp
    hdr += bytes(80)
    struct.pack_into("<I", hdr, 10, 54)
    with pytest.raises(NotImplementedError, match="24-bit BMP"):
        decode_image_gray(bytes(hdr))


def _bmp24(px_rows, top_down=False):
    """Minimal 24-bit BMP from (h, w, 3) RGB rows; ``top_down`` writes
    a negative-height header with rows in top-to-bottom order."""
    import struct

    h, w, _ = px_rows.shape
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    order = px_rows if top_down else px_rows[::-1]
    for row in order:
        line = bytearray()
        for r, g, b in row:
            line += bytes([int(b), int(g), int(r)])  # BGR on disk
        line += bytes(stride - len(line))
        body += line
    hdr_h = -h if top_down else h
    header = b"BM" + struct.pack(
        "<IHHI", 54 + len(body), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, hdr_h, 1, 24, 0, len(body),
                    2835, 2835, 0, 0)
    return bytes(header + body)


def test_bmp_top_down_decodes_same_as_bottom_up():
    """r10 advice: a negative-height (top-down) BMP is well-formed per
    the spec — it must decode to the SAME pixels as its bottom-up twin,
    not raise."""
    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, size=(6, 5, 3)).astype(np.uint8)
    up = decode_image_gray(_bmp24(px, top_down=False))
    down = decode_image_gray(_bmp24(px, top_down=True))
    assert np.array_equal(up, down)
    assert up.shape == (6, 5)


def _brute_pairs_wide(sigs, radius):
    out = set()
    ids = sorted(sigs)
    m = (1 << 64) - 1
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = sum(
                bin((x ^ y) & m).count("1")
                for x, y in zip(sigs[a], sigs[b])
            )
            if d <= radius:
                out.add((a, b, d))
    return out


@pytest.mark.parametrize(
    "radius,n_blocks", [(7, 8), (3, 4), (10, 11), (1, 4), (0, 4)]
)
def test_wide_banded_pairs_equal_brute_force(spark, radius, n_blocks):
    """r11 (VERDICT r10 #4): the multi-long path must be pigeonhole-
    exact at every configuration, like the 64-bit path — including
    n_blocks > radius+1 (combination tables with array keys) and
    radius+1 < total_bits/64 (the min_blocks floor)."""
    from vector_lake_spark.operators.binary import hamming_neardup_pairs

    rng = np.random.RandomState(29)
    sigs = {}
    base = [int(rng.randint(0, 1 << 62)) for _ in range(4)]
    for i in range(25):
        flips = rng.choice(256, size=i % 13, replace=False)
        v = list(base)
        for f in flips:
            v[int(f) // 64] ^= 1 << (int(f) % 64)
        sigs[i] = v
    for i in range(25, 50):
        sigs[i] = [int(rng.randint(0, 1 << 63)) for _ in range(4)]
    want = _brute_pairs_wide(sigs, radius)
    to_signed = lambda x: x - (1 << 64) if x >= (1 << 63) else x
    df = spark.createDataFrame(
        [(k, [to_signed(x) for x in v]) for k, v in sigs.items()],
        "media_id long, sig array<long>",
    )
    rows = hamming_neardup_pairs(
        df, radius=radius, n_blocks=n_blocks, n_longs=4
    ).collect()
    got = {(r.id_a, r.id_b, r.dist) for r in rows}
    # each pair must be emitted at EXACTLY its first matching table —
    # a broken first-match residual on the array keys would duplicate
    # pairs that agree on several block combinations (review r11)
    assert len(rows) == len(got), f"{len(rows)} rows vs {len(got)} pairs"
    assert got == want


def test_wide_banded_pairs_validation():
    from vector_lake_spark.operators.binary import (
        auto_hamming_blocks,
        hamming_neardup_pairs,
    )

    with pytest.raises(ValueError, match="fit one int64"):
        hamming_neardup_pairs(None, radius=1, n_blocks=2, n_longs=4)
    with pytest.raises(ValueError, match="pigeonhole"):
        hamming_neardup_pairs(None, radius=8, n_blocks=8, n_longs=4)
    # the wide auto sizer floors at total_bits/64 even for tiny radius
    assert auto_hamming_blocks(0, 1, total_bits=256, min_blocks=4) == 4
    assert (
        auto_hamming_blocks(10**7, 7, total_bits=256, min_blocks=4) == 8
    )  # 32-bit keys: minimal survives 10M rows where 64-bit could not


def test_dhash256_from_rendered_grid():
    """A 17-wide walk grid whose comparisons encode a known 256-bit
    pattern must hash back to exactly that pattern."""
    from vector_lake_spark.operators.imagehash import dhash256

    rng = np.random.RandomState(7)
    want_bits = rng.randint(0, 2, size=256)
    grid = np.zeros((16, 17), dtype=np.uint8)
    for y in range(16):
        v = 128
        grid[y][0] = v
        for x in range(16):
            v = v + 4 if want_bits[y * 16 + x] else v - 4
            grid[y][x + 1] = v
    img = np.kron(grid, np.ones((2, 2), dtype=np.uint8))
    got = dhash256(img)
    want = []
    for j in range(4):
        v = 0
        for p in range(64):
            if want_bits[64 * j + p]:
                v |= 1 << p
        want.append(v - (1 << 64) if v >= (1 << 63) else v)
    assert got == want


def test_video_frame_signatures_operator(spark):
    """(id, payload) → (id, frame_no, sig) through one Arrow stage over
    a REAL RLE8 AVI; signatures equal hashing the decoded frames
    directly (the container round trip is lossless)."""
    from vector_lake_spark.avi import encode_avi_rle8
    from vector_lake_spark.operators.imagehash import (
        video_frame_signatures,
    )

    rng = np.random.RandomState(31)
    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    rows, want = [], {}
    for i in range(4):
        frames = [
            (rng.randint(0, 32, size=(16, 18)) * 8).astype(np.uint8)
            for _ in range(3)
        ]
        rows.append((i, bytearray(encode_avi_rle8(frames, pal, fps=5))))
        for f, fr in enumerate(frames):
            want[(i, f)] = dhash64(fr.astype(np.float64))
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    got = {
        (r.media_id, r.frame_no): r.sig
        for r in video_frame_signatures(df).collect()
    }
    assert got == want


def test_video_signature_dispatch_gates_unknown():
    from vector_lake_spark.operators.imagehash import (
        decode_video_frames_gray,
    )

    with pytest.raises(NotImplementedError, match="unrecognized video"):
        decode_video_frames_gray(b"\x00\x01not a container", [0])


def test_video_fixture_threshold_is_exercised():
    """The ≥2-of-3 video threshold must have both sides at oracle
    scale: half-distance-1 members match all 3 frames; half-distance-2
    members produce a frame-0-only match that the video aggregate
    rejects."""
    from vector_lake_spark.queries import _video_fixture_sig

    def dist(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")

    g = 7
    # members with half-index 0, 1, 2 in group g: doc_ids g, g+2*40, g+4*40
    m0, m1, m2 = g, g + 2 * 40, g + 4 * 40
    d01 = [dist(_video_fixture_sig(m0, f), _video_fixture_sig(m1, f))
           for f in range(3)]
    d02 = [dist(_video_fixture_sig(m0, f), _video_fixture_sig(m2, f))
           for f in range(3)]
    assert d01 == [3, 4, 5]          # all three frames match at r=7
    assert d02 == [6, 8, 10]         # only frame 0 matches — video rejected


def test_video_shorter_than_sampling_plan_is_data():
    """r11 review follow-through: a 2-frame clip sampled at (0, 1, 2)
    yields its 2 real frames instead of IndexError — clip length
    variation is data at crawl scale, not corruption."""
    from vector_lake_spark.avi import encode_avi_rle8
    from vector_lake_spark.operators.imagehash import (
        decode_video_frames_gray,
    )

    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    frames = [
        np.full((8, 10), 50, dtype=np.uint8),
        np.full((8, 10), 90, dtype=np.uint8),
    ]
    payload = encode_avi_rle8(frames, pal, fps=5)
    got = decode_video_frames_gray(payload, [0, 1, 2])
    assert [f for f, _ in got] == [0, 1]
    assert np.allclose(got[0][1], 50.0) and np.allclose(got[1][1], 90.0)


def test_grouped_banded_pairs_never_cross_groups(spark):
    """group_cols (r11): pairs match only within the same group, the
    group rides to the output, and per-group results equal the
    per-group brute force — one keyed join, no per-group plan legs."""
    from vector_lake_spark.operators.binary import hamming_neardup_pairs

    rng = np.random.RandomState(41)
    rows, per_group = [], {0: {}, 1: {}}
    base = int(rng.randint(0, 1 << 62))
    for grp in (0, 1):
        for i in range(25):
            flips = rng.choice(64, size=i % 9, replace=False)
            v = base if grp == 0 else base ^ ((1 << 40) - 1)
            for f in flips:
                v ^= 1 << int(f)
            per_group[grp][i] = v
            rows.append(
                (grp, i, v - (1 << 64) if v >= (1 << 63) else v)
            )
    df = spark.createDataFrame(rows, "grp int, media_id long, sig long")
    got = {
        (r.grp, r.id_a, r.id_b, r.dist)
        for r in hamming_neardup_pairs(
            df, radius=7, n_blocks=8, group_cols=["grp"]
        ).collect()
    }
    want = set()
    for grp in (0, 1):
        for a, b, d in _brute_pairs(per_group[grp], 7):
            want.add((grp, a, b, d))
    assert got == want
    # cross-group leakage would show as pairs whose sigs come from
    # different bases ~32 bits apart — structurally absent above, but
    # assert the group column semantics directly too
    assert all(g in (0, 1) for g, *_ in got)


def test_grouped_wide_pairs_compose(spark):
    """group_cols × n_longs are orthogonal knobs: grouped 4-long
    signatures match within groups only and equal per-group brute
    force."""
    from vector_lake_spark.operators.binary import hamming_neardup_pairs

    rng = np.random.RandomState(47)
    rows, per_group = [], {0: {}, 1: {}}
    base = [int(rng.randint(0, 1 << 62)) for _ in range(4)]
    for grp in (0, 1):
        gbase = list(base) if grp == 0 else [x ^ 0xFFFF for x in base]
        for i in range(18):
            flips = rng.choice(256, size=i % 11, replace=False)
            v = list(gbase)
            for f in flips:
                v[int(f) // 64] ^= 1 << (int(f) % 64)
            per_group[grp][i] = v
            to_signed = lambda x: x - (1 << 64) if x >= (1 << 63) else x
            rows.append((grp, i, [to_signed(x) for x in v]))
    df = spark.createDataFrame(
        rows, "grp int, media_id long, sig array<long>"
    )
    got = {
        (r.grp, r.id_a, r.id_b, r.dist)
        for r in hamming_neardup_pairs(
            df, radius=7, n_blocks=8, n_longs=4, group_cols=["grp"]
        ).collect()
    }
    want = set()
    for grp in (0, 1):
        for a, b, d in _brute_pairs_wide(per_group[grp], 7):
            want.add((grp, a, b, d))
    assert got == want


def test_video_frame_signatures_wide_kind(spark):
    from vector_lake_spark.avi import encode_avi_rle8
    from vector_lake_spark.operators.imagehash import (
        dhash256,
        video_frame_signatures,
    )

    rng = np.random.RandomState(67)
    pal = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
    frames = [
        (rng.randint(0, 32, size=(32, 34)) * 8).astype(np.uint8)
        for _ in range(2)
    ]
    df = spark.createDataFrame(
        [(0, bytearray(encode_avi_rle8(frames, pal, fps=5)))],
        "media_id long, payload binary",
    )
    got = {
        (r.media_id, r.frame_no): list(r.sig)
        for r in video_frame_signatures(
            df, frame_indices=(0, 1), kind="dhash256"
        ).collect()
    }
    for f, fr in enumerate(frames):
        assert got[(0, f)] == dhash256(fr.astype(np.float64))


# ---------------------------------------------------------------------------
# DCT pHash (r12, VERDICT r11 #5)
# ---------------------------------------------------------------------------


def test_phash_fixture_exhaustive_parity_and_margin():
    """The mm_image_phash contract, pinned over the WHOLE finite
    fixture domain (40 groups × depths through saturation): render →
    2× upscale → REAL box downsample + DCT → hash equals the
    closed-form signature, and every AC coefficient clears the mean
    threshold by a wide margin (uint8 rounding perturbs an orthonormal
    coefficient by ≪ 1, so the strict comparisons can never flip —
    this is the guarantee that lets the oracle stay closed-form at any
    sf)."""
    from vector_lake_spark.operators.imagehash import _DCT32, phash64
    from vector_lake_spark.queries import (
        _phash_fixture_sig,
        _render_phash_grid,
    )

    min_margin = 1e9
    for g in range(40):
        for h in (0, 1, 2, 3, 5, 8, 15, 16, 20, 31, 62):
            sig = _phash_fixture_sig(g + 40 * (2 * h))
            grid = _render_phash_grid(sig)
            img = np.kron(grid, np.ones((2, 2), dtype=np.uint8))
            assert phash64(img) == sig
            low = (_DCT32 @ grid.astype(np.float64) @ _DCT32.T)[:8, :8]
            ac = low.reshape(-1)[1:]
            min_margin = min(min_margin, np.abs(ac - ac.mean()).min())
    assert min_margin > 5.0, min_margin


def test_phash_through_real_codec_roundtrip():
    from vector_lake_spark.gif import encode_gif
    from vector_lake_spark.operators.imagehash import (
        decode_image_gray,
        phash64,
    )
    from vector_lake_spark.queries import (
        _phash_fixture_sig,
        _render_phash_grid,
    )

    for doc_id in (0, 17, 43, 85, 1234):
        sig = _phash_fixture_sig(doc_id)
        img = np.kron(
            _render_phash_grid(sig), np.ones((2, 2), dtype=np.uint8)
        )
        payload = encode_gif(np.repeat(img[:, :, None], 3, axis=2))
        assert phash64(decode_image_gray(payload)) == sig


def _smooth_test_image():
    """A deterministic natural-ish image: a few low-frequency waves +
    mild texture noise, well inside [0, 255]."""
    rng = np.random.RandomState(29)
    y, x = np.mgrid[0:128, 0:128]
    img = (
        128
        + 40 * np.cos(2 * np.pi * x / 64)
        + 30 * np.sin(2 * np.pi * y / 80)
        + 20 * np.cos(2 * np.pi * (x + y) / 48)
        + rng.normal(0, 4, size=(128, 128))
    )
    return np.clip(img, 0, 255).astype(np.uint8)


def test_phash_is_gain_invariant_and_gamma_robust():
    """The robustness the DCT hash buys over dHash: mean-thresholding
    makes a global gain change a no-op, and a monotone tone curve
    (gamma) perturbs the low-frequency ORDERING only slightly."""
    from vector_lake_spark.operators.imagehash import phash64

    img = _smooth_test_image().astype(np.float64)
    assert phash64(img * 0.5) == phash64(img)
    assert phash64(img * 1.7) == phash64(img)
    for gamma in (0.7, 1.4):
        curved = 255.0 * (img / 255.0) ** gamma
        d = bin(
            (phash64(curved) ^ phash64(img)) & ((1 << 64) - 1)
        ).count("1")
        assert d <= 6, (gamma, d)


def test_phash_survives_jpeg_recompression():
    """Recompress leg: a quality-75 4:2:0 JPEG round trip moves the
    pHash only a few bits — the near-dup property the radius-4 query
    relies on for real re-encoded images."""
    from vector_lake_spark.jpeg import decode_jpeg_pixels, encode_jpeg
    from vector_lake_spark.operators.imagehash import phash64

    img = _smooth_test_image()
    recoded = decode_jpeg_pixels(
        encode_jpeg(img, quality=75, subsample=True)
    )
    d = bin(
        (phash64(np.asarray(recoded)) ^ phash64(img)) & ((1 << 64) - 1)
    ).count("1")
    assert d <= 4, d


def test_phash_rejects_unrelated_images():
    from vector_lake_spark.operators.imagehash import phash64
    from vector_lake_spark.queries import (
        _phash_fixture_sig,
        _render_phash_grid,
    )

    a = phash64(_render_phash_grid(_phash_fixture_sig(0)))
    b = phash64(_render_phash_grid(_phash_fixture_sig(1)))
    assert bin((a ^ b) & ((1 << 64) - 1)).count("1") > 4


def test_phash_bit63_wraps_through_arrow_stage(spark):
    """Review r12: bit 63 (coefficient (7,7) > AC mean) is set on ~half
    of natural images; the hash must wrap two's-complement like every
    other hasher or the Arrow int64 cast overflows. Pin a payload that
    sets it and push it through the REAL operator."""
    from vector_lake_spark.gif import encode_gif
    from vector_lake_spark.operators.imagehash import (
        image_signatures,
        phash64,
    )

    rng = np.random.RandomState(0)
    img = None
    for _ in range(50):
        cand = rng.randint(0, 256, size=(32, 32)).astype(np.uint8)
        if phash64(cand) < 0:  # bit 63 set -> wrapped negative
            img = cand
            break
    assert img is not None, "no bit-63 image found in 50 draws"
    sig = phash64(img)
    assert -(1 << 63) <= sig < 0
    df = spark.createDataFrame(
        [(1, bytearray(encode_gif(np.repeat(img[:, :, None], 3, axis=2))))],
        "media_id long, payload binary",
    )
    got = image_signatures(df, kind="phash").collect()
    assert got[0].sig == sig
