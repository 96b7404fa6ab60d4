"""VP8L (lossless WebP) codec — pure stdlib/numpy implementation of the
public WebP Lossless Bitstream Specification (RFC 9649).

r07 named WebP "the most common crawl image format the repo probes but
cannot decode". VP8L is the lossless half of that gate, and unlike VP8
(a boolean-coder intra video frame) it is a canonical-prefix-code +
LZ77 + transform format — fully implementable here, like GIF's LZW and
JPEG's Huffman before it. This module closes the gate for real:

Decoder (`decode_vp8l`) — the COMPLETE bitstream:
- LSB-first bit reading with a refillable 64-bit window (the r07 GIF
  lesson: no big-int shifting, no quadratic reader).
- Canonical prefix codes, both "simple" (1-2 symbol) and "normal"
  (code-length-coded with the 16/17/18 repeat codes, the
  kCodeLengthCodeOrder permutation, and the max_symbol early stop).
  Codes are read MSB-of-code-first, DEFLATE's convention, which is
  also VP8L's.
- Color cache (hash 0x1e35a7bd, 1..11 bits), LZ77 backrefs with the
  120-entry 2D distance-mapping table, meta prefix groups (entropy
  image selecting per-tile code groups).
- All four transforms, inverted in reverse bitstream order: predictor
  (14 modes, per-tile, the exact edge rules — including the top-right
  wrap to the current row's leftmost pixel that falls out of flat
  addressing), cross-color (signed fixed-point 3.5 deltas), subtract
  green, and color indexing (delta-coded palette + sub-byte pixel
  bundling for <=16 colors).

Encoder (`encode_vp8l`) — a correct, deterministic subset: literal
pixels under real histogram-built canonical prefix codes (length-limited
Huffman, code-length-coded emission), with either the subtract-green
transform or the color-indexing transform (palette, bundled when <=16
colors; picked automatically). No LZ77 and no color cache on the encode
side — those paths are exercised by spec-derived hand-assembled fixtures
in tests/test_vp8l.py. Constant channels cost 0 bits/pixel (single-symbol
codes), so the output is compact enough to be honest, and every encoded
stream decodes bit-exactly (`tests/test_vp8l.py` round-trip sweeps;
`mm_webp_roundtrip` proves it inside the driver's oracle hash at table
scale).

The reference repo (msoedov/vector_lake) has no media surface at all —
this module is part of the beyond-reference multimodal family
(SURVEY.md north-star extensions), sitting beside jpeg.py / gif.py /
avi.py / mp4.py / mkv.py.
"""

from __future__ import annotations

import numpy as np

# code-length symbols are transmitted in this fixed order (RFC 9649)
CODE_LENGTH_ORDER = (
    17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15,
)

# 2D distance mapping: LZ77 distance codes 1..120 address a pixel
# neighborhood (dx, dy) instead of a linear offset (RFC 9649 §4.4.2.2)
DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)

CACHE_MULT = 0x1E35A7BD  # color-cache hash multiplier (RFC 9649 §4.4.2.3)


# ---------------------------------------------------------------------------
# Bit I/O — LSB-first within each byte, 64-bit refill window
# ---------------------------------------------------------------------------


class BitReader:
    __slots__ = ("data", "byte_pos", "buf", "bits")
    fast = False  # decode dispatch: per-bit walk (the r12 reference path)

    def __init__(self, data: bytes):
        self.data = data
        self.byte_pos = 0
        self.buf = 0
        self.bits = 0

    def read(self, n: int) -> int:
        if n == 0:
            return 0
        if self.bits < n:
            # refill up to 56 bits so buf stays a machine-word-sized int
            data, pos = self.data, self.byte_pos
            buf, bits = self.buf, self.bits
            end = len(data)
            while bits <= 56 and pos < end:
                buf |= data[pos] << bits
                pos += 1
                bits += 8
            self.buf, self.bits, self.byte_pos = buf, bits, pos
            if self.bits < n:
                raise ValueError("corrupt VP8L: bitstream exhausted")
        v = self.buf & ((1 << n) - 1)
        self.buf >>= n
        self.bits -= n
        return v


class _FastBitReader:
    """LSB-first reader over the whole chunk with O(1) random-access
    reads (r13, guide §4.2 — the jpeg.py window-LUT pattern adapted to
    VP8L's LSB-first bit order): a read fetches 4 bytes at the cursor's
    byte and shifts, instead of maintaining an incremental refill
    window; prefix codes decode through a per-code LUT in ONE probe
    (``PrefixCode.read``) instead of a dict lookup per bit. Error
    contract identical to ``BitReader``: reading past the real end
    raises the same "bitstream exhausted". Memory is O(1) — no window
    list is materialized (the jpeg.py ADVICE lesson)."""

    __slots__ = ("data", "p", "nbits")
    fast = True  # decode dispatch: window-LUT path

    def __init__(self, data: bytes):
        self.data = data + b"\x00\x00\x00\x00"  # pad so 4-byte fetches work
        self.p = 0
        self.nbits = len(data) * 8

    def read(self, n: int) -> int:
        # n <= 18 everywhere in the format (largest: distance-code
        # extra bits); 4 bytes cover s + n <= 7 + 18 < 32 bits
        p = self.p
        if p + n > self.nbits:
            raise ValueError("corrupt VP8L: bitstream exhausted")
        i = p >> 3
        v = (
            int.from_bytes(self.data[i : i + 4], "little") >> (p & 7)
        ) & ((1 << n) - 1)
        self.p = p + n
        return v


class BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, n: int, v: int) -> None:
        self.acc |= (v & ((1 << n) - 1)) << self.nbits
        self.nbits += n
        while self.nbits >= 8:
            self.out.append(self.acc & 0xFF)
            self.acc >>= 8
            self.nbits -= 8

    def write_code(self, length: int, code: int) -> None:
        """Emit a canonical prefix code, MSB of the code first."""
        for i in range(length - 1, -1, -1):
            self.write(1, (code >> i) & 1)

    def write_bits_vec(self, vals, lens) -> None:
        """Append many variable-length fields in one vectorized pass
        (r13, guide §4.2 — the jpeg.py ``_pack_codes`` pattern in VP8L's
        LSB-first bit order): field i contributes its low ``lens[i]``
        bits of ``vals[i]``, LSB first — i.e. a canonical prefix code
        must be passed BIT-REVERSED. Byte-identical to the equivalent
        sequence of ``write`` calls (pinned in tests/test_vp8l.py)."""
        lens = np.asarray(lens, dtype=np.int64)
        vals = np.asarray(vals, dtype=np.int64)
        total = int(lens.sum())
        if total == 0:
            return
        offs = np.concatenate([[0], np.cumsum(lens)[:-1]]) + self.nbits
        bits = np.zeros(self.nbits + total, dtype=np.uint8)
        for j in range(self.nbits):  # current partial byte, LSB-first
            bits[j] = (self.acc >> j) & 1
        for j in range(int(lens.max(initial=0))):
            m = lens > j
            bits[offs[m] + j] = (vals[m] >> j) & 1
        packed = np.packbits(bits, bitorder="little")
        nbits_all = self.nbits + total
        nfull = nbits_all // 8
        self.out += packed[:nfull].tobytes()
        rem = nbits_all % 8
        self.acc = int(packed[nfull]) & ((1 << rem) - 1) if rem else 0
        self.nbits = rem

    def getvalue(self) -> bytes:
        if self.nbits:
            self.out.append(self.acc & 0xFF)
            self.acc = 0
            self.nbits = 0
        return bytes(self.out)


# ---------------------------------------------------------------------------
# Canonical prefix codes
# ---------------------------------------------------------------------------


def _canonical_codes(lengths) -> dict:
    """{symbol: (length, code)} under the canonical (DEFLATE) rule:
    shorter codes first, ties by symbol order."""
    max_len = max(lengths)
    bl_count = [0] * (max_len + 1)
    for ln in lengths:
        if ln:
            bl_count[ln] += 1
    code = 0
    next_code = [0] * (max_len + 2)
    for ln in range(1, max_len + 1):
        code = (code + bl_count[ln - 1]) << 1
        next_code[ln] = code
    out = {}
    for sym, ln in enumerate(lengths):
        if ln:
            out[sym] = (ln, next_code[ln])
            next_code[ln] += 1
    return out


class PrefixCode:
    """Decoder-side canonical prefix code. A code with exactly one
    used symbol reads ZERO bits per the spec's trivial-code rule; any
    other code must be complete (Kraft sum exactly 1)."""

    __slots__ = ("single", "map", "max_len", "lut_sym", "lut_len")

    def __init__(self, lengths):
        used = [(ln, s) for s, ln in enumerate(lengths) if ln > 0]
        if not used:
            raise ValueError("corrupt VP8L: prefix code with no symbols")
        if len(used) == 1:
            self.single = used[0][1]
            self.map = None
            self.max_len = 0
            self.lut_sym = self.lut_len = None
            return
        self.single = None
        kraft = sum(2.0 ** -ln for ln, _ in used)
        if abs(kraft - 1.0) > 1e-9:
            raise ValueError(
                f"corrupt VP8L: prefix code not complete (Kraft {kraft:g})"
            )
        codes = _canonical_codes(lengths)
        self.map = {(ln, code): s for s, (ln, code) in codes.items()}
        self.max_len = max(ln for ln, _ in used)
        self.lut_sym = self.lut_len = None  # built lazily on first fast read

    def _build_lut(self) -> None:
        """2^max_len-entry (symbol, length) LUT keyed by the next
        max_len stream bits (r13): canonical codes are read MSB-of-code
        first while the stream is LSB-first, so code c of length L
        matches every window whose low L bits are bit-reversed(c); the
        remaining high bits are free (stride 2^L fill). Sized to
        max_len (<= 15 per the spec), not 16, so tiny fixture codes
        build tiny LUTs."""
        size = 1 << self.max_len
        sym = np.zeros(size, dtype=np.int32)
        ln_arr = np.zeros(size, dtype=np.int32)
        for (length, code), s in self.map.items():
            rev = int(f"{code:0{length}b}"[::-1], 2)
            idx = rev + (np.arange(size >> length) << length)
            sym[idx] = s
            ln_arr[idx] = length
        self.lut_sym = sym.tolist()
        self.lut_len = ln_arr.tolist()

    def read(self, br) -> int:
        if self.single is not None:
            return self.single
        if br.fast:
            if self.lut_len is None:
                self._build_lut()
            p = br.p
            i = p >> 3
            w = (
                int.from_bytes(br.data[i : i + 4], "little") >> (p & 7)
            ) & ((1 << self.max_len) - 1)
            L = self.lut_len[w]
            if L == 0 or p + L > br.nbits:
                # parity with the per-bit walk: exhausted beats invalid
                # when the stream ends before the walk could finish
                need = L if L else self.max_len
                if p + need > br.nbits:
                    raise ValueError("corrupt VP8L: bitstream exhausted")
                raise ValueError("corrupt VP8L: invalid prefix code bits")
            br.p = p + L
            return self.lut_sym[w]
        code = 0
        length = 0
        m = self.map
        while True:
            code = (code << 1) | br.read(1)
            length += 1
            sym = m.get((length, code))
            if sym is not None:
                return sym
            if length >= self.max_len:
                raise ValueError("corrupt VP8L: invalid prefix code bits")


# lengths-keyed PrefixCode cache (r13): a corpus of same-structured
# images repeats the same canonical code shapes, and for tiny images
# the canonical-code + LUT construction dominates decode. The cache
# holds code METADATA only (the same class as the jpeg Huffman-LUT
# cache), keyed by the full lengths vector; bounded by a clear-on-full
# cap so adversarial corpora cannot grow it without bound.
_PREFIX_CODE_CACHE: dict = {}
_PREFIX_CODE_CACHE_CAP = 4096


def _prefix_code(lengths: list) -> PrefixCode:
    key = tuple(lengths)
    hit = _PREFIX_CODE_CACHE.get(key)
    if hit is None:
        hit = PrefixCode(lengths)
        if len(_PREFIX_CODE_CACHE) >= _PREFIX_CODE_CACHE_CAP:
            _PREFIX_CODE_CACHE.clear()
        _PREFIX_CODE_CACHE[key] = hit
    return hit


def _read_prefix_code(br: BitReader, alphabet_size: int) -> PrefixCode:
    if br.read(1):  # simple code: 1 or 2 symbols given directly
        num_symbols = br.read(1) + 1
        first_8bit = br.read(1)
        sym0 = br.read(8 if first_8bit else 1)
        lengths = [0] * alphabet_size
        if sym0 >= alphabet_size:
            raise ValueError("corrupt VP8L: simple-code symbol out of range")
        lengths[sym0] = 1
        if num_symbols == 2:
            sym1 = br.read(8)
            if sym1 >= alphabet_size:
                raise ValueError(
                    "corrupt VP8L: simple-code symbol out of range"
                )
            lengths[sym1] = 1
        return _prefix_code(lengths)
    # normal: code lengths are themselves prefix-coded
    num_cl = br.read(4) + 4
    cl_lengths = [0] * 19
    for i in range(num_cl):
        cl_lengths[CODE_LENGTH_ORDER[i]] = br.read(3)
    cl_code = PrefixCode(cl_lengths)
    if br.read(1):  # explicit symbol budget
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev = 8
    i = 0
    while i < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        c = cl_code.read(br)
        if c < 16:
            lengths[i] = c
            i += 1
            if c:
                prev = c
        elif c == 16:
            rep = 3 + br.read(2)
            for _ in range(rep):
                if i < alphabet_size:
                    lengths[i] = prev
                    i += 1
        elif c == 17:
            i += 3 + br.read(3)
        else:
            i += 11 + br.read(7)
    return _prefix_code(lengths)


def _lz77_value(code: int, br: BitReader) -> int:
    """Inverse of the LZ77 prefix coding for lengths and distance codes."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


# ---------------------------------------------------------------------------
# Entropy-coded image decode
# ---------------------------------------------------------------------------


def _decode_entropy_image(
    br: BitReader, xs: int, ys: int, level0: bool
) -> np.ndarray:
    """Decode one entropy-coded image of xs*ys ARGB pixels (flat
    uint32). Level-0 (the main image) additionally carries the meta
    prefix bit; subimages (transform data, palette, entropy image)
    do not, but every level has its own color-cache bit."""
    cache = None
    cache_bits = 0
    if br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(
                f"corrupt VP8L: color cache bits {cache_bits} outside 1..11"
            )
        cache = [0] * (1 << cache_bits)
    meta = None
    mbits = 0
    mw = 0
    n_groups = 1
    if level0 and br.read(1):
        mbits = br.read(3) + 2
        mw = (xs + (1 << mbits) - 1) >> mbits
        mh = (ys + (1 << mbits) - 1) >> mbits
        meta = _decode_entropy_image(br, mw, mh, level0=False)
        n_groups = int(((meta >> 8) & 0xFFFF).max()) + 1
    green_size = 256 + 24 + ((1 << cache_bits) if cache is not None else 0)
    groups = [
        (
            _read_prefix_code(br, green_size),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 40),
        )
        for _ in range(n_groups)
    ]
    n = xs * ys
    out = [0] * n
    pos = 0
    shift = 32 - cache_bits if cache_bits else 0
    if br.fast:
        # r13 hot loop: the four per-pixel prefix reads are inlined
        # against the fast reader's cursor (one 4-byte fetch + LUT
        # probe per symbol) — identical symbols to the method-dispatch
        # path below (the LUT is exact), minus a Python call per
        # symbol. The cursor lives in the local ``p``; it is synced to
        # the reader around the (rare) LZ77 extra-bit reads and on
        # every exit path, so error states leave the reader exactly
        # where the per-bit walk would.
        def _prep(code):
            if code.single is not None:
                return (code.single, None, None, 0)
            if code.lut_len is None:
                code._build_lut()
            return (None, code.lut_sym, code.lut_len,
                    (1 << code.max_len) - 1)

        pgroups = [tuple(_prep(c) for c in g) for g in groups]
        data = br.data
        nbits = br.nbits
        p = br.p
        pcodes = pgroups[0]
        codes = groups[0]
        while pos < n:
            if meta is not None:
                gi = int(
                    meta[
                        ((pos // xs) >> mbits) * mw + ((pos % xs) >> mbits)
                    ]
                )
                gi = (gi >> 8) & 0xFFFF
                pcodes = pgroups[gi]
                codes = groups[gi]
            single, lsym, llen, lmask = pcodes[0]
            if single is not None:
                s = single
            else:
                w = (
                    int.from_bytes(data[p >> 3 : (p >> 3) + 4], "little")
                    >> (p & 7)
                ) & lmask
                L = llen[w]
                if L == 0 or p + L > nbits:
                    br.p = p
                    codes[0].read(br)  # raises with exact parity
                    raise AssertionError("unreachable")
                s = lsym[w]
                p += L
            if s < 256:  # literal: green, then red, blue, alpha
                px = s << 8
                for ci, sh in ((1, 16), (2, 0), (3, 24)):
                    single, lsym, llen, lmask = pcodes[ci]
                    if single is not None:
                        px |= single << sh
                        continue
                    w = (
                        int.from_bytes(data[p >> 3 : (p >> 3) + 4], "little")
                        >> (p & 7)
                    ) & lmask
                    L = llen[w]
                    if L == 0 or p + L > nbits:
                        br.p = p
                        codes[ci].read(br)
                        raise AssertionError("unreachable")
                    px |= lsym[w] << sh
                    p += L
                out[pos] = px
                pos += 1
                if cache is not None:
                    cache[((CACHE_MULT * px) & 0xFFFFFFFF) >> shift] = px
            elif s < 280:  # LZ77 backward reference
                br.p = p
                try:
                    length = _lz77_value(s - 256, br)
                    dcode = _lz77_value(codes[4].read(br), br)
                finally:
                    p = br.p
                if dcode > 120:
                    dist = dcode - 120
                else:
                    dx, dy = DIST_MAP[dcode - 1]
                    dist = dy * xs + dx
                    if dist < 1:
                        dist = 1
                if dist > pos or pos + length > n:
                    raise ValueError(
                        "corrupt VP8L: backward reference out of range"
                    )
                for _ in range(length):
                    px = out[pos - dist]
                    out[pos] = px
                    pos += 1
                    if cache is not None:
                        cache[((CACHE_MULT * px) & 0xFFFFFFFF) >> shift] = px
            else:  # color cache hit
                out[pos] = cache[s - 280]
                pos += 1
        br.p = p
        return np.array(out, dtype=np.uint32)
    codes = groups[0]
    while pos < n:
        if meta is not None:
            x = pos % xs
            y = pos // xs
            mpix = int(meta[(y >> mbits) * mw + (x >> mbits)])
            codes = groups[(mpix >> 8) & 0xFFFF]
        s = codes[0].read(br)
        if s < 256:  # literal: green, then red, blue, alpha
            r = codes[1].read(br)
            b = codes[2].read(br)
            a = codes[3].read(br)
            px = (a << 24) | (r << 16) | (s << 8) | b
            out[pos] = px
            pos += 1
            if cache is not None:
                cache[((CACHE_MULT * px) & 0xFFFFFFFF) >> shift] = px
        elif s < 280:  # LZ77 backward reference
            length = _lz77_value(s - 256, br)
            dcode = _lz77_value(codes[4].read(br), br)
            if dcode > 120:
                dist = dcode - 120
            else:
                dx, dy = DIST_MAP[dcode - 1]
                dist = dy * xs + dx
                if dist < 1:
                    dist = 1
            if dist > pos or pos + length > n:
                raise ValueError("corrupt VP8L: backward reference out of range")
            for _ in range(length):
                px = out[pos - dist]
                out[pos] = px
                pos += 1
                if cache is not None:
                    cache[((CACHE_MULT * px) & 0xFFFFFFFF) >> shift] = px
        else:  # color cache hit
            out[pos] = cache[s - 280]
            pos += 1
    return np.array(out, dtype=np.uint32)


# ---------------------------------------------------------------------------
# Inverse transforms
# ---------------------------------------------------------------------------


def _avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) & 0xFF) + ((b >> 24) & 0xFF)) >> 1) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8
        | ((((a) & 0xFF) + ((b) & 0xFF)) >> 1)
    )


def _select(t: int, l: int, tl: int) -> int:  # noqa: E741 - spec names
    delta = 0
    for sh in (24, 16, 8, 0):
        lc = (l >> sh) & 0xFF
        tc = (t >> sh) & 0xFF
        tlc = (tl >> sh) & 0xFF
        delta += abs(lc - tlc) - abs(tc - tlc)
    return t if delta <= 0 else l


def _clamp_add_sub_full(l: int, t: int, tl: int) -> int:  # noqa: E741
    out = 0
    for sh in (24, 16, 8, 0):
        v = ((l >> sh) & 0xFF) + ((t >> sh) & 0xFF) - ((tl >> sh) & 0xFF)
        out |= (0 if v < 0 else 255 if v > 255 else v) << sh
    return out


def _clamp_add_sub_half(l: int, t: int, tl: int) -> int:  # noqa: E741
    avg = _avg2(l, t)
    out = 0
    for sh in (24, 16, 8, 0):
        c = (avg >> sh) & 0xFF
        d = (tl >> sh) & 0xFF
        q = c - d
        # C truncation toward zero, matching the spec's (c - d) / 2
        half = q // 2 if q >= 0 else -((-q) // 2)
        v = c + half
        out |= (0 if v < 0 else 255 if v > 255 else v) << sh
    return out


def _add_pixels(residual: int, pred: int) -> int:
    """Per-channel modulo-256 addition."""
    return (
        (((residual >> 24) + (pred >> 24)) & 0xFF) << 24
        | ((((residual >> 16) & 0xFF) + ((pred >> 16) & 0xFF)) & 0xFF) << 16
        | ((((residual >> 8) & 0xFF) + ((pred >> 8) & 0xFF)) & 0xFF) << 8
        | (((residual & 0xFF) + (pred & 0xFF)) & 0xFF)
    )


def _inv_predictor(
    flat: np.ndarray, xs: int, ys: int, bits: int, pred_img: np.ndarray
) -> np.ndarray:
    """Sequential by nature: each pixel's prediction reads already-
    reconstructed neighbors. Flat addressing makes the spec's edge
    rule for the rightmost column's top-right neighbor (it wraps to
    the leftmost pixel of the CURRENT row) fall out for free:
    index (y-1)*xs + x + 1 == y*xs when x == xs-1."""
    pw = (xs + (1 << bits) - 1) >> bits
    out = [0] * (xs * ys)
    res = flat.tolist()
    for pos in range(xs * ys):
        x = pos - (pos // xs) * xs
        y = pos // xs
        if pos == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = out[pos - 1]  # first row: left
        elif x == 0:
            pred = out[pos - xs]  # first column: top
        else:
            mode = (int(pred_img[(y >> bits) * pw + (x >> bits)]) >> 8) & 0xFF
            L = out[pos - 1]
            T = out[pos - xs]
            TL = out[pos - xs - 1]
            TR = out[pos - xs + 1]
            if mode == 0:
                pred = 0xFF000000
            elif mode == 1:
                pred = L
            elif mode == 2:
                pred = T
            elif mode == 3:
                pred = TR
            elif mode == 4:
                pred = TL
            elif mode == 5:
                pred = _avg2(_avg2(L, TR), T)
            elif mode == 6:
                pred = _avg2(L, TL)
            elif mode == 7:
                pred = _avg2(L, T)
            elif mode == 8:
                pred = _avg2(TL, T)
            elif mode == 9:
                pred = _avg2(T, TR)
            elif mode == 10:
                pred = _avg2(_avg2(L, TL), _avg2(T, TR))
            elif mode == 11:
                pred = _select(T, L, TL)
            elif mode == 12:
                pred = _clamp_add_sub_full(L, T, TL)
            elif mode == 13:
                pred = _clamp_add_sub_half(L, T, TL)
            else:
                raise ValueError(f"corrupt VP8L: predictor mode {mode}")
        out[pos] = _add_pixels(res[pos], pred)
    return np.array(out, dtype=np.uint32)


def _inv_color_transform(
    flat: np.ndarray, xs: int, ys: int, bits: int, elem_img: np.ndarray
) -> np.ndarray:
    """Cross-color inverse: per-tile signed 3.5 fixed-point deltas
    (green→red, green→blue, red→blue), vectorized."""
    pw = (xs + (1 << bits) - 1) >> bits
    yy, xx = np.divmod(np.arange(xs * ys), xs)
    elems = elem_img[(yy >> bits) * pw + (xx >> bits)]

    def s8(v):
        return ((v.astype(np.int32) + 128) % 256) - 128

    g2r = s8(elems & 0xFF)
    g2b = s8((elems >> 8) & 0xFF)
    r2b = s8((elems >> 16) & 0xFF)
    a = (flat >> 24) & 0xFF
    r = ((flat >> 16) & 0xFF).astype(np.int32)
    g = (flat >> 8) & 0xFF
    b = (flat & 0xFF).astype(np.int32)
    gs = s8(g.astype(np.int32))
    new_r = (r + ((g2r * gs) >> 5)) & 0xFF
    new_b = (b + ((g2b * gs) >> 5) + ((r2b * s8(new_r)) >> 5)) & 0xFF
    return (
        (a.astype(np.uint32) << 24)
        | (new_r.astype(np.uint32) << 16)
        | (g.astype(np.uint32) << 8)
        | new_b.astype(np.uint32)
    )


def _inv_subtract_green(flat: np.ndarray) -> np.ndarray:
    g = (flat >> 8) & 0xFF
    r = (((flat >> 16) & 0xFF) + g) & 0xFF
    b = ((flat & 0xFF) + g) & 0xFF
    return (flat & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b


def _inv_color_indexing(
    flat: np.ndarray, xs_packed: int, ys: int, width_bits: int,
    palette: np.ndarray, xs_out: int,
) -> np.ndarray:
    """Palette lookup, with sub-byte unbundling when the palette has
    <=16 entries; out-of-range indices decode to transparent black per
    the spec."""
    lut = np.zeros(256, dtype=np.uint32)
    lut[: len(palette)] = palette
    if width_bits == 0:
        idx = (flat >> 8) & 0xFF
        return lut[idx.astype(np.intp)]
    bpp = 8 >> width_bits
    per = 1 << width_bits  # pixels bundled per packed byte
    packed = ((flat >> 8) & 0xFF).reshape(ys, xs_packed)
    x = np.arange(xs_out)
    src = packed[:, x >> width_bits]
    shiftv = ((x & (per - 1)) * bpp).astype(np.uint32)
    idx = (src >> shiftv[None, :]) & ((1 << bpp) - 1)
    return lut[idx.astype(np.intp)].reshape(-1)


# ---------------------------------------------------------------------------
# Decoder entry points
# ---------------------------------------------------------------------------


def decode_vp8l(chunk: bytes) -> dict:
    """Decode one VP8L chunk payload to RGBA pixels.

    Returns {"width", "height", "has_alpha", "pixels"} with pixels a
    (h, w, 4) uint8 RGBA array."""
    br = _FastBitReader(bytes(chunk))
    if br.read(8) != 0x2F:
        raise ValueError("corrupt VP8L: signature byte missing")
    w = br.read(14) + 1
    h = br.read(14) + 1
    has_alpha = bool(br.read(1))
    version = br.read(3)
    if version != 0:
        raise ValueError(f"corrupt VP8L: version {version} != 0")
    xsize = w
    transforms = []  # (type, bits/width_bits, data, xsize_at_read)
    seen = set()
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen:
            raise ValueError(f"corrupt VP8L: duplicate transform {ttype}")
        seen.add(ttype)
        if ttype in (0, 1):  # predictor / cross-color
            bits = br.read(3) + 2
            tw = (xsize + (1 << bits) - 1) >> bits
            th = (h + (1 << bits) - 1) >> bits
            data = _decode_entropy_image(br, tw, th, level0=False)
            transforms.append((ttype, bits, data, xsize))
        elif ttype == 2:  # subtract green
            transforms.append((2, 0, None, xsize))
        else:  # color indexing
            n_colors = br.read(8) + 1
            deltas = _decode_entropy_image(br, n_colors, 1, level0=False)
            # palette entries are delta-coded: add previous, per channel
            ch = np.zeros((n_colors, 4), dtype=np.uint32)
            for i, sh in enumerate((24, 16, 8, 0)):
                ch[:, i] = np.cumsum((deltas >> sh) & 0xFF) & 0xFF
            palette = (
                (ch[:, 0] << 24) | (ch[:, 1] << 16) | (ch[:, 2] << 8)
                | ch[:, 3]
            )
            if n_colors <= 2:
                width_bits = 3
            elif n_colors <= 4:
                width_bits = 2
            elif n_colors <= 16:
                width_bits = 1
            else:
                width_bits = 0
            transforms.append((3, width_bits, palette, xsize))
            if width_bits:
                xsize = (xsize + (1 << width_bits) - 1) >> width_bits
    flat = _decode_entropy_image(br, xsize, h, level0=True)
    for ttype, bits, data, at_xsize in reversed(transforms):
        if ttype == 0:
            flat = _inv_predictor(flat, xsize, h, bits, data)
        elif ttype == 1:
            flat = _inv_color_transform(flat, xsize, h, bits, data)
        elif ttype == 2:
            flat = _inv_subtract_green(flat)
        else:
            flat = _inv_color_indexing(flat, xsize, h, bits, data, at_xsize)
            xsize = at_xsize
    if xsize != w:
        raise ValueError("corrupt VP8L: transform width bookkeeping broke")
    rgba = np.empty((h, w, 4), dtype=np.uint8)
    flat = flat.reshape(h, w)
    rgba[:, :, 0] = (flat >> 16) & 0xFF
    rgba[:, :, 1] = (flat >> 8) & 0xFF
    rgba[:, :, 2] = flat & 0xFF
    rgba[:, :, 3] = (flat >> 24) & 0xFF
    return {"width": w, "height": h, "has_alpha": has_alpha, "pixels": rgba}


def decode_webp_pixels(payload: bytes) -> dict:
    """Decode a simple-format lossless WebP file (RIFF + one VP8L
    chunk) to RGBA pixels. Extended (VP8X) files decode, and lossy
    (VP8) files gate by name, in `webp.decode_webp_frames`."""
    if (
        len(payload) < 20
        or payload[:4] != b"RIFF"
        or payload[8:12] != b"WEBP"
        or payload[12:16] != b"VP8L"
    ):
        raise ValueError("not a simple-format lossless WebP (VP8L) payload")
    size = int.from_bytes(payload[16:20], "little")
    chunk = payload[20 : 20 + size]
    if len(chunk) < size:
        raise ValueError("corrupt WebP: truncated VP8L chunk")
    return decode_vp8l(chunk)


# ---------------------------------------------------------------------------
# Encoder
# ---------------------------------------------------------------------------


def _huffman_lengths(counts, max_len: int):
    """Length-limited Huffman code lengths. When the plain tree
    exceeds max_len, the histogram is flattened (halved, floor at 1)
    and rebuilt — near-optimal and guaranteed to terminate at the
    uniform distribution, whose depth is ceil(log2(n)) <= max_len for
    every alphabet used here."""
    import heapq

    work = list(counts)
    while True:
        heap = [(c, i, ("leaf", i)) for i, c in enumerate(work) if c > 0]
        heapq.heapify(heap)
        serial = len(work)
        if len(heap) < 2:
            lengths = [0] * len(work)
            for _, i, _ in heap:
                lengths[i] = 1
            return lengths
        while len(heap) > 1:
            c1, _, n1 = heapq.heappop(heap)
            c2, _, n2 = heapq.heappop(heap)
            heapq.heappush(heap, (c1 + c2, serial, ("node", n1, n2)))
            serial += 1
        lengths = [0] * len(work)

        def walk(node, depth):
            if node[0] == "leaf":
                lengths[node[1]] = max(depth, 1)
                return
            walk(node[1], depth + 1)
            walk(node[2], depth + 1)

        walk(heap[0][2], 0)
        if max(lengths) <= max_len:
            return lengths
        work = [(c + 1) >> 1 if c > 0 else 0 for c in work]


def _write_prefix_code(bw: BitWriter, lengths) -> dict:
    """Serialize one prefix code; returns {symbol: (length, code)} for
    the subsequent data emission."""
    used = [s for s, ln in enumerate(lengths) if ln > 0]
    if 1 <= len(used) <= 2 and all(s <= 255 for s in used):
        bw.write(1, 1)  # simple
        bw.write(1, len(used) - 1)
        first_8bit = 1 if used[0] > 1 else 0
        bw.write(1, first_8bit)
        bw.write(8 if first_8bit else 1, used[0])
        if len(used) == 2:
            bw.write(8, used[1])
        if len(used) == 1:
            return {used[0]: (0, 0)}
        return {used[0]: (1, 0), used[1]: (1, 1)}
    bw.write(1, 0)  # normal
    last = max(used)
    cl_counts = [0] * 19
    for s in range(last + 1):
        cl_counts[lengths[s]] += 1
    cl_lengths = _huffman_lengths(cl_counts, 7)
    num_cl = max(
        (i + 1 for i, sym in enumerate(CODE_LENGTH_ORDER) if cl_lengths[sym]),
        default=4,
    )
    num_cl = max(num_cl, 4)
    bw.write(4, num_cl - 4)
    for i in range(num_cl):
        bw.write(3, cl_lengths[CODE_LENGTH_ORDER[i]])
    max_symbol = last + 1
    if max_symbol == len(lengths):
        bw.write(1, 0)
    else:
        bw.write(1, 1)
        nbits_code = 0
        while (max_symbol - 2) >> (2 + 2 * nbits_code):
            nbits_code += 1
        bw.write(3, nbits_code)
        bw.write(2 + 2 * nbits_code, max_symbol - 2)
    cl_codes = _canonical_codes(cl_lengths)
    single_cl = sum(1 for ln in cl_lengths if ln) == 1
    for s in range(last + 1):
        if not single_cl:  # single-symbol code-length code reads 0 bits
            ln, code = cl_codes[lengths[s]]
            bw.write_code(ln, code)
    return _canonical_codes(lengths)


def _write_literal_image(bw: BitWriter, flat, level0: bool) -> None:
    """Entropy-code a flat uint32 ARGB array as pure literals: no color
    cache, no meta groups, no LZ77 — one histogram-built canonical
    prefix code per channel (constant channels cost 0 bits/pixel)."""
    flat = np.asarray(flat, dtype=np.uint32)
    bw.write(1, 0)  # no color cache
    if level0:
        bw.write(1, 0)  # no meta prefix codes
    a = ((flat >> 24) & 0xFF).astype(np.int64)
    r = ((flat >> 16) & 0xFF).astype(np.int64)
    g = ((flat >> 8) & 0xFF).astype(np.int64)
    b = (flat & 0xFF).astype(np.int64)
    g_counts = np.bincount(g, minlength=280).tolist()
    codes_g = _write_prefix_code(bw, _huffman_lengths(g_counts, 15))
    codes_r = _write_prefix_code(
        bw, _huffman_lengths(np.bincount(r, minlength=256).tolist(), 15)
    )
    codes_b = _write_prefix_code(
        bw, _huffman_lengths(np.bincount(b, minlength=256).tolist(), 15)
    )
    codes_a = _write_prefix_code(
        bw, _huffman_lengths(np.bincount(a, minlength=256).tolist(), 15)
    )
    # distance code: never referenced (no LZ77) — 1-symbol simple code
    _write_prefix_code(bw, [1] + [0] * 39)

    # r13 (guide §4.2): the per-pixel write_code loop (4 codes/pixel,
    # one Python call per BIT) is replaced by one vectorized pack —
    # gather each channel's (length, bit-reversed code) per pixel,
    # interleave in stream order (g, r, b, a), and emit through
    # write_bits_vec. Byte-identical to the scalar loop (write_code
    # emits MSB-of-code first into the LSB-first stream, i.e. the
    # reversed code LSB-first — pinned in tests/test_vp8l.py).
    def _code_arrays(codes, size):
        lens = np.zeros(size, dtype=np.int64)
        revs = np.zeros(size, dtype=np.int64)
        for s, (ln, code) in codes.items():
            lens[s] = ln
            if ln:
                revs[s] = int(f"{code:0{ln}b}"[::-1], 2)
        return lens, revs

    glen, grev = _code_arrays(codes_g, 280)
    rlen, rrev = _code_arrays(codes_r, 256)
    blen, brev = _code_arrays(codes_b, 256)
    alen, arev = _code_arrays(codes_a, 256)
    lens = np.stack([glen[g], rlen[r], blen[b], alen[a]], axis=1).reshape(-1)
    vals = np.stack([grev[g], rrev[r], brev[b], arev[a]], axis=1).reshape(-1)
    bw.write_bits_vec(vals, lens)


def encode_vp8l(pixels: np.ndarray, use_palette: bool | None = None) -> bytes:
    """Encode (h, w, 4) RGBA or (h, w, 3) RGB uint8 pixels as a VP8L
    chunk payload. Auto-picks color indexing (with sub-byte bundling)
    when the image has <=256 distinct colors, else subtract-green +
    per-channel literals. Deterministic; decodes bit-exactly via
    `decode_vp8l`."""
    px = np.asarray(pixels, dtype=np.uint8)
    if px.ndim != 3 or px.shape[2] not in (3, 4):
        raise ValueError("encode_vp8l expects (h, w, 3|4) uint8 pixels")
    if px.shape[2] == 3:
        px = np.dstack([px, np.full(px.shape[:2], 255, dtype=np.uint8)])
    h, w = px.shape[:2]
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError("VP8L dimensions must be 1..16384")
    flat = (
        (px[:, :, 3].astype(np.uint32) << 24)
        | (px[:, :, 0].astype(np.uint32) << 16)
        | (px[:, :, 1].astype(np.uint32) << 8)
        | px[:, :, 2].astype(np.uint32)
    ).reshape(-1)
    has_alpha = bool((px[:, :, 3] != 255).any())
    palette = np.unique(flat)
    if use_palette is None:
        use_palette = len(palette) <= 256
    elif use_palette and len(palette) > 256:
        raise ValueError(
            f"{len(palette)} distinct colors exceed the 256-entry palette"
        )
    bw = BitWriter()
    bw.write(8, 0x2F)
    bw.write(14, w - 1)
    bw.write(14, h - 1)
    bw.write(1, int(has_alpha))
    bw.write(3, 0)
    if use_palette:
        n = len(palette)
        bw.write(1, 1)
        bw.write(2, 3)  # color indexing
        bw.write(8, n - 1)
        deltas = np.zeros(n, dtype=np.uint32)
        for sh in (24, 16, 8, 0):
            ch = (palette >> sh) & 0xFF
            d = np.empty_like(ch)
            d[0] = ch[0]
            d[1:] = (ch[1:] - ch[:-1]) & 0xFF
            deltas |= d << sh
        _write_literal_image(bw, deltas, level0=False)
        idx = np.searchsorted(palette, flat).astype(np.uint32)
        if n <= 2:
            width_bits = 3
        elif n <= 4:
            width_bits = 2
        elif n <= 16:
            width_bits = 1
        else:
            width_bits = 0
        if width_bits:
            per = 1 << width_bits
            bpp = 8 >> width_bits
            pw = (w + per - 1) >> width_bits
            grid = np.zeros((h, pw * per), dtype=np.uint32)
            grid[:, :w] = idx.reshape(h, w)
            packed = np.zeros((h, pw), dtype=np.uint32)
            for k in range(per):
                packed |= grid[:, k::per] << np.uint32(k * bpp)
            main = (packed << np.uint32(8)).reshape(-1)
        else:
            main = idx << np.uint32(8)
    else:
        bw.write(1, 1)
        bw.write(2, 2)  # subtract green
        g = (flat >> 8) & 0xFF
        r = (((flat >> 16) & 0xFF) - g) & 0xFF
        b = ((flat & 0xFF) - g) & 0xFF
        main = (flat & np.uint32(0xFF00FF00)) | (r << np.uint32(16)) | b
    bw.write(1, 0)  # end of transforms
    _write_literal_image(bw, main, level0=True)
    return bw.getvalue()


def encode_webp_lossless(
    pixels: np.ndarray, use_palette: bool | None = None
) -> bytes:
    """Full simple-format lossless WebP file (RIFF container + VP8L)."""
    chunk = encode_vp8l(pixels, use_palette=use_palette)
    padded = chunk + (b"\x00" if len(chunk) % 2 else b"")
    body = b"WEBP" + b"VP8L" + len(chunk).to_bytes(4, "little") + padded
    return b"RIFF" + len(body).to_bytes(4, "little") + body
