"""FLAC codec — pure stdlib/numpy implementation of the public FLAC
format (RFC 9639 / the xiph.org format spec).

The audio leg of the codec arc (JPEG → GIF → MP4/AVI/MKV → VP8L):
FLAC is the most common *lossless* audio format in crawl data, and its
machinery — Rice/Golomb residual coding under fixed or LPC predictors —
is fully implementable here, like GIF's LZW and VP8L's prefix codes
before it.

Decoder (`decode_flac_samples`) — the complete subset real encoders emit:
- STREAMINFO metadata block (+ skipping all other block types).
- Frame headers: sync, blocking strategy, all block-size / sample-rate
  / sample-size codes (incl. the 8/16-bit explicit forms), UTF-8-coded
  frame numbers, CRC-8 field (structure-validated).
- Subframes: CONSTANT, VERBATIM, FIXED orders 0-4, LPC orders 1-32
  (quantized coefficients, signed shift), wasted-bits unary counts.
- Residuals: RICE (4-bit) and RICE2 (5-bit) partitioned methods with
  escape-to-raw partitions, zigzag unfolding.
- Inter-channel decorrelation: left/side, right/side, mid/side (the
  side channel's +1 bit significance handled per spec).

Encoder (`encode_flac`) — a correct, deterministic subset: one frame
per block, independent channels, FIXED predictor order chosen 0-2 by
residual magnitude, single-partition Rice residuals with a
closed-form parameter sweep. Every encoded stream decodes bit-exactly
(`tests/test_flac.py` round-trip sweeps; `mm_flac_roundtrip` proves it
inside the driver's oracle hash at table scale).

The reference repo has no audio surface — this module is part of the
beyond-reference multimodal family beside ``vp8l.py``/``gif.py``.
"""

from __future__ import annotations

import struct

import numpy as np

FLAC_MAGIC = b"fLaC"


def is_flac(payload: bytes) -> bool:
    return payload[:4] == FLAC_MAGIC


# ---------------------------------------------------------------------------
# Bit I/O — MSB-first (FLAC's convention, unlike VP8L's LSB-first)
# ---------------------------------------------------------------------------


class _BitReader:
    __slots__ = ("data", "pos", "bit", "_bits", "_ones", "_ones_l", "_nxt")

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos
        self.bit = 0
        # lazy whole-payload bit/ones views for the vectorized residual
        # and verbatim readers (r12, guide §4.2): built once per payload
        self._bits = None
        self._ones = None
        self._ones_l = None
        self._nxt = None

    def nxt_cache(self) -> dict:
        if self._nxt is None:
            self._nxt = {}
        return self._nxt

    def ones_list(self) -> list:
        # cached ONCE per payload (r12 ADVICE #2: it is param-independent
        # — the per-step cache used to duplicate it per rice parameter)
        if self._ones_l is None:
            self._ones_l = self.ones().tolist()
        return self._ones_l

    def bitarray(self) -> np.ndarray:
        if self._bits is None:
            self._bits = np.unpackbits(
                np.frombuffer(self.data, dtype=np.uint8)
            )
        return self._bits

    def ones(self) -> np.ndarray:
        if self._ones is None:
            self._ones = np.flatnonzero(self.bitarray())
        return self._ones

    def tell_bits(self) -> int:
        return self.pos * 8 + self.bit

    def seek_bits(self, bitpos: int) -> None:
        self.pos, self.bit = divmod(bitpos, 8)

    def read_fixed_vec(self, width: int, count: int, signed: bool) -> np.ndarray:
        """``count`` consecutive ``width``-bit big-endian fields as one
        int64 vector — the vectorized form of ``read``/``read_signed``
        in a loop. Bit-exact: same bits, same two's-complement fold."""
        if count == 0:
            return np.zeros(0, dtype=np.int64)
        if width == 0:
            return np.zeros(count, dtype=np.int64)
        bits = self.bitarray()
        s = self.tell_bits()
        end = s + width * count
        if end > bits.size:
            raise ValueError("corrupt FLAC: bitstream exhausted")
        block = bits[s:end].reshape(count, width).astype(np.int64)
        weights = np.int64(1) << np.arange(width - 1, -1, -1, dtype=np.int64)
        v = block @ weights
        if signed:
            v -= (v >> (width - 1)) << width
        self.seek_bits(end)
        return v

    def read(self, n: int) -> int:
        v = 0
        data, pos, bit = self.data, self.pos, self.bit
        need = n
        while need > 0:
            if pos >= len(data):
                raise ValueError("corrupt FLAC: bitstream exhausted")
            avail = 8 - bit
            take = avail if avail < need else need
            chunk = (data[pos] >> (avail - take)) & ((1 << take) - 1)
            v = (v << take) | chunk
            bit += take
            need -= take
            if bit == 8:
                bit = 0
                pos += 1
        self.pos, self.bit = pos, bit
        return v

    def read_signed(self, n: int) -> int:
        v = self.read(n)
        return v - ((v >> (n - 1)) << n)

    def read_unary(self) -> int:
        q = 0
        while self.read(1) == 0:
            q += 1
            if q > 1 << 24:
                raise ValueError("corrupt FLAC: runaway unary code")
        return q

    def align(self) -> None:
        if self.bit:
            self.bit = 0
            self.pos += 1


class _BitWriter:
    __slots__ = ("out", "acc", "nbits")

    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, n: int, v: int) -> None:
        self.acc = (self.acc << n) | (v & ((1 << n) - 1))
        self.nbits += n
        while self.nbits >= 8:
            self.nbits -= 8
            self.out.append((self.acc >> self.nbits) & 0xFF)
        self.acc &= (1 << self.nbits) - 1

    def write_unary(self, q: int) -> None:
        while q >= 32:
            self.write(32, 0)
            q -= 32
        self.write(q + 1, 1)  # q zeros then a one

    def write_bits(self, bits: np.ndarray) -> None:
        """Append a 0/1 bit vector — byte-exact equivalent of writing
        each bit with ``write(1, b)``, but packed with one
        ``np.packbits`` (r12, guide §4.2). Handles an unaligned
        accumulator by prepending its pending bits."""
        if bits.size == 0:
            return
        if self.nbits:
            pend = np.empty(self.nbits, dtype=np.uint8)
            for i in range(self.nbits):
                pend[i] = (self.acc >> (self.nbits - 1 - i)) & 1
            bits = np.concatenate([pend, bits.astype(np.uint8, copy=False)])
        else:
            bits = bits.astype(np.uint8, copy=False)
        nfull = bits.size // 8
        if nfull:
            self.out += np.packbits(bits[: nfull * 8]).tobytes()
        rem = bits[nfull * 8 :]
        acc = 0
        for b in rem:
            acc = (acc << 1) | int(b)
        self.acc = acc
        self.nbits = rem.size

    def align(self) -> None:
        if self.nbits:
            self.write(8 - self.nbits, 0)

    def getvalue(self) -> bytes:
        assert self.nbits == 0
        return bytes(self.out)


# ---------------------------------------------------------------------------
# CRCs (FLAC polynomials) — table-driven, stdlib-only
# ---------------------------------------------------------------------------


def _make_crc8_table() -> list[int]:
    table = []
    for b in range(256):
        crc = b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
        table.append(crc)
    return table


def _make_crc16_table() -> list[int]:
    table = []
    for b in range(256):
        crc = b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) & 0xFFFF
                if crc & 0x8000
                else (crc << 1) & 0xFFFF
            )
        table.append(crc)
    return table


_CRC8_TABLE = _make_crc8_table()
_CRC16_TABLE = _make_crc16_table()


def _crc8(data: bytes) -> int:  # poly x^8+x^2+x+1 (0x07)
    # table-driven (r12, guide §4.2): one lookup per byte instead of the
    # 8-step bit loop; identical values (the table IS that loop, folded)
    crc = 0
    table = _CRC8_TABLE
    for b in data:
        crc = table[crc ^ b]
    return crc


def _crc16(data: bytes) -> int:  # poly 0x8005
    crc = 0
    table = _CRC16_TABLE
    for b in data:
        crc = ((crc << 8) & 0xFF00) ^ table[(crc >> 8) ^ b]
    return crc


# ---------------------------------------------------------------------------
# Probe + decode
# ---------------------------------------------------------------------------


def probe_flac(payload: bytes) -> dict:
    """STREAMINFO metadata only — the cheap first pass: rate, channels,
    bits per sample, total samples, block/frame size bounds."""
    if not is_flac(payload):
        raise ValueError("not a FLAC payload ('fLaC' magic missing)")
    pos = 4
    info = None
    while pos + 4 <= len(payload):
        hdr = payload[pos]
        last = bool(hdr & 0x80)
        btype = hdr & 0x7F
        (length,) = struct.unpack(">I", b"\x00" + payload[pos + 1 : pos + 4])
        body = payload[pos + 4 : pos + 4 + length]
        if len(body) < length:
            raise ValueError("corrupt FLAC: truncated metadata block")
        if btype == 0:  # STREAMINFO
            if length != 34:
                raise ValueError("corrupt FLAC: STREAMINFO must be 34 bytes")
            br = _BitReader(body)
            info = {
                "min_block": br.read(16),
                "max_block": br.read(16),
                "min_frame": br.read(24),
                "max_frame": br.read(24),
                "sample_rate": br.read(20),
                "n_channels": br.read(3) + 1,
                "bits_per_sample": br.read(5) + 1,
                "n_samples": br.read(36),
                "md5": body[18:34].hex(),
            }
        pos += 4 + length
        if last:
            break
    if info is None:
        raise ValueError("corrupt FLAC: no STREAMINFO block")
    info["frames_offset"] = pos
    return info


_BPS_CODES = {1: 8, 2: 12, 4: 16, 5: 20, 6: 24, 7: 32}


def _read_utf8_number(br: _BitReader) -> int:
    first = br.read(8)
    if first < 0x80:
        return first
    n = 0
    probe = first
    while probe & 0x40:
        n += 1
        probe <<= 1
    if n == 0 or n > 6:
        raise ValueError("corrupt FLAC: bad UTF-8 frame number")
    v = first & (0x3F >> n)
    for _ in range(n):
        c = br.read(8)
        if c & 0xC0 != 0x80:
            raise ValueError("corrupt FLAC: bad UTF-8 continuation")
        v = (v << 6) | (c & 0x3F)
    return v


def _read_rice_vec(br: _BitReader, count: int, param: int) -> np.ndarray:
    """``count`` Rice codes with parameter ``param`` as one int64
    vector. Bit-exact vectorization of the per-sample
    read_unary/read/zigzag loop (r12, guide §4.2): terminator 1-bits
    are walked with a two-pointer over the payload's ones index
    (amortized O(ones in range)), remainders gathered in one matrix
    op. Error contract preserved: running off the payload raises the
    same "bitstream exhausted", a >2^24-zero unary run the same
    "runaway unary code"."""
    if count == 0:
        return np.zeros(0, dtype=np.int64)
    ones = br.ones()
    nbits_total = len(br.data) * 8
    s0 = br.tell_bits()
    step = 1 + param
    # terminator orbit: code i's terminator is the first one-bit at or
    # after its start, and code i+1 starts ``step`` bits after it — so
    # with nxt[j] = index of the first one ≥ ones[j] + step (ONE
    # vectorized searchsorted), the terminators are the orbit of the
    # initial index under nxt, 3 list ops per sample
    cache = br.nxt_cache()
    nxt = cache.get(step)
    if nxt is None:
        nxt = np.searchsorted(ones, ones + step).tolist()
        cache[step] = nxt
    ones_l = br.ones_list()
    n_ones = ones.size
    k = int(np.searchsorted(ones, s0))
    ts_l = []
    append = ts_l.append
    for _ in range(count):
        if k >= n_ones:
            raise ValueError("corrupt FLAC: bitstream exhausted")
        append(ones_l[k])
        k = nxt[k]
    ts = np.array(ts_l, dtype=np.int64)
    s = int(ts[-1]) + step
    if s > nbits_total:
        raise ValueError("corrupt FLAC: bitstream exhausted")
    starts = np.empty(count, dtype=np.int64)
    starts[0] = s0
    if count > 1:
        starts[1:] = ts[:-1] + step
    q = ts - starts
    if int(q.max()) > (1 << 24):
        raise ValueError("corrupt FLAC: runaway unary code")
    if param:
        bits = br.bitarray()
        idx = ts[:, None] + 1 + np.arange(param, dtype=np.int64)[None, :]
        weights = np.int64(1) << np.arange(
            param - 1, -1, -1, dtype=np.int64
        )
        rem = bits[idx].astype(np.int64) @ weights
        u = (q << param) | rem
    else:
        u = q
    br.seek_bits(s)
    return (u >> 1) ^ -(u & 1)  # zigzag -> signed


def _read_residual(br: _BitReader, block_size: int, order: int) -> np.ndarray:
    method = br.read(2)
    if method > 1:
        raise ValueError(f"corrupt FLAC: residual method {method}")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    part_order = br.read(4)
    n_parts = 1 << part_order
    if block_size % n_parts:
        raise ValueError("corrupt FLAC: block size not divisible by partitions")
    parts: list[np.ndarray] = []
    for p in range(n_parts):
        count = (block_size >> part_order) - (order if p == 0 else 0)
        if count < 0:
            raise ValueError("corrupt FLAC: predictor order exceeds partition")
        param = br.read(pbits)
        if param == escape:  # raw partition
            raw_bits = br.read(5)
            parts.append(br.read_fixed_vec(raw_bits, count, signed=True))
        else:
            parts.append(_read_rice_vec(br, count, param))
    return np.concatenate(parts) if parts else np.zeros(0, dtype=np.int64)


def _fixed_reconstruct(warm: np.ndarray, resid: np.ndarray, order: int) -> np.ndarray:
    """Inverse of the FIXED order-k predictor as ``order`` iterated
    cumulative sums (r12, guide §4.2) — the residual IS the k-th
    difference sequence, so reconstruction is k integrations seeded
    from the warm-up samples' difference pyramid. Exact int64
    arithmetic, identical to the per-sample prediction loop it
    replaces (pinned bit-identical in tests/test_flac.py)."""
    if order == 0:
        return resid
    cur = resid
    for j in range(order - 1, -1, -1):
        # np.diff(warm, 0) is warm itself, so this seeds every level,
        # down to level 0 (the samples) with init = warm[-1]
        init = np.int64(np.diff(warm, j)[-1])
        cur = init + np.cumsum(cur)
    return np.concatenate([warm, cur])


def _read_subframe(br: _BitReader, block_size: int, bps: int) -> np.ndarray:
    if br.read(1):
        raise ValueError("corrupt FLAC: subframe padding bit set")
    stype = br.read(6)
    wasted = 0
    if br.read(1):
        wasted = br.read_unary() + 1
        bps -= wasted
    if stype == 0:  # CONSTANT
        v = br.read_signed(bps)
        samples = np.full(block_size, v, dtype=np.int64)
    elif stype == 1:  # VERBATIM
        samples = br.read_fixed_vec(bps, block_size, signed=True)
    elif 8 <= stype <= 12:  # FIXED order 0..4
        order = stype - 8
        warm = br.read_fixed_vec(bps, order, signed=True)
        resid = _read_residual(br, block_size, order)
        samples = _fixed_reconstruct(warm, resid, order)
    elif stype >= 32:  # LPC order 1..32
        order = stype - 31
        warm = br.read_fixed_vec(bps, order, signed=True)
        precision = br.read(4) + 1
        if precision == 16:
            raise ValueError("corrupt FLAC: invalid LPC precision escape")
        shift = br.read_signed(5)
        if shift < 0:
            raise ValueError("corrupt FLAC: negative LPC shift")
        coefs = [br.read_signed(precision) for _ in range(order)]
        resid = _read_residual(br, block_size, order)
        # LPC reconstruction is inherently sequential (each sample
        # feeds the next prediction); plain-int loop kept
        hist = [int(x) for x in warm]
        for r in resid.tolist():
            acc = 0
            for j, c in enumerate(coefs):
                acc += c * hist[-1 - j]
            hist.append(r + (acc >> shift))
        samples = np.array(hist, dtype=np.int64)
    else:
        raise ValueError(f"corrupt FLAC: reserved subframe type {stype}")
    if wasted:
        samples = samples << wasted
    return samples


def decode_flac_samples(payload: bytes) -> dict:
    """Full decode to integer samples: returns the probe dict plus
    ``samples`` — an (n_samples, n_channels) int32 array."""
    info = probe_flac(payload)
    br = _BitReader(payload, info["frames_offset"])
    n_ch = info["n_channels"]
    chans: list[list[np.ndarray]] = [[] for _ in range(n_ch)]
    done = 0
    total = info["n_samples"]
    while (total == 0 or done < total) and br.pos < len(payload):
        frame_start = br.pos
        sync = br.read(14)
        if sync != 0b11111111111110:
            raise ValueError("corrupt FLAC: frame sync code missing")
        if br.read(1):
            raise ValueError("corrupt FLAC: reserved frame bit set")
        br.read(1)  # blocking strategy
        bs_code = br.read(4)
        sr_code = br.read(4)
        ch_code = br.read(4)
        ss_code = br.read(3)
        if br.read(1):
            raise ValueError("corrupt FLAC: reserved frame bit set")
        _read_utf8_number(br)
        if bs_code == 0:
            raise ValueError("corrupt FLAC: reserved block size code")
        elif bs_code == 1:
            block_size = 192
        elif bs_code <= 5:
            block_size = 576 << (bs_code - 2)
        elif bs_code == 6:
            block_size = br.read(8) + 1
        elif bs_code == 7:
            block_size = br.read(16) + 1
        else:
            block_size = 256 << (bs_code - 8)
        if sr_code == 12:
            br.read(8)
        elif sr_code in (13, 14):
            br.read(16)
        elif sr_code == 15:
            raise ValueError("corrupt FLAC: invalid sample rate code")
        bps = (
            info["bits_per_sample"] if ss_code == 0 else _BPS_CODES.get(ss_code)
        )
        if bps is None:
            raise ValueError(f"corrupt FLAC: reserved sample size {ss_code}")
        header_crc = br.read(8)
        if _crc8(payload[frame_start : br.pos - 1]) != header_crc:
            raise ValueError("corrupt FLAC: frame header CRC-8 mismatch")
        if ch_code < 8:
            if ch_code + 1 != n_ch:
                raise ValueError("corrupt FLAC: frame/stream channel mismatch")
            subs = [
                _read_subframe(br, block_size, bps) for _ in range(n_ch)
            ]
        elif ch_code in (8, 9, 10):  # stereo decorrelation
            if n_ch != 2:
                raise ValueError("corrupt FLAC: decorrelated non-stereo frame")
            if ch_code == 8:  # left/side
                left = _read_subframe(br, block_size, bps)
                side = _read_subframe(br, block_size, bps + 1)
                subs = [left, left - side]
            elif ch_code == 9:  # right/side
                side = _read_subframe(br, block_size, bps + 1)
                right = _read_subframe(br, block_size, bps)
                subs = [right + side, right]
            else:  # mid/side
                mid = _read_subframe(br, block_size, bps)
                side = _read_subframe(br, block_size, bps + 1)
                m2 = (mid << 1) | (side & 1)
                subs = [(m2 + side) >> 1, (m2 - side) >> 1]
        else:
            raise ValueError(f"corrupt FLAC: reserved channel code {ch_code}")
        br.align()
        footer_crc = br.read(16)
        if _crc16(payload[frame_start : br.pos - 2]) != footer_crc:
            raise ValueError("corrupt FLAC: frame CRC-16 mismatch")
        for c in range(n_ch):
            chans[c].append(subs[c])
        done += len(subs[0])
    if total and done < total:
        raise ValueError("corrupt FLAC: stream ends before total samples")
    n = total or done
    cols = [
        np.concatenate(c) if c else np.zeros(0, dtype=np.int64) for c in chans
    ]
    samples = np.stack([c[:n] for c in cols]).T.astype(np.int32)
    out = dict(info)
    out["samples"] = samples
    return out


# ---------------------------------------------------------------------------
# Encoder — FIXED predictors + single-partition Rice, real compression
# ---------------------------------------------------------------------------


def _write_utf8_number(bw: _BitWriter, v: int) -> None:
    """UTF-8-style frame-number coding, full range (up to the 6
    continuation bytes / 36 bits the spec allows) — a 16-bit-only
    writer broke streams past frame 65535 (~1.7h of stereo 44.1 kHz;
    r08 review)."""
    if v < 0x80:
        bw.write(8, v)
        return
    n = 1
    while n < 6 and v >= (1 << (5 * n + 6)):  # capacity = (6-n) + 6n
        n += 1
    if v >= (1 << (5 * n + 6)):
        raise ValueError("frame number exceeds the UTF-8 coding range")
    bw.write(8, ((0xFF << (7 - n)) & 0xFF) | (v >> (6 * n)))
    for i in range(n - 1, -1, -1):
        bw.write(8, 0x80 | ((v >> (6 * i)) & 0x3F))


def _rice_cost(resid, param: int) -> int:
    u = np.abs(np.asarray(resid, dtype=np.int64)) * 2
    u -= (np.asarray(resid, dtype=np.int64) < 0).astype(np.int64)
    return int((u >> param).sum()) + len(u) * (1 + param)


def _rice_costs_all(resid, n_params: int = 15) -> list[int]:
    """All ``n_params`` Rice costs in one vector pass (r12): identical
    values to calling ``_rice_cost`` per parameter."""
    r = np.asarray(resid, dtype=np.int64)
    u = np.abs(r) * 2 - (r < 0).astype(np.int64)
    params = np.arange(n_params, dtype=np.int64)
    sums = (u[None, :] >> params[:, None]).sum(axis=1)
    return [int(sums[p]) + len(u) * (1 + p) for p in range(n_params)]


def _rice_bits(resid: np.ndarray, param: int) -> np.ndarray:
    """The exact bit stream of the per-sample Rice writer, as one 0/1
    vector (r12, guide §4.2): per code, (u>>param) zeros, a one, then
    the ``param`` low bits of u, MSB first."""
    r = np.asarray(resid, dtype=np.int64)
    u = np.where(r >= 0, r << 1, ((-r) << 1) - 1)
    q = u >> param
    lengths = q + 1 + param
    total = int(lengths.sum())
    offsets = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    bits = np.zeros(total, dtype=np.uint8)
    bits[offsets + q] = 1
    if param:
        shifts = np.arange(param - 1, -1, -1, dtype=np.int64)
        idx = (offsets + q + 1)[:, None] + np.arange(param, dtype=np.int64)[None, :]
        bits[idx] = ((u[:, None] >> shifts[None, :]) & 1).astype(np.uint8)
    return bits


def _write_rice(bw: _BitWriter, resid, param: int) -> None:
    bw.write_bits(_rice_bits(np.asarray(resid, dtype=np.int64), param))


def encode_flac(samples, sample_rate: int, bits_per_sample: int = 16) -> bytes:
    """Encode an (n, channels) integer array as a real FLAC stream:
    4096-sample blocks, independent channels, per-channel FIXED
    predictor order 0-2 chosen by total residual magnitude, one Rice
    partition with the cheapest 0..14 parameter (escape-to-raw when
    raw is smaller). Deterministic; decodes bit-exactly."""
    s = np.asarray(samples, dtype=np.int64)
    if s.ndim == 1:
        s = s[:, None]
    n, n_ch = s.shape
    if not 1 <= n_ch <= 8:
        raise ValueError("FLAC supports 1..8 channels")
    if not 4 <= bits_per_sample <= 32:
        raise ValueError("bits_per_sample must be 4..32")
    lim = 1 << (bits_per_sample - 1)
    if s.size and (s.max() >= lim or s.min() < -lim):
        raise ValueError(
            f"samples exceed the signed {bits_per_sample}-bit range"
        )
    # STREAMINFO stores the rate in 20 bits; the masking BitWriter would
    # silently wrap anything wider and the stream would decode with a
    # wrong rate (and wrong duration/RMS scale) instead of failing loudly
    if not 1 <= sample_rate <= (1 << 20) - 1:
        raise ValueError(
            f"sample_rate {sample_rate} outside FLAC's 20-bit STREAMINFO "
            f"range 1..{(1 << 20) - 1}"
        )
    block = 4096
    # STREAMINFO (min=max=block per the fixed-blocksize convention; the
    # final short frame is the spec's explicit last-frame exception)
    si = _BitWriter()
    si.write(16, block)
    si.write(16, block)
    si.write(24, 0)
    si.write(24, 0)
    si.write(20, sample_rate)
    si.write(3, n_ch - 1)
    si.write(5, bits_per_sample - 1)
    si.write(36, n)
    si_body = si.getvalue() + b"\x00" * 16  # MD5 unset (all zero = unknown)
    out = bytearray(FLAC_MAGIC)
    out += bytes([0x80]) + len(si_body).to_bytes(3, "big") + si_body
    frame_no = 0
    for start in range(0, max(n, 1), block):
        chunk = s[start : start + block]
        bsz = chunk.shape[0]
        if bsz == 0:
            break
        bw = _BitWriter()
        bw.write(14, 0b11111111111110)
        bw.write(1, 0)
        bw.write(1, 0)  # fixed block-size stream
        bw.write(4, 7)  # block size: 16-bit field below
        bw.write(4, 0)  # sample rate: from STREAMINFO
        bw.write(4, n_ch - 1)  # independent channels
        bw.write(3, 0)  # sample size: from STREAMINFO
        bw.write(1, 0)
        _write_utf8_number(bw, frame_no)
        bw.write(16, bsz - 1)
        # the header fields above are whole bytes (32 + 8k + 16 bits),
        # so the writer is aligned here; CRC-8 covers them all
        bw.write(8, _crc8(bytes(bw.out)))
        for c in range(n_ch):
            ch = chunk[:, c]
            # choose FIXED order by |residual| sum
            r0 = ch
            r1 = ch[1:] - ch[:-1] if bsz > 1 else ch[:0]
            r2 = ch[2:] - 2 * ch[1:-1] + ch[:-2] if bsz > 2 else ch[:0]
            sums = [int(np.abs(r0).sum())]
            sums.append(int(np.abs(r1).sum()) if bsz > 1 else 1 << 62)
            sums.append(int(np.abs(r2).sum()) if bsz > 2 else 1 << 62)
            order = int(np.argmin(sums))
            resid = [r0, r1, r2][order]
            warm = ch[:order].tolist()
            if (ch == ch[0]).all():  # CONSTANT wins outright
                bw.write(1, 0)
                bw.write(6, 0)
                bw.write(1, 0)
                bw.write(bits_per_sample, int(ch[0]))
                continue
            bw.write(1, 0)
            bw.write(6, 8 + order)
            bw.write(1, 0)  # no wasted bits
            for v in warm:
                bw.write(bits_per_sample, int(v))
            # single Rice partition: cheapest parameter or raw escape
            # (all 15 costs in one vector pass — r12; first minimum wins,
            # matching the sequential sweep's strict-< update rule)
            costs = _rice_costs_all(resid, 15)
            best_cost = min(costs)
            best_p = costs.index(best_cost)
            raw_bits = bits_per_sample + order  # residuals fit this width
            raw_cost = (
                len(resid) * raw_bits if raw_bits <= 31 else 1 << 62
            )  # the 5-bit escape field caps raw width at 31
            bw.write(2, 0)  # RICE method
            bw.write(4, 0)  # partition order 0
            if raw_cost < best_cost:
                bw.write(4, 0xF)  # escape
                bw.write(5, raw_bits)
                shifts = np.arange(raw_bits - 1, -1, -1, dtype=np.int64)
                bw.write_bits(
                    ((resid[:, None] >> shifts[None, :]) & 1)
                    .astype(np.uint8)
                    .ravel()
                )
            else:
                bw.write(4, best_p)
                _write_rice(bw, resid, best_p)
        bw.align()
        frame = bw.getvalue()
        crc = _crc16(frame)
        out += frame + struct.pack(">H", crc)
        frame_no += 1
    return bytes(out)
