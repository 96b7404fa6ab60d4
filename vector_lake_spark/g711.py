"""G.711 companded audio — μ-law and A-law, vectorized.

Telephony/call-center corpora carry 8 kHz G.711 WAV (format tags 7 and
6); closing that gate needs the two standard companders, nothing more.
Both directions are implemented from the ITU-T G.711 segment layout
(the arithmetic every public implementation shares — e.g. the Sun
Microsystems ``g711.c`` reference and CPython's ``audioop``; the unit
tests cross-check ALL 256 codes and ALL 65536 16-bit samples against
``audioop`` where that stdlib module still exists):

- **μ-law**: 8 exponent segments, bias 0x84 (132). A code with sign s,
  exponent e and mantissa m decodes to ±(((m << 3) + 0x84) << e) - 0x84
  in the 16-bit linear domain; encode finds e from the bit length of
  ``|x| + 0x84``, truncates the mantissa, and complements the byte (the
  all-zeros code would otherwise be a long run of zero bits on the
  wire).
- **A-law**: 8 segments, no bias, even bits inverted (XOR 0x55). Seg 0
  decodes to (q << 4) + 8, seg 1 to (q << 4) + 0x108, seg s ≥ 2 to
  ((q << 4) + 0x108) << (s - 1) — a 13-bit codec presented in the
  16-bit domain (all levels are multiples of 8).

Both encoders are exact inverses on codec levels (a decoded level
re-encodes to its own code), which is what the table-scale oracle pins:
square waves at exact codec levels round-trip with RMS equal to the
level, recomputed arithmetically in SQL.

Everything is numpy LUT/vector arithmetic — inside the engine these run
under Arrow ``mapInPandas`` batches (``multimodal.decode_audio_samples``),
so the per-sample cost is a table lookup, not a Python loop.
"""

from __future__ import annotations

import numpy as np

_BIAS = 0x84  # 132


def _ulaw_decode_table() -> np.ndarray:
    t = np.empty(256, dtype=np.int16)
    for code in range(256):
        u = ~code & 0xFF
        e = (u >> 4) & 0x07
        m = u & 0x0F
        mag = (((m << 3) + _BIAS) << e) - _BIAS
        t[code] = -mag if u & 0x80 else mag
    return t


def _alaw_decode_table() -> np.ndarray:
    t = np.empty(256, dtype=np.int16)
    for code in range(256):
        a = code ^ 0x55
        q = a & 0x0F
        s = (a >> 4) & 0x07
        if s == 0:
            mag = (q << 4) + 8
        elif s == 1:
            mag = (q << 4) + 0x108
        else:
            mag = ((q << 4) + 0x108) << (s - 1)
        t[code] = mag if a & 0x80 else -mag
    return t


_ULAW_DEC = _ulaw_decode_table()
_ALAW_DEC = _alaw_decode_table()


def ulaw_decode(codes: np.ndarray) -> np.ndarray:
    """μ-law bytes → int16 linear samples (vectorized LUT)."""
    return _ULAW_DEC[np.asarray(codes, dtype=np.uint8)]


def alaw_decode(codes: np.ndarray) -> np.ndarray:
    """A-law bytes → int16 linear samples (vectorized LUT)."""
    return _ALAW_DEC[np.asarray(codes, dtype=np.uint8)]


def _segment(mag: np.ndarray, bounds: tuple[int, ...]) -> np.ndarray:
    """Segment index: 0 below the first bound, +1 per doubling — seven
    integer comparisons, branch-free and float-free."""
    s = np.zeros(mag.shape, dtype=np.int64)
    for bound in bounds:
        s += mag > bound
    return s


_U_BOUNDS = (0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF, 0xFFF)  # 14-bit domain
_A_BOUNDS = (0x1F, 0x3F, 0x7F, 0xFF, 0x1FF, 0x3FF, 0x7FF)  # 13-bit domain


def ulaw_encode(samples: np.ndarray) -> np.ndarray:
    """int16 linear samples → μ-law bytes. Bit-identical to the Sun /
    ``audioop`` encoder, which quantizes in the 14-bit domain first
    (arithmetic ``>> 2``, so negative magnitudes round up) with bias
    33 = 0x84 >> 2 and clip 8159."""
    x14 = np.asarray(samples, dtype=np.int64) >> 2
    neg = x14 < 0
    mag = np.where(neg, -x14, x14)
    # clip at 8159; the biased 8192 overflows the last segment, which
    # the reference encoder maps to the maximum code — capping the
    # biased magnitude at 0x1FFF yields exactly that (e=7, m=15)
    mag = np.minimum(np.minimum(mag, 8159) + 33, 0x1FFF)
    e = _segment(mag, _U_BOUNDS)
    m = (mag >> (e + 1)) & 0x0F
    code = (np.where(neg, 0x80, 0) | (e << 4) | m).astype(np.uint8)
    return ~code


def alaw_encode(samples: np.ndarray) -> np.ndarray:
    """int16 linear samples → A-law bytes. Bit-identical to the Sun /
    ``audioop`` encoder: 13-bit domain (arithmetic ``>> 3``), negative
    magnitudes as ``-x - 1`` in that domain, no bias."""
    x13 = np.asarray(samples, dtype=np.int64) >> 3
    pos = x13 >= 0
    mag = np.where(pos, x13, -x13 - 1)
    s = _segment(mag, _A_BOUNDS)
    q = np.where(s < 2, mag >> 1, mag >> s) & 0x0F
    code = (np.where(pos, 0x80, 0) | (s << 4) | q).astype(np.uint8)
    return code ^ 0x55


def ulaw_level(e: int, m: int) -> int:
    """The exact positive decode level for exponent/mantissa — the
    closed form the table-scale oracle recomputes in SQL."""
    return (((m << 3) + _BIAS) << e) - _BIAS


def alaw_level(s: int, q: int) -> int:
    """The exact positive A-law decode level for segment/quant."""
    if s == 0:
        return (q << 4) + 8
    return ((q << 4) + 0x108) << (s - 1)
