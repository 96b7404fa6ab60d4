"""TIFF codec — pure stdlib/numpy implementation of the public TIFF 6.0
baseline (Adobe spec): IFD walk, both byte orders, striped images,
uncompressed / PackBits / LZW / Deflate compression,
horizontal-differencing predictor, MinIsWhite/MinIsBlack/RGB
photometrics.

TIFF is the scanned-document format of crawl corpora (patents, books,
archives). The metadata pass (`probe_tiff`) walks IFDs only; decode
covers the baseline subset real scanners emit:

- Compression 1 (none), 32773 (PackBits — the run-length scheme from
  the spec's appendix), 5 (LZW — MSB-first variable-width codes with
  the spec's EARLY-CHANGE width bump, the detail that distinguishes
  TIFF-LZW from GIF's LSB-first late-change variant), 8 / legacy 32946
  (Deflate — zlib streams per TIFF-TN2).
- Predictor 2 (horizontal differencing) undone after decompression
  (per image row for strips, per tile row for tiles — tiles compress
  independently; mod 2^depth of the sample width; whole-byte samples
  only, per the predictor's own field description).
- 8- or 16-bit samples (both byte orders), 1 (gray) or 3 (RGB)
  samples/pixel, PALETTE pages (photometric 3: 8-bit indices through
  the spec's 3×256 16-bit ColorMap — r09), strip OR tile layout (§15:
  fixed-size tiles, multiples of 16, left-to-right top-to-bottom,
  padded edge tiles cropped on decode — r09).
- 1/2/4-bit grayscale/bilevel pages (§4 bilevel + §5 grayscale:
  samples packed MSB-first, rows padded to byte boundaries — the
  scanned-document class; both photometrics, striped or tiled — r09).
- PlanarConfiguration 2 (separate sample planes: plane-major
  strip/tile tables, predictor per plane row — r09).
- CCITT fax on bilevel pages (r09, via `vector_lake_spark.fax`):
  compression 2 (T.4 Modified Huffman, byte-aligned rows), 3 (Group 3
  one-dimensional, EOL-prefixed rows) and 4 (Group 4 / T.6 MMR, fully
  two-dimensional) — the compressions of patent/book scan corpora.

Named gates (sub-byte palette and new-style JPEG-in-TIFF — striped
AND tiled — closed late r09): old-style JPEG (comp 6,
spec-deprecated), uncompressed-mode Group 3, uncompressed-mode
Group 4, tiled fax, JPEG-in-TIFF, sub-byte palette indices. The
matching writer (`encode_tiff`, all seven compressions, striped or
tiled, 1/2/4/8/16-bit, palette, planar, MinIsWhite) exists for
provable round trips; `tests/test_tiff.py` / `tests/test_fax.py` also
pin the decoders against hand-assembled spec fixtures the writer
never emits.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_TYPE_SIZES = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1}


def is_tiff(payload: bytes) -> bool:
    return payload[:4] in (b"II*\x00", b"MM\x00*")


def _read_ifd(payload: bytes, pos: int, lt: str) -> tuple[dict, int]:
    """One IFD: {tag: [values]} plus the next-IFD offset."""
    if pos + 2 > len(payload):
        raise ValueError("corrupt TIFF: truncated IFD")
    (n_entries,) = struct.unpack_from(lt + "H", payload, pos)
    pos += 2
    tags: dict = {}
    for _ in range(n_entries):
        if pos + 12 > len(payload):
            raise ValueError("corrupt TIFF: truncated IFD entry")
        tag, typ, count = struct.unpack_from(lt + "HHI", payload, pos)
        size = _TYPE_SIZES.get(typ)
        if size is None:  # unknown types are skippable per spec
            pos += 12
            continue
        total = size * count
        if total <= 4:
            off = pos + 8
        else:
            (off,) = struct.unpack_from(lt + "I", payload, pos + 8)
        if off + total > len(payload):
            raise ValueError(f"corrupt TIFF: tag {tag} values out of range")
        if typ == 3:
            vals = list(struct.unpack_from(f"{lt}{count}H", payload, off))
        elif typ == 4:
            vals = list(struct.unpack_from(f"{lt}{count}I", payload, off))
        elif typ == 5:  # RATIONAL
            raw = struct.unpack_from(f"{lt}{2 * count}I", payload, off)
            vals = [raw[i] / raw[i + 1] if raw[i + 1] else 0.0
                    for i in range(0, len(raw), 2)]
        else:  # BYTE / ASCII / SBYTE / UNDEFINED (7: e.g. JPEGTables)
            vals = list(payload[off : off + count])
        tags[tag] = vals
        pos += 12
    if pos + 4 > len(payload):
        raise ValueError("corrupt TIFF: truncated IFD")
    (next_ifd,) = struct.unpack_from(lt + "I", payload, pos)
    return tags, next_ifd


def _walk_ifds(payload: bytes):
    if not is_tiff(payload):
        raise ValueError("not a TIFF payload (II*/MM* magic missing)")
    if len(payload) < 8:
        raise ValueError("corrupt TIFF: header truncated")
    lt = "<" if payload[:2] == b"II" else ">"
    (off,) = struct.unpack_from(lt + "I", payload, 4)
    seen = set()
    while off:
        if off in seen:
            raise ValueError("corrupt TIFF: IFD cycle")
        seen.add(off)
        tags, off = _read_ifd(payload, off, lt)
        yield tags, lt


_COMPRESSION_NAMES = {
    1: "none", 2: "ccitt-rle", 3: "ccitt-g3", 4: "ccitt-g4", 5: "lzw",
    6: "jpeg-old", 7: "jpeg", 8: "deflate", 32773: "packbits",
    32946: "deflate-old",
}


def probe_tiff(payload: bytes) -> dict:
    """IFD metadata only: per-page dims, bits/sample, compression name,
    photometric, strip/tile layout. No pixel data is read."""
    pages = []
    for tags, _lt in _walk_ifds(payload):
        comp = tags.get(259, [1])[0]
        pages.append(
            {
                "width": tags.get(256, [None])[0],
                "height": tags.get(257, [None])[0],
                "bits_per_sample": tags.get(258, [1]),
                "samples_per_pixel": tags.get(277, [1])[0],
                "compression": (
                    "ccitt-g3-2d"
                    if comp == 3 and tags.get(292, [0])[0] & 1
                    else _COMPRESSION_NAMES.get(comp, str(comp))
                ),
                "photometric": tags.get(262, [None])[0],
                "n_strips": len(tags.get(273, [])),
                "rows_per_strip": tags.get(278, [None])[0],
                "n_tiles": len(tags.get(324, [])),
                "tile_width": tags.get(322, [None])[0],
                "tile_length": tags.get(323, [None])[0],
                "predictor": tags.get(317, [1])[0],
                "planar": tags.get(284, [1])[0] == 2,
            }
        )
    if not pages:
        raise ValueError("corrupt TIFF: no IFDs")
    return {"n_pages": len(pages), "pages": pages}


# ---------------------------------------------------------------------------
# Strip codecs
# ---------------------------------------------------------------------------


def _unpackbits(data: bytes, expected: int) -> bytes:
    out = bytearray()
    pos = 0
    while pos < len(data) and len(out) < expected:
        n = data[pos]
        pos += 1
        if n < 128:  # literal run of n+1 bytes
            if pos + n + 1 > len(data):
                raise ValueError("corrupt TIFF: truncated PackBits literal")
            out += data[pos : pos + n + 1]
            pos += n + 1
        elif n > 128:  # repeat next byte 257-n times
            if pos >= len(data):
                raise ValueError("corrupt TIFF: truncated PackBits run")
            out += bytes([data[pos]]) * (257 - n)
            pos += 1
        # n == 128: no-op per spec
    if len(out) < expected:
        raise ValueError("corrupt TIFF: PackBits strip too short")
    return bytes(out[:expected])


def _packbits(data: bytes) -> bytes:
    """Spec-appendix PackBits: runs >= 3 encode as repeats, the rest as
    literals (max 128 per op)."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            out += bytes([257 - run, data[i]])
            i += run
            continue
        lit_start = i
        i += run
        while i < n and i - lit_start < 128:
            run = 1
            while i + run < n and run < 128 and data[i + run] == data[i]:
                run += 1
            if run >= 3:
                break
            if i - lit_start + run > 128:  # a 129-byte literal would
                break  # emit header byte 128 — the spec NO-OP (r08 review)
            i += run
        chunk = data[lit_start:i]
        out += bytes([len(chunk) - 1]) + chunk
    return bytes(out)


_CLEAR, _EOI = 256, 257


def _lzw_decode(data: bytes, expected: int) -> bytes:
    """TIFF-LZW: MSB-first codes, 9->12 bit widths with the spec's
    EARLY CHANGE (the width bumps one code earlier than GIF's).

    r13 (guide §4.2 — the r12 gif.py lessons applied): codes are
    fetched with an O(1) 4-byte window at a bit cursor (the previous
    per-byte accumulator was an ever-growing Python bigint — quadratic
    on large strips), and table entries stay per-CODE bytes appends.
    Output bytes pinned identical to the verbatim pre-r13 decoder in
    tests/test_tiff.py."""
    out = bytearray()
    table: list[bytes] = []
    width = 9

    def reset():
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]
        width = 9

    reset()
    padded = data + b"\x00\x00\x00\x00"
    nbits_total = len(data) * 8
    p = 0
    prev: bytes | None = None
    while p + width <= nbits_total:
        i = p >> 3
        code = (
            int.from_bytes(padded[i : i + 4], "big")
            >> (32 - (p & 7) - width)
        ) & ((1 << width) - 1)
        p += width
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
        # EARLY CHANGE: the decoder's table trails the encoder's by
        # ONE entry (the encoder adds per emission, the decoder per
        # received code starting at the second), so it must widen
        # at (1<<width)-2 where the encoder widens at (1<<width)-1
        if len(table) + 2 >= (1 << width) and width < 12:
            width += 1
        if len(out) >= expected:
            return bytes(out[:expected])
    raise ValueError("corrupt TIFF: LZW strip ended without EOI")


def _lzw_encode(data: bytes) -> bytes:
    """Greedy TIFF-LZW writer mirroring the decoder's width bookkeeping.

    r13 (guide §4.2 — the r12 gif.py lessons): the string table keys on
    ``(prefix_code << 8) | symbol`` ints instead of bytes prefixes —
    every buffered sequence already has a code (the LZW invariant), so
    the pair is a faithful key and per-symbol hashing is O(1) instead
    of O(len). Emitted bytes pinned identical to the verbatim pre-r13
    encoder in tests/test_tiff.py."""
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    table: dict[int, int] = {}
    next_code = 258
    width = 9
    emit(_CLEAR, width)
    cur = -1
    for b in data:
        if cur < 0:
            cur = b
            continue
        key = (cur << 8) | b
        e = table.get(key)
        if e is not None:
            cur = e
            continue
        emit(cur, width)
        table[key] = next_code
        next_code += 1
        # encoder bumps when the decoder will: early change
        if next_code + 1 >= (1 << width) and width < 12:
            width += 1
        if next_code >= 4094:  # table nearly full: clear (spec practice)
            emit(_CLEAR, width)
            table = {}
            next_code = 258
            width = 9
        cur = b
    if cur >= 0:
        emit(cur, width)
    emit(_EOI, width)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


# ---------------------------------------------------------------------------
# Decode / encode
# ---------------------------------------------------------------------------


def _decode_block(block: bytes, comp: int, expected: int, kind: str) -> bytes:
    """One strip/tile through the page's codec to exactly ``expected``
    bytes (``kind`` labels errors as strip vs tile)."""
    if comp == 1:
        if len(block) < expected:
            raise ValueError(f"corrupt TIFF: short uncompressed {kind}")
        return block[:expected]
    if comp == 32773:
        try:
            return _unpackbits(block, expected)
        except ValueError as e:
            raise ValueError(str(e).replace("strip", kind)) from None
    if comp in (8, 32946):  # Deflate (TIFF-TN2) / legacy Adobe id
        try:
            raw = zlib.decompress(block)
        except zlib.error as e:
            raise ValueError(f"corrupt TIFF: bad deflate {kind} ({e})") from None
        if len(raw) < expected:
            raise ValueError(f"corrupt TIFF: deflate {kind} too short")
        return raw[:expected]
    try:
        return _lzw_decode(block, expected)
    except ValueError as e:
        raise ValueError(str(e).replace("strip", kind)) from None


def _unpack_subbyte_rows(raw: bytes, rows: int, w: int, depth: int) -> np.ndarray:
    """(rows, row_bytes) MSB-first packed samples → (rows, w) uint8.
    Each row starts on a byte boundary per spec; pad bits are dropped."""
    row_bytes = (w * depth + 7) // 8
    arr = np.frombuffer(raw, dtype=np.uint8).reshape(rows, row_bytes)
    bits = np.unpackbits(arr, axis=1)[:, : w * depth].reshape(rows, w, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
    return (bits * weights.reshape(1, 1, depth)).sum(axis=2).astype(np.uint8)


def decode_tiff_pixels(payload: bytes) -> np.ndarray:
    """First page to an (h, w, ch) array — uint8 for 1/2/4/8-bit pages
    (sub-byte samples unpacked MSB-first to their raw 0..2^d-1 range),
    uint16 for 16-bit and palette pages (a TIFF ColorMap stores 16-bit
    RGB per the spec, so palette lookups return the map's native
    range). Striped or tiled layout (TIFF 6.0 §15: fixed-size tiles
    left-to-right top-to-bottom, right/bottom edge tiles padded to full
    size — the padding decodes and is cropped), chunky or planar
    (PlanarConfiguration 2: plane-major strip/tile tables)."""
    tags, lt = next(iter(_walk_ifds(payload)))
    w = tags.get(256, [0])[0]
    h = tags.get(257, [0])[0]
    if not w or not h:
        raise ValueError("corrupt TIFF: missing dimensions")
    bits = tags.get(258, [1])
    spp = tags.get(277, [1])[0]
    comp = tags.get(259, [1])[0]
    photo = tags.get(262, [1])[0]
    predictor = tags.get(317, [1])[0]
    depth = bits[0]
    if depth not in (1, 2, 4, 8, 16) or any(b != depth for b in bits) \
            or spp not in (1, 3):
        raise NotImplementedError(
            f"only uniform 1/2/4/8/16-bit gray/RGB/palette TIFF decodes "
            f"(bits={bits}, samples={spp})"
        )
    if comp in (2, 3, 4):  # CCITT fax (T.4 MH / G3 1-D / T.6 G4)
        if depth != 1 or spp != 1:
            raise ValueError(
                "corrupt TIFF: CCITT compression on a non-bilevel page"
            )
        if comp == 3 and tags.get(292, [0])[0] & 0b10:
            raise NotImplementedError(
                "uncompressed-mode Group 3 (T4Options bit 1) is a named "
                "gate (1-D and 2-D G3 decode)"
            )
        if comp == 4 and tags.get(293, [0])[0] & 0b10:
            raise NotImplementedError(
                "uncompressed-mode Group 4 (T6Options bit 1) is a named gate"
            )
        if 322 in tags or 323 in tags or 324 in tags:
            raise NotImplementedError("tiled CCITT fax pages are a named gate")
    elif comp == 7:  # new-style JPEG-in-TIFF (TIFF-TN2)
        if depth != 8:
            raise NotImplementedError(
                "JPEG-in-TIFF decodes 8-bit samples only"
            )
        if photo == 2 and spp == 3:
            raise NotImplementedError(
                "RGB-stored JPEG-in-TIFF (photometric 2) is a named gate "
                "— the codec's color path assumes YCbCr scans; "
                "photometric 6 and grayscale decode"
            )
        if tags.get(284, [1])[0] == 2:
            raise ValueError(
                "corrupt TIFF: JPEG compression with planar configuration"
            )
    elif comp not in (1, 5, 8, 32773, 32946):
        raise NotImplementedError(
            f"TIFF compression {_COMPRESSION_NAMES.get(comp, comp)} is a "
            f"named gate (none/LZW/PackBits/Deflate/CCITT/JPEG decode "
            f"natively)"
        )
    if photo == 6 and comp != 7:
        raise NotImplementedError(
            "YCbCr photometric is only supported inside JPEG-in-TIFF"
        )
    if photo not in (0, 1, 2, 3) and not (photo == 6 and comp == 7):
        raise NotImplementedError(f"TIFF photometric {photo} unsupported")
    if photo == 3 and (spp != 1 or depth not in (1, 2, 4, 8)):
        raise NotImplementedError(
            "palette TIFF decodes for 1/2/4/8-bit single-sample indices"
        )
    if predictor not in (1, 2):
        raise ValueError(f"corrupt TIFF: predictor {predictor}")
    if predictor == 2 and depth < 8:
        raise NotImplementedError(
            "horizontal-differencing predictor applies to whole-byte "
            "samples (8/16-bit); sub-byte predictor pages don't occur"
        )
    planar = spp > 1 and tags.get(284, [1])[0] == 2
    dtype = np.dtype((lt if depth == 16 else "|") + ("u2" if depth == 16 else "u1"))
    tiled = 322 in tags or 323 in tags or 324 in tags
    decode_one = _decode_tiled if tiled else _decode_striped
    if planar:
        # PlanarConfiguration 2: the strip/tile table is plane-major —
        # all of sample 0's blocks, then sample 1's, ... Each plane
        # decodes exactly like a 1-sample image (predictor per plane
        # row), then the planes stack back to chunky.
        otag, ctag = (324, 325) if tiled else (273, 279)
        offsets = tags.get(otag) or []
        counts = tags.get(ctag) or []
        if len(offsets) != len(counts) or len(offsets) % spp:
            raise ValueError(
                "corrupt TIFF: planar block table not divisible by samples"
            )
        per = len(offsets) // spp
        planes = []
        for c in range(spp):
            sub = dict(tags)
            sub[otag] = offsets[c * per : (c + 1) * per]
            sub[ctag] = counts[c * per : (c + 1) * per]
            planes.append(
                decode_one(payload, sub, w, h, 1, comp, predictor, dtype, depth)
            )
        px = np.concatenate(planes, axis=2)
    else:
        px = decode_one(payload, tags, w, h, spp, comp, predictor, dtype, depth)
    if photo == 0:  # MinIsWhite: invert over the full sample range
        px = (((1 << depth) - 1) - px).astype(px.dtype)
    elif photo == 3:  # palette: indices → the ColorMap's 16-bit RGB
        cmap = tags.get(320)
        n = 1 << depth  # the spec sizes the ColorMap to 3 * 2^depth
        if not cmap or len(cmap) != 3 * n:
            raise ValueError(
                f"corrupt TIFF: palette page without a 3x{n} ColorMap"
            )
        lut = np.asarray(cmap, dtype=np.uint16).reshape(3, n)
        px = lut.T[px[:, :, 0]]  # (h, w, 3) uint16
    return px


def _row_bytes(w: int, spp: int, depth: int) -> int:
    """Bytes per image/tile row: sub-byte samples pack MSB-first and
    each row pads to a byte boundary (TIFF 6.0 §4/§5)."""
    return (w * spp * depth + 7) // 8


def _rows_to_array(
    raw: bytes, rows: int, w: int, spp: int, dtype: np.dtype, depth: int
) -> np.ndarray:
    """Decompressed row bytes → (rows, w, spp) in the native order."""
    base = np.dtype(dtype.str[-2:])  # native-order view of the samples
    if depth < 8:
        return _unpack_subbyte_rows(raw, rows, w, depth)[:, :, None]
    return (
        np.frombuffer(raw, dtype=dtype).reshape(rows, w, spp).astype(base)
    )


def _jpeg_tables_prefix(tags: dict) -> bytes | None:
    """TIFF-TN2: shared tables live in the JPEGTables field (tag 347,
    an SOI..EOI stream of DQT/DHT segments); abbreviated blocks merge
    as tables[:-2] + block[2:]."""
    jtables = tags.get(347)
    if not jtables:
        return None
    tb = bytes(jtables)
    if tb[:2] != b"\xff\xd8" or tb[-2:] != b"\xff\xd9":
        raise ValueError("corrupt TIFF: malformed JPEGTables field")
    return tb[:-2]


def _decode_jpeg_block(block: bytes, prefix: bytes | None, kind: str):
    """One comp-7 strip/tile through the native JPEG codec, corrupt
    inputs normalized to the strip-codec ValueError contract."""
    from vector_lake_spark.jpeg import decode_jpeg_pixels

    if block[:2] != b"\xff\xd8":
        raise ValueError(f"corrupt TIFF: JPEG {kind} without SOI")
    stream = prefix + block[2:] if prefix else block
    try:
        px1 = decode_jpeg_pixels(stream)
    except ValueError:
        raise
    except Exception as e:
        # blocks without usable tables die inside the JPEG decoder
        # with non-ValueError types
        raise ValueError(
            f"corrupt TIFF: JPEG {kind} failed to decode ({e!r})"
        ) from None
    return px1 if px1.ndim == 3 else px1[:, :, None]


def _decode_striped(
    payload: bytes, tags: dict, w: int, h: int, spp: int, comp: int,
    predictor: int, dtype: np.dtype, depth: int,
) -> np.ndarray:
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("corrupt TIFF: missing/mismatched strip tables")
    rps = tags.get(278, [h])[0] or h
    if comp == 7:  # JPEG strips are whole (abbreviated) JPEG streams
        prefix = _jpeg_tables_prefix(tags)
        parts = []
        for i, (off, cnt) in enumerate(zip(offsets, counts)):
            rows = min(rps, h - i * rps)
            if rows <= 0:
                raise ValueError("corrupt TIFF: more strips than rows")
            strip = payload[off : off + cnt]
            if len(strip) < cnt:
                raise ValueError("corrupt TIFF: strip data out of range")
            px1 = _decode_jpeg_block(strip, prefix, "strip")
            if px1.shape[1] != w or px1.shape[0] < rows:
                raise ValueError(
                    "corrupt TIFF: JPEG strip geometry disagrees with "
                    "the IFD"
                )
            parts.append(px1[:rows])
        px = np.concatenate(parts, axis=0)
        if px.shape[0] != h or px.shape[2] != spp:
            raise ValueError(
                "corrupt TIFF: JPEG strips cover a different page shape"
            )
        return px.astype(dtype.str[-2:])
    if comp in (2, 3, 4):  # fax strips decode row-structured, not bytewise
        from vector_lake_spark.fax import decode_fax

        scheme = {2: "mh", 3: "g3", 4: "g4"}[comp]
        if comp == 3 and tags.get(292, [0])[0] & 1:
            scheme = "g3-2d"  # T.4 two-dimensional coding
        parts = []
        for i, (off, cnt) in enumerate(zip(offsets, counts)):
            rows = min(rps, h - i * rps)
            if rows <= 0:
                raise ValueError("corrupt TIFF: more strips than rows")
            strip = payload[off : off + cnt]
            if len(strip) < cnt:
                raise ValueError("corrupt TIFF: strip data out of range")
            parts.append(decode_fax(strip, w, rows, scheme))
        px = np.concatenate(parts, axis=0)
        if px.shape[0] != h:
            raise ValueError(
                "corrupt TIFF: strip table covers fewer rows than the image"
            )
        return px[:, :, None]
    row_bytes = _row_bytes(w, spp, depth)
    raw = bytearray()
    for i, (off, cnt) in enumerate(zip(offsets, counts)):
        rows = min(rps, h - i * rps)
        if rows <= 0:
            raise ValueError("corrupt TIFF: more strips than rows")
        strip = payload[off : off + cnt]
        if len(strip) < cnt:
            raise ValueError("corrupt TIFF: strip data out of range")
        raw += _decode_block(strip, comp, rows * row_bytes, "strip")
    if len(raw) != h * row_bytes:
        raise ValueError(
            "corrupt TIFF: strip table covers fewer rows than the image"
        )
    px = _rows_to_array(bytes(raw), h, w, spp, dtype, depth)
    if predictor == 2:
        # horizontal differencing restarts at every row; strips hold
        # whole rows, so one image-level per-row cumsum undoes it
        # (int64 accumulate, cast wraps mod 2^depth)
        px = np.cumsum(px.astype(np.int64), axis=1).astype(px.dtype)
    return px


def _decode_tiled(
    payload: bytes, tags: dict, w: int, h: int, spp: int, comp: int,
    predictor: int, dtype: np.dtype, depth: int,
) -> np.ndarray:
    tw = tags.get(322, [0])[0]
    th = tags.get(323, [0])[0]
    if not tw or not th:
        raise ValueError("corrupt TIFF: missing tile dimensions")
    offsets = tags.get(324)
    counts = tags.get(325)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("corrupt TIFF: missing/mismatched tile tables")
    across = -(-w // tw)
    down = -(-h // th)
    if len(offsets) != across * down:
        raise ValueError(
            f"corrupt TIFF: {len(offsets)} tiles for a {across}x{down} grid"
        )
    base = np.dtype(dtype.str[-2:])
    px = np.empty((h, w, spp), dtype=base)
    # every tile is full-size; edges are padded
    expected = th * _row_bytes(tw, spp, depth)
    jpeg_prefix = _jpeg_tables_prefix(tags) if comp == 7 else None
    for i, (off, cnt) in enumerate(zip(offsets, counts)):
        block = payload[off : off + cnt]
        if len(block) < cnt:
            raise ValueError("corrupt TIFF: tile data out of range")
        if comp == 7:
            tile = _decode_jpeg_block(block, jpeg_prefix, "tile")
            if tile.shape[:2] != (th, tw) or tile.shape[2] != spp:
                raise ValueError(
                    "corrupt TIFF: JPEG tile geometry disagrees with "
                    "the IFD"
                )
            tile = tile.astype(base)
        else:
            raw = _decode_block(block, comp, expected, "tile")
            tile = _rows_to_array(raw, th, tw, spp, dtype, depth)
        if predictor == 2:
            # differencing restarts at every TILE row (tiles compress
            # independently), so the cumsum runs per tile, pre-crop
            tile = np.cumsum(tile.astype(np.int64), axis=1).astype(base)
        y0 = (i // across) * th
        x0 = (i % across) * tw
        px[y0 : y0 + th, x0 : x0 + tw] = tile[
            : min(th, h - y0), : min(tw, w - x0)
        ]
    return px


def _diff_rows(px: np.ndarray) -> np.ndarray:
    """Predictor-2 forward pass: per-row horizontal differencing, mod
    2^depth of the sample dtype."""
    d = px.astype(np.int64)
    d[:, 1:, :] = d[:, 1:, :] - px[:, :-1, :].astype(np.int64)
    return (d & ((1 << (8 * px.dtype.itemsize)) - 1)).astype(px.dtype)


def _split_jpeg_tables(strips: list[bytes]) -> tuple[bytes, list[bytes]]:
    """Hoist DQT/DHT segments out of full JPEG strips into one shared
    SOI..EOI JPEGTables stream, leaving abbreviated strips (TIFF-TN2).
    All strips carry identical tables here (same encoder, same
    quality), so the first strip's tables serve the page."""
    tables = bytearray(b"\xff\xd8")
    abbrev = []
    for strip in strips:
        rest = bytearray(b"\xff\xd8")
        pos = 2
        while pos < len(strip):
            marker = strip[pos + 1]
            if marker == 0xD9:
                rest += strip[pos:]
                break
            (seglen,) = struct.unpack_from(">H", strip, pos + 2)
            seg = strip[pos : pos + 2 + seglen]
            if marker in (0xDB, 0xC4):
                if len(abbrev) == 0:
                    tables += seg
            else:
                rest += seg
            pos += 2 + seglen
            if marker == 0xDA:
                rest += strip[pos:]
                break
        abbrev.append(bytes(rest))
    return bytes(tables + b"\xff\xd9"), abbrev


def encode_tiff(
    pixels: np.ndarray,
    compression: str = "lzw",
    predictor: bool = False,
    rows_per_strip: int | None = None,
    tile_size: int | tuple[int, int] | None = None,
    colormap: np.ndarray | None = None,
    bit_depth: int | None = None,
    min_is_white: bool = False,
    planar: bool = False,
    jpeg_tables: bool = False,
    orientation: int = 1,
) -> bytes:
    """Little-endian baseline TIFF from (h, w) or (h, w, 1|3) pixels —
    uint8 or uint16 (16-bit pages write BitsPerSample 16, little-endian
    samples); compression in {none, packbits, lzw, deflate}.
    ``tile_size`` switches to the §15 tiled layout ((tw, th) or one
    square edge, both multiples of 16 per spec; edge tiles zero-padded
    to full size) — otherwise strips. ``colormap`` ((n≤256, 3) uint16)
    writes a palette page (photometric 3): pixels are then (h, w) uint8
    indices and the map pads to the spec's 3×256 SHORT ColorMap.
    ``bit_depth`` in {1, 2, 4} writes a sub-byte grayscale/bilevel page
    (single-sample uint8 values < 2^depth, packed MSB-first with rows
    padded to byte boundaries). ``min_is_white`` writes photometric 0
    (samples stored inverted so decode returns ``pixels`` unchanged —
    the fax/scan polarity). ``planar`` writes PlanarConfiguration 2
    (plane-major strip/tile tables). ``orientation`` (r10) writes the
    EXIF/TIFF Orientation tag 274 when not 1 — metadata only, pixel
    layout is unchanged (readers correct at display time; see
    ``imagehash.apply_exif_orientation``). The writer side for provable
    round trips, not a general archiver."""
    px = np.asarray(pixels)
    if px.dtype not in (np.uint8, np.uint16):
        raise ValueError("encode_tiff expects uint8 or uint16 pixels")
    if px.ndim == 2:
        px = px[:, :, None]
    if px.ndim != 3 or px.shape[2] not in (1, 3):
        raise ValueError("encode_tiff expects (h, w[, 1|3]) pixels")
    if colormap is not None:
        cm = np.asarray(colormap, dtype=np.uint16)
        if cm.ndim != 2 or cm.shape[1] != 3 or cm.shape[0] > 256:
            raise ValueError("colormap must be (n<=256, 3) uint16")
        if px.dtype != np.uint8 or px.shape[2] != 1:
            raise ValueError("palette pixels must be (h, w[, 1]) uint8 indices")
        if px.max(initial=0) >= cm.shape[0]:
            raise ValueError("palette index exceeds colormap length")
        if min_is_white:
            raise ValueError("palette pages are photometric-3 only")
        if bit_depth is not None and bit_depth not in (1, 2, 4, 8):
            raise ValueError("palette bit_depth must be 1, 2, 4 or 8")
        if cm.shape[0] > 1 << (bit_depth or 8):
            raise ValueError(
                f"colormap has {cm.shape[0]} entries — more than the "
                f"{bit_depth or 8}-bit index space"
            )
    depth = bit_depth or (16 if px.dtype == np.uint16 else 8)
    if bit_depth is not None and bit_depth < 8:
        if bit_depth not in (1, 2, 4):
            raise ValueError("bit_depth must be 1, 2 or 4")
        if px.dtype != np.uint8 or px.shape[2] != 1:
            raise ValueError("sub-byte pages are single-sample uint8")
        if predictor:
            raise ValueError(
                "the horizontal predictor requires whole-byte samples"
            )
        if px.max(initial=0) >= (1 << bit_depth):
            raise ValueError(f"samples exceed {bit_depth}-bit range")
    if min_is_white and px.shape[2] != 1:
        raise ValueError("min_is_white applies to single-sample pages")
    h, w, spp = px.shape
    jpegtables: bytes | None = None
    if planar and spp != 3:
        raise ValueError("planar configuration applies to 3-sample pages")
    comp_id = {
        "none": 1, "packbits": 32773, "lzw": 5, "deflate": 8,
        "ccitt-rle": 2, "g3": 3, "g3-2d": 3, "g4": 4, "jpeg": 7,
    }.get(compression)
    if comp_id is None:
        raise ValueError(f"unsupported compression {compression!r}")
    fax_scheme = {
        "ccitt-rle": "mh", "g3": "g3", "g3-2d": "g3-2d", "g4": "g4",
    }.get(compression)
    if comp_id == 7:
        if depth != 8 or colormap is not None or min_is_white or planar:
            raise ValueError(
                "JPEG-in-TIFF writes 8-bit chunky gray/RGB pages only"
            )
        if predictor:
            raise ValueError("JPEG compression has no horizontal predictor")
        if rows_per_strip is not None and rows_per_strip % 8:
            raise ValueError(
                "JPEG strips must hold whole MCUs (rows_per_strip % 8 == 0)"
            )
    if fax_scheme:
        if bit_depth != 1:
            raise ValueError("CCITT compressions apply to 1-bit pages")
        if tile_size is not None:
            raise ValueError("CCITT fax pages are striped, not tiled")

    def pack_block(block: bytes) -> bytes:
        if comp_id == 1:
            return block
        if comp_id == 32773:
            return _packbits(block)
        if comp_id == 8:
            return zlib.compress(block)
        return _lzw_encode(block)

    le = np.dtype("<u2") if depth == 16 else np.dtype("u1")

    if min_is_white:
        # stored inverted: decode's photometric-0 pass re-inverts, so
        # round trips return the caller's samples unchanged. Inversion
        # happens BEFORE the predictor pass — decode undoes the
        # predictor first, then inverts
        px = (((1 << depth) - 1) - px.astype(np.int64)).astype(px.dtype)

    def block_bytes(a: np.ndarray) -> bytes:
        if depth < 8:
            n = a.shape[0]
            shifts = np.arange(depth - 1, -1, -1, dtype=np.uint8)
            bits = ((a[:, :, 0][:, :, None] >> shifts) & 1).astype(np.uint8)
            return np.packbits(bits.reshape(n, -1), axis=1).tobytes()
        return a.astype(le).tobytes()  # samples little-endian on disk

    # planar: plane-major block tables — all of sample 0's strips/tiles
    # first; each plane carries its own predictor pass
    channels = (
        [px[:, :, c : c + 1] for c in range(spp)] if planar else [px]
    )
    tiled = tile_size is not None
    if tiled:
        tw, th = (
            (tile_size, tile_size) if isinstance(tile_size, int) else tile_size
        )
        if tw % 16 or th % 16 or tw <= 0 or th <= 0:
            raise ValueError("TIFF tile dimensions must be multiples of 16")
        across = -(-w // tw)
        down = -(-h // th)
        strips = []
        for ch in channels:
            padded = np.zeros(
                (down * th, across * tw, ch.shape[2]), dtype=px.dtype
            )
            padded[:h, :w] = ch
            for ty in range(down):
                for tx in range(across):
                    tile = padded[
                        ty * th : (ty + 1) * th, tx * tw : (tx + 1) * tw
                    ]
                    if predictor:
                        # differencing restarts per tile: each tile
                        # compresses (and decodes) independently
                        tile = _diff_rows(tile)
                    if comp_id == 7:
                        from vector_lake_spark.jpeg import encode_jpeg

                        strips.append(encode_jpeg(
                            tile[:, :, 0] if spp == 1 else tile,
                            quality=100,
                        ))
                    else:
                        strips.append(pack_block(block_bytes(tile)))
        if comp_id == 7 and jpeg_tables:
            jpegtables, strips = _split_jpeg_tables(strips)
        rps = None
    else:
        rps = rows_per_strip or max(
            1, min(h, 8192 // max(1, _row_bytes(w, 1 if planar else spp, depth)))
        )
        strips = []
        if comp_id == 7:
            from vector_lake_spark.jpeg import encode_jpeg

            if rows_per_strip is None:
                # TN2: JPEG strips hold whole MCUs — round to 8 rows
                rps = max(8, rps - rps % 8)
            strips = [
                encode_jpeg(
                    px[r0 : r0 + rps, :, 0] if spp == 1
                    else px[r0 : r0 + rps],
                    quality=100,
                )
                for r0 in range(0, h, rps)
            ]
            if jpeg_tables:
                # abbreviated streams: hoist the DQT/DHT segments every
                # strip shares (the encoder writes identical tables)
                # into a JPEGTables (347, UNDEFINED) field
                jpegtables, strips = _split_jpeg_tables(strips)
        elif fax_scheme:
            from vector_lake_spark.fax import encode_fax

            strips = [
                encode_fax(px[r0 : r0 + rps, :, 0], fax_scheme)
                for r0 in range(0, h, rps)
            ]
        else:
            for ch in channels:
                data = _diff_rows(ch) if predictor else ch
                strips += [
                    pack_block(block_bytes(data[r0 : r0 + rps]))
                    for r0 in range(0, h, rps)
                ]
    # layout: header(8) + IFD + values + strips
    entries = []  # (tag, type, count, packed_value_or_None, values)

    def short(tag, v):
        entries.append((tag, 3, 1, struct.pack("<HH", v, 0), None))

    def long_(tag, v):
        entries.append((tag, 4, 1, struct.pack("<I", v), None))

    offsets_tag = 324 if tiled else 273
    short(256, w)
    short(257, h)
    if spp == 3:
        entries.append((258, 3, 3, None, [depth] * 3))
    else:
        short(258, depth)
    short(259, comp_id)
    if colormap is not None:
        short(262, 3)  # palette
        n = 1 << depth  # ColorMap is 3 * 2^depth entries per the spec
        lut = np.zeros((3, n), dtype=np.uint16)
        cm = np.asarray(colormap, dtype=np.uint16)
        lut[:, : cm.shape[0]] = cm.T
        entries.append((320, 3, 3 * n, None, [int(v) for v in lut.ravel()]))
    else:
        # RGB (YCbCr inside JPEG strips) / MinIsWhite / MinIsBlack
        if comp_id == 7 and spp == 3:
            short(262, 6)
            # our JPEG strips are 4:4:4; TIFF's tag-530 default is
            # (2,2), so the subsampling must be written explicitly
            entries.append((530, 3, 2, struct.pack("<HH", 1, 1), None))
        else:
            short(262, 2 if spp == 3 else (0 if min_is_white else 1))
    entries.append((offsets_tag, 4, len(strips), None, []))  # patched below
    if jpegtables is not None:
        entries.append((347, 7, len(jpegtables), None, list(jpegtables)))
    short(277, spp)
    if planar:
        short(284, 2)
    if comp_id == 3:
        # T4Options: bit 0 = 2-D coding; no fill, no uncompressed
        long_(292, 1 if fax_scheme == "g3-2d" else 0)
    elif comp_id == 4:
        long_(293, 0)  # T6Options: no uncompressed mode
    if tiled:
        short(322, tw)
        short(323, th)
        entries.append((325, 4, len(strips), None, [len(s) for s in strips]))
    else:
        short(278, rps)
        entries.append((279, 4, len(strips), None, [len(s) for s in strips]))
    if predictor:
        short(317, 2)
    if orientation != 1:
        if not 1 <= int(orientation) <= 8:
            raise ValueError(f"orientation {orientation} out of range 1..8")
        short(274, int(orientation))
    entries.sort(key=lambda e: e[0])
    n = len(entries)
    ifd_off = 8
    values_off = ifd_off + 2 + 12 * n + 4
    # first pass: lay out out-of-line values
    blobs = []
    value_offsets = {}
    cur = values_off
    for tag, typ, count, packed, vals in entries:
        if packed is not None:
            continue
        size = _TYPE_SIZES[typ] * count
        if size <= 4:
            continue
        value_offsets[tag] = cur
        cur += size + (size % 2)
    strips_off = cur
    strip_offsets = []
    for s in strips:
        strip_offsets.append(strips_off)
        strips_off += len(s) + (len(s) % 2)
    out = bytearray(b"II*\x00" + struct.pack("<I", ifd_off))
    out += struct.pack("<H", n)
    for tag, typ, count, packed, vals in entries:
        if tag == offsets_tag:
            vals = strip_offsets
        out += struct.pack("<HHI", tag, typ, count)
        size = _TYPE_SIZES[typ] * count
        if packed is not None:
            out += packed
        elif size <= 4:
            if typ == 7:  # UNDEFINED: raw bytes
                field = bytes(vals)
            else:
                fmt = "H" if typ == 3 else "I"
                field = struct.pack(f"<{count}{fmt}", *vals)
            out += field + b"\x00" * (4 - len(field))
        else:
            out += struct.pack("<I", value_offsets[tag])
    out += struct.pack("<I", 0)  # no next IFD
    for tag, typ, count, packed, vals in entries:
        if tag == offsets_tag:
            vals = strip_offsets
        if packed is not None or _TYPE_SIZES[typ] * count <= 4:
            continue
        if typ == 7:  # UNDEFINED: raw bytes (e.g. JPEGTables)
            blob = bytes(vals)
        else:
            fmt = "H" if typ == 3 else "I"
            blob = struct.pack(f"<{count}{fmt}", *vals)
        out += blob + b"\x00" * (len(blob) % 2)
    for s in strips:
        out += s + b"\x00" * (len(s) % 2)
    return bytes(out)
