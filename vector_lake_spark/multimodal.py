"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns + typed metadata structs. Every
per-document transform is one ``rowmap.map_rows`` stage: (media_id,
payload) reaches the Python worker in Arrow batches, a per-document
function decodes or probes each payload there, and only its typed
result rows come back, so the bytes never leave the executors.

This module is the one place that decides which decoder opens a
payload, one entry per media kind; every consumer is a fold over it:

- ``decode_image_pixels`` — BMP, PNG (every legal IHDR combination),
  baseline/progressive/extended/lossless JPEG (``jpeg.py``), GIF
  (``gif.py``), lossless WebP (``vp8l.py`` + ``webp.py``, first
  composed frame) and TIFF (``tiff.py``). Folds: ``image_stats``
  (``extract_image_stats``) and ``operators/imagehash``'s signatures.
- ``decode_audio_samples`` — FLAC (``flac.py``), WAV at every sample
  format (stdlib ``wave`` for integer PCM, the manual RIFF walk for
  IEEE float, G.711, both ADPCM families and the extensible wrapper);
  MPEG audio and Ogg are recognized and raise their named gates.
  Folds: ``audio_stats`` (``extract_audio_stats``) and
  ``operators/audiofp``'s fingerprints.
- ``sniff_video`` — RIFF/AVI, ISO-BMFF/MP4 and EBML/Matroska: the
  header probe and the selective frame decoder. Folds:
  ``probe_media``, ``extract_video_frames`` and
  ``imagehash.decode_video_frames_gray``.

Error classes are the module contract: ``ValueError`` means corrupt
input, ``NotImplementedError`` legal but unsupported input (a named
codec subset: arithmetic-coded JPEG, lossy VP8, interframe video
codecs), and ``UnrecognizedMedia`` — a ``NotImplementedError`` — a
payload whose magic bytes no decoder claims.

At 100 TB: binary payloads dominate row size, so every transform projects
only the columns it needs (column pruning keeps untouched media out of the
scan), and ``repartition`` before heavy decode stages sizes batches to
executor memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F, types as T

from vector_lake_spark.rowmap import map_rows

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.LongType(), True),
                ]
            ),
            True,
        ),
    ]
)

IMAGE_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
    ]
)


class UnrecognizedMedia(NotImplementedError):
    """No decoder of the media kind claims the payload's magic bytes."""


def decode_image_pixels(payload: bytes):
    """The one image-format dispatch: the magic bytes pick the decoder,
    which returns the pixel array — (h, w) or (h, w, ch) in the file's
    native sample domain (ch 1 gray, 2 gray+alpha, 3 RGB, 4 RGBA). A
    WebP yields its first composed frame, stills and animations alike.
    Decoders raise their named gates for unsupported subsets."""
    b = bytes(payload)
    if b[:2] == b"BM":
        return decode_bmp_pixels(b)
    if b[:8] == PNG_SIGNATURE:
        return decode_png_pixels(b)
    if b[:2] == b"\xff\xd8":
        from vector_lake_spark.jpeg import decode_jpeg_pixels

        return decode_jpeg_pixels(b)
    if b[:6] in (b"GIF87a", b"GIF89a"):
        from vector_lake_spark.gif import decode_gif_pixels

        return decode_gif_pixels(b)
    if b[:4] == b"RIFF" and b[8:12] == b"WEBP":
        from vector_lake_spark.webp import decode_webp_frames

        return decode_webp_frames(b, [0])[1][0][1]
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        from vector_lake_spark.tiff import decode_tiff_pixels

        return decode_tiff_pixels(b)
    raise UnrecognizedMedia(
        "unrecognized image payload (BMP, PNG, JPEG, GIF, lossless WebP "
        "and TIFF decode natively; lossy WebP probes via webp.probe_webp)"
    )


def image_stats(payload: bytes) -> dict:
    """Dimensions + per-channel means over ``decode_image_pixels``, in
    the file's native sample domain (0..65535 for 16-bit samples). Gray
    and gray+alpha report channel 0 as all three means; alpha never
    enters a mean. Samples are integers, so each float64 channel sum is
    exact and the mean does not depend on the sample dtype."""
    px = decode_image_pixels(payload)
    c = px if px.ndim == 3 else px[:, :, None]
    h, w = c.shape[:2]
    idx = (0, 1, 2) if c.shape[2] >= 3 else (0, 0, 0)
    mr, mg, mb = (round(float(c[:, :, i].mean()), 6) for i in idx)
    return {
        "width": int(w),
        "height": int(h),
        "mean_r": mr,
        "mean_g": mg,
        "mean_b": mb,
    }


PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"


# Adam7 interlace pass geometry: (x_origin, y_origin, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw, pos, n_rows, row_bytes, bpp):
    """Reconstruct one filtered scanline block (None/Sub/Up/Average/
    Paeth); ``bpp`` is the filter's byte distance to the left neighbor
    (max(1, channels*depth//8) per the spec). Returns (rows, new_pos)."""
    import numpy as np

    out = np.zeros((n_rows, row_bytes), dtype=np.int32)
    prev = np.zeros(row_bytes, dtype=np.int32)
    for r in range(n_rows):
        if pos + 1 + row_bytes > len(raw):
            raise ValueError("PNG pixel stream length mismatch")
        f = raw[pos]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=row_bytes, offset=pos + 1
        ).astype(np.int32)
        pos += 1 + row_bytes
        if f == 0:  # None
            cur = line
        elif f == 2:  # Up — vectorizable (no intra-row dependency)
            cur = (line + prev) & 0xFF
        else:  # Sub / Average / Paeth carry an intra-row dependency
            cur = np.zeros(row_bytes, dtype=np.int32)
            for i in range(row_bytes):
                a = int(cur[i - bpp]) if i >= bpp else 0
                b = int(prev[i])
                if f == 1:  # Sub
                    pred = a
                elif f == 3:  # Average
                    pred = (a + b) // 2
                elif f == 4:  # Paeth
                    c = int(prev[i - bpp]) if i >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                else:
                    raise ValueError(f"bad PNG filter byte {f}")
                cur[i] = (int(line[i]) + pred) & 0xFF
        out[r] = cur
        prev = cur
    return out, pos


def _png_samples(rows, w, ch, depth):
    """Packed reconstructed bytes -> (n_rows, w*ch) sample values in the
    file's native domain (0..2^depth-1): big-endian pairs at 16 bits,
    MSB-first bit unpacking below 8."""
    import numpy as np

    if depth == 8:
        return rows[:, : w * ch]
    if depth == 16:
        used = rows[:, : w * ch * 2]
        return (used[:, 0::2] << 8) | used[:, 1::2]
    per = 8 // depth  # sub-byte: spec only allows these for 1 channel
    vals = np.zeros((rows.shape[0], rows.shape[1] * per), dtype=np.int32)
    for k in range(per):
        shift = 8 - depth * (k + 1)
        vals[:, k::per] = (rows >> shift) & ((1 << depth) - 1)
    return vals[:, : w * ch]


def decode_png_pixels(payload: bytes):
    """REAL decode of a PNG (gray / gray+alpha / RGB / palette / RGBA)
    to its pixel array — (h, w, ch) float64 in the file's native sample
    domain (palette resolved to RGB) — with pure stdlib ``zlib`` +
    numpy: chunk walk, DEFLATE inflate, full scanline filter
    reconstruction (None/Sub/Up/Average/Paeth).

    Every legal IHDR combination decodes: bit depths 1/2/4 (gray +
    palette, MSB-first unpacking), 8 and 16 (big-endian pairs) for each
    color type the spec allows them with, plus Adam7 interlacing (seven
    independently filtered passes scattered into the canvas). Illegal
    depth/color combos are corrupt input (ValueError)."""
    import struct
    import zlib

    import numpy as np

    if payload[:8] != PNG_SIGNATURE:
        raise ValueError("not a PNG payload")
    pos, idat, header, plte = 8, [], None, None
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length  # length + type + data + crc
        if ctype == b"IHDR":
            if len(data) < 13:
                raise ValueError("corrupt PNG: header truncated")
            header = struct.unpack_from(">IIBBBBB", data)
        elif ctype == b"PLTE":
            plte = data
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if header is None:
        raise ValueError("PNG without IHDR")
    w, h, depth, color, _comp, _filt, interlace = header
    legal = {
        0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8), 4: (8, 16),
        6: (8, 16),
    }
    if color not in legal or depth not in legal[color]:
        raise ValueError(
            f"corrupt PNG: illegal depth/color combination "
            f"(depth={depth}, color_type={color})"
        )
    if interlace not in (0, 1):
        raise ValueError(f"corrupt PNG: interlace method {interlace}")
    if color == 3 and (plte is None or len(plte) % 3 or not plte):
        raise ValueError("palette PNG without a valid PLTE chunk")
    if w == 0 or h == 0:
        raise ValueError(f"degenerate PNG dimensions {w}x{h}")
    ch = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}[color]
    bpp = max(1, ch * depth // 8)
    raw = zlib.decompress(b"".join(idat))
    if interlace == 0:
        row_bytes = (w * ch * depth + 7) // 8
        rows, pos = _png_unfilter(raw, 0, h, row_bytes, bpp)
        samp = _png_samples(rows, w, ch, depth)
    else:  # Adam7: seven sub-images, each filtered independently
        samp = np.zeros((h, w * ch), dtype=np.int32)
        samp3 = samp.reshape(h, w, ch)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            wp = (w - x0 + dx - 1) // dx
            hp = (h - y0 + dy - 1) // dy
            if wp <= 0 or hp <= 0:
                continue
            row_bytes = (wp * ch * depth + 7) // 8
            rows, pos = _png_unfilter(raw, pos, hp, row_bytes, bpp)
            sub = _png_samples(rows, wp, ch, depth).reshape(hp, wp, ch)
            samp3[y0::dy, x0::dx, :] = sub
    if pos != len(raw):
        raise ValueError("PNG pixel stream length mismatch")
    if color == 3:  # palette indices -> RGB via PLTE lookup
        pal = np.frombuffer(plte, dtype=np.uint8).reshape(-1, 3)
        idx = samp.reshape(h, w)
        if int(idx.max()) >= len(pal):
            raise ValueError("palette index out of range")
        px = pal[idx].astype(np.float64)
        ch = 3
    else:
        px = samp.reshape(h, w, ch).astype(np.float64)
    return px


def decode_bmp_pixels(payload: bytes):
    """Uncompressed 24-bit BMP (BITMAPINFOHEADER) → (h, w, 3) uint8 RGB:
    struct header parse + numpy row slicing. Rows are padded to 4 bytes
    and stored bottom-up, or top-down when the height is negative
    (legal per the spec, not corruption). Other depths and compressions
    raise NotImplementedError by name."""
    import struct

    import numpy as np

    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    if len(payload) < 34:
        raise ValueError("corrupt BMP: header truncated")
    (off,) = struct.unpack_from("<I", payload, 10)
    w, h = struct.unpack_from("<ii", payload, 18)
    (bpp,) = struct.unpack_from("<H", payload, 28)
    (compression,) = struct.unpack_from("<I", payload, 30)
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported (got {bpp}bpp, "
            f"compression={compression})"
        )
    if w <= 0 or h == 0:
        raise ValueError(f"degenerate BMP dimensions {w}x{h}")
    row = (w * 3 + 3) & ~3
    if off + abs(h) * row > len(payload):
        raise ValueError("corrupt BMP: pixel rows run past the payload")
    rows = np.frombuffer(
        payload, dtype=np.uint8, count=abs(h) * row, offset=off
    ).reshape(abs(h), row)
    if h > 0:  # bottom-up
        rows = rows[::-1]
    return rows[:, : w * 3].reshape(abs(h), w, 3)[:, :, ::-1]  # BGR → RGB


def decode_audio_samples(payload: bytes):
    """The one audio-format dispatch → (samples, sample_rate,
    n_channels, codec). ``samples`` is 1-D and channel-interleaved, in
    the file's own domain: integers for integer PCM and FLAC (8-bit PCM
    bias-corrected), 16-bit linear for G.711 and ADPCM, [-1, 1] floats
    for IEEE float. FLAC decodes through ``flac.py``; integer-PCM WAV
    through stdlib ``wave``; every WAV format ``wave`` refuses through
    the manual RIFF walk, whose damage reports raise as ``corrupt WAV
    payload`` ValueErrors. MPEG audio and Ogg are recognized and raise
    their named gates."""
    import io
    import wave

    b = bytes(payload)
    if b[:4] == b"fLaC":
        from vector_lake_spark.flac import decode_flac_samples

        out = decode_flac_samples(b)
        s = out["samples"]  # (n_samples, n_channels)
        return s.reshape(-1), out["sample_rate"], out["n_channels"], "flac"
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        try:
            with wave.open(io.BytesIO(b), "rb") as w:
                n_channels, width, rate = (
                    w.getnchannels(), w.getsampwidth(), w.getframerate()
                )
                frames = w.readframes(w.getnframes())
        except (wave.Error, EOFError):
            # stdlib wave only opens plain integer PCM (and raises
            # EOFError, not wave.Error, on some truncated headers)
            try:
                return _decode_wav_ext_samples(b)
            except ValueError as e:
                raise ValueError(f"corrupt WAV payload: {e}") from e
        return _pcm_samples(frames, width), rate, n_channels, "pcm"
    from vector_lake_spark.mp3 import decode_mp3, is_mp3
    from vector_lake_spark.ogg import decode_ogg, is_ogg

    if is_mp3(b):
        decode_mp3(b)  # raises the named layer gate
    if is_ogg(b):
        decode_ogg(b)  # raises the named codec gate
    raise UnrecognizedMedia(
        "unrecognized audio payload (WAV and FLAC decode natively; MPEG "
        "audio and Ogg probe via mp3.probe_mp3 / ogg.probe_ogg)"
    )


def audio_stats(payload: bytes) -> dict:
    """Rate / channels / frames / duration / RMS / codec over
    ``decode_audio_samples``. The RMS is taken over the raw samples of
    whatever domain the file carries, so it reports THIS file's
    amplitude, not a normalized loudness."""
    import math

    samples, rate, n_channels, codec = decode_audio_samples(payload)
    n_frames = len(samples) // n_channels
    # square-sum in float64: int64 would overflow past ~2^31.5 amplitude
    sf = samples.astype("float64")
    rms = math.sqrt(float((sf * sf).sum()) / len(sf)) if len(sf) else 0.0
    return {
        "sample_rate": rate,
        "n_channels": n_channels,
        "n_samples": n_frames,
        "duration_ms": int(n_frames * 1000 / rate) if rate else 0,
        "rms": round(rms, 6),
        "codec": codec,
    }


def _pcm_samples(frames: bytes, width: int):
    """Integer PCM bytes → int64 samples at any of the four widths —
    shared by the stdlib-wave path and the extensible RIFF walk."""
    import numpy as np

    if width == 1:  # unsigned with a 128 bias, per the RIFF spec
        return np.frombuffer(frames, dtype=np.uint8).astype(np.int64) - 128
    if width == 2:
        return np.frombuffer(frames, dtype="<i2").astype(np.int64)
    if width == 3:  # no struct code for 24-bit: compose bytes
        raw = np.frombuffer(frames, dtype=np.uint8).reshape(-1, 3)
        u = (
            raw[:, 0].astype(np.int64)
            | (raw[:, 1].astype(np.int64) << 8)
            | (raw[:, 2].astype(np.int64) << 16)
        )
        return u - ((u >> 23) << 24)  # sign-extend bit 23
    if width == 4:
        return np.frombuffer(frames, dtype="<i4").astype(np.int64)
    raise NotImplementedError(
        f"unsupported PCM sample width {width * 8} bits (8/16/24/32 "
        f"integer PCM decode natively)"
    )


def _decode_wav_ext_samples(payload: bytes):
    """RIFF walk for the WAV formats stdlib ``wave`` refuses: IEEE
    float (3), A-law (6), μ-law (7), IMA/DVI (0x11) and MS (0x02)
    ADPCM (``adpcm.py``, fact-chunk frame trim), and
    WAVE_FORMAT_EXTENSIBLE (0xFFFE, resolved through the SubFormat
    GUID's leading tag — including extensible integer PCM, the form
    multichannel/24-bit encoders emit). Anything else (MP3-in-WAV …)
    raises a named NotImplementedError. Returns (interleaved samples,
    rate, n_channels, codec) — int64 for the integer codecs (G.711 and
    ADPCM expand to 16-bit linear), float for IEEE-float payloads."""
    import struct

    import numpy as np

    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    fmt = None
    data = None
    fact_frames = None
    pos = 12
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (size,) = struct.unpack_from("<I", payload, pos + 4)
        body = payload[pos + 8 : pos + 8 + size]
        if len(body) < size:
            raise ValueError(f"truncated WAV chunk {cid!r}")
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        elif cid == b"fact" and size >= 4:
            (fact_frames,) = struct.unpack_from("<I", body, 0)
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt /data chunk")
    if len(fmt) < 16:
        raise ValueError(f"WAV fmt chunk too short ({len(fmt)} bytes)")
    tag, n_channels, rate, _br, block_align, bits = struct.unpack_from(
        "<HHIIHH", fmt
    )
    if tag == 0xFFFE:  # WAVE_FORMAT_EXTENSIBLE: real tag leads the GUID
        if len(fmt) < 26:
            raise ValueError("extensible WAV fmt chunk too short")
        (tag,) = struct.unpack_from("<H", fmt, 24)
    if tag == 3:  # IEEE float
        if bits == 32:
            samples = np.frombuffer(data, dtype="<f4")
        elif bits == 64:
            samples = np.frombuffer(data, dtype="<f8")
        else:
            raise ValueError(f"IEEE-float WAV with {bits}-bit samples")
        codec = f"float{bits}"
    elif tag in (6, 7):
        if bits not in (0, 8):
            raise ValueError(f"G.711 WAV with {bits}-bit samples")
        from vector_lake_spark.g711 import alaw_decode, ulaw_decode

        codes = np.frombuffer(data, dtype=np.uint8)
        samples = alaw_decode(codes) if tag == 6 else ulaw_decode(codes)
        codec = "alaw" if tag == 6 else "ulaw"
    elif tag == 1:
        # plain PCM never lands here (stdlib wave handles it), but the
        # EXTENSIBLE wrapper around integer PCM — the form multichannel
        # and 24-bit encoders actually emit — resolves to tag 1 above
        # and decodes through the shared width logic
        if bits % 8 != 0 or not 8 <= bits <= 32:
            raise ValueError(f"integer-PCM WAV with {bits}-bit samples")
        samples = _pcm_samples(data, bits // 8)
        codec = "pcm"
    elif tag == 0x11:  # IMA/DVI ADPCM (r10 — was a named gate)
        if bits != 4:
            raise ValueError(f"IMA ADPCM WAV with {bits}-bit nibbles")
        from vector_lake_spark.adpcm import ima_adpcm_decode

        samples = ima_adpcm_decode(data, n_channels, block_align)
        if fact_frames is not None:
            # the spec's fact chunk carries the true frame count; the
            # final block may be zero-padded past it
            samples = samples[: fact_frames * n_channels]
        codec = "ima_adpcm"
    elif tag == 0x02:  # MS ADPCM (r10 — was a named gate)
        if bits != 4:
            raise ValueError(f"MS ADPCM WAV with {bits}-bit nibbles")
        if len(fmt) < 20:
            raise ValueError("MS ADPCM fmt chunk missing samplesPerBlock")
        # extension starts after the 16-byte base + 2-byte cbSize
        (spb,) = struct.unpack_from("<H", fmt, 18)
        from vector_lake_spark.adpcm import ms_adpcm_decode

        samples = ms_adpcm_decode(data, n_channels, block_align, spb)
        if fact_frames is not None:
            samples = samples[: fact_frames * n_channels]
        codec = "ms_adpcm"
    else:
        raise NotImplementedError(
            f"WAV format tag {tag} unsupported (integer PCM, IEEE float, "
            f"G.711 A-law/μ-law, IMA and MS ADPCM decode natively)"
        )
    if n_channels < 1:
        raise ValueError("WAV with zero channels")
    return samples, rate, n_channels, codec


def encode_wav_ext(
    samples, rate: int = 8000, fmt: str = "ulaw", n_channels: int = 1
) -> bytes:
    """Mux samples into the non-PCM WAV formats
    ``_decode_wav_ext_samples`` reads — the test/oracle-side writer
    proving the decode inverts a real stream. ``fmt``: 'ulaw'/'alaw' take int16 linear samples and
    compand them through ``g711.py``; 'float32'/'float64' take floats
    verbatim."""
    import struct

    import numpy as np

    x = np.asarray(samples)
    if fmt == "ulaw":
        from vector_lake_spark.g711 import ulaw_encode

        data, tag, bits = ulaw_encode(x).tobytes(), 7, 8
    elif fmt == "alaw":
        from vector_lake_spark.g711 import alaw_encode

        data, tag, bits = alaw_encode(x).tobytes(), 6, 8
    elif fmt == "float32":
        data, tag, bits = x.astype("<f4").tobytes(), 3, 32
    elif fmt == "float64":
        data, tag, bits = x.astype("<f8").tobytes(), 3, 64
    else:
        raise ValueError(f"unknown ext-WAV format {fmt!r}")
    ba = n_channels * bits // 8
    # non-PCM fmt chunks carry the cbSize extension word (0: no extra)
    fmt_chunk = struct.pack(
        "<HHIIHHH", tag, n_channels, rate, rate * ba, ba, bits, 0
    )
    pad = b"\x00" if len(data) & 1 else b""
    out = bytearray(b"RIFF")
    out += struct.pack(
        "<I", 4 + 8 + len(fmt_chunk) + 8 + len(data) + len(pad)
    )
    out += b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt_chunk)) + fmt_chunk
    out += b"data" + struct.pack("<I", len(data)) + data + pad
    return bytes(out)


def _fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic fake 'embedding' from payload bytes — stands in for a
    model forward pass; keeps the pipeline testable end-to-end."""
    if payload is None:
        return [0.0] * dim
    acc = [0] * dim
    for i, b in enumerate(payload):
        acc[i % dim] = (acc[i % dim] + b) % 997
    return [round(a / 997.0, 6) for a in acc]


def extract_image_features(df: DataFrame, dim: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over the binary payload column —
    a deterministic byte-fold STAND-IN for a model forward pass (keeps
    embedding-shaped pipelines testable end-to-end; it is NOT a
    perceptual signature). For real content-level image identity use
    ``operators/imagehash.image_signatures`` (dHash/aHash over decoded
    pixels, r10) feeding ``binary.hamming_neardup_pairs``.

    Projects (media_id, payload) only — column pruning drops the rest of
    the row before the Python boundary."""

    def one(row):
        mid, p = row
        yield mid, len(p) if p is not None else 0, _fake_feature(p, dim)

    return map_rows(
        df.select("media_id", "payload"), one, IMAGE_FEATURES_SCHEMA
    )


def sample_video_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plumbing: one output row per sampled frame offset,
    computed from metadata (decode itself is stubbed). Demonstrates the
    explode-by-timeline pattern used for real video pipelines."""
    n_frames = F.greatest(
        (F.col("meta.duration_ms") / F.lit(every_ms)).cast("int"), F.lit(1)
    )
    return (
        df.filter(F.col("kind") == "video")
        .withColumn("frame_no", F.explode(F.sequence(F.lit(0), n_frames - 1)))
        .select(
            "media_id",
            "frame_no",
            (F.col("frame_no") * every_ms).alias("offset_ms"),
        )
    )


VIDEO_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_no", T.LongType(), False),
        T.StructField("offset_ms", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
    ]
)


MEDIA_PROBE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("container", T.StringType(), True),
        T.StructField("codec", T.StringType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("decodable", T.BooleanType(), True),
    ]
)


def _avi_probe(data: bytes) -> dict:
    from vector_lake_spark.avi import probe_avi

    info = probe_avi(data)
    fps, n = info.get("fps"), info["n_frames"]
    return {
        "container": "avi",
        "codec": info.get("codec", "MJPG"),
        "width": info.get("width"),
        "height": info.get("height"),
        "duration_ms": int(n * 1000 / fps) if fps else None,
        "n_frames": n,
        "decodable": True,
        "fps": fps,
        "track_frames": n,
    }


def _mp4_probe(data: bytes) -> dict:
    from vector_lake_spark.mp4 import probe_mp4

    info = probe_mp4(data)
    t = next((t for t in info["tracks"] if t["handler"] == "vide"), None)
    fps = 0
    if t is not None:
        # rate from the track's own timescale and raw stts tick
        # duration — the floor-rounded duration_ms drifts the stride
        # for real-world timescales
        ticks = sum(c * d for c, d in t["timing"])
        if ticks:
            fps = t["n_samples"] * t["timescale"] / ticks
        elif t["duration_ms"]:
            fps = t["n_samples"] * 1000.0 / t["duration_ms"]
    return {
        "container": "mp4",
        "codec": t and t["codec"],
        "width": t and t["width"],
        "height": t and t["height"],
        "duration_ms": info["duration_ms"],
        "n_frames": t["n_samples"] if t else 0,
        "decodable": bool(t and t["codec"] in ("jpeg", "mjpa")),
        "fps": fps,
        "track_frames": t and t["n_samples"],
    }


def _mkv_probe(data: bytes) -> dict:
    from vector_lake_spark.mkv import probe_mkv

    info = probe_mkv(data)
    video = [t for t in info["tracks"] if t["track_type"] == 1]
    first = video[0] if video else None
    # sampling reads the track decode_mkv_frames picks — any V_MJPEG
    # one; a no-MJPEG file keeps video[0] so decode raises its named
    # codec gate
    tr = next((t for t in video if t["codec"] == "V_MJPEG"), first)
    n = tr and info["blocks_by_track"].get(tr["track_number"], 0)
    dur = info["duration_ms"]
    return {
        "container": info["doc_type"],
        "codec": first and first["codec"],
        "width": first and first["width"],
        "height": first and first["height"],
        "duration_ms": dur,
        "n_frames": info["n_blocks"],
        "decodable": any(v["codec"] == "V_MJPEG" for v in video),
        "fps": n * 1000.0 / dur if n and dur else 0,
        "track_frames": n,
    }


def sniff_video(data: bytes):
    """The one video-container dispatch: the magic bytes pick (probe,
    decode_frames) for RIFF/AVI, EBML/Matroska or ISO-BMFF/MP4.
    ``probe(data)`` walks headers only and returns the
    ``MEDIA_PROBE_SCHEMA`` columns after ``media_id`` plus ``fps`` and
    ``track_frames``, the rate and frame count of the track
    ``decode_frames(data, frame_indices)`` reads (None without a video
    track). The decoders entropy-decode only the requested frames
    (MJPEG in AVI, photo-JPEG in MP4, V_MJPEG in Matroska; RLE8 AVI
    replays its delta chain) and raise interframe codecs by name."""
    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        from vector_lake_spark.avi import decode_avi_frames

        return _avi_probe, decode_avi_frames
    from vector_lake_spark.mkv import decode_mkv_frames, is_mkv
    from vector_lake_spark.mp4 import decode_mp4_frames, is_mp4

    if is_mkv(data):
        return _mkv_probe, decode_mkv_frames
    if is_mp4(data):
        return _mp4_probe, decode_mp4_frames
    raise UnrecognizedMedia(
        "unrecognized video payload (MJPEG/RLE8 AVI, photo-JPEG MP4 and "
        "V_MJPEG Matroska decode natively)"
    )


def probe_media(df: DataFrame) -> DataFrame:
    """Unified container-metadata pass over a binary payload column —
    the FIRST operator a 100 TB media pipeline runs: route, filter and
    budget by (container, codec, dims, duration, frame count) WITHOUT
    entropy-decoding anything (``sniff_video``'s header probes).
    `decodable` reports whether this repo's native decoders can open
    the video stream (MJPEG in AVI, photo-JPEG in MP4, any V_MJPEG
    track in Matroska — interframe codecs are honest
    NotImplementedError gates at decode time)."""
    cols = MEDIA_PROBE_SCHEMA.fieldNames()[1:]

    def one(row):
        mid, payload = row
        data = bytes(payload)
        v = sniff_video(data)[0](data)
        yield (mid, *(v[c] for c in cols))

    return map_rows(df.select("media_id", "payload"), one, MEDIA_PROBE_SCHEMA)


def extract_video_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """REAL video decode over Arrow batches: the payload is probed
    (header walk, no frame decode), the timeline is sampled every
    ``every_ms``, and ONLY the sampled frames decode — per sampled
    frame: (frame_no, offset_ms, dims, channel means).

    The 100 TB shape: frame independence (MJPEG) means a sampled frame
    never touches its neighbors, so sampling cost is
    frames_sampled × decode, not duration × decode; the probes slice
    frame chunks by (offset, length) so unsampled frames are never even
    copied out of the payload buffer."""

    def frames_of(row):
        mid, payload = row
        data = bytes(payload)
        probe, decode = sniff_video(data)
        v = probe(data)
        if v["track_frames"] is None:
            raise ValueError(f"{v['container']} payload has no video track")
        fps = v["fps"]
        if not fps:
            # never fabricate timestamps from an invented rate —
            # the module contract is raise-by-name
            raise ValueError(
                "video without a usable frame rate — cannot "
                "compute sample offsets"
            )
        stride = max(int(round(every_ms * fps / 1000.0)), 1)
        _, frames = decode(data, list(range(0, v["track_frames"], stride)))
        for fno, px in frames:
            px3 = px if px.ndim == 3 else px[:, :, None].repeat(3, 2)
            means = px3.reshape(-1, 3).mean(axis=0)
            yield (
                mid,
                fno,
                int(fno * 1000 / fps),
                int(px.shape[1]),
                int(px.shape[0]),
                round(float(means[0]), 4),
                round(float(means[1]), 4),
                round(float(means[2]), 4),
            )

    return map_rows(
        df.select("media_id", "payload"), frames_of, VIDEO_FRAME_SCHEMA
    )


def media_stats(df: DataFrame) -> DataFrame:
    """Byte-size stats per media kind — pure JVM expressions."""
    return (
        df.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(F.octet_length("payload")).cast("long").alias("total_bytes"),
            F.round(F.avg(F.octet_length("payload")), 2).alias("avg_bytes"),
        )
    )


IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("mean_r", T.DoubleType(), True),
        T.StructField("mean_g", T.DoubleType(), True),
        T.StructField("mean_b", T.DoubleType(), True),
    ]
)

AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("n_channels", T.IntegerType(), True),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("duration_ms", T.LongType(), True),
        T.StructField("rms", T.DoubleType(), True),
    ]
)


def _decode_stats(df: DataFrame, stats_fn, schema) -> DataFrame:
    """One stats row per payload through a column-pruned ``map_rows``:
    ``stats_fn``'s dict supplies ``schema``'s columns after
    ``media_id``."""
    cols = schema.fieldNames()[1:]

    def one(row):
        mid, payload = row
        d = stats_fn(payload)
        yield (mid, *(d[c] for c in cols))

    return map_rows(df.select("media_id", "payload"), one, schema)


def extract_image_stats(df: DataFrame) -> DataFrame:
    """Dimensions + channel means of every image payload, whatever its
    format (``image_stats``)."""
    return _decode_stats(df, image_stats, IMAGE_STATS_SCHEMA)


def extract_audio_stats(df: DataFrame) -> DataFrame:
    """Rate / channels / duration / RMS of every audio payload, whatever
    its format (``audio_stats``)."""
    return _decode_stats(df, audio_stats, AUDIO_STATS_SCHEMA)


EXIF_SCHEMA = (
    "media_id long, has_exif boolean, byte_order string, orientation int, "
    "width int, height int, datetime string, datetime_original string"
)


def extract_exif(df: DataFrame) -> DataFrame:
    """EXIF metadata over the binary payload column (r10): JPEG APP1 /
    TIFF IFD walk via ``exif.probe_exif`` through one Arrow stage —
    header arithmetic only, no pixel decode, so the per-row cost is
    O(header) regardless of image size. Payloads without EXIF yield
    has_exif=false rather than erroring (absence is data at crawl
    scale); non-JPEG/TIFF payloads yield has_exif=NULL (the column
    contract mirrors ``probe_media``'s route-don't-crash stance)."""
    from vector_lake_spark.exif import probe_exif

    cols = [
        "has_exif", "byte_order", "orientation", "width", "height",
        "datetime", "datetime_original",
    ]

    def one(row):
        mid, payload = row
        try:
            d = probe_exif(bytes(payload))
        except ValueError:
            d = dict.fromkeys(cols)
        yield (mid, *(d[c] for c in cols))

    return map_rows(df.select("media_id", "payload"), one, EXIF_SCHEMA)
