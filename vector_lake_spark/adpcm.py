"""IMA/DVI ADPCM (WAV format tag 0x0011) — the most common non-PCM,
non-G.711 WAV codec in the wild, closed in r10 (was a named gate at
``multimodal._decode_wav_ext_samples``).

The algorithm is fully public (IMA "Recommended Practices for Enhancing
Digital Audio Compatibility", the same tables every implementation
ships): 4-bit nibbles, an 89-entry step-size table, and an 8-entry
index-adaptation table. Per WAV block, each channel carries a 4-byte
header (int16 predictor = the block's FIRST decoded sample, uint8 step
index, 1 reserved byte); mono data is then a plain nibble stream (low
nibble first), stereo interleaves 4-byte (8-nibble) groups per channel.

Decode is exact integer arithmetic — deterministic for any given
stream — which is what lets the ``mm_wav_depths`` oracle cover it:
nibble 1 at step index 0 decodes to a +1 delta (step 7: 7>>3 + 7>>2 =
1) and leaves the index at 0, nibble 9 to −1, nibble 0/8 to 0 — so a
crafted nibble stream produces an exactly predictable (closed-form)
waveform even though the codec is lossy in general.
"""

from __future__ import annotations

import struct

import numpy as np

# fmt: off
STEP_TABLE = np.array([
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
], dtype=np.int64)
# fmt: on
INDEX_TABLE = np.array([-1, -1, -1, -1, 2, 4, 6, 8], dtype=np.int64)


def _decode_nibbles(nibbles, pred: int, idx: int):
    """Decode a nibble sequence with initial (predictor, step index);
    returns (samples list, predictor, index). Pure-spec arithmetic."""
    out = []
    for n in nibbles:
        step = int(STEP_TABLE[idx])
        diff = step >> 3
        if n & 1:
            diff += step >> 2
        if n & 2:
            diff += step >> 1
        if n & 4:
            diff += step
        pred = pred - diff if n & 8 else pred + diff
        pred = max(-32768, min(32767, pred))
        idx = max(0, min(88, idx + int(INDEX_TABLE[n & 7])))
        out.append(pred)
    return out, pred, idx


def _encode_sample(x: int, pred: int, idx: int):
    """Greedy spec encoder for one sample: pick the nibble whose decoded
    delta lands nearest, mirroring the decoder's integer arithmetic."""
    step = int(STEP_TABLE[idx])
    delta = x - pred
    n = 0
    if delta < 0:
        n = 8
        delta = -delta
    if delta >= step:
        n |= 4
        delta -= step
    if delta >= step >> 1:
        n |= 2
        delta -= step >> 1
    if delta >= step >> 2:
        n |= 1
    samples, pred, idx = _decode_nibbles([n], pred, idx)
    return n, samples[0], idx


def ima_adpcm_decode(
    data: bytes, n_channels: int, block_align: int
) -> np.ndarray:
    """Decode an IMA ADPCM WAV ``data`` chunk to interleaved int16
    samples. Each channel's block header predictor IS its first output
    sample (the common convention — Microsoft's IMA WAV layout)."""
    if n_channels < 1:
        raise ValueError("ADPCM WAV with zero channels")
    if block_align < 4 * n_channels or block_align % (4 * n_channels):
        raise ValueError(
            f"IMA ADPCM block align {block_align} not a multiple of "
            f"4 bytes per channel"
        )
    out_ch: list[list[int]] = [[] for _ in range(n_channels)]
    pos = 0
    while pos + 4 * n_channels <= len(data):
        block = data[pos : pos + block_align]
        pos += block_align
        preds, idxs = [], []
        for c in range(n_channels):
            pred, idx, _rsvd = struct.unpack_from("<hBB", block, 4 * c)
            if idx > 88:
                raise ValueError(
                    f"corrupt IMA ADPCM: step index {idx} out of range"
                )
            preds.append(pred)
            idxs.append(idx)
            out_ch[c].append(pred)
        body = block[4 * n_channels :]
        # nibble payload: mono is a plain stream; stereo interleaves
        # 4-byte groups per channel
        for g in range(0, len(body), 4 * n_channels):
            for c in range(n_channels):
                word = body[g + 4 * c : g + 4 * (c + 1)]
                nibbles = []
                for byte in word:
                    nibbles.append(byte & 0xF)  # low nibble first
                    nibbles.append(byte >> 4)
                dec, preds[c], idxs[c] = _decode_nibbles(
                    nibbles, preds[c], idxs[c]
                )
                out_ch[c].extend(dec)
    n_frames = min(len(ch) for ch in out_ch)
    inter = np.empty(n_frames * n_channels, dtype=np.int64)
    for c in range(n_channels):
        inter[c::n_channels] = out_ch[c][:n_frames]
    return inter


def ima_adpcm_encode(
    samples, n_channels: int = 1, samples_per_block: int = 505
) -> tuple[bytes, int]:
    """Encode interleaved int16 ``samples`` to IMA ADPCM blocks; returns
    (data bytes, block_align). ``samples_per_block`` counts frames per
    block INCLUDING the header sample and must be 1 + a multiple of 8
    (each 4-byte channel group holds 8 nibbles); 505 is the common
    choice for mono 8 kHz. The last partial block zero-pads."""
    if (samples_per_block - 1) % 8:
        raise ValueError(
            "samples_per_block must be 1 + a multiple of 8 "
            f"(got {samples_per_block})"
        )
    x = np.asarray(samples, dtype=np.int64)
    if x.size % n_channels:
        raise ValueError("sample count not a multiple of channel count")
    frames = x.reshape(-1, n_channels)
    block_align = 4 * n_channels + (samples_per_block - 1) // 2 * n_channels
    out = bytearray()
    idxs = [0] * n_channels
    for b0 in range(0, len(frames), samples_per_block):
        blk = frames[b0 : b0 + samples_per_block]
        if len(blk) < samples_per_block:
            blk = np.vstack(
                [blk, np.tile(blk[-1], (samples_per_block - len(blk), 1))]
            )
        chunks = []
        for c in range(n_channels):
            pred = int(blk[0, c])
            out += struct.pack("<hBB", pred, idxs[c], 0)
            nibs = []
            for t in range(1, samples_per_block):
                n, pred, idxs[c] = _encode_sample(
                    int(blk[t, c]), pred, idxs[c]
                )
                nibs.append(n)
            packed = bytearray()
            for i in range(0, len(nibs), 2):
                packed.append(nibs[i] | (nibs[i + 1] << 4))
            chunks.append(bytes(packed))
        # interleave 4-byte groups per channel
        for g in range(0, len(chunks[0]), 4):
            for c in range(n_channels):
                out += chunks[c][g : g + 4]
    return bytes(out), block_align


# ---------------------------------------------------------------------------
# MS ADPCM (WAV format tag 0x0002) — the other ubiquitous ADPCM (r10)
# ---------------------------------------------------------------------------
#
# Public spec (Microsoft WAVE format documentation): 7 predefined
# predictor-coefficient pairs; per block and channel a header carries
# (coefficient index, initial delta, the first TWO samples verbatim);
# each subsequent sample decodes as
#     pred   = (s1*c1 + s2*c2) // 256
#     sample = clamp(pred + signed4(nibble) * delta)
#     delta  = max(16, delta * ADAPT[nibble & 0xF] // 256)
# Stereo interleaves per NIBBLE (left sample, right sample, ...).

MS_COEFS = [(256, 0), (512, -256), (0, 0), (192, 64), (240, 0),
            (460, -208), (392, -232)]
MS_ADAPT = [230, 230, 230, 230, 307, 409, 512, 614,
            768, 614, 512, 409, 307, 230, 230, 230]


def _ms_signed4(n: int) -> int:
    return n - 16 if n >= 8 else n


def ms_adpcm_decode(
    data: bytes, n_channels: int, block_align: int, samples_per_block: int
) -> np.ndarray:
    """Decode an MS ADPCM WAV ``data`` chunk to interleaved int16
    samples. Header layout per block: predictor index byte per channel,
    then int16 delta per channel, then int16 sample1 per channel, then
    int16 sample2 per channel (sample2 is the OLDER sample: output
    order is sample2, sample1, then the nibble stream)."""
    if n_channels < 1:
        raise ValueError("ADPCM WAV with zero channels")
    hdr = 7 * n_channels
    if block_align <= hdr:
        raise ValueError(
            f"MS ADPCM block align {block_align} too small for its "
            f"{hdr}-byte header"
        )
    out_ch: list[list[int]] = [[] for _ in range(n_channels)]
    pos = 0
    while pos + hdr <= len(data):
        block = data[pos : pos + block_align]
        pos += block_align
        preds, deltas, s1s, s2s = [], [], [], []
        for c in range(n_channels):
            p = block[c]
            if p >= len(MS_COEFS):
                raise ValueError(
                    f"corrupt MS ADPCM: predictor index {p} out of range"
                )
            preds.append(p)
        off = n_channels
        for lst in (deltas, s1s, s2s):
            for c in range(n_channels):
                (v,) = struct.unpack_from("<h", block, off)
                lst.append(v)
                off += 2
        for c in range(n_channels):
            out_ch[c].append(s2s[c])
            out_ch[c].append(s1s[c])
        nibbles = []
        for byte in block[off:]:
            nibbles.append(byte >> 4)  # MS packs HIGH nibble first
            nibbles.append(byte & 0xF)
        want = max(0, samples_per_block - 2) * n_channels
        for i, n in enumerate(nibbles[:want]):
            c = i % n_channels  # stereo interleaves per nibble
            c1, c2 = MS_COEFS[preds[c]]
            pred = (s1s[c] * c1 + s2s[c] * c2) >> 8
            samp = pred + _ms_signed4(n) * deltas[c]
            samp = max(-32768, min(32767, samp))
            s2s[c], s1s[c] = s1s[c], samp
            deltas[c] = max(16, deltas[c] * MS_ADAPT[n] // 256)
            out_ch[c].append(samp)
    n_frames = min(len(ch) for ch in out_ch)
    inter = np.empty(n_frames * n_channels, dtype=np.int64)
    for c in range(n_channels):
        inter[c::n_channels] = out_ch[c][:n_frames]
    return inter


def ms_adpcm_encode(
    samples, n_channels: int = 1, samples_per_block: int = 500
) -> tuple[bytes, int]:
    """Greedy MS ADPCM encoder (coefficient pair 0 — pure first-order
    prediction — which the spec always includes): returns (data,
    block_align). Frames per block must be even-nibble aligned:
    (samples_per_block − 2) · n_channels nibbles fill whole bytes."""
    x = np.asarray(samples, dtype=np.int64)
    if x.size % n_channels:
        raise ValueError("sample count not a multiple of channel count")
    if (samples_per_block - 2) * n_channels % 2:
        raise ValueError("samples_per_block leaves a half-filled byte")
    frames = x.reshape(-1, n_channels)
    if len(frames) < 2:
        raise ValueError(
            "MS ADPCM needs at least two frames (the block header "
            "stores the first two samples verbatim)"
        )
    hdr = 7 * n_channels
    block_align = hdr + (samples_per_block - 2) * n_channels // 2
    out = bytearray()
    for b0 in range(0, len(frames), samples_per_block):
        blk = frames[b0 : b0 + samples_per_block]
        if len(blk) < samples_per_block:
            blk = np.vstack(
                [blk, np.tile(blk[-1], (samples_per_block - len(blk), 1))]
            )
        deltas = [256] * n_channels
        s2 = [int(blk[0, c]) for c in range(n_channels)]
        s1 = [int(blk[1, c]) for c in range(n_channels)]
        for c in range(n_channels):
            out += bytes([0])  # coefficient pair 0
        for vals in (deltas, s1, s2):
            for c in range(n_channels):
                out += struct.pack("<h", vals[c])
        nibbles = []
        for t in range(2, samples_per_block):
            for c in range(n_channels):
                target = int(blk[t, c])
                pred = s1[c]  # pair 0: (256, 0)
                n = max(-8, min(7, round((target - pred) / deltas[c])))
                n &= 0xF
                samp = pred + _ms_signed4(n) * deltas[c]
                samp = max(-32768, min(32767, samp))
                s2[c], s1[c] = s1[c], samp
                deltas[c] = max(16, deltas[c] * MS_ADAPT[n] // 256)
                nibbles.append(n)
        for i in range(0, len(nibbles), 2):
            out += bytes([(nibbles[i] << 4) | nibbles[i + 1]])
    return bytes(out), block_align


def mux_ms_adpcm_wav(
    data: bytes,
    rate: int,
    n_channels: int,
    block_align: int,
    n_frames: int,
) -> bytes:
    """RIFF/WAVE wrapper for an MS ADPCM stream: fmt tag 0x0002 with
    the samples-per-block + coefficient-table extension, plus the fact
    chunk."""
    spb = (block_align - 7 * n_channels) * 2 // n_channels + 2
    ext = struct.pack("<H", spb) + struct.pack("<H", len(MS_COEFS))
    for c1, c2 in MS_COEFS:
        ext += struct.pack("<hh", c1, c2)
    fmt_chunk = struct.pack(
        "<HHIIHHH",
        0x0002,
        n_channels,
        rate,
        rate * block_align // spb,
        block_align,
        4,
        len(ext),
    ) + ext
    fact = struct.pack("<I", n_frames)
    pad = b"\x00" if len(data) & 1 else b""
    out = bytearray(b"RIFF")
    out += struct.pack(
        "<I", 4 + 8 + len(fmt_chunk) + 8 + len(fact) + 8 + len(data) + len(pad)
    )
    out += b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt_chunk)) + fmt_chunk
    out += b"fact" + struct.pack("<I", len(fact)) + fact
    out += b"data" + struct.pack("<I", len(data)) + data + pad
    return bytes(out)


def mux_ima_adpcm_wav(
    data: bytes,
    rate: int,
    n_channels: int,
    block_align: int,
    n_frames: int,
) -> bytes:
    """RIFF/WAVE wrapper for an IMA ADPCM stream (fmt tag 0x0011 with
    the samples-per-block extension word + the fact chunk the spec
    requires for compressed formats)."""
    spb = (block_align - 4 * n_channels) * 2 // n_channels + 1
    fmt_chunk = struct.pack(
        "<HHIIHHHH",
        0x0011,
        n_channels,
        rate,
        rate * block_align // spb,
        block_align,
        4,
        2,
        spb,
    )
    fact = struct.pack("<I", n_frames)
    pad = b"\x00" if len(data) & 1 else b""
    out = bytearray(b"RIFF")
    out += struct.pack(
        "<I", 4 + 8 + len(fmt_chunk) + 8 + len(fact) + 8 + len(data) + len(pad)
    )
    out += b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt_chunk)) + fmt_chunk
    out += b"fact" + struct.pack("<I", len(fact)) + fact
    out += b"data" + struct.pack("<I", len(data)) + data + pad
    return bytes(out)
