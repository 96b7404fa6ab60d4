"""MPEG audio frame-walk probe (`vector_lake_spark.mp3`): header-table
arithmetic against hand-computed spec values, wrapper tolerance (ID3v2
syncsafe sizes, ID3v1 trailers, padding slots), corrupt-input contract,
and the named decode gate."""

import pytest

from vector_lake_spark.mp3 import (
    BITRATES,
    SAMPLE_RATES,
    decode_mp3,
    frame_length,
    is_mp3,
    mux_mp3_frames,
    probe_mp3,
)


def test_spec_frame_lengths():
    """Anchors computed by hand from the public formula: 144 slots for
    layer III MPEG-1, 72 for the MPEG-2 low-rate extension, 12×4-byte
    slots for layer I."""
    # the canonical example: 128 kbps @ 44100, layer III -> 417/418
    assert frame_length(1, 3, 128, 44100, 0) == 417
    assert frame_length(1, 3, 128, 44100, 1) == 418
    # layer I pads in 4-byte slots
    assert frame_length(1, 1, 448, 48000, 0) == 448
    assert frame_length(1, 1, 448, 48000, 1) == 452
    # MPEG-2 layer III: 576 samples/frame -> 72 slots
    assert frame_length(2, 3, 64, 22050, 0) == 72 * 64000 // 22050


def test_bitrate_and_rate_tables_shape():
    for key, tbl in BITRATES.items():
        assert len(tbl) == 14, key
        assert tbl == sorted(tbl)
    for v, rates in SAMPLE_RATES.items():
        assert len(rates) == 3, v


def test_cbr_probe_exact():
    p = mux_mp3_frames(38, "1", 3, 9, 0)
    info = probe_mp3(p)
    assert info["bitrate_kbps"] == 128
    assert info["sample_rate"] == 44100
    assert info["n_frames"] == 38
    assert info["stream_bytes"] == 38 * 417
    assert info["duration_ms"] == 38 * 1152 * 1000 // 44100
    assert info["vbr"] is False
    assert info["n_channels"] == 2


def test_padding_slots_counted():
    p = mux_mp3_frames(10, "1", 3, 9, 0, pad_every=3)
    info = probe_mp3(p)
    assert info["stream_bytes"] == 10 * 417 + 3  # frames 3, 6, 9 padded
    p1 = mux_mp3_frames(8, "1", 1, 14, 1, pad_every=2)
    assert probe_mp3(p1)["stream_bytes"] == 8 * 448 + 4 * 4  # 4-byte slots


def test_id3_wrappers_skipped():
    p = mux_mp3_frames(6, "2.5", 3, 2, 1, mono=True,
                       id3v2_bytes=200, id3v1=True)
    info = probe_mp3(p)
    assert info["version"] == "2.5"
    assert info["sample_rate"] == 12000
    assert info["n_channels"] == 1
    assert info["n_frames"] == 6
    # the tag bytes are NOT in stream_bytes
    assert info["stream_bytes"] == len(p) - 210 - 128


def test_all_version_layer_cells_walk():
    for version in ("1", "2", "2.5"):
        for layer in (1, 2, 3):
            p = mux_mp3_frames(4, version, layer, 7, 1)
            info = probe_mp3(p)
            assert (info["version"], info["layer"]) == (version, layer)
            assert info["n_frames"] == 4


def test_corrupt_inputs_are_named_valueerrors():
    p = mux_mp3_frames(5, "1", 3, 9, 0)
    with pytest.raises(ValueError, match="truncated"):
        probe_mp3(p[:-1])
    bad = bytearray(p)
    bad[417] = 0  # second frame's sync byte
    with pytest.raises(ValueError, match="lost frame sync"):
        probe_mp3(bytes(bad))
    with pytest.raises(ValueError, match="no frame sync"):
        probe_mp3(b"\x00" * 64)
    # free-format (bitrate index 0) is unwalkable, must not be accepted
    free = bytearray(p)
    free[2] &= 0x0F  # zero the bitrate index of frame 0
    with pytest.raises(ValueError, match="no frame sync"):
        probe_mp3(bytes(free))


def test_decode_gate_is_named():
    p = mux_mp3_frames(3, "2", 2, 5, 2)
    with pytest.raises(NotImplementedError, match="MPEG-2 layer 2"):
        decode_mp3(p)


def test_magic():
    assert is_mp3(mux_mp3_frames(1, "1", 3, 9, 0))
    assert is_mp3(mux_mp3_frames(1, "1", 3, 9, 0, id3v2_bytes=10))
    assert not is_mp3(b"RIFFxxxxWAVE")
    assert not is_mp3(b"")


def test_coincidental_header_is_not_mp3():
    """r09 advice: one valid 4-byte header in arbitrary binary must not
    route into the probe (which then reports 'corrupt'); is_mp3 wants a
    second consecutive header or exactly one complete frame to EOF."""
    one_frame = mux_mp3_frames(1, "1", 3, 9, 0)
    assert is_mp3(one_frame)  # single COMPLETE frame still routes
    assert is_mp3(one_frame + b"TAG" + bytes(125))  # ± ID3v1 trailer
    # a valid header followed by non-MPEG garbage is not MPEG audio
    assert not is_mp3(one_frame[:4] + b"not mpeg payload at all")
    # nor a header whose single frame is truncated
    assert not is_mp3(one_frame[:-7])
    from vector_lake_spark.multimodal import audio_stats

    with pytest.raises(NotImplementedError, match="unrecognized audio"):
        audio_stats(one_frame[:4] + b"not mpeg payload at all")


def test_fingerprint_and_stats_agree_mp3_is_unsupported():
    """An MP3 is legal but undecodable audio in every entry: the audio
    fingerprint's decode raises the same named gate as the stats."""
    from vector_lake_spark.multimodal import audio_stats
    from vector_lake_spark.operators.audiofp import decode_wav_samples

    mp3 = mux_mp3_frames(3, "1", 3, 9, 0)
    for decode in (audio_stats, decode_wav_samples):
        with pytest.raises(NotImplementedError):
            decode(mp3)


def test_truncated_real_mp3_routes_to_corrupt():
    """r10 advice: damage to a REAL MP3 is the probe's corrupt-stream
    ValueError, not the dispatcher's unrecognized NotImplementedError.
    Two shapes: (a) first frame overruns the payload but an ID3v2 tag
    vouches for the format; (b) one complete frame + a <4-byte
    sync-prefix fragment of frame 2. A bare coincidental sync with an
    overrunning frame (no ID3v2) stays NOT-mp3."""
    tagged = mux_mp3_frames(2, "1", 3, 9, 0, id3v2_bytes=10)
    one_plus = mux_mp3_frames(1, "1", 3, 9, 0)
    # (a) cut inside the first frame, behind the ID3v2 tag
    cut = tagged[: 10 + 10 + 20]  # id3 header(10)+pad(10)+20 frame bytes
    assert is_mp3(cut)
    with pytest.raises(ValueError):
        probe_mp3(cut)
    # (b) complete frame + 2-byte valid sync prefix of frame 2
    frag = one_plus + b"\xff\xfb"
    assert is_mp3(frag)
    with pytest.raises(ValueError):
        probe_mp3(frag)
    # a complete frame + 2 bytes that are NOT a sync prefix: not MPEG
    assert not is_mp3(one_plus + b"\xff\x1b")
    # bare overrunning sync without ID3v2 evidence: not MPEG
    bare = mux_mp3_frames(1, "1", 3, 9, 0)
    assert not is_mp3(bare[:-7])


def test_muxer_validation():
    with pytest.raises(ValueError, match="version"):
        mux_mp3_frames(1, "3")
    with pytest.raises(ValueError, match="layer"):
        mux_mp3_frames(1, "1", 0)
    with pytest.raises(ValueError, match="bitrate_idx"):
        mux_mp3_frames(1, "1", 3, 15)
    with pytest.raises(ValueError, match="rate_idx"):
        mux_mp3_frames(1, "1", 3, 9, 3)


def test_id3_tagged_non_mpeg_is_not_mp3():
    """Review finding: an ID3 tag alone must not classify a payload as
    MPEG audio — AAC files carry ID3 tags too. ADTS AAC sync (0xFFF
    with layer bits 00) must also be rejected."""
    id3 = b"ID3" + bytes([4, 0, 0, 0, 0, 0, 10]) + bytes(10)
    adts_aac = bytes([0xFF, 0xF1, 0x50, 0x80, 0x00, 0x1F, 0xFC])
    assert not is_mp3(id3 + adts_aac)
    assert not is_mp3(adts_aac)
    # and a REAL tagged stream still passes
    assert is_mp3(mux_mp3_frames(2, "1", 3, 9, 0, id3v2_bytes=10))
    from vector_lake_spark.multimodal import audio_stats
    with pytest.raises(NotImplementedError, match="unrecognized audio"):
        audio_stats(id3 + adts_aac)


def test_single_frame_recognized_trailers():
    """r10 review: one-frame files ending in APEv2/Lyrics3 tags or
    encoder null padding must still route as MPEG audio; arbitrary
    garbage after the frame must not."""
    one = mux_mp3_frames(1, "1", 3, 9, 0)
    assert is_mp3(one + b"APETAGEX" + bytes(24))
    assert is_mp3(one + b"LYRICSBEGIN" + b"whatever")
    assert is_mp3(one + bytes(413))  # null padding
    assert not is_mp3(one + b"random trailing garbage")
