"""SimHash near-dup unification (r12, VERDICT r11 #1): the banded
candidate stage now rides ``binary.hamming_neardup_pairs`` over the
60-bit fingerprint (``total_bits=60``) with corpus-sized auto block
sizing — the repo's last fixed-band-width near-dup path is gone. These
tests pin (a) exactness vs brute force, (b) block-count invariance of
the pair set (the pigeonhole guarantee the unification leans on),
(c) the auto sizer resolving to the legacy-equivalent minimal config
at every testdata scale (so oracle hashes are unchanged), and (d) the
short-signature validation contract in ``hamming_neardup_pairs``."""

import pytest

from vector_lake_spark.operators.binary import (
    auto_hamming_blocks,
    hamming_neardup_pairs,
)
from vector_lake_spark.operators.dedup import (
    SIMHASH_BITS,
    simhash,
    simhash_neardup_pairs,
)


def _corpus(spark):
    base = [
        "the quick brown fox jumps over the lazy dog near the river",
        "pack my box with five dozen liquor jugs before the auction",
        "sphinx of black quartz judge my vow in the ancient temple",
        "a stitch in time saves nine but only when the thread holds",
        "to be or not to be that is the question asked every night",
    ]
    rows = []
    doc_id = 0
    for t in base:
        for suffix in ("", "", " extra", " extra token", " wholly different"):
            rows.append((doc_id, t + suffix))
            doc_id += 1
    return spark.createDataFrame(rows, "doc_id long, text string")


def _brute_pairs(spark, df, max_hamming=3):
    fps = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
    out = set()
    ids = sorted(fps)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1")
            if d <= max_hamming:
                out.add((a, b, d))
    return out


def test_simhash_pairs_match_bruteforce(spark):
    df = _corpus(spark)
    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_neardup_pairs(df, max_hamming=3).collect()
    }
    want = _brute_pairs(spark, df, 3)
    assert got == want
    # the fixture guarantees real work: every base text contributes at
    # least the exact-duplicate pair at hamming 0
    assert sum(1 for (_, _, d) in want if d == 0) >= 5


def test_simhash_pair_set_is_block_count_invariant(spark):
    df = _corpus(spark)
    minimal = {
        tuple(r)
        for r in simhash_neardup_pairs(df, max_hamming=3, n_blocks=4)
        .collect()
    }
    wider = {
        tuple(r)
        for r in simhash_neardup_pairs(df, max_hamming=3, n_blocks=6)
        .collect()
    }
    assert minimal == wider and minimal


def test_auto_blocks_resolve_minimal_at_every_testdata_scale():
    # minimal config (4 blocks of 15 bits == the legacy 4x15 banding,
    # so driver-oracle hashes survive the unification) holds through
    # corpus sizes far past any testdata sf; the sizer adds blocks only
    # when 15-bit-key bucket density would blow the measured candidate
    # budget (~40M uniform docs)
    for n in (0, 1_000, 60_000, 1_000_000, 10_000_000):
        assert auto_hamming_blocks(n, 3, total_bits=SIMHASH_BITS) == 4
    assert auto_hamming_blocks(100_000_000, 3, total_bits=SIMHASH_BITS) > 4


def test_hamming_total_bits_validation(spark):
    df = spark.createDataFrame(
        [(1, 3), (2, 3)], "media_id long, sig long"
    )
    with pytest.raises(ValueError, match="total_bits"):
        hamming_neardup_pairs(df, radius=1, total_bits=65)
    with pytest.raises(ValueError, match="total_bits"):
        hamming_neardup_pairs(df, radius=1, total_bits=0)
    # short signatures pair exactly: two equal 2-bit sigs at radius 1
    got = hamming_neardup_pairs(
        df, radius=1, n_blocks=2, total_bits=2
    ).collect()
    assert [(r["id_a"], r["id_b"], r["dist"]) for r in got] == [(1, 2, 0)]
