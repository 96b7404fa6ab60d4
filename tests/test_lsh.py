"""LSH router parity + property tests (reference test strategy, SURVEY.md §5:
router invariant `0 ≤ shard < num_shards`, reproduced and strengthened with
exact driver-side/executor-side agreement)."""

import numpy as np
import pytest

from vector_lake_spark.operators import lsh


def test_shard_count_arithmetic():
    # index.py:453-455: approx_shards=243 → 256 actual shards
    assert lsh.num_hashes_for(243) == 8
    assert lsh.num_shards_for(243) == 256
    assert lsh.num_shards_for(10) == 8
    assert lsh.num_shards_for(2) == 2


def test_hyperplanes_deterministic():
    a = lsh.make_hyperplanes(5, 8)
    b = lsh.make_hyperplanes(5, 8)
    assert np.array_equal(a, b)
    assert a.shape == (8, 5)
    # same stream as the reference's global np.random.seed(42)
    np.random.seed(42)
    ref = np.random.randn(8, 5)
    assert np.array_equal(a, ref)


def test_route_vector_matches_reference_arithmetic():
    H = lsh.make_hyperplanes(5, 8)
    rng = np.random.RandomState(7)
    for _ in range(50):
        v = rng.rand(5)
        # reference index.py:53-68 formula, independently recomputed
        expected = int(
            "".join("1" if np.dot(h, v) > 0 else "0" for h in H), 2
        )
        assert lsh.route_vector(v, H) == expected
        assert 0 <= expected < 256


def test_spark_expr_matches_driver_routing(spark):
    H = lsh.make_hyperplanes(8, 6)
    rng = np.random.RandomState(3)
    vecs = [[float(x) for x in rng.randn(8)] for _ in range(100)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "id int, vec array<double>"
    )
    got = {
        r["id"]: r["shard"]
        for r in df.select(
            "id", lsh.shard_id_expr("`vec`", H).alias("shard")
        ).collect()
    }
    for i, v in enumerate(vecs):
        assert got[i] == lsh.route_vector(v, H), f"vector {i}"


def test_multiprobe_contains_primary():
    from vector_lake_spark.operators.ann import multiprobe_shards

    H = lsh.make_hyperplanes(8, 4)
    v = np.arange(8, dtype=float)
    probes = multiprobe_shards(v, H, n_probes=3)
    assert probes[0] == lsh.route_vector(v, H)
    assert len(set(probes)) == 3
    assert all(0 <= p < 16 for p in probes)


def test_banded_neardup_bounds_hot_shard_key(spark):
    """VERDICT r02 #2: the near-dup join key must stay bounded BY DESIGN
    when the shard distribution is skewed. Fixture: uniform [0,1) vectors
    concentrate into one dominant LSH shard (>=50% of rows); the banded
    join's largest (shard, band, key) bucket must be a fraction of that
    hot shard, and the banded result must be a subset of the exact
    same-shard pair set (numpy reference) with identical similarity
    values."""
    from decimal import ROUND_HALF_UP, Decimal

    from vector_lake_spark.operators.ann import lsh_neardup_pairs

    H = lsh.make_hyperplanes(16, 4)
    rng = np.random.RandomState(5)
    # diverse directions, skew by SELECTION: every member of the most
    # popular shard plus an equal number of others — the shard histogram
    # is heavily skewed while vectors inside the hot shard stay diverse
    # (the realistic failure mode: a hot shard, not one repeated vector)
    pool = rng.randn(3200, 16)
    routed = np.array([lsh.route_vector(v, H) for v in pool])
    hot_shard = np.bincount(routed).argmax()
    hot_idx = np.where(routed == hot_shard)[0]
    other_idx = np.where(routed != hot_shard)[0][: len(hot_idx)]
    chosen = np.concatenate([hot_idx, other_idx])
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in pool[i]]) for i in chosen],
        "vec_id long, embedding array<double>",
    )
    hot = len(hot_idx)
    assert hot >= 150 and hot * 2 == len(chosen), "fixture should be 50% hot"

    n_bands, band_bits = 8, 2
    bands = lsh.make_band_hyperplanes(16, n_bands, band_bits)
    key_counts = []
    for b in range(n_bands):
        rows = (
            df.select(
                lsh.shard_id_expr("`embedding`", H).alias("shard"),
                lsh.shard_id_expr("`embedding`", bands[b]).alias("bkey"),
            )
            .groupBy("shard", "bkey").count().collect()
        )
        key_counts.extend(r["count"] for r in rows)
    # every join key holds a strict fraction of the hot shard: 2 band bits
    # split a bucket ~4 ways; allow generous slack over the expected hot/4
    assert max(key_counts) <= hot * 0.6, (
        f"hot join key {max(key_counts)} rows vs hot shard {hot}"
    )

    def sim(a, b):
        # the operator's arithmetic: sequential folds (cumsum), then
        # round half-up at 6 decimals on the shortest repr (Spark round)
        dot = np.cumsum(a * b)[-1]
        na, nb = np.sqrt(np.cumsum(a * a)[-1]), np.sqrt(np.cumsum(b * b)[-1])
        d = Decimal(repr(float(dot / (na * nb))))
        return float(d.quantize(Decimal("1e-6"), ROUND_HALF_UP))

    # 0.8, not 0.9: this fixture holds no same-shard pair at 0.9, which
    # would leave the subset check vacuous; it holds 19 at 0.8
    threshold = 0.8
    same_shard = {}
    for x, i in enumerate(chosen):
        for j in chosen[x + 1:]:
            if routed[i] == routed[j]:
                s = sim(pool[min(i, j)], pool[max(i, j)])
                if s >= threshold:
                    same_shard[(int(min(i, j)), int(max(i, j)))] = s
    banded = {
        (r["id_a"], r["id_b"]): r["sim"]
        for r in lsh_neardup_pairs(
            df, H, threshold=threshold, n_bands=n_bands, band_bits=band_bits
        ).collect()
    }
    assert banded and set(banded) <= set(same_shard)
    for pair, s in banded.items():
        assert s == same_shard[pair]


def test_auto_band_bits_density_rule():
    """r10 (VERDICT r09 #2): the corpus-sized band width. At oracle
    scales it must resolve to the static-oracle floor (2), on the r09
    cliff corpus (200k rows, 16 shards) to the measured-safe 6, and it
    must never fall below the floor or grow without bound."""
    from vector_lake_spark.operators.ann import auto_band_bits

    assert auto_band_bits(0, 16) == 2
    assert auto_band_bits(500, 16) == 2      # sf0.01
    assert auto_band_bits(5_000, 16) == 2    # sf0.1
    assert auto_band_bits(16_384, 16) == 2   # exactly at the floor edge
    assert auto_band_bits(200_000, 16) == 6  # the measured cliff corpus
    assert auto_band_bits(2_000_000, 16) == 9
    assert auto_band_bits(10**12, 16) == 16  # ceiling


def test_auto_band_bits_is_default_in_registry(spark):
    """The registry entries pass band_bits=None; at test scale the auto
    rule must reproduce the fixed-width pair set exactly (the oracle
    contract depends on it)."""
    from vector_lake_spark import queries as Q
    from vector_lake_spark.operators.ann import lsh_neardup_pairs

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    kw = dict(threshold=Q.NEARDUP_COS_THRESHOLD, n_bands=Q.NEARDUP_N_BANDS)
    auto = {(r.id_a, r.id_b) for r in
            lsh_neardup_pairs(df, Q.H4, band_bits=None, **kw).collect()}
    fixed = {(r.id_a, r.id_b) for r in
             lsh_neardup_pairs(df, Q.H4, band_bits=2, **kw).collect()}
    assert auto == fixed and auto


def test_testdata_scales_under_static_oracle_ceiling():
    """r11 (ADVICE r10): the registry entries that pass band_bits=None
    (vec_neardup_lsh, vec_semantic_dedup, the k-NN graph family) are
    compared against STATIC SQL oracles that bake band_bits=2. The auto
    rule returns 2 for corpora ≤ 16·256·4 = 16,384 rows, so the
    contract is exact only under that ceiling — this test enforces it
    against every parquet scale the driver can run, turning the latent
    silent-divergence trap into a loud failure if a larger sf family
    ever ships."""
    import duckdb

    from vector_lake_spark.operators.ann import auto_band_bits

    for sf in ("0.001", "0.01", "0.1"):
        n = duckdb.sql(
            f"SELECT count(*) FROM '/root/testdata/sf{sf}/embeddings.parquet'"
        ).fetchone()[0]
        assert n <= 16_384, (
            f"sf{sf} embeddings has {n} rows: past the band_bits=2 "
            f"static-oracle ceiling — parameterize the oracles or "
            f"re-pin the band width before trusting CORRECTNESS"
        )
        assert auto_band_bits(n, 16) == 2
