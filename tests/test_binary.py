"""SignatureIndex (binary sign-bit index) — persisted-artifact twin of
the ``vec_topk_hamming`` registry query."""

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from vector_lake_spark import queries as Q
from vector_lake_spark.operators.binary import (
    SignatureIndex,
    n_halves,
    pack_query_sig,
    sig_exprs,
)
from vector_lake_spark.functions.vectors import to_double_array


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _rows(df):
    return [tuple(r) for r in df.collect()]


def test_index_topk_equals_inline_registry_query(spark, emb, tmp_path):
    """The persisted index must return EXACTLY what the inline registry
    query computes (same pool, same tie-breaks) — signatures packed at
    build time equal signatures computed inline, bit for bit."""
    idx = SignatureIndex.build(spark, str(tmp_path / "sig"), emb, dim=64)
    got = _rows(idx.topk(emb, Q.QUERY_VEC, k=Q.K, pool=Q.HAMMING_POOL))
    want = _rows(Q.q_vec_topk_hamming(spark, SF_DIR))
    assert got == want


def test_full_pool_degrades_to_exact_search(spark, emb, tmp_path):
    """pool >= corpus size: every row reaches the re-rank, so the result
    must equal exact brute-force cosine top-k."""
    from vector_lake_spark.operators.topk import topk_cosine

    n = emb.count()
    idx = SignatureIndex.build(spark, str(tmp_path / "sig"), emb, dim=64)
    got = _rows(
        idx.topk(emb, Q.QUERY_VEC, k=Q.K, pool=n).select("vec_id", "score")
    )
    want = _rows(
        topk_cosine(emb, Q.QUERY_VEC, Q.K).select("vec_id", "score")
    )
    assert got == want


def test_append_equals_fresh_rebuild(spark, emb, tmp_path):
    """Packing is a pure per-row function: build(half1)+append(half2)
    must answer queries identically to build(all)."""
    half1 = emb.filter(F.col("vec_id") % 2 == 0)
    half2 = emb.filter(F.col("vec_id") % 2 == 1)
    inc = SignatureIndex.build(spark, str(tmp_path / "inc"), half1, dim=64)
    appended = inc.append(half2)
    assert appended == half2.count()
    full = SignatureIndex.build(spark, str(tmp_path / "full"), emb, dim=64)
    got = _rows(inc.topk(emb, Q.QUERY_VEC, k=Q.K, pool=Q.HAMMING_POOL))
    want = _rows(full.topk(emb, Q.QUERY_VEC, k=Q.K, pool=Q.HAMMING_POOL))
    assert got == want
    assert inc.drift()["counts_match_sidecar"]


def test_reopen_from_sidecar(spark, emb, tmp_path):
    """A fresh handle constructed from the sidecar alone answers the
    same query (dim/columns/count all round-trip)."""
    loc = str(tmp_path / "sig")
    built = SignatureIndex.build(spark, loc, emb, dim=64)
    reopened = SignatureIndex(spark, loc)
    assert (reopened.dim, reopened.n_rows) == (built.dim, built.n_rows)
    assert _rows(reopened.topk(emb, Q.QUERY_VEC, k=5)) == _rows(
        built.topk(emb, Q.QUERY_VEC, k=5)
    )


def test_non_multiple_of_32_dims_pack_consistently(spark):
    """dim=40 (one full + one 8-bit half): an expression-packed row
    signature must equal the driver-side packing of the same values —
    a vector queried against itself has Hamming distance 0."""
    vec = [(-1.0) ** i * (i + 1) for i in range(40)]
    df = spark.createDataFrame([(0, vec)], "vec_id long, embedding array<double>")
    assert n_halves(40) == 2
    packed_rows = df.select(
        *[
            e.alias(f"s{h}")
            for h, e in enumerate(
                sig_exprs(to_double_array(F.col("embedding")), 40)
            )
        ]
    ).collect()[0]
    assert list(packed_rows) == pack_query_sig(vec)


def test_query_dim_mismatch_raises(spark, emb, tmp_path):
    idx = SignatureIndex.build(spark, str(tmp_path / "sig"), emb, dim=64)
    with pytest.raises(ValueError, match="query dim"):
        idx.topk(emb, [0.0] * 16, k=5)


def test_signature_scan_reads_only_signature_columns(spark, emb, tmp_path):
    """The coarse stage's parquet scan must read (id, sig_*) ONLY —
    never the float vectors (that is the 30x I/O contract)."""
    idx = SignatureIndex.build(spark, str(tmp_path / "sig"), emb, dim=64)
    df = idx.topk(emb, Q.QUERY_VEC, k=Q.K)
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    sig_scans = [
        seg
        for seg in plan.split("Scan parquet")
        if "sig_0" in seg.split("ReadSchema")[-1].split("\n")[0]
    ]
    assert sig_scans, plan
    assert all(
        "embedding" not in seg.split("ReadSchema")[-1].split("\n")[0]
        for seg in sig_scans
    ), plan


def test_build_rejects_misaligned_vector_dims(spark, tmp_path):
    """Data-side guard: packing a vector whose length != the declared
    index dim must fail the build loudly (F.slice would otherwise
    silently truncate into a garbage LSB-aligned signature)."""
    df = spark.createDataFrame(
        [(0, [1.0] * 40)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(Exception, match="vector dim != index dim 64"):
        SignatureIndex.build(spark, str(tmp_path / "bad"), df, dim=64)


def test_batch_query_dim_mismatch_raises(spark, emb, tmp_path):
    """The batch path mirrors topk's loud dim guard: a misaligned query
    vector must fail, not slice into a garbage signature."""
    idx = SignatureIndex.build(spark, str(tmp_path / "sig"), emb, dim=64)
    bad = spark.createDataFrame(
        [(0, [0.5] * 16)], "query_id long, query_vec array<double>"
    )
    with pytest.raises(Exception, match="query dim != index dim 64"):
        idx.topk_batch(emb, bad, k=5).collect()


def test_perceptual_index_roundtrip_and_auto_blocks(spark, tmp_path):
    """PerceptualIndex (r11): build persists the signature table +
    sidecar; neardup_pairs over the index equals the inline operator;
    the auto block count resolves from the SIDECAR (no job re-running
    any codec chain) to the same value the inline auto would pick."""
    import numpy as np

    from vector_lake_spark.operators.binary import (
        PerceptualIndex,
        auto_hamming_blocks,
        hamming_neardup_pairs,
    )

    rng = np.random.RandomState(53)
    sigs = {}
    base = int(rng.randint(0, 1 << 62))
    for i in range(40):
        v = base
        for f in rng.choice(64, size=i % 9, replace=False):
            v ^= 1 << int(f)
        sigs[i] = v - (1 << 64) if v >= (1 << 63) else v
    df = spark.createDataFrame(
        list(sigs.items()), "media_id long, sig long"
    )
    loc = str(tmp_path / "pidx")
    idx = PerceptualIndex.build(spark, loc, df)
    assert idx.n_rows == 40 and idx.n_longs == 1
    want = {
        (r.id_a, r.id_b, r.dist)
        for r in hamming_neardup_pairs(df, radius=3, n_blocks=4).collect()
    }
    got = {
        (r.id_a, r.id_b, r.dist)
        for r in idx.neardup_pairs(radius=3).collect()
    }
    assert got == want
    # the sidecar-resolved block count equals the inline auto default
    assert auto_hamming_blocks(40, 3) == 4
    # reopen from disk: sidecar is the contract
    again = PerceptualIndex(spark, loc)
    assert again.n_rows == 40 and again.id_col == "media_id"
    assert again.drift()["counts_match_sidecar"]


def test_perceptual_index_append_and_drift(spark, tmp_path):
    from vector_lake_spark.operators.binary import PerceptualIndex

    df1 = spark.createDataFrame(
        [(i, i * 7) for i in range(10)], "media_id long, sig long"
    )
    df2 = spark.createDataFrame(
        [(i, i * 7) for i in range(10, 15)], "media_id long, sig long"
    )
    loc = str(tmp_path / "pidx2")
    idx = PerceptualIndex.build(spark, loc, df1)
    assert idx.append(df2) == 5
    assert idx.n_rows == 15
    assert idx.drift() == {"total_rows": 15, "counts_match_sidecar": True}
    # external mutation trips the audit
    idx.load().limit(3).write.mode("append").parquet(f"{loc}/data")
    assert not idx.drift()["counts_match_sidecar"]


def test_perceptual_index_wide_and_grouped(spark, tmp_path):
    """n_longs=4 array signatures and persisted group_cols both flow
    through the index: pairs match within groups only and equal the
    inline grouped operator."""
    import numpy as np

    from vector_lake_spark.operators.binary import (
        PerceptualIndex,
        hamming_neardup_pairs,
    )

    rng = np.random.RandomState(59)
    rows = []
    base = [int(rng.randint(0, 1 << 62)) for _ in range(4)]
    for grp in (0, 1):
        for i in range(12):
            v = [x ^ (0xAAAA if grp else 0) for x in base]
            for f in rng.choice(256, size=i % 9, replace=False):
                v[int(f) // 64] ^= 1 << (int(f) % 64)
            rows.append(
                (grp, i,
                 [x - (1 << 64) if x >= (1 << 63) else x for x in v])
            )
    df = spark.createDataFrame(
        rows, "frame_no int, media_id long, sig array<long>"
    )
    loc = str(tmp_path / "pidx3")
    idx = PerceptualIndex.build(
        spark, loc, df, n_longs=4, group_cols=["frame_no"]
    )
    want = {
        tuple(r)
        for r in hamming_neardup_pairs(
            df, radius=7, n_blocks=8, n_longs=4, group_cols=["frame_no"]
        ).collect()
    }
    got = {tuple(r) for r in idx.neardup_pairs(radius=7).collect()}
    assert got == want and got


def test_perceptual_index_validates_schema(spark, tmp_path):
    from vector_lake_spark.operators.binary import PerceptualIndex

    df = spark.createDataFrame(
        [(1, 2)], "media_id long, sig long"
    )
    with pytest.raises(ValueError, match="missing columns"):
        PerceptualIndex.build(
            spark, str(tmp_path / "x"), df, group_cols=["frame_no"]
        )
    with pytest.raises(ValueError, match="expected array<bigint>"):
        PerceptualIndex.build(spark, str(tmp_path / "y"), df, n_longs=4)


def test_perceptual_index_incremental_pairs_concatenate_to_full(
    spark, tmp_path
):
    """Streaming-ingest contract: emitting incremental_pairs per batch
    (then appending the batch) concatenates to EXACTLY the full-corpus
    pair set — no pair missed, none duplicated."""
    import numpy as np

    from vector_lake_spark.operators.binary import (
        PerceptualIndex,
        hamming_neardup_pairs,
    )

    rng = np.random.RandomState(61)
    sigs = {}
    base = int(rng.randint(0, 1 << 62))
    for i in range(60):
        v = base
        for f in rng.choice(64, size=i % 9, replace=False):
            v ^= 1 << int(f)
        sigs[i] = v - (1 << 64) if v >= (1 << 63) else v
    rows = list(sigs.items())
    full_df = spark.createDataFrame(rows, "media_id long, sig long")
    want = {
        tuple(r)
        for r in hamming_neardup_pairs(
            full_df, radius=3, n_blocks=4
        ).collect()
    }

    loc = str(tmp_path / "pidx_inc")
    idx = PerceptualIndex.build(
        spark,
        loc,
        spark.createDataFrame(rows[:20], "media_id long, sig long"),
    )
    got = []
    for lo, hi in ((20, 40), (40, 60)):
        batch = spark.createDataFrame(
            rows[lo:hi], "media_id long, sig long"
        )
        got.extend(
            tuple(r)
            for r in idx.incremental_pairs(batch, radius=3).collect()
        )
        idx.append(batch)
    # plus the pairs already inside the initial build
    got.extend(
        tuple(r)
        for r in hamming_neardup_pairs(
            spark.createDataFrame(rows[:20], "media_id long, sig long"),
            radius=3,
            n_blocks=4,
        ).collect()
    )
    assert len(got) == len(set(got))  # no pair emitted twice
    assert set(got) == want
    assert idx.n_rows == 60


def test_perceptual_ingest_stream_equals_batch(spark, tmp_path):
    """Structured-Streaming integration (r11): driving signature rows
    through a real file-source stream (4 micro-batches, foreachBatch)
    emits exactly the batch operator's pair set, with zero streaming
    state and replay-safe partitioned writes."""
    import json as _json

    import numpy as np

    from vector_lake_spark.operators.binary import hamming_neardup_pairs
    from vector_lake_spark.streaming.perceptual import PerceptualIngest

    rng = np.random.RandomState(71)
    sigs = {}
    base = int(rng.randint(0, 1 << 62))
    for i in range(80):
        v = base
        for f in rng.choice(64, size=i % 9, replace=False):
            v ^= 1 << int(f)
        sigs[i] = v - (1 << 64) if v >= (1 << 63) else v
    full = spark.createDataFrame(
        list(sigs.items()), "media_id long, sig long"
    )
    src = str(tmp_path / "src")
    full.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ingest = PerceptualIngest(
        spark,
        str(tmp_path / "history"),
        str(tmp_path / "pairs"),
        radius=3,
    )
    q = ingest.run(stream, checkpoint=str(tmp_path / "ckpt"))
    progs = [
        _json.loads(p.json) if hasattr(p, "json") else p
        for p in q.recentProgress
    ]
    assert len([p for p in progs if p["numInputRows"] > 0]) >= 4
    assert all(not p.get("stateOperators") for p in progs)

    want = {
        tuple(r)
        for r in hamming_neardup_pairs(
            full, radius=3, n_blocks=4
        ).collect()
    }
    rows = ingest.pairs().collect()
    got = {tuple(r) for r in rows}
    assert len(rows) == len(got)  # no duplicate emissions
    assert got == want and got

    # history carries one signature row per media id, nothing wider
    hist = spark.read.parquet(str(tmp_path / "history"))
    assert hist.count() == 80
    assert set(hist.columns) == {"media_id", "sig", "ingest_batch"}


def test_perceptual_ingest_replay_is_exactly_once(spark, tmp_path):
    """A replayed micro-batch (same ingest_batch id) must overwrite its
    earlier attempt — identical pair set, no duplicates, and no
    self-pairing against its own history partition."""
    from vector_lake_spark.streaming.perceptual import PerceptualIngest

    ingest = PerceptualIngest(
        spark,
        str(tmp_path / "history"),
        str(tmp_path / "pairs"),
        radius=3,
    )
    b0 = spark.createDataFrame(
        [(0, 7), (1, 7), (2, -12345)], "media_id long, sig long"
    )
    b1 = spark.createDataFrame(
        [(3, 7), (4, 6)], "media_id long, sig long"
    )
    ingest.process_batch(b0, 0)
    ingest.process_batch(b1, 1)
    first = sorted(tuple(r) for r in ingest.pairs().collect())
    ingest.process_batch(b1, 1)  # replay
    second = sorted(tuple(r) for r in ingest.pairs().collect())
    assert first == second
    # sanity: cross-batch pair (0,3,0),(1,3,0) and in-batch (0,1,0) exist
    ids = {(a, b) for a, b, _ in first}
    assert {(0, 1), (0, 3), (1, 3)} <= ids


def test_perceptual_ingest_grouped_video_stream(spark, tmp_path):
    """Grouped streaming ingest (video frames): per-frame-index matching
    flows through foreachBatch exactly as in batch — stream emissions
    equal the grouped batch operator over the whole corpus."""
    import numpy as np

    from vector_lake_spark.operators.binary import hamming_neardup_pairs
    from vector_lake_spark.streaming.perceptual import PerceptualIngest

    rng = np.random.RandomState(73)
    rows = []
    base = {f: int(rng.randint(0, 1 << 62)) for f in range(2)}
    for i in range(40):
        for f in range(2):
            v = base[f]
            for p in rng.choice(64, size=i % 7, replace=False):
                v ^= 1 << int(p)
            rows.append(
                (i, f, v - (1 << 64) if v >= (1 << 63) else v)
            )
    full = spark.createDataFrame(
        rows, "media_id long, frame_no int, sig long"
    )
    src = str(tmp_path / "src")
    full.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ingest = PerceptualIngest(
        spark,
        str(tmp_path / "history"),
        str(tmp_path / "pairs"),
        radius=3,
        group_cols=["frame_no"],
    )
    ingest.run(stream, checkpoint=str(tmp_path / "ckpt"))
    want = {
        tuple(r)
        for r in hamming_neardup_pairs(
            full,
            radius=3,
            n_blocks=4,
            group_cols=["frame_no"],
        ).collect()
    }
    rows_out = ingest.pairs().collect()
    got = {tuple(r) for r in rows_out}
    assert len(rows_out) == len(got)
    assert got == want and got


def test_perceptual_ingest_wide_grouped_stream(spark, tmp_path):
    """r12 (VERDICT r11 #6): the WIDE path (dhash256-style 4-long
    signatures) through grouped streaming ingest — stream emissions
    equal the grouped wide batch operator over the whole corpus, and a
    replayed micro-batch stays exactly-once (the grouped stream==batch
    pinning from r11, extended to n_longs=4)."""
    import numpy as np

    from vector_lake_spark.operators.binary import hamming_neardup_pairs
    from vector_lake_spark.streaming.perceptual import PerceptualIngest

    rng = np.random.RandomState(91)

    def to_i64(v):
        return v - (1 << 64) if v >= (1 << 63) else v

    rows = []
    base = {
        g: [int(rng.randint(0, 1 << 62)) for _ in range(4)]
        for g in range(2)
    }
    for i in range(36):
        for g in range(2):
            longs = list(base[g])
            for p in rng.choice(256, size=i % 9, replace=False):
                longs[p // 64] ^= 1 << int(p % 64)
            rows.append((i, g, [to_i64(v) for v in longs]))
    full = spark.createDataFrame(
        rows, "media_id long, window_no int, sig array<long>"
    )
    src = str(tmp_path / "src")
    full.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(full.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ingest = PerceptualIngest(
        spark,
        str(tmp_path / "history"),
        str(tmp_path / "pairs"),
        radius=7,
        n_longs=4,
        group_cols=["window_no"],
    )
    ingest.run(stream, checkpoint=str(tmp_path / "ckpt"))
    want = {
        tuple(r)
        for r in hamming_neardup_pairs(
            full,
            radius=7,
            n_blocks=8,
            n_longs=4,
            group_cols=["window_no"],
        ).collect()
    }
    rows_out = ingest.pairs().collect()
    got = {tuple(r) for r in rows_out}
    assert len(rows_out) == len(got)
    assert got == want and got
    # replay the last batch id: deterministic overwrite, same pair set
    last = max(
        r.ingest_batch
        for r in spark.read.parquet(str(tmp_path / "pairs"))
        .select("ingest_batch")
        .distinct()
        .collect()
    )
    replay = spark.read.parquet(str(tmp_path / "history")).filter(
        f"ingest_batch = {last}"
    ).drop("ingest_batch")
    ingest.process_batch(replay, int(last))
    again = {tuple(r) for r in ingest.pairs().collect()}
    assert again == want
