"""Operator unit tests: multimodal plumbing, IVF ANN, streaming variant,
dedup building blocks."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from vector_lake_spark import multimodal as mm
from vector_lake_spark.operators.ann import ivf_build, ivf_topk
from vector_lake_spark.operators.dedup import shingles
from vector_lake_spark.operators.topk import topk_cosine


@pytest.fixture()
def media_df(spark):
    rows = [
        (1, "image", b"\x89PNGfakebytes", ("image/png", 32, 32, None)),
        (2, "image", b"\xff\xd8JPEGfake", ("image/jpeg", 64, 48, None)),
        (3, "video", b"\x00\x00mp4fake", ("video/mp4", 640, 480, 3500)),
        (4, "audio", None, ("audio/wav", None, None, 1200)),
    ]
    return spark.createDataFrame(rows, schema=mm.MEDIA_SCHEMA)


def test_media_stats(media_df):
    stats = {r["kind"]: r for r in mm.media_stats(media_df).collect()}
    assert stats["image"]["n_items"] == 2
    assert stats["video"]["total_bytes"] == len(b"\x00\x00mp4fake")


def test_extract_image_features_batch_shape(media_df):
    out = mm.extract_image_features(media_df, dim=8).collect()
    assert len(out) == 4
    by_id = {r["media_id"]: r for r in out}
    assert by_id[1]["n_bytes"] == len(b"\x89PNGfakebytes")
    assert len(by_id[1]["feature"]) == 8
    # deterministic fake features
    out2 = mm.extract_image_features(media_df, dim=8).collect()
    assert {r["media_id"]: r["feature"] for r in out2} == {
        r["media_id"]: r["feature"] for r in out
    }


def test_decode_stub_raises():
    with pytest.raises(NotImplementedError):
        mm.image_stats(b"bytes")


def test_sample_video_frames(media_df):
    frames = mm.sample_video_frames(media_df, every_ms=1000).collect()
    # 3500 ms at 1 fps → 3 frames (ids 0,1,2)
    assert [f["frame_no"] for f in frames] == [0, 1, 2]
    assert frames[2]["offset_ms"] == 2000


def test_ivf_matches_bruteforce_top1(spark):
    rng = np.random.RandomState(5)
    base = rng.randn(8, 16)
    # clustered corpus: 8 clusters × 30 points
    vecs, rows = [], []
    i = 0
    for c in range(8):
        for _ in range(30):
            v = base[c] + 0.05 * rng.randn(16)
            rows.append((i, [float(x) for x in v]))
            i += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assigned, centroids = ivf_build(df, n_centroids=8)
    query = [float(x) for x in base[3]]
    brute = topk_cosine(df, query, 5).collect()
    approx = ivf_topk(assigned, centroids, query, 5, nprobe=2).collect()
    # with well-separated clusters and nprobe=2, top-1 must agree
    assert approx[0]["vec_id"] == brute[0]["vec_id"]
    assert len(approx) == 5


def test_shingles_short_text(spark):
    df = spark.createDataFrame([(1, "one two"), (2, "a b c d")], "id int, text string")
    out = {
        r["id"]: r["grams"]
        for r in df.select("id", shingles(F.col("text"), 3).alias("grams")).collect()
    }
    assert out[1] == []  # shorter than n → empty, not descending-sequence junk
    assert out[2] == ["a b c", "b c d"]


def test_streaming_tumbling_matches_batch(spark, tmp_path):
    from vector_lake_spark.operators.events import tumbling_agg
    from vector_lake_spark.queries import _events
    from vector_lake_spark.streaming.events import run_events_stream_demo

    src = str(tmp_path / "events_src")
    _events(spark, "/root/testdata/sf0.001").write.parquet(src)

    out = run_events_stream_demo(
        spark, src, str(tmp_path / "ckpt"), str(tmp_path / "out")
    )
    batch = tumbling_agg(_events(spark, "/root/testdata/sf0.001"))
    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in out.withColumn(
            "window_start", F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
        ).collect()
    }
    want = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in batch.collect()
    }
    # append mode only emits windows finalized by the watermark — the last
    # ~watermark-worth of windows stays in state at end of stream. Everything
    # emitted must match the batch result exactly.
    assert got, "stream emitted nothing"
    for key, val in got.items():
        assert want.get(key) == val, key
    assert len(got) >= len(want) - 10


def test_streaming_session_window(spark, tmp_path):
    from vector_lake_spark.queries import _events
    from vector_lake_spark.streaming.events import stream_sessionize

    src = str(tmp_path / "sess_src")
    _events(spark, "/root/testdata/sf0.001").write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out_dir = str(tmp_path / "sess_out")
    q = (
        stream_sessionize(stream, gap="30 minutes")
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    out = spark.read.parquet(out_dir)
    rows = out.collect()
    assert rows, "no sessions emitted"
    # session invariants: end ≥ start, n_events ≥ 1, per-user sessions
    # closed by the watermark don't overlap
    for r in rows:
        assert r["session_end"] >= r["session_start"]
        assert r["n_events"] >= 1
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    for user, sess in by_user.items():
        sess.sort(key=lambda r: r["session_start"])
        for a, b in zip(sess, sess[1:]):
            assert a["session_end"] <= b["session_start"], user


def test_minhash_native_recall_vs_exact(spark):
    """MinHash banding must recover the high-Jaccard pairs the exact
    n-gram join finds (recall sanity at sf0.001)."""
    from vector_lake_spark.operators.dedup import (
        minhash_native_pairs,
        ngram_jaccard_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    exact = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in minhash_native_pairs(docs, min_est_jaccard=0.5).collect()
    }
    assert exact, "no high-similarity pairs in testdata — test is vacuous"
    missed = exact - approx
    assert len(missed) <= max(1, len(exact) // 10), (
        f"minhash missed {len(missed)}/{len(exact)} exact pairs"
    )


def test_embedding_neardup_guard_refuses_big_input(spark):
    """The all-pairs baseline must refuse oversized inputs instead of
    silently launching a quadratic join (VERDICT r02 #7)."""
    from vector_lake_spark.operators.dedup import embedding_neardup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="O\\(n²\\) baseline"):
        embedding_neardup_pairs(emb, max_rows=10)
    # explicit opt-in still works
    assert embedding_neardup_pairs(emb, threshold=0.99).count() >= 0


def test_asof_join_semantics(spark):
    """Hand-built fixture: strict inequality, per-key isolation, no-match
    rows, and same-(key, ts) right-side tie-breaking."""
    from vector_lake_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [
            (1, 10, "2024-01-01 10:00:00"),
            (2, 10, "2024-01-01 12:00:00"),
            (3, 20, "2024-01-01 09:00:00"),  # no prior right row
        ],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [
            (100, 10, "2024-01-01 09:00:00", 1.0),
            (101, 10, "2024-01-01 10:00:00", 2.0),  # equal ts → excluded (strict)
            (102, 10, "2024-01-01 11:00:00", 3.0),
            (103, 10, "2024-01-01 11:00:00", 4.0),  # tie: max event_id wins
            (104, 30, "2024-01-01 08:00:00", 9.9),  # other key
        ],
        "event_id long, user_id long, ts string, value double",
    ).withColumn("ts", F.to_timestamp("ts"))

    out = {
        r["event_id"]: r
        for r in asof_join(
            left, right, key="user_id", ts_col="ts",
            right_vals=["value"], right_id="event_id",
        ).collect()
    }
    assert out[1]["asof_value"] == 1.0  # 10:00 → 09:00 row (strict, not 10:00)
    assert out[2]["asof_value"] == 4.0  # 12:00 → 11:00 tie → event 103
    assert out[3]["asof_value"] is None  # user 20 has no clicks


def test_connected_components_transitive_chain(spark):
    # A~B and B~C must land in ONE cluster labeled by the min id, and
    # singletons label themselves
    from pyspark.sql import functions as F

    from vector_lake_spark.operators.dedup import connected_components_star

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "id_a long, id_b long"
    )
    nodes = spark.range(1, 11).select(F.col("id").alias("doc_id"))
    out = {
        r["doc_id"]: r["cluster_id"]
        for r in connected_components_star(pairs, nodes).collect()
    }
    assert out[1] == out[2] == out[3] == 1
    assert out[7] == out[9] == 7
    for singleton in (4, 5, 6, 8, 10):
        assert out[singleton] == singleton


def test_streaming_sliding_matches_batch(spark, tmp_path):
    from vector_lake_spark.operators.events import sliding_agg
    from vector_lake_spark.queries import _events
    from vector_lake_spark.streaming.events import stream_sliding_agg

    src = str(tmp_path / "slide_src")
    _events(spark, "/root/testdata/sf0.001").write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    out_dir = str(tmp_path / "slide_out")
    q = (
        stream_sliding_agg(stream)
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "slide_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        r["window_start"]: (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out_dir)
        .withColumn("window_start", F.date_format("window_start", "yyyy-MM-dd HH:mm:ss"))
        .collect()
    }
    want = {
        r["window_start"]: (r["n_events"], r["sum_value"])
        for r in sliding_agg(_events(spark, "/root/testdata/sf0.001")).collect()
    }
    assert got, "stream emitted nothing"
    for key, val in got.items():
        assert want.get(key) == val, key


def test_streaming_watermark_drops_late_rows(spark, tmp_path):
    """Late-data contract: a row arriving in a later micro-batch with an
    event time older than (max seen − watermark) is DROPPED from an
    append-mode aggregation — bounded state depends on it."""
    import datetime

    from vector_lake_spark.streaming.events import stream_tumbling_agg

    src = tmp_path / "late_src"
    src.mkdir()
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def write_file(name, rows):
        spark.createDataFrame(
            rows, "ts timestamp, event_type string, value double"
        ).coalesce(1).write.mode("overwrite").parquet(str(src / name))

    # batch 1: on-time rows spanning 6 hours → watermark advances to 04:00
    write_file(
        "f1",
        [(base + datetime.timedelta(hours=h), "click", 1.0) for h in range(6)],
    )
    out_dir = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")
    schema = "ts timestamp, event_type string, value double"

    def run_once():
        # one availableNow run; the watermark persists in the checkpoint
        # between runs, so run 2 restores max(f1 ts) − 2h = 03:00
        stream = spark.readStream.schema(schema).parquet(str(src / "*"))
        q = (
            stream_tumbling_agg(stream, duration="1 hour", watermark="2 hours")
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    # run 2: one VERY late row (hour 0 again — beyond the restored
    # watermark) plus one on-time row
    write_file(
        "f2",
        [
            (base, "late", 99.0),
            (base + datetime.timedelta(hours=6), "click", 1.0),
        ],
    )
    run_once()
    types = {r["event_type"] for r in spark.read.parquet(out_dir).collect()}
    assert "late" not in types, "late row beyond the watermark must be dropped"
    assert "click" in types


def test_ngram_cap_neutralizes_universal_shingle(spark):
    """Skew-defense semantics: a shingle present in EVERY document must
    not produce candidate pairs once capped — only genuinely similar
    docs pair up, and the all-pairs blowup never materializes."""
    from vector_lake_spark.operators.dedup import ngram_jaccard_pairs

    common = "the quick brown fox"
    docs = [(i, f"{common} unique{i} filler{i} words{i} here{i}") for i in range(30)]
    # two genuine near-dups sharing most of their text
    docs += [(100, f"{common} alpha beta gamma delta epsilon"),
             (101, f"{common} alpha beta gamma delta zeta")]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    # r09: the cap defaults ON — None is the explicit exact-join knob
    uncapped = ngram_jaccard_pairs(df, n=3, threshold=0.3, max_shingle_freq=None)
    capped = ngram_jaccard_pairs(df, n=3, threshold=0.3, max_shingle_freq=5)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    # the near-dup pair survives the cap (their overlap is not only the
    # universal prefix)
    assert (100, 101) in got
    # capped candidate set is a subset of uncapped
    full = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    assert got <= full


def test_connected_components_raises_on_nonconvergence(spark):
    from pyspark.sql import functions as F

    from vector_lake_spark.operators.dedup import connected_components_star

    # star contraction needs 5 rounds to close (and confirm) a 12-node
    # chain, so max_iter=3 must raise, not silently return a split cluster
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    nodes = spark.range(0, 12).select(F.col("id").alias("doc_id"))
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(pairs, nodes, max_iter=3)


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Stream-stream join with watermarks on both sides must produce
    exactly the pairs the equivalent batch interval join produces."""
    from vector_lake_spark.queries import _events
    from vector_lake_spark.streaming.joins import stream_click_purchase_join

    ev = _events(spark, "/root/testdata/sf0.001")
    src = str(tmp_path / "ss_src")
    ev.write.parquet(src)
    schema = spark.read.parquet(src).schema

    def side(event_type):
        return (
            spark.readStream.schema(schema)
            .parquet(src)
            .filter(F.col("event_type") == event_type)
            .select("user_id", "ts", "event_id")
        )

    out_dir = str(tmp_path / "ss_out")
    q = (
        stream_click_purchase_join(side("click"), side("purchase"))
        .writeStream.outputMode("append")
        .format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.read.parquet(out_dir).collect()
    }

    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("ts").alias("cts"), F.col("event_id").alias("cid")
    )
    purch = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("pts"), F.col("event_id").alias("pid")
    )
    want = {
        (r["cid"], r["pid"])
        for r in clicks.join(
            purch,
            (clicks.user_id == purch.pu)
            & (purch.pts > clicks.cts)
            & (purch.pts <= clicks.cts + F.expr("INTERVAL 30 MINUTES")),
        ).collect()
    }
    assert want, "no click→purchase pairs in testdata — vacuous"
    # inner stream-stream join with availableNow emits matched pairs as
    # watermarks allow; the final result must equal the batch join
    assert got == want


def test_redact_pii_edge_cases(spark):
    from vector_lake_spark.functions.text import (
        pii_email_count,
        pii_phone_count,
        redact_pii,
    )
    from pyspark.sql import functions as F

    rows = [
        ("clean text no pii here",),
        ("two mails a@b.com and c.d+x@sub.example.org in one doc",),
        ("call 555-1234 or 555-9876 now",),
        ("mixed bob@x.io then 123-4567 done",),
        ("not-a-phone 12-3456 and 1234-567 stay",),
    ]
    df = spark.createDataFrame(rows, "t string").select(
        pii_email_count(F.col("t")).alias("e"),
        pii_phone_count(F.col("t")).alias("p"),
        redact_pii(F.col("t")).alias("r"),
    )
    got = df.collect()
    assert [(r.e, r.p) for r in got] == [(0, 0), (2, 0), (0, 2), (1, 1), (0, 0)]
    assert got[0].r == "clean text no pii here"
    assert got[1].r == "two mails [EMAIL] and [EMAIL] in one doc"
    assert got[2].r == "call [PHONE] or [PHONE] now"
    assert got[3].r == "mixed [EMAIL] then [PHONE] done"
    assert got[4].r == "not-a-phone 12-3456 and 1234-567 stay"


def test_repetition_ratio_bounds(spark):
    from vector_lake_spark.functions.text import repetition_ratio
    from pyspark.sql import functions as F

    rows = [
        ("a b",),                       # shorter than n -> 0.0
        ("a b c d e f g",),             # all 3-grams distinct -> 0.0
        ("x y z x y z x y z x y z",),   # heavy repetition -> high ratio
    ]
    df = spark.createDataFrame(rows, "t string").select(
        repetition_ratio(F.col("t"), 3).alias("r")
    )
    vals = [r.r for r in df.collect()]
    assert vals[0] == 0.0
    assert vals[1] == 0.0
    # 12 tokens -> 10 grams, 3 distinct -> 0.7
    assert abs(vals[2] - 0.7) < 1e-9


def test_redact_spark_matches_python_mirror(spark):
    """Java regex (Spark codegen) and Python re agree on the restricted
    pattern constructs — the same contract the DuckDB (RE2) oracle relies
    on, checked on adversarial inputs: placeholders, partial matches,
    phone-digits inside an email local part, concatenations."""
    import re

    from pyspark.sql import functions as F

    from vector_lake_spark.functions.text import EMAIL_RE, PHONE_RE, redact_pii

    corpus = [
        "a@b.co", "x.y+z@sub.example.org mid 555-1234 end",
        "[EMAIL] already", "[PHONE] already", "555-1234@x.co",
        "a@b.co555-1234", "no pii at all", "a@b", "12-3456 1234-567",
        "double a@b.co c@d.org", "555-1234 123-4567",
    ]
    email, phone = re.compile(EMAIL_RE), re.compile(PHONE_RE)
    expected = [phone.sub("[PHONE]", email.sub("[EMAIL]", t)) for t in corpus]
    got = [
        r.r
        for r in spark.createDataFrame([(t,) for t in corpus], "t string")
        .select(redact_pii(F.col("t")).alias("r"))
        .collect()
    ]
    assert got == expected


def test_last_driver_rounds_counts_only_passing_rows(tmp_path):
    """Rotation staleness must treat failed driver rows as never-verified.

    A row with err set or hash_match false would otherwise rotate a broken
    query out of the driver's window and leave it unre-checked for rounds.
    """
    import json

    from __spark_entry__ import _last_driver_rounds

    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps({
        "good_old": {"hash_match": True, "rows_match": True, "err": None},
        "rows_only": {"hash_match": False, "rows_match": True, "err": None},
        "broken": {"hash_match": False, "rows_match": False, "err": None},
    }))
    (tmp_path / "CORRECTNESS_r02.json").write_text(json.dumps({
        "good_old": {"hash_match": True, "rows_match": True, "err": None},
        "errored": {"hash_match": True, "rows_match": True, "err": "boom"},
        "hash_bad": {"hash_match": False, "rows_match": True, "err": None},
        "not_a_row": "garbage",
    }))

    rounds = _last_driver_rounds(root=str(tmp_path))
    assert rounds["good_old"] == 2
    assert rounds["rows_only"] == 1  # rows-only pass still counts
    assert rounds["hash_bad"] == 2  # rows matched, no err
    assert "broken" not in rounds  # nothing matched -> sorts first
    assert "errored" not in rounds  # err set -> failure, sorts first
    assert "not_a_row" not in rounds


def test_queries_are_stalest_first_in_table_order():
    """``queries()`` is the driver's sampling order: ascending by newest
    passing driver round (never-checked first), ties kept in
    ``REGISTRY`` order, over exactly the names ``oracle_sql()`` has."""
    import __spark_entry__ as E
    from vector_lake_spark import queries as Q

    names = list(E.queries())
    rounds = E._last_driver_rounds()
    table = list(Q.REGISTRY)
    keys = [(rounds.get(n, 0), table.index(n)) for n in names]
    assert keys == sorted(keys)
    assert len(names) == len(table) == len(set(names))
    assert set(names) == set(E.oracle_sql())


def test_event_loading_mutates_no_session_conf(spark):
    """Event sources must be pure expressions — the old runtime
    ``nanosAsLong`` toggle mutated the caller's session for every later
    parquet read (r03 ADVICE) and is inert on this engine anyway."""
    from vector_lake_spark.queries import _events

    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    before = spark.conf.get(conf_key, None)
    df = _events(spark, "/root/testdata/sf0.001")
    assert dict(df.dtypes)["ts"] == "timestamp"  # LTZ, watermark-compatible
    assert spark.conf.get(conf_key, None) == before


def test_chunk_windows_invariants(spark):
    """Chunking must tile every document exactly: ceil(len/stride) chunks,
    starts on the stride grid from 0, stride-prefixes concatenate back to
    the original text, and every chunk is non-empty and <= CHUNK_SIZE."""
    import math

    from vector_lake_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    docs = {
        r["doc_id"]: r["text"]
        for r in Q._t(spark, sf, "documents").select("doc_id", "text").collect()
    }
    rows = Q.q_text_chunk_windows(spark, sf).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {d for d, t in docs.items() if len(t) > 0}
    for doc_id, chunks in by_doc.items():
        text = docs[doc_id]
        chunks.sort(key=lambda r: r["chunk_id"])
        assert len(chunks) == math.ceil(len(text) / Q.CHUNK_STRIDE)
        assert [c["chunk_start"] for c in chunks] == [
            i * Q.CHUNK_STRIDE for i in range(len(chunks))
        ]
        rebuilt = "".join(c["chunk"][: Q.CHUNK_STRIDE] for c in chunks)
        assert rebuilt == text
        for c in chunks:
            assert 1 <= c["chunk_len"] == len(c["chunk"]) <= Q.CHUNK_SIZE
            assert c["chunk"] == text[c["chunk_start"]:c["chunk_start"] + Q.CHUNK_SIZE]


def test_mm_feature_oracle_handles_empty_and_null_text(spark, tmp_path):
    """DuckDB list_sum over an empty list is NULL; the Python byte-fold
    returns zero lanes for an empty/NULL payload. The oracle coalesces —
    both engines must emit (0 bytes, 0.0 feature_sum) the moment the
    corpus gains an empty doc (r04 review finding; latent in testdata)."""
    import duckdb
    import pandas as pd

    from vector_lake_spark import queries as Q

    pd.DataFrame({"doc_id": [1, 2, 3], "text": ["", None, "hello"]}).to_parquet(
        tmp_path / "documents.parquet"
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    sdf = Q.QUERIES["mm_feature_extract"](spark, str(tmp_path)).toPandas()
    odf = con.execute(Q.ORACLES["mm_feature_extract"]).df()

    def canon(df):
        cols = sorted(df.columns)
        return sorted(
            tuple(r) for r in df[cols].itertuples(index=False, name=None)
        )

    assert canon(sdf) == canon(odf)
    by_id = {r["media_id"]: r for r in sdf.to_dict("records")}
    assert by_id[1]["n_bytes"] == 0 and by_id[1]["feature_sum"] == 0.0
    assert by_id[2]["n_bytes"] == 0 and by_id[2]["feature_sum"] == 0.0


def test_normalize_event_ts_is_session_timezone_independent(spark):
    """The events NTZ wall time IS the UTC instant. to_utc_timestamp's
    implicit NTZ→LTZ cast renders in the SESSION timezone, so a non-UTC
    caller session would silently shift every instant (r04 ADVICE). The
    arithmetic conversion must produce identical epoch micros under any
    session timezone."""
    from pyspark.sql import functions as F

    from vector_lake_spark.sources.tables import load_table

    def epoch_micros(df):
        return [
            r["us"]
            for r in df.select(F.unix_micros("ts").alias("us"))
            .orderBy("us")
            .limit(50)
            .collect()
        ]

    tz = spark.conf.get("spark.sql.session.timeZone")
    base = "/root/testdata/sf0.001"
    try:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        utc = epoch_micros(load_table(spark, base, "events"))
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        la = epoch_micros(load_table(spark, base, "events"))
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)
    assert utc == la
    # sanity: the instants carry sub-second precision when the source does
    assert len(utc) == 50


def test_neardup_ingest_bounded_state_multi_batch(spark, tmp_path):
    """The bounded-state ingest (NearDupIngest, r05 verdict #1) must
    reproduce the batch candidate set across MULTIPLE micro-batches
    while keeping ZERO rows in the streaming state store — cross-batch
    pairs exist only via the persisted parquet band-key history, which
    ends up holding exactly one row per ingested vector."""
    import json

    from vector_lake_spark import queries as Q
    from vector_lake_spark.operators.ann import lsh_neardup_pairs
    from vector_lake_spark.streaming.neardup import NearDupIngest, banded_keys

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    src = str(tmp_path / "src")
    emb.repartition(4).write.parquet(src)  # 4 files -> 4 micro-batches

    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    shard, bkeys = banded_keys(
        "CAST(`embedding` AS ARRAY<DOUBLE>)", Q.H4, Q.NEARDUP_BANDS
    )
    keyed = stream.select("vec_id", shard.alias("shard"), bkeys.alias("bkeys"))

    ingest = NearDupIngest(
        spark,
        str(tmp_path / "history"),
        str(tmp_path / "pairs"),
        Q.NEARDUP_N_BANDS,
    )
    q = ingest.run(keyed, checkpoint=str(tmp_path / "ckpt"))

    # multi-batch actually exercised, and NO streaming state anywhere
    progs = [
        json.loads(p.json) if hasattr(p, "json") else p
        for p in q.recentProgress
    ]
    assert len([p for p in progs if p["numInputRows"] > 0]) >= 4
    assert all(not p.get("stateOperators") for p in progs)

    # regression gate (r06 verdict #9): zero-state posture AND a
    # collapse-level throughput floor on every data batch
    from vector_lake_spark.streaming.metrics import assert_floors, summarize

    assert_floors(
        summarize(progs), min_rows_per_sec=5.0, max_state_rows=0,
        min_batches=4,
    )

    got = {(r["id_a"], r["id_b"]) for r in ingest.pairs().collect()}
    want = {
        (r["id_a"], r["id_b"])
        for r in lsh_neardup_pairs(
            emb,
            Q.H4,
            threshold=-1.0,  # keep ALL candidates: compare candidate sets
            n_bands=Q.NEARDUP_N_BANDS,
            band_bits=Q.NEARDUP_BAND_BITS,
        ).collect()
    }
    assert got == want
    assert len(got) > 0

    # the history is the ONLY cross-batch state: one key row per vector
    hist = spark.read.parquet(str(tmp_path / "history"))
    assert hist.count() == emb.count()
    assert set(hist.columns) == {"vec_id", "shard", "bkeys", "ingest_batch"}


def _make_bmp(width, height, rgb):
    """Minimal uncompressed 24-bit BMP with a solid color."""
    import struct

    row = bytes([rgb[2], rgb[1], rgb[0]]) * width
    pad = b"\x00" * ((4 - (width * 3) % 4) % 4)
    pixels = (row + pad) * height
    header_size = 14 + 40
    filesize = header_size + len(pixels)
    return (
        b"BM"
        + struct.pack("<IHHI", filesize, 0, 0, header_size)
        + struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0,
                      len(pixels), 2835, 2835, 0, 0)
        + pixels
    )


def _make_wav(rate, samples, width=2):
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(width)
        w.setframerate(rate)
        frames = bytearray()
        for s in samples:
            if width == 1:
                frames += bytes([(s + 128) & 0xFF])  # unsigned + bias
            else:
                frames += int(s).to_bytes(width, "little", signed=True)
        w.writeframes(bytes(frames))
    return buf.getvalue()


def test_real_bmp_decode_through_spark(spark):
    """r05: uncompressed BMP decodes FOR REAL (stdlib struct) through the
    Arrow mapInPandas boundary — known solid-color pixels round-trip to
    exact channel means."""
    from vector_lake_spark.multimodal import extract_image_stats

    rows = [
        (1, _make_bmp(5, 3, (200, 100, 50))),
        (2, _make_bmp(2, 2, (0, 255, 8))),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in extract_image_stats(df).collect()}
    assert (out[1]["width"], out[1]["height"]) == (5, 3)
    assert (out[1]["mean_r"], out[1]["mean_g"], out[1]["mean_b"]) == (200.0, 100.0, 50.0)
    assert (out[2]["mean_r"], out[2]["mean_g"], out[2]["mean_b"]) == (0.0, 255.0, 8.0)


def test_bmp_stats_match_per_row_reference():
    """The BMP stats fold over the numpy pixel array equals the former
    per-row Python byte sums (kept here as the reference) on random
    pixels, odd widths (row padding) and both row orders."""
    import struct

    import numpy as np

    from vector_lake_spark.multimodal import image_stats

    def reference(payload):
        off = struct.unpack_from("<I", payload, 10)[0]
        w, h = struct.unpack_from("<ii", payload, 18)
        h = abs(h)
        stride = (w * 3 + 3) & ~3
        tot = [0, 0, 0]
        for r in range(h):
            row = payload[off + r * stride : off + r * stride + w * 3]
            tot = [tot[c] + sum(row[c::3]) for c in range(3)]
        n = w * h
        return {
            "width": w, "height": h, "mean_r": round(tot[2] / n, 6),
            "mean_g": round(tot[1] / n, 6), "mean_b": round(tot[0] / n, 6),
        }

    rng = np.random.default_rng(4)
    for w, h in [(1, 1), (3, 5), (7, -4), (33, 17)]:
        stride = (w * 3 + 3) & ~3
        pixels = rng.integers(0, 256, stride * abs(h), dtype=np.uint8)
        payload = (
            b"BM"
            + struct.pack("<IHHI", 54 + pixels.size, 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                          pixels.size, 2835, 2835, 0, 0)
            + pixels.tobytes()
        )
        assert image_stats(payload) == reference(payload), (w, h)


def test_real_wav_decode_through_spark(spark):
    """r05: PCM WAV decodes for real (stdlib wave): rate, duration, and
    RMS of a known square wave are exact."""
    import math

    from vector_lake_spark.multimodal import extract_audio_stats

    square = [10000, -10000] * 800  # 1600 samples at 16 kHz = 100 ms
    df = spark.createDataFrame(
        [(7, _make_wav(16000, square))], "media_id long, payload binary"
    )
    r = extract_audio_stats(df).collect()[0]
    assert r["sample_rate"] == 16000
    assert r["n_samples"] == 1600
    assert r["duration_ms"] == 100
    assert r["rms"] == pytest.approx(10000.0, abs=0.01)


def test_wav_all_pcm_widths_decode():
    """r08: the sub-16-bit gate is closed — 8-bit (unsigned + 128 bias),
    24-bit (sign-extended byte composition) and 32-bit PCM all decode;
    a known square wave's RMS is exact at every width, including
    amplitudes that only exist beyond 16 bits."""
    from vector_lake_spark.multimodal import audio_stats

    for width, amp in [(1, 100), (2, 30000), (3, 5_000_000), (4, 2_000_000_000)]:
        square = [amp, -amp] * 100
        out = audio_stats(_make_wav(8000, square, width=width))
        assert out["n_samples"] == 200
        assert out["duration_ms"] == 25
        assert out["rms"] == pytest.approx(float(amp), rel=1e-9), width
    # negative edge: 24-bit most-negative value sign-extends correctly
    out = audio_stats(_make_wav(8000, [-(1 << 23), -(1 << 23)], width=3))
    assert out["rms"] == pytest.approx(float(1 << 23))
    # unsupported widths still gate loudly by name (stdlib wave refuses
    # to WRITE width 5, so hand-assemble the RIFF header)
    import struct

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 8000 * 5, 5, 40)
    data = b"\x00" * 10
    wav40 = (
        b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
        + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    with pytest.raises(NotImplementedError, match="40 bits"):
        audio_stats(wav40)


def test_image_decode_gates_are_loud(spark):
    """r06: JPEG no longer environment-gates (jpeg.py decodes baseline
    for real — test_jpeg.py); r07: GIF dispatches for real too
    (gif.py), so a malformed GIF now fails structurally like a
    malformed JPEG, and only a genuinely unknown magic raises the
    honest NotImplementedError naming what decodes natively."""
    from vector_lake_spark.multimodal import image_stats

    with pytest.raises(ValueError):
        image_stats(b"\xff\xd8\xff\xe0fakejpeg")  # SOI but garbage
    with pytest.raises(ValueError):
        image_stats(b"GIF89a notsupported")  # GIF magic but garbage
    with pytest.raises(ValueError):
        # r08: TIFF dispatches for real, so a malformed TIFF fails
        # structurally like the others
        image_stats(b"II*\x00unknown-tiff-ish")
    with pytest.raises(NotImplementedError, match="decode natively"):
        image_stats(b"ICO?unknown-magic")  # honestly unsupported


@pytest.mark.parametrize(
    "payload",
    [
        b"BMxx",
        mm.PNG_SIGNATURE + b"\x00\x00\x00\x0dIHDR\x00\x00\x00\x10",
        b"II*\x00",
        b"MM\x00*",
    ],
    ids=["bmp", "png", "tiff-le", "tiff-be"],
)
def test_truncated_image_header_is_corrupt(payload):
    """A payload whose magic matches but whose header is cut short is
    corrupt input (ValueError), never a ``struct.error``, through both
    the stats and the perceptual-signature decode."""
    from vector_lake_spark.operators.imagehash import decode_image_gray

    with pytest.raises(ValueError, match="header truncated"):
        mm.image_stats(payload)
    with pytest.raises(ValueError, match="header truncated"):
        decode_image_gray(payload)


def _make_png(pixels, color_type, filters):
    """Minimal PNG encoder for tests: `pixels` is an (h, w, ch) uint8
    numpy array, `filters` one PNG filter byte per row — the encoder
    applies the real filter transforms so the decoder must invert all
    of them."""
    import struct
    import zlib

    import numpy as np

    h, w, ch = pixels.shape

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for r in range(h):
        cur = pixels[r].reshape(-1).astype(np.int32)
        f = filters[r]
        line = np.zeros(w * ch, dtype=np.int32)
        for i in range(w * ch):
            a = int(cur[i - ch]) if i >= ch else 0
            b = int(prev[i])
            c = int(prev[i - ch]) if i >= ch else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) // 2
            else:  # Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
            line[i] = (int(cur[i]) - pred) & 0xFF
        raw.append(f)
        raw.extend(int(x) for x in line)
        prev = cur
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def test_png_gray_alpha_decodes():
    """PNG color type 4 (gray + alpha) is legal at depths 8 and 16: the
    stats report the gray channel as all three means, and the image
    hash's decoder reads the same gray plane; alpha enters neither."""
    import struct
    import zlib

    import numpy as np

    from vector_lake_spark.multimodal import image_stats
    from vector_lake_spark.operators.imagehash import decode_image_gray

    ga = np.array(
        [[[10, 255], [20, 0], [30, 128]], [[40, 7], [50, 9], [60, 255]]],
        dtype=np.uint8,
    )  # 3x2, (gray, alpha) per pixel
    d = image_stats(_make_png(ga, color_type=4, filters=[1, 4]))
    assert d == {
        "width": 3, "height": 2,
        "mean_r": 35.0, "mean_g": 35.0, "mean_b": 35.0,
    }
    gray = decode_image_gray(_make_png(ga, color_type=4, filters=[0, 2]))
    assert np.array_equal(gray, ga[:, :, 0].astype(np.float64))

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    ga16 = ga.astype(">u2") * 257  # 16-bit gray+alpha, filter None rows
    raw = b"".join(b"\x00" + row.tobytes() for row in ga16)
    png16 = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", struct.pack(">IIBBBBB", 3, 2, 16, 4, 0, 0, 0))
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert image_stats(png16)["mean_g"] == 35.0 * 257
    assert np.array_equal(
        decode_image_gray(png16), ga16[:, :, 0].astype(np.float64)
    )


def test_png_decode_inverts_every_filter():
    """The PNG decode must invert all five PNG filter types exactly — the
    test encoder applies a different filter per row over random RGB
    pixels and the decoded channel means must equal numpy's."""
    import numpy as np

    from vector_lake_spark.multimodal import image_stats

    rng = np.random.RandomState(9)
    px = rng.randint(0, 256, size=(5, 7, 3)).astype("uint8")
    payload = _make_png(px, color_type=2, filters=[0, 1, 2, 3, 4])
    d = image_stats(payload)
    assert (d["width"], d["height"]) == (7, 5)
    assert d["mean_r"] == round(float(px[:, :, 0].mean()), 6)
    assert d["mean_g"] == round(float(px[:, :, 1].mean()), 6)
    assert d["mean_b"] == round(float(px[:, :, 2].mean()), 6)

    # grayscale and RGBA variants (alpha excluded from means)
    gray = rng.randint(0, 256, size=(4, 4, 1)).astype("uint8")
    dg = image_stats(_make_png(gray, color_type=0, filters=[4, 3, 1, 2]))
    assert dg["mean_r"] == dg["mean_b"] == round(float(gray.mean()), 6)
    rgba = rng.randint(0, 256, size=(3, 3, 4)).astype("uint8")
    da = image_stats(_make_png(rgba, color_type=6, filters=[1, 4, 2]))
    assert da["mean_g"] == round(float(rgba[:, :, 1].mean()), 6)

    # explicit format gates (16-bit / palette / interlaced)
    import struct
    import zlib as _z

    def bad_header(depth, color, interlace):
        ihdr = struct.pack(">IIBBBBB", 1, 1, depth, color, 0, 0, interlace)
        body = (
            struct.pack(">I", len(ihdr))
            + b"IHDR"
            + ihdr
            + struct.pack(">I", _z.crc32(b"IHDR" + ihdr))
        )
        return b"\x89PNG\r\n\x1a\n" + body

    # r08: depth-16 and interlaced PNGs decode for real now (see
    # test_png_depth_and_interlace_variants); a header whose depth/color
    # combo the SPEC disallows is corrupt, not unimplemented
    for depth, color in [(16, 3), (4, 2), (2, 6), (3, 0)]:
        with pytest.raises(ValueError, match="illegal depth/color"):
            image_stats(bad_header(depth, color, 0))
    with pytest.raises(ValueError, match="interlace method"):
        image_stats(bad_header(8, 2, 2))

    # degenerate dimensions raise instead of emitting NaN means
    zero_ihdr = struct.pack(">IIBBBBB", 0, 1, 8, 2, 0, 0, 0)
    zero_png = b"\x89PNG\r\n\x1a\n" + (
        struct.pack(">I", len(zero_ihdr))
        + b"IHDR"
        + zero_ihdr
        + struct.pack(">I", _z.crc32(b"IHDR" + zero_ihdr))
    )
    with pytest.raises(ValueError, match="degenerate"):
        image_stats(zero_png)


def test_real_png_decode_through_spark(spark):
    """r06: PNG decodes FOR REAL (stdlib zlib + filter reconstruction)
    through the Arrow mapInPandas boundary."""
    import numpy as np

    from vector_lake_spark.multimodal import extract_image_stats

    rng = np.random.RandomState(3)
    px1 = rng.randint(0, 256, size=(6, 4, 3)).astype("uint8")
    px2 = np.full((2, 2, 3), 100, dtype="uint8")
    rows = [
        (1, _make_png(px1, color_type=2, filters=[4, 1, 3, 2, 0, 4])),
        (2, _make_png(px2, color_type=2, filters=[0, 2])),
    ]
    df = spark.createDataFrame(rows, "media_id long, payload binary")
    out = {r["media_id"]: r for r in extract_image_stats(df).collect()}
    assert (out[1]["width"], out[1]["height"]) == (4, 6)
    assert out[1]["mean_r"] == round(float(px1[:, :, 0].mean()), 6)
    assert (out[2]["mean_r"], out[2]["mean_g"], out[2]["mean_b"]) == (
        100.0,
        100.0,
        100.0,
    )


@pytest.mark.parametrize("seed,n_nodes,n_edges", [(1, 12, 25), (2, 30, 90), (3, 8, 28)])
def test_triangle_count_matches_bruteforce_on_random_graphs(
    spark, seed, n_nodes, n_edges
):
    """The degree-oriented wedge join must count EXACTLY the brute-force
    triangle census on arbitrary random graphs — including near-complete
    ones where every orientation case (ties in degree, hub nodes) is
    exercised, not just the k-NN fixture."""
    import itertools
    import random

    from vector_lake_spark.operators.graph import triangle_stats

    rng = random.Random(seed)
    edges = set()
    while len(edges) < n_edges:
        a, b = rng.sample(range(n_nodes), 2)
        edges.add((min(a, b), max(a, b)))
    adj = {i: set() for i in range(n_nodes)}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    brute = sum(
        1
        for a, b, c in itertools.combinations(range(n_nodes), 3)
        if b in adj[a] and c in adj[a] and c in adj[b]
    )
    df = spark.createDataFrame(sorted(edges), "id_a long, id_b long")
    row = triangle_stats(df).collect()[0]
    assert row["n_triangles"] == brute
    assert row["n_edges"] == len(edges)


def test_progress_capture_records_state_metrics(spark, tmp_path):
    """The StreamingQueryListener capture (streaming/metrics.py, r05
    verdict #6) must record per-micro-batch throughput, latency, and
    state-store size for a stateful query — the numbers SCALE.md's
    streaming table is built from."""
    from vector_lake_spark.queries import _events
    from vector_lake_spark.streaming.events import stream_tumbling_agg
    from vector_lake_spark.streaming.metrics import ProgressCapture

    src = str(tmp_path / "events_src")
    _events(spark, "/root/testdata/sf0.001").repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    cap = ProgressCapture()
    spark.streams.addListener(cap)
    try:
        q = (
            stream_tumbling_agg(stream)
            .writeStream.format("memory")
            .queryName("pc_test")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # progress events are delivered asynchronously
        assert cap.wait_for(3), "listener never saw all batches"
    finally:
        spark.streams.removeListener(cap)

    rows = cap.rows()
    assert len(rows) >= 3  # one per micro-batch with input
    assert all(r["input_rows"] > 0 for r in rows)
    assert all(r["batch_ms"] is not None for r in rows)
    assert all(r["rows_per_sec"] > 0 for r in rows)
    # a watermarked window agg keeps state; the capture must see it
    assert any(r["state_rows"] > 0 for r in rows)
    assert any(r["state_bytes"] > 0 for r in rows)

    # regression gate (r06 verdict #9): collapse-level floors — a run an
    # order of magnitude slower than healthy local-mode, or whose window
    # state exceeds its input (aggregation stopped aggregating), FAILS
    from vector_lake_spark.streaming.metrics import assert_floors

    assert_floors(
        rows,
        min_rows_per_sec=20.0,
        max_state_rows=sum(r["input_rows"] for r in rows),
        min_batches=3,
    )


def test_streaming_floor_gate_trips_on_collapse():
    """The assert_floors gate must actually FAIL on a deliberately
    slowed / state-bloated progress trace — otherwise it's decoration,
    not a gate (r06 verdict #9 'Done' criterion)."""
    import pytest as _pytest

    from vector_lake_spark.streaming.metrics import assert_floors

    healthy = [
        {"batch": 0, "input_rows": 300, "rows_per_sec": 250.0,
         "batch_ms": 1200, "state_rows": 40, "state_bytes": 9000},
        {"batch": 1, "input_rows": 300, "rows_per_sec": 260.0,
         "batch_ms": 1150, "state_rows": 42, "state_bytes": 9100},
    ]
    assert_floors(healthy, min_rows_per_sec=20.0, max_state_rows=600)

    slowed = [dict(r, rows_per_sec=r["rows_per_sec"] / 100) for r in healthy]
    with _pytest.raises(AssertionError, match="throughput floor"):
        assert_floors(slowed, min_rows_per_sec=20.0)

    bloated = [dict(r, state_rows=10_000) for r in healthy]
    with _pytest.raises(AssertionError, match="state-store bound"):
        assert_floors(bloated, min_rows_per_sec=20.0, max_state_rows=600)

    with _pytest.raises(AssertionError, match="progress rows"):
        assert_floors([], min_rows_per_sec=20.0, min_batches=1)


def test_neardup_ingest_compact_history(spark, tmp_path):
    """History compaction is a pure rewrite: file count collapses, row
    count and subsequent emissions are unchanged — a batch processed
    AFTER compaction still pairs correctly against the full history."""
    import glob

    from vector_lake_spark import queries as Q
    from vector_lake_spark.operators.ann import lsh_neardup_pairs
    from vector_lake_spark.streaming.neardup import NearDupIngest, banded_keys

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    shard, bkeys = banded_keys(
        "CAST(`embedding` AS ARRAY<DOUBLE>)", Q.H4, Q.NEARDUP_BANDS
    )
    keyed = emb.select("vec_id", shard.alias("shard"), bkeys.alias("bkeys"))

    hist_path = str(tmp_path / "history")
    ingest = NearDupIngest(
        spark, hist_path, str(tmp_path / "pairs"), Q.NEARDUP_N_BANDS
    )
    thirds = [keyed.filter(f"vec_id % 3 = {i}") for i in range(3)]
    pairs = [
        ingest.process_batch(thirds[0], 0),
        ingest.process_batch(thirds[1], 1),
    ]

    assert len(glob.glob(f"{hist_path}/*/*.parquet")) >= 2
    n = ingest.compact_history()
    assert n == thirds[0].count() + thirds[1].count()
    # older batches collapse into the reserved compacted partition; the
    # NEWEST batch partition stays unfolded (replay safety — it is the
    # only one that could be crashed-but-uncommitted, r06 review)
    assert len(glob.glob(f"{hist_path}/ingest_batch=-1/*.parquet")) == 1
    assert sorted(
        p.rsplit("=", 1)[1]
        for p in glob.glob(f"{hist_path}/ingest_batch=*")
    ) == ["-1", "1"]

    pairs.append(ingest.process_batch(thirds[2], 2))  # after compaction
    got = {
        (r["id_a"], r["id_b"]) for df in pairs for r in df.collect()
    }
    want = {
        (r["id_a"], r["id_b"])
        for r in lsh_neardup_pairs(
            emb,
            Q.H4,
            threshold=-1.0,
            n_bands=Q.NEARDUP_N_BANDS,
            band_bits=Q.NEARDUP_BAND_BITS,
        ).collect()
    }
    assert got == want and got


def test_knn_edges_mutual_subset_of_union(spark):
    """mutual=True keeps exactly the pairs BOTH endpoints rank top-k —
    a subset of the union graph, and verifiable directly on a small
    hand-checkable pair list."""
    from vector_lake_spark.operators.graph import knn_edges

    # node 0 is popular (high sim to everyone); 1-2 prefer 0 over each
    # other; with k=1: union keeps (0,1),(0,2),(0,3); mutual keeps only
    # 0's own best (0,1) — 0 reciprocates only its single top choice
    pairs = spark.createDataFrame(
        [
            (0, 1, 0.9),
            (0, 2, 0.8),
            (0, 3, 0.7),
            (1, 2, 0.1),
            (2, 3, 0.1),
        ],
        "id_a long, id_b long, sim double",
    )
    union = {
        (r["id_a"], r["id_b"]) for r in knn_edges(pairs, 1).collect()
    }
    mutual = {
        (r["id_a"], r["id_b"])
        for r in knn_edges(pairs, 1, mutual=True).collect()
    }
    assert union == {(0, 1), (0, 2), (0, 3)}
    assert mutual == {(0, 1)}

    # duplicate input rows must not fake mutuality (two copies of ONE
    # direction) nor drop real mutual edges (count 4) — r06 review
    duped = pairs.unionAll(pairs)
    mutual_dup = {
        (r["id_a"], r["id_b"])
        for r in knn_edges(duped, 1, mutual=True).collect()
    }
    assert mutual_dup == mutual


def test_neardup_ingest_replay_is_idempotent(spark, tmp_path):
    """Exactly-once under foreachBatch replay (r06 review finding): a
    batch re-processed with the SAME batch_id — the crash-and-replay
    case — must leave history and pairs byte-identical: no duplicate
    history keys, no duplicate pairs, no batch-vs-own-keys pairing."""
    from vector_lake_spark import queries as Q
    from vector_lake_spark.operators.ann import lsh_neardup_pairs
    from vector_lake_spark.streaming.neardup import NearDupIngest, banded_keys

    sf = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    shard, bkeys = banded_keys(
        "CAST(`embedding` AS ARRAY<DOUBLE>)", Q.H4, Q.NEARDUP_BANDS
    )
    keyed = emb.select("vec_id", shard.alias("shard"), bkeys.alias("bkeys"))
    halves = [keyed.filter(f"vec_id % 2 = {i}") for i in range(2)]

    ingest = NearDupIngest(
        spark,
        str(tmp_path / "history"),
        str(tmp_path / "pairs"),
        Q.NEARDUP_N_BANDS,
    )
    ingest.process_batch(halves[0], 0)
    ingest.process_batch(halves[1], 1)
    # replay batch 1 (crash between its writes and the checkpoint commit)
    ingest.process_batch(halves[1], 1)

    hist = spark.read.parquet(str(tmp_path / "history"))
    assert hist.count() == emb.count()  # no duplicate keys
    assert hist.select("vec_id").distinct().count() == emb.count()

    got = {(r["id_a"], r["id_b"]) for r in ingest.pairs().collect()}
    n_rows = ingest.pairs().count()
    assert n_rows == len(got)  # no duplicate pair rows
    want = {
        (r["id_a"], r["id_b"])
        for r in lsh_neardup_pairs(
            emb,
            Q.H4,
            threshold=-1.0,
            n_bands=Q.NEARDUP_N_BANDS,
            band_bits=Q.NEARDUP_BAND_BITS,
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Streaming rollup maintenance (r06)
# ---------------------------------------------------------------------------


def _rollup_events_3_files(spark, tmp_path):
    """The sf0.001 events table split into 3 files so maxFilesPerTrigger=1
    yields 3 real micro-batches."""
    src = str(tmp_path / "events_src")
    (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .repartition(3)
        .write.parquet(src)
    )
    return src


def test_stream_rollup_multi_batch_equals_direct(spark, tmp_path):
    """Three micro-batches of partials, merged, equal the direct weekly
    aggregate over all raw events — batch-arrival order is irrelevant
    because count/sum partials are associative."""
    from pyspark.sql import functions as F

    from vector_lake_spark.sources import normalize_event_ts
    from vector_lake_spark.streaming.rollup import RollupIngest

    src = _rollup_events_3_files(spark, tmp_path)
    schema = spark.read.parquet(src).schema
    stream = normalize_event_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    ingest = RollupIngest(spark, str(tmp_path / "rollup"))
    ingest.run(stream, str(tmp_path / "ckpt"))
    parts = ingest.partials()
    assert parts.select("ingest_batch").distinct().count() == 3
    got = {
        (r["week_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in ingest.serve_weekly().collect()
    }
    direct = {
        (r["week_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in normalize_event_ts(spark.read.parquet(src))
        .groupBy(
            F.date_format(
                F.date_trunc("week", F.to_date("ts").cast("timestamp")),
                "yyyy-MM-dd",
            ).alias("week_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .collect()
    }
    assert got == direct


def test_maintainer_run_dispatches_process_batch_per_micro_batch(
    spark, tmp_path, monkeypatch
):
    """``run`` looks up ``process_batch`` when each micro-batch arrives,
    so a wrapper patched onto the class (as the traced benchmark run
    does) sees exactly one call per micro-batch."""
    from vector_lake_spark.streaming.rollup import RollupIngest

    src = str(tmp_path / "src")
    for day in ("2024-01-01", "2024-01-02"):  # 2 files -> 2 micro-batches
        spark.sql(
            f"SELECT TIMESTAMP'{day} 12:00:00' AS ts, "
            f"'click' AS event_type, 1.5D AS value"
        ).coalesce(1).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    calls = []
    process_batch = RollupIngest.process_batch

    def counting(self, batch, batch_id):
        calls.append(batch_id)
        return process_batch(self, batch, batch_id)

    monkeypatch.setattr(RollupIngest, "process_batch", counting)
    ingest = RollupIngest(spark, str(tmp_path / "rollup"))
    ingest.run(stream, str(tmp_path / "ckpt"))
    assert calls == [0, 1]
    assert ingest.partials().select("ingest_batch").distinct().count() == 2


def test_stream_rollup_replay_idempotent_and_compaction_invariant(
    spark, tmp_path
):
    """A replayed micro-batch overwrites its own partition (no double
    counting), and compact_partials shrinks the table to one row per
    (day, type) without changing what serve_weekly returns."""
    from vector_lake_spark.sources import normalize_event_ts
    from vector_lake_spark.streaming.rollup import RollupIngest

    src = _rollup_events_3_files(spark, tmp_path)
    e = normalize_event_ts(spark.read.parquet(src)).localCheckpoint(
        eager=True
    )
    ingest = RollupIngest(spark, str(tmp_path / "rollup"))
    ingest.process_batch(e.limit(400), 0)
    ingest.process_batch(e.limit(400), 0)  # crash-replay of batch 0
    ingest.process_batch(e.subtract(e.limit(400)), 1)
    before = sorted(
        map(tuple, ingest.serve_weekly().collect()), key=str
    )
    rows_before = ingest.partials().count()
    n = ingest.compact_partials()
    assert n == ingest.partials().count() <= rows_before
    # older batches folded into -1; the NEWEST batch partition stays
    # unfolded (it is the only one that could be crashed-uncommitted)
    assert sorted(
        r[0] for r in ingest.partials().select("ingest_batch").distinct().collect()
    ) == [-1, 1]
    after = sorted(map(tuple, ingest.serve_weekly().collect()), key=str)
    assert before == after
    # leftover staging dir makes the next compact refuse
    import os

    os.makedirs(str(tmp_path / "rollup") + "__old")
    with pytest.raises(IOError, match="refusing to compact"):
        ingest.compact_partials()


def test_stream_rollup_compact_between_crash_and_replay(spark, tmp_path):
    """The r06 review's crash→compact→replay hole: a batch that wrote
    its partition but never committed the streaming checkpoint, then a
    compaction, then the replay. The newest partition is never folded,
    so the replay's dynamic overwrite replaces — not duplicates — its
    contribution, and serve_weekly stays exactly the direct aggregate."""
    from pyspark.sql import functions as F

    from vector_lake_spark.sources import normalize_event_ts
    from vector_lake_spark.streaming.rollup import RollupIngest

    src = _rollup_events_3_files(spark, tmp_path)
    e = normalize_event_ts(spark.read.parquet(src)).localCheckpoint(
        eager=True
    )
    b0, b1 = e.limit(500), e.subtract(e.limit(500))
    ingest = RollupIngest(spark, str(tmp_path / "rollup"))
    ingest.process_batch(b0, 0)
    ingest.process_batch(b1, 1)  # "crashes" before checkpoint commit
    ingest.compact_partials()  # operator hygiene while the stream is down
    ingest.process_batch(b1, 1)  # engine replays batch 1
    got = {
        (r["week_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in ingest.serve_weekly().collect()
    }
    direct = {
        (r["week_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in RollupIngest.partial_agg(e)
        .groupBy(
            F.date_format(
                F.date_trunc("week", F.col("day").cast("timestamp")),
                "yyyy-MM-dd",
            ).alias("week_start"),
            "event_type",
        )
        .agg(
            F.sum("cnt").alias("n_events"),
            F.round(F.sum("sv"), 2).alias("sum_value"),
        )
        .collect()
    }
    assert got == direct


def test_neardup_compact_between_crash_and_replay(spark, tmp_path):
    """Same hole for the near-dup history: after crash→compact→replay
    the history holds each key exactly once and the replayed batch's
    pair emission equals its pre-compact emission."""
    from vector_lake_spark.queries import H4, NEARDUP_BANDS
    from vector_lake_spark.streaming.neardup import NearDupIngest, banded_keys

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(120)
        .localCheckpoint(eager=True)
    )
    shard, bkeys = banded_keys(
        "CAST(`embedding` AS ARRAY<DOUBLE>)", H4, NEARDUP_BANDS
    )
    keyed = emb.select(
        "vec_id", shard.alias("shard"), bkeys.alias("bkeys")
    ).localCheckpoint(eager=True)
    b0, b1 = keyed.limit(60), keyed.subtract(keyed.limit(60))
    ingest = NearDupIngest(
        spark,
        str(tmp_path / "hist"),
        str(tmp_path / "pairs"),
        n_bands=len(NEARDUP_BANDS),
    )
    ingest.process_batch(b0, 0)
    first = {
        tuple(r) for r in ingest.process_batch(b1, 1).select("id_a", "id_b").collect()
    }  # written, but checkpoint "never committed"
    ingest.compact_history()
    replay = {
        tuple(r) for r in ingest.process_batch(b1, 1).select("id_a", "id_b").collect()
    }
    assert replay == first
    hist = spark.read.parquet(str(tmp_path / "hist"))
    assert hist.count() == hist.select("vec_id").distinct().count()
    total_pairs = ingest.pairs().count()
    assert total_pairs == ingest.pairs().distinct().count()


def test_palette_png_decodes_via_plte():
    """r06: color-type-3 PNG resolves indices through the PLTE chunk."""
    import struct
    import zlib as _z

    import numpy as np

    from vector_lake_spark.multimodal import image_stats

    pal = [(255, 0, 0), (0, 255, 0), (0, 0, 255)]
    idx = np.array([[0, 1, 2, 1], [2, 2, 0, 0]], dtype=np.uint8)
    h, w = idx.shape

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", _z.crc32(ctype + data))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 0)
    raw = b"".join(b"\x00" + idx[r].tobytes() for r in range(h))
    payload = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", b"".join(bytes(c) for c in pal))
        + chunk(b"IDAT", _z.compress(raw))
        + chunk(b"IEND", b"")
    )
    d = image_stats(payload)
    expect = np.array([pal[i] for i in idx.flat], dtype=float).reshape(h, w, 3)
    assert (d["width"], d["height"]) == (w, h)
    assert d["mean_r"] == round(float(expect[:, :, 0].mean()), 6)
    assert d["mean_g"] == round(float(expect[:, :, 1].mean()), 6)
    assert d["mean_b"] == round(float(expect[:, :, 2].mean()), 6)
    # palette index past the PLTE end is a loud structural error
    short = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"PLTE", bytes(pal[0]))
        + chunk(b"IDAT", _z.compress(raw))
        + chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="palette index"):
        image_stats(short)


def _scd2_time_batches(spark, n=3):
    """sf0.001 events split into n contiguous time ranges — per-entity
    in-order batch arrival, the SCD2 ordering contract."""
    from vector_lake_spark.sources import normalize_event_ts

    e = normalize_event_ts(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ).localCheckpoint(eager=True)
    cuts = e.approxQuantile("event_id", [i / n for i in range(1, n)], 0.0)
    # event_id is assigned in ts order in the generator; split on it for
    # exact, disjoint, time-contiguous batches
    lo = None
    batches = []
    for c in cuts + [None]:
        cond = F.lit(True) if lo is None else F.col("event_id") > F.lit(lo)
        if c is not None:
            cond = cond & (F.col("event_id") <= F.lit(c))
        batches.append(e.filter(cond).localCheckpoint(eager=True))
        lo = c
    return e, batches


def test_scd2_ingest_multibatch_equals_batch_rebuild(spark, tmp_path):
    """Three in-order micro-batches folded through SCD2Ingest serve the
    SAME versioned history as the batch rebuild over all raw events."""
    from vector_lake_spark.queries import q_cdc_scd2_intervals
    from vector_lake_spark.streaming.scd2 import SCD2Ingest

    _, batches = _scd2_time_batches(spark)
    ingest = SCD2Ingest(
        spark, str(tmp_path / "iv"), str(tmp_path / "quar")
    )
    for i, b in enumerate(batches):
        ingest.process_batch(b, i)
    served = sorted(
        map(tuple, ingest.serve_intervals().collect()), key=str
    )
    direct = sorted(
        map(
            tuple,
            q_cdc_scd2_intervals(spark, "/root/testdata/sf0.001").collect(),
        ),
        key=str,
    )
    assert served == direct
    assert ingest.quarantine() is None  # nothing was out of order


def test_scd2_replay_idempotent_and_late_rows_quarantined(spark, tmp_path):
    """Replaying a committed batch leaves the interval table bit-identical
    (its rows are at-or-below the per-entity watermark -> quarantined,
    folded nothing twice); a genuinely late event also only lands in
    quarantine."""
    from vector_lake_spark.streaming.scd2 import SCD2Ingest

    _, batches = _scd2_time_batches(spark, n=2)
    ingest = SCD2Ingest(
        spark, str(tmp_path / "iv"), str(tmp_path / "quar")
    )
    ingest.process_batch(batches[0], 0)
    ingest.process_batch(batches[1], 1)
    before = sorted(map(tuple, ingest.intervals().collect()), key=str)

    ingest.process_batch(batches[1], 1)  # engine replays batch 1
    after = sorted(map(tuple, ingest.intervals().collect()), key=str)
    assert after == before
    quar = ingest.quarantine()
    assert quar.count() == batches[1].count()  # replay rows quarantined
    ingest.process_batch(batches[1], 1)  # double replay: still idempotent
    assert ingest.quarantine().count() == batches[1].count()

    # a genuinely late, never-seen event: quarantined, table unchanged
    late = batches[0].orderBy("event_id").limit(1).select(
        "user_id", "ts", (F.col("event_id") + 1000000).alias("event_id"),
        F.lit("zzz_never_seen").alias("event_type"),
        "value", "props",
    )
    ingest.process_batch(late, 2)
    assert (
        sorted(map(tuple, ingest.intervals().collect()), key=str) == before
    )
    assert ingest.quarantine().filter(
        F.col("event_type") == "zzz_never_seen"
    ).count() == 1


def test_scd2_rewrites_only_affected_buckets(spark, tmp_path):
    """A batch touching one entity dynamically overwrites ONLY that
    entity's bucket partition — every other bucket's files are left
    byte-identical on disk (the O(affected-buckets) rewrite contract)."""
    import glob
    import os

    from vector_lake_spark.streaming.scd2 import SCD2Ingest

    full, batches = _scd2_time_batches(spark, n=2)
    ingest = SCD2Ingest(
        spark, str(tmp_path / "iv"), str(tmp_path / "quar"), n_buckets=8
    )
    ingest.process_batch(batches[0], 0)

    def listing():
        return {
            p: os.stat(p).st_mtime_ns
            for p in glob.glob(str(tmp_path / "iv" / "bucket=*" / "*.parquet"))
        }

    before = listing()
    one_user = int(batches[1].select("user_id").first()[0])
    ingest.process_batch(
        batches[1].filter(F.col("user_id") == one_user), 1
    )
    after = listing()
    from pyspark.sql.functions import xxhash64

    tgt = (
        spark.range(1)
        .select(F.pmod(xxhash64(F.lit(one_user).cast("long")), F.lit(8)))
        .first()[0]
    )
    for p, m in before.items():
        if f"bucket={tgt}" not in p:
            assert p in after and after[p] == m, f"untouched bucket rewritten: {p}"
    assert any(f"bucket={tgt}" in p and (p not in before or after[p] != before[p]) for p in after)


def test_ivm_identity_holds_with_dim_inserts_too(spark):
    """The full insert-only IVM identity behind `ivm_join_agg`,
    including a dimension delta: with disjoint inserts ΔR (facts) and
    ΔS (dim rows), agg(J(R∪ΔR, S∪ΔS)) == merge of three partial legs —
    the stored base partials agg(J(R,S)), the new-fact leg
    agg(J(ΔR, S∪ΔS)), and the late-arriving-dimension leg agg(J(R, ΔS))
    (old facts that only now find their dim row). Checked exactly on
    the sf0.001 tables with customer split in half."""
    sf = "/root/testdata/sf0.001"
    o = spark.read.parquet(f"{sf}/orders.parquet")
    c = spark.read.parquet(f"{sf}/customer.parquet")
    cut = "1998-01-01"
    r = o.filter(F.col("o_orderdate") < cut)
    dr = o.filter(F.col("o_orderdate") >= cut)
    s = c.filter(F.col("c_custkey") % 2 == 0)
    ds = c.filter(F.col("c_custkey") % 2 == 1)
    month = F.date_format("o_orderdate", "yyyy-MM")

    def partial(facts, dim):
        return (
            facts.join(F.broadcast(dim), facts["o_custkey"] == dim["c_custkey"])
            .groupBy(month.alias("month"), "c_mktsegment")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    def merge(parts):
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return (
            out.groupBy("month", "c_mktsegment")
            .agg(F.sum("cnt").alias("n"))
        )

    maintained = {
        tuple(row)
        for row in merge(
            [partial(r, s), partial(dr, s.unionByName(ds)), partial(r, ds)]
        ).collect()
    }
    direct = {
        tuple(row)
        for row in merge([partial(o, c)]).collect()
    }
    assert maintained == direct


def test_temperature_mix_surfaces_fully_downsampled_lang(spark, tmp_path):
    """A downsampled language whose every document loses the
    fractional-remainder hash draw must still surface in the audit with
    n_emitted=0 (explode_outer + count(col)) — matching the oracle's
    GROUP BY, which never drops the group. Fixture: lang 'aa' has 4
    docs, target 3 (full_copies=0, rem=3, keep-prob 75%) and all four
    doc ids were chosen to fail the hash rule; lang 'bb' upsamples 1→2."""
    import duckdb

    from vector_lake_spark import queries as Q

    # token_hash60(str(id)) % 10000 of 1/4/6/7 are all >= 7500 → with
    # n_dom=4, rem=3 the keep rule h*4 < 10000*3 fails for every doc
    rows = [(i, "x", "aa", "s", 1) for i in (1, 4, 6, 7)]
    rows.append((0, "x", "bb", "s", 1))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    df.coalesce(1).write.parquet(str(tmp_path / "documents.parquet"))

    out = {
        tuple(r)
        for r in Q.q_pipe_temperature_mix(spark, str(tmp_path)).collect()
    }
    assert ("aa", 4, 3, 0) in out, out
    assert ("bb", 1, 2, 2) in out, out

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"'{tmp_path}/documents.parquet/*.parquet'"
    )
    oracle = {
        tuple(r)
        for r in con.execute(
            Q.ORACLES["pipe_temperature_mix"]
        ).fetchall()
    }
    assert out == oracle


def test_dq_constraint_report_semantics(spark):
    """Operator-level contract: metrics, thresholds, and pass/fail on a
    table with known defects (nulls, dup key, out-of-range, dangling
    ref)."""
    from vector_lake_spark.operators.dq import (
        completeness,
        constraint_report,
        satisfies,
        subset_of,
        uniqueness,
    )
    from pyspark.sql import functions as F

    rows = [
        (1, 1, 10.0, "x"),
        (1, 2, 20.0, None),   # null name
        (1, 2, 30.0, "y"),    # duplicate (k1,k2)
        (2, 1, 999.0, "z"),   # out of range; k=2 missing from dim
    ]
    df = spark.createDataFrame(rows, "k1 int, k2 int, v double, name string")
    dim = spark.createDataFrame([(1,)], "d int")
    rep = {
        r["check"]: (r["metric"], r["passed"])
        for r in constraint_report(
            df,
            [
                completeness("name", threshold=0.9),
                uniqueness(["k1", "k2"]),
                satisfies("v_range", F.col("v") <= 100.0, threshold=0.5),
                subset_of("k1", dim, "d"),
            ],
        ).collect()
    }
    assert rep["completeness(name)"] == (0.75, False)
    assert rep["uniqueness(k1,k2)"] == (0.75, False)
    assert rep["satisfies(v_range)"] == (0.75, True)  # 0.75 >= 0.5
    assert rep["subset_of(k1)"] == (0.75, False)


def test_wave5_invariants(spark):
    """Cheap structural invariants for the r07 wave (full value
    correctness is the driver's DuckDB gate): the dedup-report funnel is
    monotone non-increasing with consistent drop accounting, the Zipf
    fit is negative-sloped on natural-ish text with a strong log-log
    fit, the OOD scores are finite and descending, and the rolling-DAU
    sketch meets its 5% claim on every window."""
    from vector_lake_spark import queries as Q

    sf = "/root/testdata/sf0.001"

    report = {
        r["stage_no"]: r
        for r in Q.QUERIES["pipe_dedup_report"](spark, sf).collect()
    }
    assert [report[i]["stage"] for i in (0, 1, 2)] == [
        "ingested", "exact_dedup", "quality_filter",
    ]
    assert report[0]["n_docs"] >= report[1]["n_docs"] >= report[2]["n_docs"]
    assert report[1]["n_dropped"] == report[0]["n_docs"] - report[1]["n_docs"]
    assert report[2]["n_dropped"] == report[1]["n_docs"] - report[2]["n_docs"]

    zipf = Q.QUERIES["text_zipf_fit"](spark, sf).collect()
    assert len(zipf) >= 1
    for r in zipf:
        # slope <= 0 by construction (rank orders by falling freq); the
        # synthetic ~31-word vocab salad is NEAR-UNIFORM, so the fit is
        # flat-and-poor (r2 ~ 0.1) — which is precisely the
        # "unnatural corpus" signal this diagnostic exists to raise
        assert r["zipf_slope"] < 0
        assert 0.0 <= r["r2"] <= 1.0

    ood = Q.QUERIES["vec_ood_score"](spark, sf).collect()
    assert len(ood) == 20
    zs = [r["ood_z"] for r in ood]
    assert zs == sorted(zs, reverse=True)
    assert all(z is not None for z in zs)

    dau = Q.QUERIES["sketch_rolling_dau"](spark, sf).collect()
    assert len(dau) >= 7
    assert all(r["est_within_5pct"] for r in dau)
    # rolling 7-day distinct >= any single day's contribution
    assert max(r["n_users_7d"] for r in dau) > 0


def test_png_depth_and_interlace_variants():
    """r08: every legal IHDR combination decodes — 16-bit (big-endian
    pairs, byte-level filtering with bpp offset), sub-byte grays and
    palettes (MSB-first unpacking), and Adam7 interlace (seven
    independently filtered passes). Fixtures are built by a test-side
    writer that packs + filters at the BYTE level per the spec, so the
    decoder must invert real filter arithmetic in every domain."""
    import struct
    import zlib

    import numpy as np

    from vector_lake_spark.multimodal import image_stats

    def chunk(ctype, data):
        return (
            struct.pack(">I", len(data)) + ctype + data
            + struct.pack(">I", zlib.crc32(ctype + data))
        )

    def pack_row(vals, depth):
        # vals: flat sample list for one row -> packed bytes
        if depth == 8:
            return bytes(int(v) & 0xFF for v in vals)
        if depth == 16:
            out = bytearray()
            for v in vals:
                out += struct.pack(">H", int(v))
            return bytes(out)
        out = bytearray()
        per = 8 // depth
        for j in range(0, len(vals), per):
            b = 0
            for k, v in enumerate(vals[j : j + per]):
                b |= (int(v) & ((1 << depth) - 1)) << (8 - depth * (k + 1))
            out.append(b)
        return bytes(out)

    def filter_rows(packed_rows, bpp, filters):
        raw = bytearray()
        prev = bytes(len(packed_rows[0])) if packed_rows else b""
        for row, f in zip(packed_rows, filters):
            raw.append(f)
            for i in range(len(row)):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if f == 0:
                    pred = 0
                elif f == 1:
                    pred = a
                elif f == 2:
                    pred = b
                elif f == 3:
                    pred = (a + b) // 2
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (
                        b if pb <= pc else c
                    )
                raw.append((row[i] - pred) & 0xFF)
            prev = row
        return bytes(raw)

    def png(samples, depth, color, interlace=0, plte=None, filters=None):
        # samples: (h, w, ch) int array in the native domain
        h, w, ch = samples.shape
        bpp = max(1, ch * depth // 8)
        if interlace == 0:
            packed = [
                pack_row(samples[y].reshape(-1).tolist(), depth)
                for y in range(h)
            ]
            raw = filter_rows(packed, bpp, filters or [0] * h)
        else:
            passes = [
                (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
                (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
            ]
            raw = bytearray()
            for x0, y0, dx, dy in passes:
                sub = samples[y0::dy, x0::dx, :]
                if sub.size == 0:
                    continue
                packed = [
                    pack_row(sub[y].reshape(-1).tolist(), depth)
                    for y in range(sub.shape[0])
                ]
                raw += filter_rows(
                    packed, bpp, (filters or [0, 1, 2, 3, 4] * 999)[: sub.shape[0]]
                )
            raw = bytes(raw)
        ihdr = struct.pack(">IIBBBBB", w, h, depth, color, 0, 0, interlace)
        body = chunk(b"IHDR", ihdr)
        if plte is not None:
            body += chunk(b"PLTE", bytes(plte))
        body += chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
        return b"\x89PNG\r\n\x1a\n" + body

    rng = np.random.RandomState(31)

    # 16-bit RGB with every filter type (byte-level inversion at bpp=6)
    px16 = rng.randint(0, 65536, size=(5, 4, 3))
    d = image_stats(png(px16, 16, 2, filters=[0, 1, 2, 3, 4]))
    assert (d["width"], d["height"]) == (4, 5)
    assert d["mean_r"] == round(float(px16[:, :, 0].mean()), 6)
    assert d["mean_b"] == round(float(px16[:, :, 2].mean()), 6)

    # 16-bit grayscale + 16-bit RGBA (alpha excluded)
    g16 = rng.randint(0, 65536, size=(3, 7, 1))
    assert image_stats(png(g16, 16, 0, filters=[4, 3, 1]))["mean_g"] == round(
        float(g16.mean()), 6
    )
    a16 = rng.randint(0, 65536, size=(2, 3, 4))
    assert image_stats(png(a16, 16, 6, filters=[1, 2]))["mean_g"] == round(
        float(a16[:, :, 1].mean()), 6
    )

    # sub-byte grayscale: native-domain means at depths 1/2/4
    for depth in (1, 2, 4):
        gs = rng.randint(0, 1 << depth, size=(6, 11, 1))
        out = image_stats(png(gs, depth, 0, filters=[0, 1, 2, 3, 4, 0]))
        assert out["mean_r"] == round(float(gs.mean()), 6), depth

    # 2-bit palette: indices pack 4/byte, colors via PLTE
    plte = [10, 20, 30, 200, 100, 50, 0, 255, 8, 7, 6, 5]
    idx = rng.randint(0, 4, size=(5, 9, 1))
    out = image_stats(png(idx, 2, 3, plte=plte))
    pal = np.array(plte).reshape(4, 3)
    assert out["mean_r"] == round(float(pal[idx[:, :, 0]][:, :, 0].mean()), 6)

    # Adam7 interlaced 8-bit RGB — odd dims so pass widths vary
    px = rng.randint(0, 256, size=(11, 13, 3))
    out = image_stats(png(px, 8, 2, interlace=1))
    assert (out["width"], out["height"]) == (13, 11)
    assert out["mean_r"] == round(float(px[:, :, 0].mean()), 6)
    assert out["mean_g"] == round(float(px[:, :, 1].mean()), 6)

    # Adam7 at 16-bit, tiny canvas (some passes empty)
    px = rng.randint(0, 65536, size=(2, 2, 3))
    out = image_stats(png(px, 16, 2, interlace=1))
    assert out["mean_b"] == round(float(px[:, :, 2].mean()), 6)

    # Adam7 1-bit grayscale — bit packing inside each pass
    bits = rng.randint(0, 2, size=(9, 10, 1))
    out = image_stats(png(bits, 1, 0, interlace=1))
    assert out["mean_r"] == round(float(bits.mean()), 6)


def test_ngram_cap_defaults_on(spark):
    """r09: the document-frequency ceiling is the DEFAULT path — a
    shingle present in more than DEFAULT_MAX_SHINGLE_FREQ documents
    produces zero candidate pairs without any explicit knob."""
    from vector_lake_spark.operators.dedup import (
        DEFAULT_MAX_SHINGLE_FREQ,
        ngram_jaccard_pairs,
    )

    n_docs = DEFAULT_MAX_SHINGLE_FREQ + 10
    common = "shared boilerplate banner text"
    docs = [(i, f"{common} unique{i} filler{i} words{i}") for i in range(n_docs)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    # every pair overlaps ONLY via the universal shingles; with the
    # default cap those are dropped, so no pair can reach any threshold
    assert ngram_jaccard_pairs(df, n=3, threshold=0.01).count() == 0
    # the explicit None knob restores the exact (quadratic) join
    assert ngram_jaccard_pairs(
        df, n=3, threshold=0.01, max_shingle_freq=None
    ).count() > 0


def test_span_dedup_interval_union_semantics(spark, tmp_path):
    """pipe_span_dedup (r12): duplicated-span coverage must UNION
    overlapping shingle footprints, not sum them, and docs without
    corpus-duplicated shingles zero-fill. Hand-built corpus: a shared
    8-token boilerplate header (4 duplicated start positions → ONE
    merged span of 8 tokens) in 3 docs, plus a unique doc."""
    import pandas as pd

    from vector_lake_spark.queries import q_pipe_span_dedup

    header = "terms of service apply to all visitors here"
    rows = [
        (0, header + " alpha beta gamma delta"),
        (1, header + " epsilon zeta eta theta"),
        (2, header + " iota kappa lambda mu"),
        (3, "a wholly unique document about nothing shared at all ok"),
    ]
    sf = str(tmp_path)
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        f"{sf}/documents.parquet"
    )
    got = {
        r.doc_id: r
        for r in q_pipe_span_dedup(spark, sf).collect()
    }
    for i in range(3):
        r = got[i]
        assert r.n_tokens == 12
        # starts 1..4 all duplicated (shared 8-token prefix), overlap
        # merges to ONE span covering tokens 1..8
        assert r.n_dup_positions == 4
        assert r.n_spans == 1
        assert r.dup_tokens == 8
        assert abs(r.dup_frac - round(8 / 12, 6)) < 1e-9
    r = got[3]
    assert (r.n_dup_positions, r.n_spans, r.dup_tokens, r.dup_frac) == (
        0, 0, 0, 0.0,
    )


def test_strip_duplicated_spans_returns_cleaned_corpus(spark, tmp_path):
    """strip_duplicated_spans (r12): the trimming half — duplicated
    spans are REMOVED positionally, clean docs pass through
    (normalized), and the audit and the trim agree because they share
    duplicated_spans."""
    import pandas as pd

    from vector_lake_spark.operators.dedup import strip_duplicated_spans
    from vector_lake_spark.queries import q_pipe_span_dedup

    header = "terms of service apply to all visitors here"
    rows = [
        (0, header + " alpha beta gamma delta"),
        (1, header + " epsilon zeta eta theta"),
        (2, header + " iota kappa lambda mu"),
        (3, "a wholly unique Document about nothing shared at all ok"),
    ]
    sf = str(tmp_path)
    pd.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
        f"{sf}/documents.parquet"
    )
    df = spark.read.parquet(f"{sf}/documents.parquet")
    got = {r.doc_id: r for r in strip_duplicated_spans(df).collect()}
    assert got[0].text_clean == "alpha beta gamma delta"
    assert got[1].text_clean == "epsilon zeta eta theta"
    assert got[2].text_clean == "iota kappa lambda mu"
    for i in range(3):
        assert got[i].n_tokens_kept == 4
    # clean doc: token-normalized passthrough (lowercased join)
    assert got[3].text_clean == (
        "a wholly unique document about nothing shared at all ok"
    )
    assert got[3].n_tokens_kept == 10
    # the trim removed exactly what the audit reported: re-audit of the
    # cleaned corpus finds nothing (tails are all-unique here)
    import os

    cleaned = pd.DataFrame(
        [(r.doc_id, r.text_clean) for r in got.values()],
        columns=["doc_id", "text"],
    )
    sf2 = str(tmp_path / "clean")
    os.makedirs(sf2, exist_ok=True)
    cleaned.to_parquet(f"{sf2}/documents.parquet")
    audit = q_pipe_span_dedup(spark, sf2).collect()
    assert all(r.n_spans == 0 for r in audit)


def _span_batch_expect(spark, docs_rows, n=3, min_docs=3):
    from vector_lake_spark.operators.dedup import duplicated_spans

    full = spark.createDataFrame(docs_rows, "doc_id long, text string")
    spans = duplicated_spans(full, n=n, min_docs=min_docs)
    agg = spans.groupBy("doc_id").agg(
        F.sum("n_starts").cast("long").alias("n_dup_positions"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_tokens"),
    )
    out = {}
    got = {r.doc_id: r for r in agg.collect()}
    for doc_id, _ in docs_rows:
        r = got.get(doc_id)
        out[doc_id] = (
            (r.n_dup_positions, r.n_spans, r.dup_tokens) if r else (0, 0, 0)
        )
    return out


def test_span_ingest_stream_equals_batch_with_retroactive_update(
    spark, tmp_path
):
    """SpanDedupIngest (late r12): span reports are corpus-dependent,
    so a batch can push a gram over the >=3-docs threshold and
    invalidate an OLD document's report. The upsert contract must
    converge: at drain, latest-report-per-doc equals the batch audit
    over the whole corpus — including the retroactively-updated doc —
    and a replayed micro-batch overwrites to the same state."""
    import os

    import pandas as pd

    from vector_lake_spark.streaming.spans import SpanDedupIngest

    boiler = "terms of service apply here"
    rows = [
        (0, boiler + " alpha beta gamma"),      # batch A
        (1, "nothing shared in this one at all"),
        (2, boiler + " delta epsilon zeta"),    # batch B
        (3, boiler + " eta theta iota"),        # batch C -> promotes
        (4, "another fully unique piece of writing"),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src, exist_ok=True)
    for i, chunk in enumerate([rows[:2], rows[2:3], rows[3:]]):
        pd.DataFrame(chunk, columns=["doc_id", "text"]).to_parquet(
            f"{src}/part-{i}.parquet"
        )
    schema = "doc_id long, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ingest = SpanDedupIngest(
        spark,
        str(tmp_path / "hist"),
        str(tmp_path / "docs"),
        str(tmp_path / "reports"),
        n=3,
        min_docs=3,
    )
    ingest.run(stream, checkpoint=str(tmp_path / "ckpt"))
    want = _span_batch_expect(spark, rows, n=3, min_docs=3)
    got = {
        r.doc_id: (r.n_dup_positions, r.n_spans, r.dup_tokens)
        for r in ingest.reports().collect()
    }
    assert got == want
    # the boilerplate trio genuinely spans multiple micro-batches, so
    # at least one member's correct nonzero report was written AFTER
    # its own ingest batch (the retroactive path, not just new-doc
    # reporting)
    assert all(want[d][1] == 1 for d in (0, 2, 3))
    assert want[1] == (0, 0, 0) and want[4] == (0, 0, 0)
    # replay the final batch: deterministic overwrite, same state
    last = max(
        r.ingest_batch
        for r in spark.read.parquet(str(tmp_path / "hist"))
        .select("ingest_batch").distinct().collect()
    )
    docs_last = (
        spark.read.parquet(str(tmp_path / "docs"))
        .filter(f"ingest_batch = {last}").select("doc_id")
    )
    full = spark.createDataFrame(rows, schema)
    replay = full.join(docs_last, "doc_id", "left_semi")
    ingest.process_batch(replay, int(last))
    again = {
        r.doc_id: (r.n_dup_positions, r.n_spans, r.dup_tokens)
        for r in ingest.reports().collect()
    }
    assert again == want


def test_span_ingest_refuses_reingest_of_existing_doc(spark, tmp_path):
    """Review r12: span reports derive from corpus-wide gram
    frequencies, so re-ingesting an existing doc_id would leave the
    old version's history rows double-counting — the ingest must
    refuse loudly, while replaying the SAME batch stays allowed (the
    roster read excludes the batch's own partition)."""
    import pytest as _pytest

    from vector_lake_spark.streaming.spans import SpanDedupIngest

    ingest = SpanDedupIngest(
        spark,
        str(tmp_path / "hist"),
        str(tmp_path / "docs"),
        str(tmp_path / "reports"),
        n=3,
        min_docs=2,
    )
    b1 = spark.createDataFrame(
        [(0, "one two three four"), (1, "five six seven eight")],
        "doc_id long, text string",
    )
    ingest.process_batch(b1, 0)
    # replay of batch 0 itself: fine (exactly-once overwrite)
    ingest.process_batch(b1, 0)
    # doc 0 arriving again in a LATER batch: refused by name
    b2 = spark.createDataFrame(
        [(0, "a revised version of doc zero"), (9, "a brand new doc")],
        "doc_id long, text string",
    )
    with _pytest.raises(ValueError, match="append-only"):
        ingest.process_batch(b2, 1)


MAP_ROWS_DDL = "id long, k int, tag string, payload binary"
MAP_ROWS_CASES = {
    # case: (input rows, input partitions, fn, expected output rows)
    "one_to_one": (
        6, 2, lambda i: [(i, 0)], [(i, 0) for i in range(6)],
    ),
    "one_to_many": (
        6, 2, lambda i: [(i, k) for k in range(i % 3)],
        [(i, k) for i in range(6) for k in range(i % 3)],
    ),
    "zero_rows": (6, 2, lambda i: [], []),
    # more partitions than rows: most input partitions are empty
    "empty_partitions": (
        3, 8, lambda i: [(i, 1)], [(i, 1) for i in range(3)],
    ),
    "empty_input": (0, 4, lambda i: [(i, 1)], []),
}


@pytest.mark.parametrize("schema_kind", ["struct", "ddl"])
@pytest.mark.parametrize("case", sorted(MAP_ROWS_CASES))
def test_map_rows(spark, case, schema_kind):
    """map_rows: 1:1, 1:N and zero-row functions, and empty input
    partitions, all give correctly typed output; a StructType and the
    equivalent DDL string give the same result."""
    from pyspark.sql import types as T

    from vector_lake_spark.rowmap import map_rows

    n, parts, pairs, expected = MAP_ROWS_CASES[case]
    struct = T.StructType.fromDDL(MAP_ROWS_DDL)

    def fn(row):
        for i, k in pairs(row.id):
            yield i, k, f"t{k}", bytes([k])

    df = spark.range(n).repartition(parts)
    out = map_rows(df, fn, struct if schema_kind == "struct" else MAP_ROWS_DDL)
    assert out.schema == struct
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(i, k, f"t{k}", bytearray([k])) for i, k in expected]
