"""Store lifecycle tests — the reference's end-to-end round-trip shape
(tests/test_unit.py:46-71: add → query → persist → reopen → query)."""

import numpy as np
import pytest

from vector_lake_spark.store import SparkPartition, SparkVectorLake


@pytest.fixture()
def rng():
    return np.random.RandomState(11)


def test_empty_store_query_returns_nothing(spark, tmp_path):
    lake = SparkVectorLake(spark, str(tmp_path / "lake"), dimension=5)
    assert lake.query([0.1, 0.2, 0.3, 0.4, 0.5], k=4).count() == 0


def test_round_trip(spark, tmp_path, rng):
    loc = str(tmp_path / "lake")
    lake = SparkVectorLake(spark, loc, dimension=5, approx_shards=16)
    vecs = rng.rand(50, 5).tolist()
    ids = lake.add_batch(
        vecs,
        metadata=[{"i": str(i)} for i in range(50)],
        documents=[f"doc {i}" for i in range(50)],
    )
    assert len(ids) == 50
    lake.persist(source="unit-test")
    assert lake.count() == 50

    # reopen from disk (fresh object) — same seeded hyperplanes → same routing
    reopened = SparkVectorLake(spark, loc, dimension=5, approx_shards=16)
    target = vecs[7]
    hits = reopened.query(target, k=4).collect()
    assert 1 <= len(hits) <= 4
    # exact self-match must be the top hit with similarity 1.0
    assert hits[0]["id"] == ids[7]
    assert hits[0]["score"] == pytest.approx(1.0, abs=1e-6)


def test_append_accumulates(spark, tmp_path, rng):
    loc = str(tmp_path / "lake")
    lake = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    lake.add_batch(rng.rand(10, 4).tolist())
    lake.persist()
    lake.add_batch(rng.rand(15, 4).tolist())
    lake.persist()
    assert lake.count() == 25


def test_metadata_default_fill(spark, tmp_path, rng):
    # I2 parity: falsy metadata → {"id": "1"} (index.py:574-576)
    lake = SparkVectorLake(spark, str(tmp_path / "lake"), dimension=3)
    lake.add_batch([[0.1, 0.2, 0.3]], metadata=[{}])
    lake.persist()
    row = lake.load().collect()[0]
    assert row["metadata"] == '{"id": "1"}'


def test_schema_validation_rejects_drift(spark, tmp_path):
    loc = tmp_path / "lake"
    (loc / "data").mkdir(parents=True)
    spark.range(3).write.mode("overwrite").parquet(str(loc / "data"))
    lake = SparkVectorLake(spark, str(loc), dimension=3)
    with pytest.raises(ValueError, match="schema drift"):
        lake.load()


def test_partition_store(spark, tmp_path, rng):
    loc = str(tmp_path / "plake")
    part = SparkPartition(spark, loc, partition_key="feature_x", dimension=4)
    vecs = rng.rand(20, 4).tolist()
    ids = part.add_batch(vecs)
    part.persist()
    hits = part.query(vecs[3], k=2).collect()
    assert hits[0]["id"] == ids[3]
    # the batched path reads the same one shard (the _probes hook)
    qdf = spark.createDataFrame([(7, vecs[3])], "query_id long, qv array<double>")
    got = part.query_batch(qdf, k=2).filter("rn = 1").collect()
    assert [(r["query_id"], r["id"]) for r in got] == [(7, ids[3])]


def test_compact_reduces_files(spark, tmp_path, rng):
    import glob

    loc = str(tmp_path / "lake")
    lake = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    for _ in range(3):
        lake.add_batch(rng.rand(20, 4).tolist())
        lake.persist()
    before = len(glob.glob(f"{loc}/data/*/*.parquet"))
    lake.compact()
    after = len(glob.glob(f"{loc}/data/*/*.parquet"))
    assert lake.count() == 60
    assert after <= before


def test_delete(spark, tmp_path, rng):
    loc = str(tmp_path / "lake")
    lake = SparkVectorLake(spark, loc, dimension=3)
    lake.add_batch(rng.rand(5, 3).tolist())
    lake.persist()
    lake.delete()
    assert lake.query([0.1, 0.2, 0.3]).count() == 0


def test_query_batch(spark, tmp_path, rng):
    from pyspark.sql import functions as F

    loc = str(tmp_path / "lake")
    lake = SparkVectorLake(spark, loc, dimension=5, approx_shards=16)
    vecs = rng.rand(200, 5).tolist()
    ids = lake.add_batch(vecs)
    lake.persist()

    queries = spark.createDataFrame(
        [(i, vecs[i]) for i in range(5)], "query_id long, qv array<double>"
    )
    res = lake.query_batch(queries, k=3).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == set(range(5))
    for qid, rows in by_q.items():
        assert len(rows) <= 3
        top = min(rows, key=lambda r: r["rn"])
        # self-match routed to its own shard must rank first with sim 1.0
        assert top["id"] == ids[qid]
        assert abs(top["score"] - 1.0) < 1e-6


def test_stream_ingest(spark, tmp_path, rng):
    loc = str(tmp_path / "slake")
    lake = SparkVectorLake(spark, loc, dimension=4, approx_shards=8)
    # stage a parquet source to stream from
    src = str(tmp_path / "src")
    rows = [
        (str(i), [float(x) for x in rng.rand(4)], "{}", f"doc {i}")
        for i in range(40)
    ]
    spark.createDataFrame(
        rows, "id string, vector array<double>, metadata string, document string"
    ).withColumn("timestamp", __import__("pyspark.sql.functions", fromlist=["x"]).current_timestamp()).write.parquet(src)

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = lake.stream_ingest(stream, str(tmp_path / "ckpt"))
    q.awaitTermination()
    assert lake.count() == 40
    # queryable like any batch-persisted store
    target = rows[5][1]
    hits = lake.query(target, k=2).collect()
    assert hits[0]["id"] == "5"


def test_query_batch_multiprobe(spark, tmp_path, rng):
    lake = SparkVectorLake(spark, str(tmp_path / "lake"), dimension=5, approx_shards=16)
    vecs = rng.rand(100, 5).tolist()
    ids = lake.add_batch(vecs)
    lake.persist()
    queries = spark.createDataFrame(
        [(i, vecs[i]) for i in range(3)], "query_id long, qv array<double>"
    )
    one = lake.query_batch(queries, k=5, n_probes=1).collect()
    multi = lake.query_batch(queries, k=5, n_probes=4).collect()
    # multiprobe sees a superset of candidates → per-query scores at each
    # rank can only improve or stay equal
    def best(rows):
        out = {}
        for r in rows:
            cur = out.get(r["query_id"])
            if cur is None or r["score"] > cur:
                out[r["query_id"]] = r["score"]
        return out
    b1, bm = best(one), best(multi)
    for qid in b1:
        assert bm[qid] >= b1[qid]


def test_delete_one_shard_leaves_others(spark, tmp_path, rng):
    loc = str(tmp_path / "lake")
    lake = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    # centered vectors spread across shards (uniform [0,1) vectors
    # concentrate into one shard — the reference's own data pathology)
    lake.add_batch((rng.rand(100, 4) - 0.5).tolist())
    lake.persist()
    shards = {
        r["shard_id"]: r["n"]
        for r in lake.load().groupBy("shard_id").count().withColumnRenamed("count", "n").collect()
    }
    assert len(shards) >= 2
    victim = sorted(shards)[0]
    lake.delete_shards([victim])
    remaining = {
        r["shard_id"] for r in lake.load().select("shard_id").distinct().collect()
    }
    assert victim not in remaining
    assert lake.count() == 100 - shards[victim]


def test_delete_ids_rewrites_only_affected_shards(spark, tmp_path, rng):
    """Row-level delete: listed ids disappear, everything else survives,
    and shards without a listed id are never rewritten (their files keep
    their mtimes)."""
    import glob
    import os

    loc = str(tmp_path / "lake")
    lake = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    vecs = (rng.rand(60, 4) - 0.5).tolist()
    ids = lake.add_batch(vecs)
    lake.persist()

    rows = {r["id"]: r["shard_id"] for r in lake.load().select("id", "shard_id").collect()}
    shards = set(rows.values())
    assert len(shards) >= 2, "need >=2 shards for the untouched-shard check"
    victim_shard = sorted(shards)[0]
    victims = [i for i, s in rows.items() if s == victim_shard][:3]
    untouched = sorted(shards)[1]
    before_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{loc}/data/shard_id={untouched}/*.parquet")
    }

    n = lake.delete_ids(victims)
    assert n == 1  # only the victim shard rewritten
    left = {r["id"] for r in lake.load().select("id").collect()}
    assert left == set(ids) - set(victims)
    after_files = {
        f: os.path.getmtime(f)
        for f in glob.glob(f"{loc}/data/shard_id={untouched}/*.parquet")
    }
    assert after_files == before_files

    # DataFrame form (broadcast anti-join path): delete two more
    more = [i for i in left if rows[i] == untouched][:2]
    id_df = spark.createDataFrame([(i,) for i in more], "id string")
    assert lake.delete_ids(id_df) == 1
    assert {r["id"] for r in lake.load().select("id").collect()} == left - set(more)
    # no-op on unknown ids
    assert lake.delete_ids(["nope-1", "nope-2"]) == 0
    # non-string ids are accepted and compared as strings
    assert lake.delete_ids([1, 2]) == 0


def test_swap_shards_crash_recovery(spark, tmp_path, rng, monkeypatch):
    """Fault injection for the compact/retention swap (_swap_shards):
    crash after the old shard was moved aside but before the rewrite was
    moved in. The shard's only copy must survive in {location}/_trash/,
    the NEXT maintenance run must refuse to start (instead of clobbering
    the trash — the ADVICE r02 data-loss window), and renaming the trash
    back must fully recover the store."""
    loc = str(tmp_path / "lake")
    lake = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    # centered vectors spread across shards (uniform [0,1) collapses into
    # one LSH shard) — the crash must leave OTHER shards behind too
    lake.add_batch((rng.rand(40, 4) - 0.5).tolist())
    lake.persist()
    n_before = lake.count()

    class CrashAfterAside:
        """Wraps the Hadoop FS: the rename that moves the rewritten data
        into place raises, simulating a crash between the two renames."""

        def __init__(self, real):
            self._real = real

        def rename(self, src, dst):
            if "_rewrite_tmp" in str(src):
                raise RuntimeError("injected crash mid-swap")
            return self._real.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._real, name)

    orig_fs_path = SparkVectorLake._fs_path

    def crashing_fs_path(self, path_str):
        fs, p = orig_fs_path(self, path_str)
        return CrashAfterAside(fs), p

    monkeypatch.setattr(SparkVectorLake, "_fs_path", crashing_fs_path)
    with pytest.raises(RuntimeError, match="injected crash"):
        lake.compact()
    monkeypatch.undo()

    # the moved-aside shard's only copy survives in the trash path
    import glob

    trashed = glob.glob(f"{loc}/_trash/shard_id=*/*.parquet")
    assert trashed, "crash left no recoverable copy in _trash"

    # a subsequent maintenance run must refuse, not destroy the trash
    with pytest.raises(IOError, match="refusing to start"):
        lake.compact()
    assert glob.glob(f"{loc}/_trash/shard_id=*/*.parquet") == trashed

    # operator recovery: move the trash shards back, remove the dirs
    import os
    import shutil

    for shard_dir in glob.glob(f"{loc}/_trash/shard_id=*"):
        dst = f"{loc}/data/{os.path.basename(shard_dir)}"
        shutil.rmtree(dst, ignore_errors=True)
        shutil.move(shard_dir, dst)
    shutil.rmtree(f"{loc}/_trash")
    shutil.rmtree(f"{loc}/_rewrite_tmp", ignore_errors=True)

    assert lake.count() == n_before
    lake.compact()  # now succeeds
    assert lake.count() == n_before


def test_delete_older_than_retention(spark, tmp_path, rng):
    import datetime

    from pyspark.sql import functions as F

    loc = str(tmp_path / "lake")
    lake = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    old_ts = datetime.datetime(2020, 1, 1)
    new_ts = datetime.datetime(2025, 1, 1)
    rows = [
        (str(i), [float(x) for x in rng.rand(4)], "{}", "d", old_ts if i < 30 else new_ts)
        for i in range(60)
    ]
    df = spark.createDataFrame(
        rows,
        "id string, vector array<double>, metadata string, document string, timestamp timestamp",
    )
    lake.add_dataframe(df)
    lake.persist()
    n_rewritten = lake.delete_older_than(datetime.datetime(2022, 1, 1))
    assert n_rewritten >= 1
    kept = lake.load()
    assert kept.count() == 30
    assert kept.filter(F.col("timestamp") < F.lit("2022-01-01")).count() == 0
    # idempotent: nothing left to expire
    assert lake.delete_older_than(datetime.datetime(2022, 1, 1)) == 0


def test_retention_can_empty_a_shard(spark, tmp_path, rng):
    import datetime

    loc = str(tmp_path / "lake")
    lake = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    old_ts = datetime.datetime(2020, 1, 1)
    rows = [
        (str(i), [float(x) for x in rng.rand(4)], "{}", "d", old_ts)
        for i in range(40)
    ]
    lake.add_dataframe(
        spark.createDataFrame(
            rows,
            "id string, vector array<double>, metadata string, document string, timestamp timestamp",
        )
    )
    lake.persist()
    lake.delete_older_than(datetime.datetime(2022, 1, 1))
    assert lake.count() == 0


def test_dimension_validation(spark, tmp_path, rng):
    import pytest as _pytest

    lake = SparkVectorLake(spark, str(tmp_path / "lake"), dimension=4)
    with _pytest.raises(ValueError, match="dimension"):
        lake.add_batch([[0.1, 0.2, 0.3]])  # 3 != 4
    with _pytest.raises(ValueError, match="dimension"):
        lake.query([0.1, 0.2], k=2)
    part = SparkPartition(spark, str(tmp_path / "plake"), partition_key="k", dimension=4)
    with _pytest.raises(ValueError, match="dimension"):
        part.query([0.1, 0.2], k=2)
    # lazy ingest path: the bad row fails the persist job, not silently
    # lands in __HIVE_DEFAULT_PARTITION__
    bad = spark.createDataFrame([(["a"], [0.1, 0.2, 0.3])], "id_arr array<string>, vector array<double>")
    lake.add_dataframe(bad.select(bad.vector))
    from py4j.protocol import Py4JJavaError

    with _pytest.raises(Exception, match="dimension mismatch"):
        lake.persist()


def _s3a_status(spark):
    """(available, reason): s3a needs the hadoop-aws jar AND a reachable
    S3 endpoint (localstack:4566 / minio:9000) — reference parity is the
    localstack e2e in /root/reference/tests/conftest.py:33-42."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.hadoop.fs.s3a.S3AFileSystem")
    except Exception:
        return False, "hadoop-aws jar not on the Spark classpath in this container"
    import socket

    for port in (4566, 9000):
        try:
            socket.create_connection(("localhost", port), timeout=1).close()
            return True, f"localhost:{port}"
        except OSError:
            continue
    return False, "no localstack/minio S3 endpoint reachable on localhost:4566/9000"


@pytest.mark.parametrize("scheme", ["file", "s3a"])
def test_round_trip_over_scheme(spark, tmp_path, rng, scheme):
    """The store is URI-agnostic: every filesystem touch (data, sidecar,
    shard delete, retention swap) goes through Hadoop FS / Spark readers,
    so the same code runs over file://, hdfs://, s3a://. The s3a leg runs
    whenever the environment provides hadoop-aws + an endpoint
    (docs/S3.md recipe); otherwise it skips with the evidence."""
    if scheme == "s3a":
        ok, reason = _s3a_status(spark)
        if not ok:
            pytest.skip(f"s3a leg unavailable: {reason} — see docs/S3.md")
        endpoint = reason
        hconf = spark._jsc.hadoopConfiguration()
        hconf.set("fs.s3a.endpoint", f"http://{endpoint}")
        hconf.set("fs.s3a.access.key", "test")
        hconf.set("fs.s3a.secret.key", "test")
        hconf.set("fs.s3a.path.style.access", "true")
        loc = "s3a://vector-lake-test/lake"
    else:
        loc = f"file://{tmp_path}/lake"
    lake = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    vecs = (rng.rand(20, 4) - 0.5).tolist()
    ids = lake.add_batch(vecs)
    lake.persist(source="scheme-test")
    assert lake.count() == 20
    hits = lake.query(vecs[3], k=2).collect()
    assert hits[0]["id"] == ids[3]
    lake.delete()
    assert lake.count() == 0


@pytest.mark.parametrize("k", [1, 3, 5, 50])
def test_query_k_fuzzing(spark, tmp_path, rng, k):
    """Reference test_query_size_fuzzing parity: any k returns at most
    min(k, candidates-in-probed-shards) rows and never errors —
    including k far beyond the store size."""
    lake = SparkVectorLake(spark, str(tmp_path / f"lake{k}"), dimension=4, approx_shards=4)
    lake.add_batch((rng.rand(5, 4) - 0.5).tolist())
    lake.persist()
    # multiprobe generates the routed shard + single-bit flips: with 2
    # hyperplanes that is at most 3 of the 4 shards — n_probes beyond
    # nh+1 is a safe no-op, so probe-all semantics needs load(), not
    # query(); this test covers the bounded-probe contract
    rows = lake.query([0.1, -0.2, 0.3, -0.4], k=k, n_probes=3).collect()
    assert len(rows) <= min(k, 5)
    # scores sorted descending, deterministically
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_query_vectors_returns_vectors(spark, tmp_path, rng):
    """A10 parity regression: query() must carry the stored vector column
    (query_vectors and adapter MMR read it)."""
    lake = SparkVectorLake(spark, str(tmp_path / "lake"), dimension=4, approx_shards=4)
    vecs = (rng.rand(10, 4) - 0.5).tolist()
    lake.add_batch(vecs)
    lake.persist()
    out = lake.query_vectors(vecs[2], k=2)
    assert len(out) >= 1
    assert [round(x, 9) for x in out[0]] == [round(x, 9) for x in vecs[2]]


def test_partition_store_shard_delete(spark, tmp_path, rng):
    """delete_shards works with SparkPartition's STRING partition keys
    (reference deletes one named bucket — index.py:312-325)."""
    a = SparkPartition(spark, str(tmp_path / "p"), partition_key="feat_a", dimension=3)
    a.add_batch(rng.rand(5, 3).tolist())
    a.persist()
    b = SparkPartition(spark, str(tmp_path / "p"), partition_key="feat_b", dimension=3)
    b.add_batch(rng.rand(7, 3).tolist())
    b.persist()
    assert a.count() == 12  # shared location, two logical partitions
    a.delete_shards(["feat_a"])
    assert a.query([0.1, 0.2, 0.3], k=5).count() == 0
    assert b.query([0.1, 0.2, 0.3], k=5).count() > 0


def test_empty_trash_root_autocleaned(spark, tmp_path, rng):
    """An empty {location}/_trash (abort after mkdirs, or a fully restored
    swap) holds no stranded data — maintenance must auto-clean it and
    proceed instead of refusing with a spurious data-loss warning
    (r03 ADVICE)."""
    import os

    loc = str(tmp_path / "lake")
    lake = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    lake.add_batch((rng.rand(20, 4) - 0.5).tolist())
    lake.persist()
    n = lake.count()

    os.makedirs(f"{loc}/_trash")
    lake.compact()  # must not raise
    assert not os.path.exists(f"{loc}/_trash")
    assert lake.count() == n

    # a _trash with UNRECOGNIZED residue (no shard_id=* entries) must NOT
    # be silently destroyed — it could be a partially-renamed shard or
    # files another in-flight swap just created (r04 ADVICE): refuse and
    # leave the residue in place for the operator.
    os.makedirs(f"{loc}/_trash")
    open(f"{loc}/_trash/.marker", "w").close()
    with pytest.raises(Exception, match="unrecognized residue"):
        lake.compact()
    assert os.path.exists(f"{loc}/_trash/.marker")
    os.remove(f"{loc}/_trash/.marker")
    lake.compact()  # empty again -> auto-clean proceeds
    assert not os.path.exists(f"{loc}/_trash")
    assert lake.count() == n


def test_query_batch_refuses_oversized_batch(spark, tmp_path, rng):
    """query_batch collects the query side driver-side; an unbounded
    batch must be refused with a pointer at the distributed path
    (r04 VERDICT), mirroring the quadratic-baseline guard in
    operators/dedup.py."""
    lake = SparkVectorLake(spark, str(tmp_path / "lake"), dimension=4, approx_shards=4)
    lake.add_batch(rng.rand(10, 4).tolist())
    lake.persist()
    queries = spark.createDataFrame(
        [(i, [0.1, 0.2, 0.3, 0.4]) for i in range(6)],
        "query_id long, qv array<double>",
    )
    with pytest.raises(ValueError, match="topk_cosine_batch"):
        lake.query_batch(queries, k=2, max_queries=5)
    # at the bound it still runs
    assert lake.query_batch(queries.limit(5), k=2, max_queries=5).count() > 0


def test_upsert_replaces_by_id(spark, tmp_path, rng):
    """Upsert: existing ids get their new vector/document (old version
    gone), new ids append; store size reflects the net result, and only
    shards holding an old version were rewritten."""
    loc = str(tmp_path / "lake")
    lake = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    vecs = (rng.rand(20, 4) - 0.5).tolist()
    ids = lake.add_batch(vecs, documents=[f"v1-{i}" for i in range(20)])
    lake.persist()

    new_vec = [0.9, -0.9, 0.9, -0.9]
    n_rewritten = lake.upsert_batch(
        [ids[3], "brand-new"],
        [new_vec, [0.1, 0.1, -0.2, 0.3]],
        documents=["v2-3", "fresh"],
    )
    assert n_rewritten >= 1
    assert lake.count() == 21  # one replaced, one inserted

    rows = {r["id"]: r for r in lake.load().collect()}
    assert rows[ids[3]]["document"] == "v2-3"
    assert rows[ids[3]]["vector"] == pytest.approx(new_vec)
    assert rows["brand-new"]["document"] == "fresh"
    # the replaced version must not be queryable anywhere
    assert (
        lake.load().filter(f"id = '{ids[3]}' and document = 'v1-3'").count()
        == 0
    )


def test_upsert_validates_before_deleting(spark, tmp_path, rng):
    """A bad replacement batch must fail the upsert with the old rows
    INTACT — validate-then-delete, never delete-then-discover
    (r05 review finding)."""
    lake = SparkVectorLake(spark, str(tmp_path / "lake"), dimension=4, approx_shards=4)
    ids = lake.add_batch(rng.rand(5, 4).tolist(), documents=["v1"] * 5)
    lake.persist()

    with pytest.raises(ValueError, match="dimension"):
        lake.upsert_batch([ids[0]], [[1.0, 2.0]])  # wrong dim
    with pytest.raises(ValueError, match="ids but"):
        lake.upsert_batch([ids[0], ids[1]], [[0.1, 0.2, 0.3, 0.4]])
    # short metadata / documents lists used to IndexError only after the
    # old versions were already destroyed (r05 ADVICE) — now both are
    # validated up front alongside ids/vectors
    with pytest.raises(ValueError, match="metadata"):
        lake.upsert_batch(
            [ids[0], ids[1]],
            [[0.1] * 4, [0.2] * 4],
            metadata=[{"only": "one"}],
        )
    with pytest.raises(ValueError, match="documents"):
        lake.upsert_batch(
            [ids[0], ids[1]], [[0.1] * 4, [0.2] * 4], documents=["just-one"]
        )
    # duplicate ids within one batch: replace-by-id is ill-defined
    with pytest.raises(ValueError, match="duplicate ids"):
        lake.upsert_batch([ids[0], ids[0]], [[0.1] * 4, [0.2] * 4])
    assert lake.count() == 5
    assert lake.load().filter(f"id = '{ids[0]}'").count() == 1
    assert lake.load().filter("document = 'v1'").count() == 5


def test_upsert_crash_before_swap_preserves_old_rows(
    spark, tmp_path, rng, monkeypatch
):
    """Crash-atomicity leg 1 (r05 verdict #4): if the staged rewrite
    WRITE fails, nothing has been renamed yet — the store must still
    serve every old row (the delete-then-append upsert lost old versions
    here)."""
    from pyspark.sql.readwriter import DataFrameWriter

    loc = str(tmp_path / "lake")
    lake = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    vecs = (rng.rand(20, 4) - 0.5).tolist()
    ids = lake.add_batch(vecs, documents=[f"v1-{i}" for i in range(20)])
    lake.persist()

    real_parquet = DataFrameWriter.parquet

    def crashing_parquet(self, path, *a, **kw):
        if "_rewrite_tmp" in str(path):
            raise RuntimeError("injected crash during staged write")
        return real_parquet(self, path, *a, **kw)

    monkeypatch.setattr(DataFrameWriter, "parquet", crashing_parquet)
    with pytest.raises(RuntimeError, match="injected crash"):
        lake.upsert_batch([ids[3]], [[0.9, -0.9, 0.9, -0.9]], documents=["v2"])
    monkeypatch.undo()

    assert lake.count() == 20
    rows = {r["id"]: r["document"] for r in lake.load().collect()}
    assert rows[ids[3]] == "v1-3"  # old version intact, not lost


def test_upsert_crash_mid_swap_is_recoverable(spark, tmp_path, rng, monkeypatch):
    """Crash-atomicity leg 2: a crash between the two renames parks the
    shard's only copy in _trash, further maintenance refuses until the
    operator recovers it, and after recovery every id is visible exactly
    once with either its old or its new version — nothing is lost."""
    import glob
    import os
    import shutil

    loc = str(tmp_path / "lake")
    lake = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    vecs = (rng.rand(20, 4) - 0.5).tolist()
    ids = lake.add_batch(vecs, documents=[f"v1-{i}" for i in range(20)])
    lake.persist()

    class CrashAfterAside:
        def __init__(self, real):
            self._real = real

        def rename(self, src, dst):
            if "_rewrite_tmp" in str(src):
                raise RuntimeError("injected crash mid-swap")
            return self._real.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._real, name)

    orig_fs_path = SparkVectorLake._fs_path

    def crashing_fs_path(self, path_str):
        fs, p = orig_fs_path(self, path_str)
        return CrashAfterAside(fs), p

    monkeypatch.setattr(SparkVectorLake, "_fs_path", crashing_fs_path)
    with pytest.raises(RuntimeError, match="injected crash"):
        lake.upsert_batch([ids[3]], [[0.9, -0.9, 0.9, -0.9]], documents=["v2"])
    monkeypatch.undo()

    # the moved-aside shard survives in _trash; maintenance refuses
    assert glob.glob(f"{loc}/_trash/shard_id=*/*.parquet")
    with pytest.raises(IOError, match="refusing"):
        lake.upsert_batch([ids[3]], [[0.9, -0.9, 0.9, -0.9]], documents=["v2"])

    # operator recovery: rename the trash shards back
    for shard_dir in glob.glob(f"{loc}/_trash/shard_id=*"):
        dst = f"{loc}/data/{os.path.basename(shard_dir)}"
        shutil.rmtree(dst, ignore_errors=True)
        shutil.move(shard_dir, dst)
    shutil.rmtree(f"{loc}/_trash")
    shutil.rmtree(f"{loc}/_rewrite_tmp", ignore_errors=True)

    rows = {r["id"]: r["document"] for r in lake.load().collect()}
    assert len(rows) == 20  # every id exactly once
    assert rows[ids[3]] in ("v1-3", "v2")  # either-old-or-new, never gone

    # and the retried upsert completes
    assert lake.upsert_batch(
        [ids[3]], [[0.9, -0.9, 0.9, -0.9]], documents=["v2"]
    ) >= 0
    rows = {r["id"]: r["document"] for r in lake.load().collect()}
    assert rows[ids[3]] == "v2"
    assert len(rows) == 20


def test_upsert_into_empty_store_is_pure_insert(spark, tmp_path, rng):
    lake = SparkVectorLake(spark, str(tmp_path / "lake"), dimension=4)
    assert lake.upsert_batch(["a", "b"], rng.rand(2, 4).tolist()) == 0
    assert lake.count() == 2


def test_upsert_large_batch_uses_anti_join_path(spark, tmp_path, rng):
    """A batch of over a thousand ids takes the same broadcast
    semi/anti-join path as any other (no per-id literals in the plan):
    replace existing, insert new, exactly-once per id."""
    lake = SparkVectorLake(spark, str(tmp_path / "lake"), dimension=4, approx_shards=4)
    n = 1200
    vecs = (rng.rand(n, 4) - 0.5).tolist()
    ids = [f"id-{i}" for i in range(n)]
    lake.add_batch(vecs, ids=ids, documents=["v1"] * n)
    lake.persist()

    # replace the first 1100, insert 101 new → batch of 1201 (> cutoff)
    up_ids = ids[:1100] + [f"new-{i}" for i in range(101)]
    up_vecs = (rng.rand(1201, 4) - 0.5).tolist()
    assert lake.upsert_batch(up_ids, up_vecs, documents=["v2"] * 1201) >= 1

    rows = {r["id"]: r["document"] for r in lake.load().collect()}
    assert len(rows) == n + 101
    assert all(rows[i] == "v2" for i in up_ids)
    assert all(rows[i] == "v1" for i in ids[1100:])


def test_query_filtered_ann(spark, tmp_path, rng):
    """Filtered ANN: `where` restricts ranking to rows whose metadata
    satisfies the predicate (pre-filter semantics — the heap only sees
    qualifying rows, so k results are all qualifying and exactly the
    qualifying top-k)."""
    loc = str(tmp_path / "lake")
    lake = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    vecs = rng.rand(40, 4).tolist()
    cats = ["a" if i % 2 == 0 else "b" for i in range(40)]
    lake.add_batch(vecs, metadata=[{"cat": c} for c in cats])
    lake.persist()
    q = vecs[6]
    pred = "get_json_object(metadata, '$.cat') = 'a'"
    hits = lake.query(q, k=5, n_probes=4, where=pred).collect()
    assert len(hits) == 5
    import json as _json

    assert all(_json.loads(h["metadata"])["cat"] == "a" for h in hits)
    # equivalent unfiltered query over the same probes, post-filtered,
    # must agree on the winners (pre-filter never loses qualifying rows)
    unfiltered = lake.query(q, k=40, n_probes=4).collect()
    expect = [h["id"] for h in unfiltered
              if _json.loads(h["metadata"])["cat"] == "a"][:5]
    assert [h["id"] for h in hits] == expect
    # Column-form predicate equivalent to the SQL-string form
    from pyspark.sql import functions as F

    hits2 = lake.query(
        q, k=5, n_probes=4,
        where=F.get_json_object("metadata", "$.cat") == "a",
    ).collect()
    assert [h["id"] for h in hits2] == [h["id"] for h in hits]


def test_query_filtered_empty_and_none(spark, tmp_path, rng):
    """Edge semantics: a predicate matching nothing returns an empty
    frame (not an error); where=None is the unfiltered query."""
    loc = str(tmp_path / "lake")
    lake = SparkVectorLake(spark, loc, dimension=4, approx_shards=2)
    lake.add_batch(rng.rand(10, 4).tolist(), metadata=[{"cat": "a"}] * 10)
    lake.persist()
    q = [0.5, 0.5, 0.5, 0.5]
    assert (
        lake.query(q, k=5, n_probes=2,
                   where="get_json_object(metadata,'$.cat') = 'zzz'").count()
        == 0
    )
    assert lake.query(q, k=5, n_probes=2, where=None).count() == 5


def test_concurrent_mutator_fails_fast_and_loses_nothing(
    spark, tmp_path, rng
):
    """Single-writer enforcement (r06 verdict #5): while one writer
    holds the maintenance lease, a second mutator on the same location
    must fail FAST with a recoverable error — not interleave swaps and
    silently drop the first writer's shards. Covers all four stage+swap
    paths and ``delete_shards`` (a shard it deletes between a compact's
    load and swap would be swapped back in), and proves the store is
    byte-identical after the refusals — also when the refused upsert
    has rows pending from ``add_batch`` (they must not be flushed) or
    targets a store with no data yet (a second insert would duplicate
    the ids)."""
    import pytest as _pytest

    loc = str(tmp_path / "lake")
    writer_a = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    vecs = (rng.rand(30, 4) - 0.5).tolist()
    ids = writer_a.add_batch(vecs)
    writer_a.persist()

    writer_b = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    writer_c = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    writer_c.add_batch(vecs[:5])  # pending, not yet persisted
    with writer_a._maintenance_lock():  # writer A mid-maintenance
        with _pytest.raises(IOError, match="_maintenance.lock"):
            writer_b.upsert_batch([ids[0]], [vecs[1]])
        with _pytest.raises(IOError, match="single-writer"):
            writer_c.upsert_batch([ids[0]], [vecs[1]])
        with _pytest.raises(IOError, match="single-writer"):
            writer_b.compact()
        with _pytest.raises(IOError, match="single-writer"):
            import datetime

            writer_b.delete_older_than(
                datetime.datetime(2099, 1, 1)
            )
        with _pytest.raises(IOError, match="single-writer"):
            writer_b.delete_ids([ids[0]])
        with _pytest.raises(IOError, match="single-writer"):
            writer_b.delete_shards([0, 1, 2, 3])

    # nothing was lost or mutated by the refused attempts
    assert writer_b.count() == 30
    got = writer_b.query(vecs[0], k=1).collect()
    assert got[0]["id"] == ids[0]

    # lease released on exit: the same mutations now succeed
    assert writer_b.upsert_batch([ids[0]], [vecs[1]]) == 1
    writer_b.compact()
    assert writer_b.count() == 30

    empty_loc = str(tmp_path / "empty")
    first = SparkVectorLake(spark, empty_loc, dimension=4, approx_shards=4)
    second = SparkVectorLake(spark, empty_loc, dimension=4, approx_shards=4)
    with first._maintenance_lock():
        with _pytest.raises(IOError, match="single-writer"):
            second.upsert_batch([ids[0]], [vecs[0]])
    assert second.count() == 0


def test_rewrite_refuses_rows_appended_after_its_scan(spark, tmp_path, rng):
    """Appends take no lease, so rows a second instance appends to a
    touched shard between a rewrite's ``load()`` and its swap would
    leave with the old shard directory. The swap lists the touched
    shards first and refuses: ``compact`` raises, the staged copy is
    dropped, every row (late ones included) survives, and a retried
    ``compact`` keeps them all."""
    import os

    loc = str(tmp_path / "lake")
    a = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    a.add_batch((rng.rand(40, 4) - 0.5).tolist())
    a.persist()
    b = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    swap = a._swap_shards

    def append_then_swap(*args, **kwargs):
        b.add_batch((rng.rand(20, 4) - 0.5).tolist())
        b.persist()
        return swap(*args, **kwargs)

    a._swap_shards = append_then_swap
    with pytest.raises(IOError, match="concurrent append"):
        a.compact()
    assert a.count() == 60
    assert not os.path.exists(os.path.join(loc, "_rewrite_tmp"))
    assert not os.path.exists(os.path.join(loc, "_trash"))
    a._swap_shards = swap
    a.compact()
    assert a.count() == 60


def test_maintenance_lock_released_on_failure(spark, tmp_path, rng):
    """A mutator that fails validation mid-lease must release the lock —
    otherwise one bad batch wedges all future maintenance."""
    import pytest as _pytest

    loc = str(tmp_path / "lake")
    lake = SparkVectorLake(spark, loc, dimension=4, approx_shards=4)
    lake.add_batch((rng.rand(10, 4) - 0.5).tolist())
    lake.persist()

    with _pytest.raises(ValueError, match="duplicate ids"):
        lake.upsert_batch(
            ["a", "a"], [[0.1, 0.2, 0.3, 0.4], [0.5, 0.6, 0.7, 0.8]]
        )
    # lock is gone: compact proceeds
    lake.compact()
    assert lake.count() == 10
