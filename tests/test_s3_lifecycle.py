"""End-to-end lifecycle over a REAL S3 REST API (VERDICT r3 #7).

No moto/MinIO/boto3 exists in this container (and installs are not
allowed), so the S3 path is exercised the honest way that IS available:
pyarrow bundles the genuine AWS C++ SDK S3 client, and tests/mini_s3.py
implements the S3 REST subset (SigV4-signed requests over HTTP,
multipart uploads, ranged GETs, ListObjectsV2) with stdlib only. Every
byte here crosses a real HTTP S3 wire — executor Arrow writers included.

Covered on ``s3://`` roots for BOTH the log and data slots: insert
(executor-side multipart parquet writes + atomic log commit), fold/read
of the log, time travel, rollback, vacuum physically deleting S3
objects, gc_orphans collecting unreferenced uploads, a full
``spark.read.format('icedb')`` batch scan, the engine's own
``IceTable.read()`` (round 5: ``_scan_paths`` probes the JVM for an
``s3a://`` filesystem and falls back to the pyarrow worker scan when
hadoop-aws is absent — the same executor path the DataSource uses),
and row-level DML (CoW delete / update / MERGE INTO, whose rewrite
scans and per-row source-file attribution all ride the same fallback).
On deployments WITH hadoop-aws jars, the ``Storage.absolute()``
``s3a://`` mapping routes everything through Spark's native reader
instead — same results, JVM-side scan.
"""

from __future__ import annotations

import time

import pytest

from icedb_spark import IceTable, PartitionField, PartitionSpec
from icedb_spark.log import PyArrowFsStorage

from mini_s3 import MiniS3Server

pafs = pytest.importorskip("pyarrow.fs")
if not hasattr(pafs, "S3FileSystem"):  # pragma: no cover
    pytest.skip("pyarrow built without S3", allow_module_level=True)


@pytest.fixture()
def s3env():
    with MiniS3Server() as srv:
        opts = {
            "access_key": "test-key",
            "secret_key": "test-secret",
            "endpoint_override": f"127.0.0.1:{srv.port}",
            "scheme": "http",
            "region": "us-east-1",
            "allow_bucket_creation": True,
        }
        fs = pafs.S3FileSystem(**opts)
        fs.create_dir("warehouse", recursive=True)
        fs.create_dir("logstore", recursive=True)
        yield srv, opts, fs


def _mk(spark, opts, log_storage=None):
    return IceTable(
        spark,
        "s3://warehouse/tbl",
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
        storage_options=opts,
        log_storage=log_storage,
    )


def _data_rows(fs, t):
    import pyarrow.parquet as pq

    ids = []
    for m in t.snapshot().alive_files():
        tbl = pq.read_table(f"warehouse/tbl/{m.path}", filesystem=fs)
        ids.extend(tbl.column("id").to_pylist())
    return sorted(ids)


def test_s3_full_lifecycle(spark, s3env):
    srv, opts, fs = s3env
    # split slots: log lives in a DIFFERENT bucket than the data
    log_store = PyArrowFsStorage("s3://logstore/tbl", storage_options=opts)
    t = _mk(spark, opts, log_storage=log_store)

    # ---- insert: executor Arrow writers multipart-PUT real parquet
    t.insert(rows=[{"id": 1, "kind": "a"}, {"id": 2, "kind": "b"}])
    from icedb_spark.log import unique_ms

    at = unique_ms()
    t.insert(rows=[{"id": 3, "kind": "b"}])

    state = t.snapshot()
    assert len(state.alive_files()) == 3  # one file per touched partition
    for m in state.alive_files():
        assert t.storage.exists(m.path)
    # log objects landed in the log bucket, data in the data bucket
    assert any("_log" not in k for k in srv.keys("warehouse"))
    assert srv.keys("logstore")
    # value check through the same real S3 client
    assert _data_rows(fs, t) == [1, 2, 3]

    # ---- time travel folds only pre-instant commits
    assert len(t.snapshot(at).alive_files()) == 2

    # ---- rollback: metadata-only, verifies file existence via HEAD
    r = t.rollback(at)
    assert r == {"files_restored": 0, "files_removed": 1}
    assert _data_rows(fs, t) == [1, 2]

    # ---- vacuum physically deletes the rolled-back object from S3
    n_before = len([k for k in srv.keys("warehouse") if k.endswith(".parquet")])
    t.tombstone_cleanup(min_age_ms=0)
    n_after = len([k for k in srv.keys("warehouse") if k.endswith(".parquet")])
    assert n_after == n_before - 1
    assert _data_rows(fs, t) == [1, 2]

    # ---- gc_orphans: an unreferenced upload (crashed writer) is listed
    # over the real wire and deleted once past grace
    t.storage.put("_data/k=zz/orphan.parquet", b"not really parquet")
    time.sleep(0.05)
    deleted, kept = t.gc_orphans(grace_ms=1)
    assert deleted == ["_data/k=zz/orphan.parquet"]
    assert not t.storage.exists("_data/k=zz/orphan.parquet")
    # the live table is untouched
    assert _data_rows(fs, t) == [1, 2]


def test_s3_storage_contract(s3env):
    """PyArrowFsStorage vs the five-method Storage contract, over the
    real wire: put/get/list/delete/size/exists/mtime_ms/absolute."""
    _srv, opts, _fs = s3env
    st = PyArrowFsStorage("s3://warehouse/c", storage_options=opts)
    st.put("x/a.bin", b"alpha")
    st.put("x/.hidden", b"h")
    st.put("y.bin", b"beta!")
    assert st.get("x/a.bin") == b"alpha"
    assert st.size("y.bin") == 5
    assert st.exists("x/a.bin") and not st.exists("nope")
    assert st.list("x") == [("x/a.bin", 5)]
    assert st.list("x", include_hidden=True) == [
        ("x/.hidden", 1), ("x/a.bin", 5),
    ]
    mt = st.mtime_ms("y.bin")
    assert mt is not None and abs(mt - time.time() * 1000) < 60_000
    assert st.absolute("x/a.bin") == "s3a://warehouse/c/x/a.bin"
    st.delete("x/a.bin")
    st.delete("x/a.bin")  # idempotent
    assert not st.exists("x/a.bin")


def test_s3_datasource_batch_read(spark, tmp_path):
    """spark.read.format('icedb') over an s3:// root, end-to-end on the
    real S3 wire: the DRIVER folds the log through the ambient-env
    pyarrow client, and EXECUTOR python workers read the parquet objects
    via pyarrow's native s3:// (Storage.absolute()'s s3a:// mapping is
    for Spark's Hadoop reader; the DataSource read path translates it
    back). Requires the conftest-reserved endpoint so workers inherited
    the env at process-tree start."""
    from conftest import MINI_S3_PORT
    from icedb_spark.datasource import IceDataSource

    with MiniS3Server(port=MINI_S3_PORT) as _srv:
        opts = {
            "access_key": "test-key",
            "secret_key": "test-secret",
            "endpoint_override": f"127.0.0.1:{MINI_S3_PORT}",
            "scheme": "http",
            "region": "us-east-1",
            "allow_bucket_creation": True,
        }
        pafs.S3FileSystem(**opts).create_dir("dsbkt", recursive=True)
        t = IceTable(
            spark,
            "s3://dsbkt/tbl",
            partition_spec=PartitionSpec(
                fields=[PartitionField("k", "kind")]
            ),
            sort_order=["id"],
            storage_options=opts,
        )
        t.insert(rows=[
            {"id": 1, "kind": "a"}, {"id": 2, "kind": "b"},
            {"id": 3, "kind": "a"},
        ])
        try:
            spark.dataSource.register(IceDataSource)
        except Exception:
            pass
        got = (
            spark.read.format("icedb")
            .option("path", "s3://dsbkt/tbl")
            .load()
            .orderBy("id")
            .collect()
        )
        assert [(r["id"], r["kind"]) for r in got] == [
            (1, "a"), (2, "b"), (3, "a"),
        ]
        # engine-native scan over the SAME s3:// root: this pyspark
        # build has no hadoop-aws jars, so read() must detect the JVM
        # cannot open s3a:// and route the explicit-file-list scan
        # through the pyarrow worker path (one file per task) — the
        # last S3 asterisk from COVERAGE.md §1 closed
        native = t.read().orderBy("id").collect()
        assert [(r["id"], r["kind"]) for r in native] == [
            (1, "a"), (2, "b"), (3, "a"),
        ]
        # pruning hints still apply (planning is driver-side metadata)
        pruned = t.read(partition_values={"k": "a"}).orderBy("id").collect()
        assert [r["id"] for r in pruned] == [1, 3]


def test_s3_datasource_batch_write(spark, tmp_path):
    """df.write.format('icedb') over an s3:// root: executor writer tasks
    resolve the ambient AWS env (pyarrow from_uri), multipart-PUT the
    parquet objects, and the driver commits ONE log append — then the
    engine and the DataSource both read the rows back over the wire."""
    from conftest import MINI_S3_PORT
    from icedb_spark.datasource import IceDataSource

    with MiniS3Server(port=MINI_S3_PORT) as srv:
        opts = {
            "access_key": "test-key",
            "secret_key": "test-secret",
            "endpoint_override": f"127.0.0.1:{MINI_S3_PORT}",
            "scheme": "http",
            "region": "us-east-1",
            "allow_bucket_creation": True,
        }
        pafs.S3FileSystem(**opts).create_dir("wbkt", recursive=True)
        t = IceTable(
            spark,
            "s3://wbkt/tbl",
            partition_spec=PartitionSpec(
                fields=[PartitionField("k", "kind")]
            ),
            sort_order=["id"],
            storage_options=opts,
        )
        t.insert(rows=[{"id": 1, "kind": "a"}])
        try:
            spark.dataSource.register(IceDataSource)
        except Exception:
            pass
        import pyspark.sql.functions as F

        df = spark.createDataFrame(
            [(2, "a"), (3, "b")], "id long, kind string"
        ).withColumn("_partition", F.concat(F.lit("k="), "kind"))
        df.write.format("icedb").mode("append").option(
            "path", "s3://wbkt/tbl"
        ).save()
        assert len(t.snapshot().alive_files()) == 3
        got = (
            spark.read.format("icedb").option("path", "s3://wbkt/tbl")
            .load().orderBy("id").collect()
        )
        assert [(r["id"], r["kind"]) for r in got] == [
            (1, "a"), (2, "a"), (3, "b"),
        ]
        # the objects really live on the S3 server
        assert sum(k.endswith(".parquet") for k in srv.keys("wbkt")) == 3


def test_mini_s3_listing_paginates_with_continuation_tokens(s3env):
    """ListObjectsV2 over more keys than max-keys must page with
    IsTruncated/NextContinuationToken — a silently-truncated listing
    would masquerade as missing log/data files in larger lifecycles."""
    import re
    import urllib.request

    srv, opts, fs = s3env
    for i in range(7):
        with fs.open_output_stream(f"warehouse/pg/k{i:02d}") as f:
            f.write(b"x")
    base = f"http://127.0.0.1:{srv.port}/warehouse"
    got, token, pages = [], "", 0
    while True:
        url = f"{base}?list-type=2&prefix=pg/&max-keys=3"
        if token:
            url += f"&continuation-token={token}"
        with urllib.request.urlopen(url, timeout=30) as r:
            xml = r.read().decode()
        got += re.findall(r"<Key>(.*?)</Key>", xml)
        pages += 1
        m = re.search(
            r"<NextContinuationToken>(.*?)</NextContinuationToken>", xml
        )
        assert ("<IsTruncated>true</IsTruncated>" in xml) == bool(m)
        if not m:
            break
        token = m.group(1)
    assert got == [f"pg/k{i:02d}" for i in range(7)]
    assert pages == 3
    # and the pyarrow client (which pages for real at 1000 keys) still
    # sees a coherent listing through the same code path
    infos = fs.get_file_info(pafs.FileSelector("warehouse/pg/"))
    assert len(infos) == 7


def test_s3_row_level_dml_via_arrow_scans(spark, tmp_path):
    """Row-level DML (CoW delete / update / MERGE INTO) over a real
    s3:// root on a JVM without hadoop-aws: every rewrite scan
    (matched-count pass, partial rewrite, merge touch/transform/anti)
    routes through the pyarrow worker path, including the per-row
    source-file attribution input_file_name() cannot provide there."""
    from conftest import MINI_S3_PORT

    with MiniS3Server(port=MINI_S3_PORT) as _srv:
        opts = {
            "access_key": "test-key",
            "secret_key": "test-secret",
            "endpoint_override": f"127.0.0.1:{MINI_S3_PORT}",
            "scheme": "http",
            "region": "us-east-1",
            "allow_bucket_creation": True,
        }
        pafs.S3FileSystem(**opts).create_dir("dmlbkt", recursive=True)
        t = IceTable(
            spark,
            "s3://dmlbkt/tbl",
            partition_spec=PartitionSpec(
                fields=[PartitionField("k", "kind")]
            ),
            sort_order=["id"],
            storage_options=opts,
        )
        t.insert(rows=[
            {"id": i, "kind": "a" if i % 2 else "b", "v": float(i)}
            for i in range(8)
        ])
        out = t.delete("id >= 6")
        assert out["files_rewritten"] + out.get("files_dropped", 0) >= 1
        assert sorted(r["id"] for r in t.read().collect()) == list(range(6))
        t.update({"v": "v + 100.0"}, "id = 1")
        got = {r["id"]: r["v"] for r in t.read().collect()}
        assert got[1] == 101.0 and got[2] == 2.0
        src = spark.createDataFrame(
            [{"id": 2, "kind": "b", "v": 222.0},
             {"id": 99, "kind": "a", "v": 99.0}]
        )
        t.merge_into(src, on="id")
        got = {r["id"]: r["v"] for r in t.read().collect()}
        assert got[2] == 222.0 and got[99] == 99.0 and len(got) == 7
        # compaction + vacuum still work over s3 (merge reads via arrow)
        t.optimize()
        t.tombstone_cleanup(min_age_ms=0)
        assert {r["id"] for r in t.read().collect()} == set(range(6)) | {99}


def test_s3_read_projection_shrinks_bytes_fetched(spark, tmp_path):
    """VERDICT r5 #2, measured on the wire: on the pyarrow fallback path
    (no hadoop-aws jars — exactly this environment), a projected
    ``read(columns=...)`` must fetch only the needed columns' byte
    ranges. The mini-S3 server counts payload bytes served per key, so
    the assertion is about real ranged GETs, not plan shape. Uses the
    conftest-reserved endpoint so executor workers inherited the env."""
    import random

    from conftest import MINI_S3_PORT

    with MiniS3Server(port=MINI_S3_PORT) as srv:
        opts = {
            "access_key": "test-key",
            "secret_key": "test-secret",
            "endpoint_override": f"127.0.0.1:{MINI_S3_PORT}",
            "scheme": "http",
            "region": "us-east-1",
            "allow_bucket_creation": True,
        }
        pafs.S3FileSystem(**opts).create_dir("projbkt", recursive=True)
        t = IceTable(
            spark,
            "s3://projbkt/tbl",
            partition_spec=PartitionSpec(
                fields=[PartitionField("k", "kind")]
            ),
            sort_order=["id"],
            storage_options=opts,
        )
        rnd = random.Random(7)
        rows = [
            {
                "id": i,
                "kind": "a",
                "payload": "".join(
                    chr(rnd.randint(33, 126)) for _ in range(400)
                ),
            }
            for i in range(3000)
        ]
        t.insert(rows=rows)

        def data_bytes():
            return sum(
                n
                for k, n in srv.bytes_served.items()
                if k.endswith(".parquet")
            )

        base = data_bytes()
        full = t.read().collect()
        assert len(full) == 3000
        full_bytes = data_bytes() - base

        base = data_bytes()
        narrow_df = t.read(columns=["id"])
        assert narrow_df.columns == ["id"]
        narrow = narrow_df.collect()
        assert sorted(r["id"] for r in narrow) == list(range(3000))
        narrow_bytes = data_bytes() - base

        # the ~1.2 MB incompressible payload column dominates the file;
        # a projected scan that still fetched it would land near 1.0
        assert narrow_bytes < full_bytes * 0.5, (narrow_bytes, full_bytes)


def test_s3_change_capture_and_feed_via_arrow_scans(spark, tmp_path):
    """capture_changes DML and changes_feed over a real s3:// root on a
    JVM without hadoop-aws: the pre/post-image capture scans and the
    feed's insert-commit + change-set reads must route through the
    pyarrow worker path (pre-r6 they called spark.read.parquet directly
    and crashed on exactly this deployment)."""
    import pyspark.sql.functions as F

    from conftest import MINI_S3_PORT

    with MiniS3Server(port=MINI_S3_PORT) as _srv:
        opts = {
            "access_key": "test-key",
            "secret_key": "test-secret",
            "endpoint_override": f"127.0.0.1:{MINI_S3_PORT}",
            "scheme": "http",
            "region": "us-east-1",
            "allow_bucket_creation": True,
        }
        pafs.S3FileSystem(**opts).create_dir("cdcbkt", recursive=True)
        t = IceTable(
            spark,
            "s3://cdcbkt/tbl",
            partition_spec=PartitionSpec(
                fields=[PartitionField("k", "kind")]
            ),
            sort_order=["id"],
            storage_options=opts,
        )
        t.insert(rows=[
            {"id": i, "kind": "a" if i % 2 else "b", "v": float(i)}
            for i in range(6)
        ])
        t.delete("id = 5", capture_changes=True)
        t.update({"v": "v + 100.0"}, "id = 0", capture_changes=True)
        feed = t.changes_feed(0)
        by_type = {
            r["_change_type"]: r["cnt"]
            for r in feed.groupBy("_change_type")
            .agg(F.count("*").alias("cnt"))
            .collect()
        }
        assert by_type == {
            "insert": 6,
            "delete": 1,
            "update_preimage": 1,
            "update_postimage": 1,
        }
        post = feed.where("_change_type = 'update_postimage'").collect()
        assert [(r["id"], r["v"]) for r in post] == [(0, 100.0)]


def test_s3_row_group_shards_over_the_wire(spark, tmp_path):
    """Round-7 shard scans on the REAL S3 wire: one large multi-row-group
    file, maxPartitionBytes shrunk below its size — the fallback scan
    plans multiple row-group shards per file (zero driver I/O: executor
    tasks open the footer themselves) and still returns every row
    exactly once. Also exercises the format('icedb') split_bytes option
    end to end."""
    from conftest import MINI_S3_PORT

    from icedb_spark.datasource import (
        IceDataSource,
        _IceReader,
        _file_shards,
    )

    with MiniS3Server(port=MINI_S3_PORT) as _srv:
        opts = {
            "access_key": "test-key",
            "secret_key": "test-secret",
            "endpoint_override": f"127.0.0.1:{MINI_S3_PORT}",
            "scheme": "http",
            "region": "us-east-1",
            "allow_bucket_creation": True,
        }
        pafs.S3FileSystem(**opts).create_dir("shardbkt", recursive=True)
        t = IceTable(
            spark,
            "s3://shardbkt/tbl",
            partition_spec=PartitionSpec(
                fields=[PartitionField("k", "kind")]
            ),
            sort_order=["id"],
            row_group_size=200,
            storage_options=opts,
        )
        t.insert(rows=[{"id": i, "kind": "a"} for i in range(4000)])
        m = t.snapshot().alive_files()[0]
        assert len(_file_shards(m.file_bytes, 1024)) > 1
        spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
        try:
            got = sorted(r["id"] for r in t.read().collect())
            assert got == list(range(4000))
        finally:
            spark.conf.set(
                "spark.sql.files.maxPartitionBytes", "134217728"
            )
        # DataSource path with explicit split_bytes: more input
        # partitions than alive files, same rows over the wire
        reader = _IceReader(
            t.spark_schema(),
            {"path": "s3://shardbkt/tbl", "split_bytes": "1024"},
        )
        assert len(reader.partitions()) > len(t.snapshot().alive_files())
        try:
            spark.dataSource.register(IceDataSource)
        except Exception:
            pass
        df = (
            spark.read.format("icedb")
            .option("path", "s3://shardbkt/tbl")
            .option("split_bytes", "1024")
            .load()
        )
        assert df.count() == 4000
        assert df.agg({"id": "sum"}).first()[0] == 4000 * 3999 // 2


def test_storage_options_reach_every_executor_path(spark):
    """``IceTable(storage_options=...)`` configures every object-store
    client: the driver's storage, the executor writers (insert, merge,
    DML rewrites, the change-set writer) and the executor readers
    (``read()``, the DML scans, ``changes_feed``). The server listens on
    a fresh port that no AWS env var names, so a client that fell back
    to ambient configuration could not reach it."""
    from icedb_spark.log import get_log_file_info

    with MiniS3Server() as srv:
        opts = {
            "access_key": "test-key",
            "secret_key": "test-secret",
            "endpoint_override": f"127.0.0.1:{srv.port}",
            "scheme": "http",
            "region": "us-east-1",
            "allow_bucket_creation": True,
        }
        pafs.S3FileSystem(**opts).create_dir("optbkt", recursive=True)
        t = IceTable(
            spark,
            "s3://optbkt/tbl",
            partition_spec=PartitionSpec(
                fields=[PartitionField("k", "kind")]
            ),
            sort_order=["id"],
            storage_options=opts,
        )
        t.insert(rows=[
            {"id": i, "kind": "a" if i % 2 else "b", "v": float(i)}
            for i in range(6)
        ])
        t.insert(rows=[{"id": 6, "kind": "a", "v": 6.0}])
        t0 = get_log_file_info(t.snapshot().log_files[-1])[0]

        def rows():
            return sorted((r["id"], r["v"]) for r in t.read().collect())

        assert rows() == [(i, float(i)) for i in range(7)]
        t.delete("id = 0")
        t.update({"v": "v * 10"}, "id = 1", capture_changes=True)
        while t.merge(max_file_size=1 << 40, max_file_count=100) is not None:
            pass
        want = [(1, 10.0)] + [(i, float(i)) for i in range(2, 7)]
        assert rows() == want
        assert len(t.snapshot().alive_files()) == 2  # one per partition
        feed = sorted(
            (r["_change_type"], r["id"], r["v"])
            for r in t.changes_feed(t0).collect()
        )
        assert feed == [
            ("update_postimage", 1, 10.0),
            ("update_preimage", 1, 1.0),
        ]
        assert srv.keys("optbkt")
