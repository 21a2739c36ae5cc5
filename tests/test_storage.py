"""Storage backends: POSIX / memory:// / pyarrow.fs dispatch, the SDK's
transient-failure retry under injected S3 faults (reference PUT policy,
icedb/icedb.py:146-170), separate log/data stores (icedb/icedb.py:75-78),
and URI table roots end-to-end."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from icedb_spark import (
    FileMarker,
    IceLogIO,
    IceTable,
    MemoryStorage,
    PartitionField,
    PartitionSpec,
    Schema,
    Storage,
    storage_for,
)


def test_storage_for_dispatch(tmp_path):
    assert isinstance(storage_for(str(tmp_path)), Storage)
    assert isinstance(storage_for(f"file://{tmp_path}"), Storage)
    assert isinstance(storage_for("memory://bucket-a"), MemoryStorage)


@pytest.fixture(params=["posix", "memory"])
def any_storage(request, tmp_path):
    if request.param == "posix":
        return Storage(str(tmp_path))
    return MemoryStorage(f"t-{tmp_path.name}")


def test_storage_contract(any_storage):
    st = any_storage
    st.put("_log/1_a.jsonl", b"one")
    st.put("_log/2_b.jsonl", b"three")
    st.put("_data/p=1/f.parquet", b"dddd")
    assert st.get("_log/1_a.jsonl") == b"one"
    assert st.list("_log") == [("_log/1_a.jsonl", 3), ("_log/2_b.jsonl", 5)]
    assert st.exists("_data/p=1/f.parquet")
    assert st.size("_data/p=1/f.parquet") == 4
    st.delete("_log/1_a.jsonl")
    st.delete("_log/1_a.jsonl")  # idempotent
    assert st.list("_log") == [("_log/2_b.jsonl", 5)]
    assert not st.exists("_log/1_a.jsonl")


def test_log_roundtrip_on_memory_storage():
    st = MemoryStorage("log-roundtrip")
    io = IceLogIO()
    s = Schema({"a": "VARCHAR"})
    io.append(st, 1, s, [FileMarker("_data/f1.parquet", 1000, 1)], timestamp_ms=1000)
    io.append(st, 1, s, [FileMarker("_data/f2.parquet", 2000, 1)], timestamp_ms=2000)
    state = io.read_at_max_time(st)
    assert {m.path for m in state.alive_files()} == {
        "_data/f1.parquet",
        "_data/f2.parquet",
    }


def test_memory_fold_retries_a_log_vacuumed_between_list_and_get(tmp_path):
    """A lock-free memory:// reader that lists a log a vacuum then deletes
    gets FileNotFoundError from the GET, as on every other storage, so the
    fold's one fresh list-and-fold retry succeeds."""
    st = MemoryStorage(f"fold-race-{tmp_path.name}")
    io = IceLogIO()
    s = Schema({"a": "VARCHAR"})
    f1 = FileMarker("_data/f1.parquet", 1000, 1)
    f2 = FileMarker("_data/f2.parquet", 2000, 1)
    io.append(st, 1, s, [f1], timestamp_ms=1000)
    io.append(st, 1, s, [f2], timestamp_ms=2000)
    with pytest.raises(FileNotFoundError):
        st.get("_log/absent.jsonl")
    lists = []
    real_list = st.list

    def list_then_vacuum(prefix, include_hidden=False):
        out = real_list(prefix, include_hidden)
        if not lists:
            # the vacuum commits its collapsed log, then deletes a log
            # this reader has already listed
            io.append(st, 1, s, [f1, f2], merged=True, timestamp_ms=3000)
            st.delete(out[0][0])
        lists.append(prefix)
        return out

    st.list = list_then_vacuum
    IceLogIO.clear_parse_cache()
    state = io.read_at_max_time(st)
    assert len(lists) == 2
    assert {m.path for m in state.alive_files()} == {f1.path, f2.path}


SPEC = PartitionSpec(
    fields=[PartitionField("d", "date_format(timestamp_millis(ts), 'yyyy-MM-dd')")]
)


def _rows(n=4, base=1686_000_000_000):
    return [{"ts": base + i, "user_id": "u", "v": i} for i in range(n)]


def test_table_with_separate_memory_log_store(spark, tmp_path):
    """Data on POSIX, log on memory:// — the reference's split log/data
    clients, across two different backend TYPES."""
    t = IceTable(
        spark,
        str(tmp_path / "tbl"),
        partition_spec=SPEC,
        sort_order=["ts"],
        log_storage=MemoryStorage(f"log-{tmp_path.name}"),
    )
    t.insert(_rows())
    t.insert(_rows(base=1686_000_000_100))
    assert t.read().count() == 8
    while t.merge(max_file_size=1 << 40, max_file_count=100) is not None:
        pass
    assert t.read().count() == 8
    # no log bytes on the data store
    assert t.storage.list("_log") == []
    assert len(t.log_storage.list("_log")) >= 1


def test_table_with_file_uri_root(spark, tmp_path):
    """URI table root exercises the pyarrow.fs executor writer + URI reads
    (same code path an s3:// root takes)."""
    t = IceTable(
        spark,
        f"file://{tmp_path}/tbl",
        partition_spec=SPEC,
        sort_order=["ts"],
    )
    t.insert(_rows())
    assert t.read().count() == 4
    assert t.read().agg(F.sum("v")).collect()[0][0] == 6
    while t.merge(max_file_size=1 << 40, max_file_count=100) is not None:
        pass
    t.tombstone_cleanup(min_age_ms=0)
    assert t.read().count() == 4


def test_storage_for_s3_is_pyarrow():
    """Every remote scheme dispatches to the one pyarrow.fs backend
    (PyArrowFsStorage); s3 roots surface as s3a:// for Spark's Hadoop
    reader. tests/test_s3_lifecycle.py drives it end-to-end."""
    from icedb_spark.log import PyArrowFsStorage

    st = storage_for(
        "s3://bucket/table",
        storage_options={
            "access_key": "k",
            "secret_key": "s",
            "endpoint_override": "127.0.0.1:1",  # never contacted here
            "scheme": "http",
            "region": "us-east-1",
        },
    )
    assert isinstance(st, PyArrowFsStorage)
    assert st.absolute("x") == "s3a://bucket/table/x"
    with pytest.raises(ValueError, match="s3://"):
        storage_for("memory://bucket-b", storage_options={"region": "x"})


def test_arrow_clients_are_built_in_one_place():
    """Every pyarrow.fs client in the engine comes from ``arrow_fs``, so
    the driver's storage, the executor writers and the executor readers
    resolve ``storage_options`` and in-filesystem paths identically."""
    import inspect
    import pathlib

    import icedb_spark
    from icedb_spark import log

    pkg = pathlib.Path(icedb_spark.__file__).parent
    sites = [
        (str(f.relative_to(pkg)), i)
        for f in sorted(pkg.rglob("*.py"))
        for i, line in enumerate(f.read_text().splitlines(), 1)
        if "S3FileSystem(" in line or "FileSystem.from_uri(" in line
    ]
    body, first = inspect.getsourcelines(log.arrow_fs)
    inside = [
        (p, i) for p, i in sites
        if p == "log.py" and first <= i < first + len(body)
    ]
    assert sites == inside
    assert len(inside) == 2


# ---------------------------------------------- s3:// end-to-end + faults
#
# tests/mini_s3.py speaks real S3 REST to pyarrow's bundled AWS SDK client
# and can answer the next requests of one kind with a 503 SlowDown
# (``fail_next``). The SDK retries every call itself (3 attempts), so
# these tests watch that retry absorb single blips on both slots and
# surface a persistent fault. Injected GETs target objects larger than
# the mock's ~75-byte error body: a 503 on a GET of a smaller object
# fails in the SDK as a non-retryable INTERNAL_FAILURE.


def _s3_opts(srv) -> dict:
    return {
        "access_key": "test-key",
        "secret_key": "test-secret",
        "endpoint_override": f"127.0.0.1:{srv.port}",
        "scheme": "http",
        "region": "us-east-1",
        "allow_bucket_creation": True,
    }


def _s3_bucket(srv, bucket: str) -> dict:
    import pyarrow.fs as pafs

    opts = _s3_opts(srv)
    pafs.S3FileSystem(**opts).create_dir(bucket, recursive=True)
    return opts


def test_s3_lifecycle_absorbs_faults_both_slots(spark):
    """Full ice02-style lifecycle on s3:// for BOTH slots, the data and
    the log on two separate S3 endpoints (the reference's split-client
    layout): insert, fold, merge, time travel, orphan GC and tombstone
    vacuum — with one injected 503 each into a log PUT (UploadPart), a
    log GET during a fold, a log LIST and a vacuum DELETE, every one
    absorbed by the SDK's own retry."""
    from mini_s3 import MiniS3Server

    from icedb_spark.log import PyArrowFsStorage

    with MiniS3Server() as data_srv, MiniS3Server() as log_srv:
        t = IceTable(
            spark,
            "s3://data/tbl",
            partition_spec=SPEC,
            sort_order=["ts"],
            storage_options=_s3_bucket(data_srv, "data"),
            log_storage=PyArrowFsStorage(
                "s3://logs/tbl", _s3_bucket(log_srv, "logs")
            ),
        )

        log_srv.fail_next("PUT")  # the first log commit's UploadPart
        t.insert(_rows())
        t.insert(_rows(base=1686_000_000_100))
        t.insert(_rows(base=1686_000_000_200))
        assert log_srv.faults_served == 1

        IceLogIO.clear_parse_cache()
        log_srv.fail_next("GET")  # a log read mid-fold
        assert t.read().count() == 12
        assert log_srv.faults_served == 2
        log_srv.fail_next("LIST")  # the fold's log listing
        t0 = t.snapshot().log_files[-1]
        assert log_srv.faults_served == 3
        from icedb_spark.log import get_log_file_info

        ts0 = get_log_file_info(t0)[0]

        while t.merge(max_file_size=1 << 40, max_file_count=100) is not None:
            pass
        assert t.read().count() == 12
        assert t.read(at_ms=ts0).count() == 12  # time travel over s3 log

        # orphan GC: a never-committed object on the DATA slot
        t.storage.put("_data/orphan.parquet", b"garbage")
        with pytest.warns(UserWarning):
            deleted, _kept = t.gc_orphans(grace_ms=0)
        assert deleted == ["_data/orphan.parquet"]
        assert t.read().count() == 12

        data_srv.fail_next("DELETE")  # a vacuum delete
        logs_gone, data_gone = t.tombstone_cleanup(min_age_ms=0)
        assert data_gone and logs_gone
        assert data_srv.faults_served == 1
        assert t.read().count() == 12

        # both slots really are separate stores
        assert t.log_storage.list("_log") and t.storage.list("_log") == []
        assert not any(k.startswith("tbl/_log") for k in data_srv.keys("data"))


def test_s3_persistent_fault_gives_up_after_three_requests():
    """The retry budget is finite (3 attempts, the reference's policy):
    a persistent 503 surfaces as an OSError after exactly 3 UploadPart
    requests, and nothing is published."""
    from mini_s3 import MiniS3Server

    from icedb_spark.log import PyArrowFsStorage

    with MiniS3Server() as srv:
        st = PyArrowFsStorage("s3://bkt/x", _s3_bucket(srv, "bkt"))
        srv.requests.clear()
        srv.fail_next("PUT", 3)
        with pytest.raises(OSError):
            st.put("k", b"v" * 1024)
        assert srv.requests["PUT"] == 3
        assert srv.faults_served == 3
        assert not st.exists("k")


def test_pyarrow_storage_size_contract_on_missing_key(tmp_path):
    """PyArrowFsStorage.size on a missing key raises FileNotFoundError
    (contract parity with Storage), not TypeError from int(None)."""
    from icedb_spark.log import PyArrowFsStorage

    st = PyArrowFsStorage(f"file://{tmp_path}")
    st.put("present.txt", b"abc")
    assert st.size("present.txt") == 3
    with pytest.raises(FileNotFoundError):
        st.size("absent.txt")
