"""Storage backends: POSIX / memory:// / fsspec dispatch, transient-failure
retry (reference PUT policy, icedb/icedb.py:146-170), separate log/data
stores (icedb/icedb.py:75-78), and URI table roots end-to-end."""

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
    retry_transient,
    storage_for,
)


class _Transient(Exception):
    def __init__(self, status_code):
        self.status_code = status_code


def test_retry_transient_succeeds_after_blips():
    calls = {"n": 0}
    sleeps = []

    def fn():
        calls["n"] += 1
        if calls["n"] < 3:
            raise _Transient(503)
        return "ok"

    assert retry_transient(fn, sleep=sleeps.append) == "ok"
    assert calls["n"] == 3
    # linear backoff: 0.3 * attempt
    assert sleeps == [pytest.approx(0.3), pytest.approx(0.6)]


def test_retry_transient_gives_up_after_attempts():
    calls = {"n": 0}

    def fn():
        calls["n"] += 1
        raise _Transient(429)

    with pytest.raises(_Transient):
        retry_transient(fn, sleep=lambda s: None)
    assert calls["n"] == 3


def test_retry_non_transient_raises_immediately():
    calls = {"n": 0}

    def fn():
        calls["n"] += 1
        raise _Transient(404)

    with pytest.raises(_Transient):
        retry_transient(fn, sleep=lambda s: None)
    assert calls["n"] == 1


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


def test_s3_falls_back_to_pyarrow_without_fsspec():
    """Without fsspec, storage_for('s3://...') falls back to the
    pyarrow-bundled AWS SDK client (PyArrowFsStorage) instead of failing
    — tests/test_s3_lifecycle.py drives it end-to-end."""
    try:
        import fsspec  # noqa: F401
        pytest.skip("fsspec installed; fallback does not apply")
    except ImportError:
        pass
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


# ------------------------------------------------- fsspec end-to-end + faults
#
# fsspec is not installed in this environment, so these tests register a
# minimal POSIX-backed stand-in module exposing exactly the fsspec method
# surface FsspecStorage consumes (pipe_file / cat_file / find / rm_file /
# info / exists). Every DRIVER-side storage operation — log puts/gets/
# lists, tombstone + vacuum deletes, orphan listing, mtimes — then flows
# through the real FsspecStorage retry/fs code on BOTH the log and data
# slots. (Data-file BYTES are written by executors through pyarrow.fs, by
# design: Storage objects never carry row data.) A `file://` root keeps
# `absolute()` URIs Spark-readable.


class _Blip(Exception):
    """503-shaped transient error, as an object store would raise it."""

    status_code = 503


class _FakeLocalFS:
    def __init__(self):
        import threading

        self.blips_served = 0
        self._fail_ops = set()  # op names that fail once with a _Blip
        self._lock = threading.Lock()

    def fail_once(self, op: str) -> None:
        with self._lock:
            self._fail_ops.add(op)

    def fail_always(self, op: str) -> None:
        with self._lock:
            self._always_fail = getattr(self, "_always_fail", set()) | {op}

    def _maybe_blip(self, op: str) -> None:
        with self._lock:
            if op in getattr(self, "_always_fail", ()):
                self.blips_served += 1
                raise _Blip()
            if op in self._fail_ops:
                self._fail_ops.discard(op)
                self.blips_served += 1
                raise _Blip()

    def pipe_file(self, path, data):
        import os

        self._maybe_blip("pipe_file")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp-fake"
        with open(tmp, "wb") as f:
            f.write(data)
        os.rename(tmp, path)

    def cat_file(self, path):
        self._maybe_blip("cat_file")
        with open(path, "rb") as f:
            return f.read()

    def find(self, base, detail=False):
        import os

        self._maybe_blip("find")
        out = {}
        for dirpath, _dirs, files in os.walk(base):
            for fn in files:
                p = os.path.join(dirpath, fn)
                st = os.stat(p)
                out[p] = {"type": "file", "size": st.st_size, "mtime": st.st_mtime}
        return out if detail else sorted(out)

    def rm_file(self, path):
        import os

        self._maybe_blip("rm_file")
        os.remove(path)

    def info(self, path):
        import os

        st = os.stat(path)  # FileNotFoundError (an OSError) when absent
        return {"type": "file", "size": st.st_size, "mtime": st.st_mtime}

    def exists(self, path):
        import os

        return os.path.exists(path)


@pytest.fixture()
def fake_fsspec(monkeypatch):
    import sys
    import types

    fs = _FakeLocalFS()
    mod = types.ModuleType("fsspec")
    mod.filesystem = lambda protocol, **opts: fs
    monkeypatch.setitem(sys.modules, "fsspec", mod)
    return fs


def test_fsspec_lifecycle_both_slots(spark, tmp_path, fake_fsspec):
    """Full ice02-style lifecycle with FsspecStorage on BOTH slots (separate
    log and data roots, the reference's split-client layout) including
    merge, time travel, tombstone vacuum, and orphan GC — with transient
    faults injected into log PUT, log GET, and vacuum DELETE, all absorbed
    by the retry layer."""
    from icedb_spark.log import FsspecStorage

    root = f"file://{tmp_path}/tbl"
    t = IceTable(spark, root, partition_spec=SPEC, sort_order=["ts"])
    t.storage = FsspecStorage(root, backoff_s=0.0)
    t.log_storage = FsspecStorage(f"file://{tmp_path}/tbl_log", backoff_s=0.0)

    fake_fsspec.fail_once("pipe_file")  # first log commit PUT blips
    t.insert(_rows())
    t.insert(_rows(base=1686_000_000_100))
    t.insert(_rows(base=1686_000_000_200))
    assert fake_fsspec.blips_served == 1

    fake_fsspec.fail_once("cat_file")  # a log read blips mid-fold
    assert t.read().count() == 12
    assert fake_fsspec.blips_served == 2
    t0 = t.snapshot().log_files[-1]
    from icedb_spark.log import get_log_file_info

    ts0 = get_log_file_info(t0)[0]

    while t.merge(max_file_size=1 << 40, max_file_count=100) is not None:
        pass
    assert t.read().count() == 12
    assert t.read(at_ms=ts0).count() == 12  # time travel through fsspec log

    # orphan GC: a never-committed object on the DATA slot
    t.storage.put("_data/orphan.parquet", b"garbage")
    with pytest.warns(UserWarning):
        deleted, _kept = t.gc_orphans(grace_ms=0)
    assert deleted == ["_data/orphan.parquet"]
    assert t.read().count() == 12

    fake_fsspec.fail_once("rm_file")  # a vacuum delete blips
    logs_gone, data_gone = t.tombstone_cleanup(min_age_ms=0)
    assert data_gone and logs_gone
    assert fake_fsspec.blips_served == 3
    assert t.read().count() == 12

    # both slots really are fsspec-backed and disjoint
    assert t.log_storage.list("_log") and t.storage.list("_log") == []


def test_fsspec_retry_gives_up_on_persistent_fault(tmp_path, fake_fsspec):
    """The retry budget is finite (3 attempts, matching the reference's
    policy): a persistent 503 surfaces after exactly `attempts` tries."""
    from icedb_spark.log import FsspecStorage

    st = FsspecStorage(f"file://{tmp_path}/x", attempts=3, backoff_s=0.0)
    fake_fsspec.fail_always("pipe_file")
    with pytest.raises(_Blip):
        st.put("k", b"v")
    assert fake_fsspec.blips_served == 3
    assert not st.exists("k")


def test_pyarrow_storage_size_contract_on_missing_key(tmp_path):
    """PyArrowFsStorage.size on a missing key raises FileNotFoundError
    (contract parity with FsspecStorage), not TypeError from int(None)."""
    from icedb_spark.log import PyArrowFsStorage

    st = PyArrowFsStorage(f"file://{tmp_path}")
    st.put("present.txt", b"abc")
    assert st.size("present.txt") == 3
    with pytest.raises(FileNotFoundError):
        st.size("absent.txt")
