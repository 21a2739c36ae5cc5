"""Storage errors while reading table metadata (merge-on-read delete sets
and tags) propagate; only a key that vanished between list and GET is
skipped.

A silently skipped delete set would show deleted rows on read and let a
copy-on-write rewrite make them visible for good; a silently skipped tag
would let vacuum delete files the tag still reads.
"""

from __future__ import annotations

import pytest

from icedb_spark import IceTable, PartitionField, PartitionSpec


class _GetFaults:
    """Delegating storage wrapper: ``get`` of a key in ``fail`` raises
    ``OSError``; ``list`` also names every key in ``phantom``, which a
    concurrent delete removed before the GET."""

    def __init__(self, inner, fail=(), phantom=()):
        self._inner = inner
        self.fail = set(fail)
        self.phantom = list(phantom)
        self.deleted: list[str] = []

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def get(self, key):
        if key in self.fail:
            raise OSError(f"injected GET failure: {key}")
        return self._inner.get(key)

    def list(self, prefix, include_hidden=False):
        out = self._inner.list(prefix, include_hidden)
        extra = [(k, 1) for k in self.phantom if k.startswith(prefix + "/")]
        return sorted(out + extra)

    def delete(self, key):
        self.deleted.append(key)
        self._inner.delete(key)


def _mk(spark, tmp_path):
    t = IceTable(
        spark, str(tmp_path / "t"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )
    t.insert(rows=[{"id": i, "kind": "a"} for i in range(4)])
    return t


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


def test_failing_delete_set_get_propagates(spark, tmp_path):
    t = _mk(spark, tmp_path)
    ts = t.delete_where("id = 1")["ts"]
    before = t.snapshot().log_files
    t.storage = _GetFaults(t.storage, fail=[f"_deletes/{ts}.json"])
    with pytest.raises(OSError, match="injected"):
        t.read()
    with pytest.raises(OSError, match="injected"):
        t.delete("id = 2")
    assert t.snapshot().log_files == before
    assert t.storage.deleted == []


def test_vanished_delete_set_is_skipped(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.delete_where("id = 1")
    t.storage = _GetFaults(t.storage, phantom=["_deletes/1.json"])
    assert [p for _ts, p in t._mor_sets()] == ["id = 1"]
    assert _ids(t.read()) == [0, 2, 3]


def test_failing_tag_get_stops_vacuum_before_any_delete(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.tag("pin")
    t.insert(rows=[{"id": 9, "kind": "a"}])
    t.merge_all(max_file_size=1 << 40, max_file_count=100)
    t.storage = _GetFaults(t.storage)
    t.log_storage = _GetFaults(t.log_storage, fail=["_tags/pin"])
    with pytest.raises(OSError, match="injected"):
        t.tombstone_cleanup(min_age_ms=0)
    assert t.storage.deleted == [] and t.log_storage.deleted == []
    t.log_storage = t.log_storage._inner
    assert _ids(t.read(tag="pin")) == [0, 1, 2, 3]


def test_vanished_tag_is_skipped(spark, tmp_path):
    t = _mk(spark, tmp_path)
    ts = t.tag("pin")
    t.log_storage = _GetFaults(t.log_storage, phantom=["_tags/gone"])
    assert t.tags() == {"pin": ts}
