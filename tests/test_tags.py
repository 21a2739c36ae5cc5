"""Named snapshot tags: read(tag=), immutability, vacuum protection."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from icedb_spark import IceTable, PartitionField, PartitionSpec


def _mk(spark, tmp_path, name="t"):
    return IceTable(
        spark,
        str(tmp_path / name),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


def test_tag_roundtrip_and_lifecycle(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.insert(rows=[{"id": 1, "kind": "a"}, {"id": 2, "kind": "b"}])
    ts = t.tag("v1")
    assert t.tags() == {"v1": ts}
    t.insert(rows=[{"id": 3, "kind": "a"}])
    assert _ids(t.read()) == [1, 2, 3]
    assert _ids(t.read(tag="v1")) == [1, 2]
    assert t.tag_ts("v1") == ts
    # snapshot() accepts tag too, and rejects ambiguous calls
    assert len(t.snapshot(tag="v1").alive_files()) > 0
    with pytest.raises(ValueError):
        t.snapshot(at_ms=ts, tag="v1")
    # immutability + replace + delete
    with pytest.raises(ValueError):
        t.tag("v1")
    t.tag("v1", replace=True)
    t.delete_tag("v1")
    with pytest.raises(KeyError):
        t.tag_ts("v1")
    with pytest.raises(ValueError):
        t.tag("bad/name")
    with pytest.raises(ValueError):
        _mk(spark, tmp_path, "empty").tag("v1")


def test_tag_read_error_is_not_a_missing_tag(spark, tmp_path, monkeypatch):
    """Only a missing tag key is ``KeyError``; any other storage error on
    the tag's GET propagates instead of reading as "no such tag"."""
    t = _mk(spark, tmp_path)
    t.insert(rows=[{"id": 1, "kind": "a"}])
    t.tag("v1")
    orig = t.log_storage.get

    def get(key):
        if key.startswith(f"{t._TAGS_PREFIX}/"):
            raise OSError("simulated 503 on the tag GET")
        return orig(key)

    monkeypatch.setattr(t.log_storage, "get", get)
    with pytest.raises(OSError, match="simulated"):
        t.read(tag="v1")
    monkeypatch.undo()
    with pytest.raises(KeyError):
        t.read(tag="v2")
    assert _ids(t.read(tag="v1")) == [1]


def test_vacuum_protects_tagged_snapshot(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.insert(rows=[{"id": 1, "kind": "a"}])
    t.tag("pin")
    t.insert(rows=[{"id": 2, "kind": "a"}])
    t.merge_all(max_file_size=1 << 40, max_file_count=100)
    logs, data = t.tombstone_cleanup(min_age_ms=0)
    # the post-tag file is fair game, but the file alive AT the tag and the
    # log the tag reads through are both kept
    assert len(data) == 1
    assert _ids(t.read(tag="pin")) == [1]
    assert _ids(t.read()) == [1, 2]

    # dropping the tag releases the garbage to the NEXT vacuum
    t.delete_tag("pin")
    logs2, data2 = t.tombstone_cleanup(min_age_ms=0)
    assert data2  # the pinned original physically deleted now
    assert _ids(t.read()) == [1, 2]


def test_vacuum_protection_survives_repeated_cycles(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.insert(rows=[{"id": 1, "kind": "a"}])
    t.tag("pin")
    for i in range(2, 5):
        t.insert(rows=[{"id": i, "kind": "a"}])
        t.merge_all(max_file_size=1 << 40, max_file_count=100)
        t.tombstone_cleanup(min_age_ms=0)
        assert _ids(t.read(tag="pin")) == [1], f"cycle {i}"
    assert _ids(t.read()) == [1, 2, 3, 4]


def test_protect_tags_false_restores_reference_behavior(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.insert(rows=[{"id": 1, "kind": "a"}])
    t.tag("pin")
    t.insert(rows=[{"id": 2, "kind": "a"}])
    t.merge_all(max_file_size=1 << 40, max_file_count=100)
    logs, data = t.tombstone_cleanup(min_age_ms=0, protect_tags=False)
    assert data  # tag ignored, originals deleted
    assert _ids(t.read()) == [1, 2]


def test_tagged_delete_survivor_and_dml(spark, tmp_path):
    """A tag pins the PRE-delete state across vacuum after row-level DML."""
    t = _mk(spark, tmp_path)
    t.insert(rows=[{"id": i, "kind": "a"} for i in range(6)])
    t.tag("before-dml")
    t.delete("id >= 3")
    t.tombstone_cleanup(min_age_ms=0)
    assert _ids(t.read()) == [0, 1, 2]
    assert _ids(t.read(tag="before-dml")) == [0, 1, 2, 3, 4, 5]
