"""Persisted table metadata (_meta/spec.json) + IceTable.open()."""

from __future__ import annotations

import json
import logging

import pytest

from icedb_spark import IceTable, PartitionField, PartitionSpec


def test_open_reconstructs_table_from_metadata(spark, tmp_path):
    root = str(tmp_path / "t")
    t = IceTable(
        spark, root,
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"], stats_columns=["id"], bloom_columns=["kind"],
        compression="zstd", row_group_size=1000,
    )
    t.insert(rows=[{"id": 1, "kind": "a"}])

    o = IceTable.open(spark, root)
    assert [(f.name, f.expr) for f in o.partition_spec.fields] == [("k", "kind")]
    assert o.sort_order == ["id"] and o.stats_columns == ["id"]
    assert o.bloom_columns == ["kind"] and o.compression == "zstd"
    assert o.row_group_size == 1000
    o.insert(rows=[{"id": 2, "kind": "b"}])
    assert o.read().count() == 2
    # overrides win over persisted knobs
    o2 = IceTable.open(spark, root, sort_order=["kind"])
    assert o2.sort_order == ["kind"]


def test_spec_evolution_updates_metadata_last_writer_wins(spark, tmp_path):
    root = str(tmp_path / "t2")
    IceTable(spark, root,
             partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]))
    IceTable(spark, root,
             partition_spec=PartitionSpec(fields=[PartitionField("r", "region")]))
    o = IceTable.open(spark, root)
    assert [f.name for f in o.partition_spec.fields] == ["r"]


def test_open_without_metadata_raises(spark, tmp_path):
    import os

    d = str(tmp_path / "empty")
    os.makedirs(d)
    with pytest.raises(ValueError, match="no persisted table metadata"):
        IceTable.open(spark, d)


def test_python_fn_spec_not_persisted(spark, tmp_path):
    root = str(tmp_path / "t3")
    t = IceTable(
        spark, root,
        partition_spec=PartitionSpec(python_fn=lambda r: "p=x"),
    )
    assert not t.log_storage.exists(t._SPEC_KEY)


def test_spec_persist_failure_warns_and_constructs(spark, tmp_path, caplog):
    """Read-only log storage fails the spec persist, not the constructor:
    one WARNING carries the storage error."""
    from icedb_spark.log import Storage

    class ReadOnly(Storage):
        def put(self, key, data):
            raise PermissionError(f"read-only: {key}")

    root = str(tmp_path / "ro")
    with caplog.at_level(logging.WARNING, logger="icedb_spark.table"):
        t = IceTable(
            spark, root,
            partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
            log_storage=ReadOnly(root),
        )
    warned = [r for r in caplog.records if t._SPEC_KEY in r.getMessage()]
    assert len(warned) == 1
    assert "read-only: _meta/spec.json" in warned[0].getMessage()
    assert not t.log_storage.exists(t._SPEC_KEY)
