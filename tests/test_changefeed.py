"""Row-level change data feed: DML capture + committed-only exposure.

The commit timestamp is the linkage between a ``_changes/<ts>/`` set and
its log file; the invariants are (a) only committed change sets are ever
visible, (b) insert commits stream for free, (c) retention follows the
vacuum grace exactly like time travel.
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from icedb_spark import IceTable, PartitionField, PartitionSpec, get_log_file_info
from write_helpers import force_two_job_dml


def make_table(spark, tmp_path, **kw) -> IceTable:
    return IceTable(
        spark,
        str(tmp_path / "tbl"),
        partition_spec=kw.pop(
            "partition_spec",
            PartitionSpec(fields=[PartitionField("b", "bucket")]),
        ),
        sort_order=kw.pop("sort_order", ["id"]),
        **kw,
    )


def rows(ids, bucket="x", v=1.0):
    return [{"id": i, "bucket": bucket, "v": float(v)} for i in ids]


def head_ms(t):
    return get_log_file_info(t.snapshot().log_files[-1])[0]


def feed_tuples(df):
    return sorted(
        (r["_change_type"], r["id"], r["v"]) for r in df.collect()
    )


@pytest.fixture(params=["per_file", "two_job"])
def dml_strategy(request, monkeypatch):
    """Run a DML test on each copy-on-write strategy: the default
    threshold (per-file jobs here), then a threshold of 0 (two jobs)."""
    if request.param == "two_job":
        force_two_job_dml(monkeypatch)


def test_feed_streams_inserts_and_captured_deletes(spark, tmp_path, dml_strategy):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2, 3]))
    t0 = head_ms(t)
    s = t.delete("id = 2", capture_changes=True)
    assert s == {"files_scanned": 1, "files_rewritten": 1,
                 "files_dropped": 0, "rows_deleted": 1}
    # full window: the insert batch plus the delete image
    assert feed_tuples(t.changes_feed(0)) == [
        ("delete", 2, 1.0),
        ("insert", 1, 1.0), ("insert", 2, 1.0), ("insert", 3, 1.0),
    ]
    # post-insert window: only the delete
    assert feed_tuples(t.changes_feed(t0)) == [("delete", 2, 1.0)]


def test_feed_update_pre_and_post_images(spark, tmp_path, dml_strategy):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2]))
    t0 = head_ms(t)
    s = t.update({"v": "v * 10"}, "id = 2", capture_changes=True)
    assert s == {"files_scanned": 1, "files_rewritten": 1, "rows_updated": 1}
    assert feed_tuples(t.changes_feed(t0)) == [
        ("update_postimage", 2, 10.0),
        ("update_preimage", 2, 1.0),
    ]


def test_feed_merge_images(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2]))
    t0 = head_ms(t)
    src = spark.createDataFrame(rows([2, 9], v=7.0))
    t.merge_into(src, on="id", capture_changes=True)
    assert feed_tuples(t.changes_feed(t0)) == [
        ("insert", 9, 7.0),
        ("update_postimage", 2, 7.0),
        ("update_preimage", 2, 1.0),
    ]


def test_feed_merge_delete_action(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2, 3]))
    t0 = head_ms(t)
    t.merge_into(
        spark.createDataFrame([{"id": 2}]), on="id",
        when_matched="delete", when_not_matched=None,
        capture_changes=True,
    )
    assert feed_tuples(t.changes_feed(t0)) == [("delete", 2, 1.0)]


def test_uncaptured_dml_contributes_nothing(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2]))
    t0 = head_ms(t)
    t.delete("id = 1")  # no capture
    assert t.changes_feed(t0).count() == 0


def test_crashed_capture_is_invisible_and_collected(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1]))
    # simulate a writer that died between change write and commit
    fake_ts = 99_999_999_999_999
    spark.createDataFrame(rows([42])).withColumn(
        "_change_type", F.lit("delete")
    ).write.parquet(t.storage.absolute(f"_changes/{fake_ts}"))
    assert t.changes_feed(0).where("id = 42").count() == 0
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        deleted, _ = t.gc_orphans(grace_ms=0)
    assert any(k.startswith(f"_changes/{fake_ts}/") for k in deleted)
    assert not t.storage.list(f"_changes/{fake_ts}")


def test_feed_retention_follows_vacuum(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2]))
    t.delete("id = 2", capture_changes=True)
    assert feed_tuples(t.changes_feed(0))[0] == ("delete", 2, 1.0)
    # vacuum collapses the delete's merged log → its change set goes
    # orphan: invisible to the feed, collectible by gc
    t.tombstone_cleanup(min_age_ms=0)
    assert all(
        k != "delete" for k, _i, _v in feed_tuples(t.changes_feed(0))
    )
    with warnings.catch_warnings():
        warnings.simplefilter("ignore")
        deleted, _ = t.gc_orphans(grace_ms=0)
    assert any(k.startswith("_changes/") for k in deleted)


def test_feed_schema_evolution_null_seeds(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2]))
    t.delete("id = 1", capture_changes=True)  # change set has 3 columns
    src = spark.createDataFrame(
        [{"id": 2, "bucket": "x", "v": 5.0, "tag": "hot"}]
    )
    t.merge_into(src, on="id", allow_new_columns=True, capture_changes=True)
    feed = t.changes_feed(0)
    assert "tag" in feed.columns
    got = {
        (r["_change_type"], r["id"]): r["tag"] for r in feed.collect()
    }
    assert got[("delete", 1)] is None            # old change set null-seeds
    assert got[("update_postimage", 2)] == "hot"  # evolved capture has it
