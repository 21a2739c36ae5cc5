"""Merge-on-read (predicate) deletes: O(1) write, read-time application,
compaction folds them in, vacuum collects obsolete sets, rewrites guard."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from icedb_spark import IceTable, PartitionField, PartitionSpec


def _mk(spark, tmp_path, name="t"):
    return IceTable(
        spark, str(tmp_path / name),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )


def _ids(df):
    return sorted(r["id"] for r in df.select("id").collect())


def test_mor_delete_applies_at_read_without_rewrites(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.insert(rows=[{"id": i, "kind": "a", "v": float(i)} for i in range(6)])
    files_before = {m.path for m in t.snapshot().alive_files()}
    r = t.delete_where("v >= 4")
    # zero rewrites, zero new commits — pure metadata
    assert {m.path for m in t.snapshot().alive_files()} == files_before
    assert _ids(t.read()) == [0, 1, 2, 3]
    # sql() rides the same scan
    assert t.sql("select count(*) as c from ice").collect()[0]["c"] == 4
    # time travel BEFORE the delete still sees everything
    assert _ids(t.read(at_ms=r["ts"] - 1)) == [0, 1, 2, 3, 4, 5]


def test_mor_delete_is_time_scoped_sql_semantics(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.insert(rows=[{"id": 1, "kind": "a", "v": 9.0}])
    t.delete_where("v > 5")
    # a LATER insert of a matching row is NOT deleted (SQL DELETE is a
    # point-in-time statement, not a standing rule)
    t.insert(rows=[{"id": 2, "kind": "a", "v": 9.0}])
    assert _ids(t.read()) == [2]
    # stacking a second set composes
    t.delete_where("id = 2")
    assert _ids(t.read()) == []


def test_mor_sets_fold_in_at_merge_and_vacuum_collects(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.insert(rows=[{"id": 1, "kind": "a", "v": 1.0}])
    t.insert(rows=[{"id": 2, "kind": "a", "v": 8.0}])
    t.delete_where("v > 5")
    assert _ids(t.read()) == [1]
    n = t.optimize(max_file_size=1 << 40, max_file_count=100)
    assert n > 0
    assert _ids(t.read()) == [1]          # physically folded now
    assert t._mor_sets()                  # set still present...
    t.tombstone_cleanup(min_age_ms=0)
    assert t._mor_sets() == []            # ...collected once obsolete
    assert _ids(t.read()) == [1]


def test_merge_refuses_a_delete_set_that_lands_mid_merge(
    spark, tmp_path, monkeypatch
):
    """A delete set stamped after the merge listed the sets, but before
    its commit, applies to the merged sources yet is not folded into the
    rewrite; committing would stamp the new file past the set and
    resurrect its rows. The merge raises, commits nothing, and a retry
    folds the set."""
    import random

    rng = random.Random(7)
    t = _mk(spark, tmp_path)
    for b in range(3):
        t.insert(rows=[
            {"id": b * 50 + i, "kind": "a", "v": rng.random()}
            for i in range(50)
        ])
    before = t.snapshot()
    orig = IceTable._commit_merge

    def racing_commit(self, state, rewritten):
        self.delete_where("v > 0.5")
        return orig(self, state, rewritten)

    monkeypatch.setattr(IceTable, "_commit_merge", racing_commit)
    with pytest.raises(RuntimeError, match="merge-on-read delete set"):
        t.merge(max_file_size=1 << 40, max_file_count=100)
    monkeypatch.undo()
    after = t.snapshot()
    assert after.log_files == before.log_files
    assert t.read().where("v > 0.5").count() == 0
    kept = t.read().count()
    assert kept > 0
    assert t.merge(max_file_size=1 << 40, max_file_count=100) is not None
    (m,) = t.snapshot().alive_files()
    ((set_ts, _p),) = t._mor_sets()
    assert m.stats[t._MOR_STATS_KEY] == set_ts
    assert t.read().where("v > 0.5").count() == 0
    assert t.read().count() == kept


def test_rewrites_refuse_while_sets_pending(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.insert(rows=[{"id": 1, "kind": "a", "v": 1.0}])
    t.delete_where("v > 100")
    with pytest.raises(RuntimeError, match="merge-on-read"):
        t.delete("id = 1")
    with pytest.raises(RuntimeError, match="merge-on-read"):
        t.update({"v": "v + 1"}, "true")
    with pytest.raises(RuntimeError, match="merge-on-read"):
        t.merge_into(
            spark.createDataFrame([(1, "a", 2.0)], "id long, kind string, v double"),
            on="id",
        )
    # and the DataSource batch reader refuses too
    from icedb_spark.datasource import IceDataSource

    try:
        spark.dataSource.register(IceDataSource)
    except Exception:
        pass
    with pytest.raises(Exception, match="merge-on-read"):
        spark.read.format("icedb").option("path", t.path).load().count()
    # after folding + vacuum the guards lift (apply_deletes targets the
    # single-file partition optimize has no reason to compact)
    assert t.apply_deletes() == 1
    t.tombstone_cleanup(min_age_ms=0)
    t.update({"v": "v + 1"}, "id = 1")
    assert t.read().collect()[0]["v"] == 2.0


def test_bad_predicate_fails_fast(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.insert(rows=[{"id": 1, "kind": "a", "v": 1.0}])
    with pytest.raises(Exception):
        t.delete_where("no_such_column > 5")
    assert t._mor_sets() == []


def test_tag_pins_mor_set_for_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path)
    t.insert(rows=[{"id": 1, "kind": "a", "v": 1.0},
                   {"id": 2, "kind": "a", "v": 9.0}])
    t.delete_where("v > 5")
    t.tag("post-delete")
    assert t.apply_deletes() == 1
    t.tombstone_cleanup(min_age_ms=0)
    # the tag pins both the pre-compaction file AND the delete set, so the
    # tagged read still shows the deleted view, not the raw file
    assert _ids(t.read(tag="post-delete")) == [1]
    t.delete_tag("post-delete")
    t.tombstone_cleanup(min_age_ms=0)
    assert t._mor_sets() == []

def test_vacuum_retains_mor_set_until_fold_ages_out(spark, tmp_path):
    """ADVICE r3: set retention is gated on the FOLD age, not the set age.

    A set older than min_age whose fold is RECENT must survive vacuum:
    a time-travel read at an instant in [set_ts, fold) resolves pre-fold
    files (young tombstones survive) and needs the set to hide rows."""
    import time

    t = _mk(spark, tmp_path)
    t.insert(rows=[{"id": 1, "kind": "a", "v": 1.0},
                   {"id": 2, "kind": "a", "v": 9.0}])
    t.delete_where("v > 5")
    time.sleep(0.3)  # age the set well past the grace window below
    assert t.apply_deletes() == 1  # fold happens NOW (young)
    fold_ms = max(
        m.tombstone for m in t.snapshot().file_markers
        if m.tombstone is not None
    )
    # grace window: set ts (~300ms old) is expired, the fold (~0ms) is not
    t.tombstone_cleanup(min_age_ms=150)
    assert t._mor_sets(), "set must outlive the fold's grace window"
    # and the in-window time-travel read stays exact (no row resurrection)
    assert _ids(t.read(at_ms=fold_ms - 1)) == [1]
    # once the fold itself ages out, the set is collected
    t.tombstone_cleanup(min_age_ms=0)
    assert t._mor_sets() == []
    assert _ids(t.read()) == [1]


def test_rollback_refuses_while_mor_sets_pending(spark, tmp_path):
    """ADVICE r3: restored markers get created_ms=now, so a pending set
    would stop applying to them — rollback must take the MOR guard."""
    from icedb_spark.log import unique_ms

    t = _mk(spark, tmp_path)
    t.insert(rows=[{"id": 1, "kind": "a", "v": 1.0}])
    at = unique_ms()
    t.insert(rows=[{"id": 2, "kind": "a", "v": 9.0}])
    t.delete_where("v > 5")
    with pytest.raises(RuntimeError, match="merge-on-read"):
        t.rollback(at)
    # folding + vacuum lifts the guard, as for the other rewrites (the
    # vacuum also advances the log horizon, so roll back to a POST-vacuum
    # instant — the pre-vacuum one is gone by design)
    t.apply_deletes()
    t.tombstone_cleanup(min_age_ms=0)
    at2 = unique_ms()
    t.insert(rows=[{"id": 3, "kind": "a", "v": 2.0}])
    t.rollback(at2)
    assert _ids(t.read()) == [1]
