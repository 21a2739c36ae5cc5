"""Row-level DML (delete / update / merge_into) — copy-on-write semantics,
pruned working sets, atomicity, and time travel across DML commits.

Beyond reference: the reference's deletion story is partition drops and
hand-written ``rewrite_partition`` SQL (/root/reference/icedb/icedb.py:435-589);
these operators give it SQL DELETE/UPDATE/MERGE semantics with the same
one-atomic-commit MVCC contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from icedb_spark import IceTable, PartitionField, PartitionSpec
from write_helpers import force_two_job_dml

BUCKET_SPEC = PartitionSpec(fields=[PartitionField("b", "bucket")])


def make_table(spark, tmp_path, **kw) -> IceTable:
    return IceTable(
        spark,
        str(tmp_path / "tbl"),
        partition_spec=kw.pop("partition_spec", BUCKET_SPEC),
        sort_order=kw.pop("sort_order", ["id"]),
        **kw,
    )


def rows(ids, bucket="x", v=1.0):
    return [{"id": i, "bucket": bucket, "v": float(v)} for i in ids]


def ids_of(df):
    return sorted(r["id"] for r in df.select("id").collect())


# ---------------------------------------------------------------- delete


def test_delete_basic_and_null_predicate_rows_survive(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2, 3]) + [{"id": 4, "bucket": "x", "v": None}])
    s = t.delete("v >= 1.0 and id >= 2")
    # SQL DELETE: NULL predicate rows (id=4, v null) survive
    assert ids_of(t.read()) == [1, 4]
    assert s["rows_deleted"] == 2
    assert s["files_rewritten"] == 1


def test_delete_untouched_files_not_rewritten(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2], bucket="a"))
    t.insert(rows([3, 4], bucket="b"))
    before = {m.path for m in t.snapshot().alive_files()}
    s = t.delete("bucket = 'a' and id = 1")
    after = {m.path for m in t.snapshot().alive_files()}
    # partition pruning keeps b's file out of the working set entirely
    assert s["files_scanned"] == 1
    assert s["files_rewritten"] == 1
    b_file = [p for p in before if "b=b" in p]
    assert b_file and set(b_file) <= after
    assert ids_of(t.read()) == [2, 3, 4]


def test_delete_full_file_drops_without_rewrite(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2], bucket="a"))
    t.insert(rows([3, 4], bucket="b"))
    s = t.delete("bucket = 'b'")
    assert s == {"files_scanned": 1, "files_rewritten": 0,
                 "files_dropped": 1, "rows_deleted": 2}
    assert ids_of(t.read()) == [1, 2]
    # no replacement file was written for the dropped one
    assert len(t.snapshot().alive_files()) == 1


def test_delete_no_match_is_a_noop_commit(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2]))
    logs_before = len(t.snapshot().log_files)
    s = t.delete("id > 100")
    assert s["rows_deleted"] == 0 and s["files_rewritten"] == 0
    assert len(t.snapshot().log_files) == logs_before  # nothing appended
    assert ids_of(t.read()) == [1, 2]


def test_delete_time_travel_sees_pre_delete(spark, tmp_path):
    from icedb_spark import get_log_file_info

    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2, 3]))
    at = get_log_file_info(t.snapshot().log_files[-1])[0]
    t.delete("id = 2")
    assert ids_of(t.read()) == [1, 3]
    assert ids_of(t.read(at_ms=at)) == [1, 2, 3]


def test_delete_prunes_by_zone_map(spark, tmp_path):
    t = make_table(spark, tmp_path, stats_columns=["id"])
    t.insert(rows([1, 2]))
    t.insert(rows([100, 200]))
    s = t.delete("id between 150 and 300")
    assert s["files_scanned"] == 1  # zone map excludes the [1,2] file
    assert ids_of(t.read()) == [1, 2, 100]


def test_delete_distributed_matches_per_file_path(spark, tmp_path, monkeypatch):
    """The two-job distributed path (forced) must agree with the per-file
    path on results, summary, and the untouched/dropped/rewritten split."""
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2], bucket="a"))        # partial: id=2 deleted
    t.insert(rows([3, 4], bucket="b"))        # untouched (pred false)
    t.insert(rows([10, 11], bucket="c"))      # fully dropped
    before = {m.path for m in t.snapshot().alive_files()}
    force_two_job_dml(monkeypatch)
    s = t.delete("id = 2 or id >= 10")
    assert s == {"files_scanned": 3, "files_rewritten": 1,
                 "files_dropped": 1, "rows_deleted": 3}
    after = {m.path for m in t.snapshot().alive_files()}
    b_file = [p for p in before if "b=b" in p]
    assert b_file and set(b_file) <= after  # untouched file not rewritten
    assert ids_of(t.read()) == [1, 3, 4]


def test_delete_auto_threshold_picks_distributed(spark, tmp_path):
    """> threshold candidate files must flip to the distributed plan and
    still produce exact results (one partition per file here, so the
    rewrite compacts nothing away)."""
    from icedb_spark.table import _DML_DISTRIBUTED_THRESHOLD

    t = make_table(spark, tmp_path)
    n = _DML_DISTRIBUTED_THRESHOLD + 3
    for i in range(n):
        t.insert(rows([i * 10, i * 10 + 1], bucket=f"p{i:03d}"))
    s = t.delete("id % 10 = 1")  # one row from every file
    assert s["files_scanned"] == n and s["files_rewritten"] == n
    assert s["rows_deleted"] == n
    assert ids_of(t.read()) == [i * 10 for i in range(n)]


def test_delete_distributed_noop_and_time_travel(spark, tmp_path, monkeypatch):
    from icedb_spark import get_log_file_info

    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2]))
    logs_before = len(t.snapshot().log_files)
    force_two_job_dml(monkeypatch)
    s = t.delete("id > 99")
    assert s["rows_deleted"] == 0
    assert len(t.snapshot().log_files) == logs_before
    at = get_log_file_info(t.snapshot().log_files[-1])[0]
    t.delete("id = 1")
    assert ids_of(t.read(at_ms=at)) == [1, 2]
    assert ids_of(t.read()) == [2]


# ---------------------------------------------------------------- update


def test_update_basic_where(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2, 3], v=1.0))
    s = t.update({"v": "v * 10"}, "id >= 2")
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got == {1: 1.0, 2: 10.0, 3: 10.0}
    assert s["rows_updated"] == 2


def test_update_casts_back_to_column_type(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2]))
    t.update({"id": "id + 0.7"}, "id = 1")  # float expr on a long column
    schema_before = dict(t.snapshot().schema.columns())
    assert ids_of(t.read()) == [1, 2]  # 1.7 cast back to long → 1
    assert dict(t.snapshot().schema.columns()) == schema_before


def test_update_moves_rows_across_partitions(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2], bucket="a"))
    t.update({"bucket": "'b'"}, "id = 2")
    parts = {m.partition() for m in t.snapshot().alive_files()}
    assert parts == {"b=a", "b=b"}
    got = {r["id"]: r["bucket"] for r in t.read().collect()}
    assert got == {1: "a", 2: "b"}


def test_update_unknown_column_raises(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1]))
    with pytest.raises(ValueError, match="unknown columns"):
        t.update({"nope": "1"})


def test_update_null_where_rows_untouched(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2]) + [{"id": 3, "bucket": "x", "v": None}])
    t.update({"id": "id + 100"}, "v >= 1.0")  # NULL v ⇒ no update for id=3
    assert ids_of(t.read()) == [3, 101, 102]


def test_update_distributed_matches_per_file_path(spark, tmp_path, monkeypatch):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2], bucket="a"))
    t.insert(rows([3, 4], bucket="b"))
    before = {m.path for m in t.snapshot().alive_files()}
    force_two_job_dml(monkeypatch)
    s = t.update({"v": "v + 5"}, "id in (2, 3)")
    assert s["files_scanned"] == 2 and s["files_rewritten"] == 2
    assert s["rows_updated"] == 2
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got == {1: 1.0, 2: 6.0, 3: 6.0, 4: 1.0}
    # placement-safe: rows stayed in their partitions
    assert {m.partition() for m in t.snapshot().alive_files()} == \
        {"b=a", "b=b"}
    assert not (before & {m.path for m in t.snapshot().alive_files()})


def test_update_distributed_partition_move(spark, tmp_path, monkeypatch):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2], bucket="a"))
    t.insert(rows([3, 4], bucket="b"))
    force_two_job_dml(monkeypatch)
    t.update({"bucket": "'z'"}, "id in (2, 4)")
    got = {r["id"]: r["bucket"] for r in t.read().collect()}
    assert got == {1: "a", 2: "z", 3: "b", 4: "z"}
    assert {m.partition() for m in t.snapshot().alive_files()} == \
        {"b=a", "b=b", "b=z"}


# ------------------------------------------------------------ merge_into


def test_merge_update_and_insert(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2, 3], v=1.0))
    src = spark.createDataFrame(rows([2, 3, 4], v=9.0))
    s = t.merge_into(src, on="id")
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got == {1: 1.0, 2: 9.0, 3: 9.0, 4: 9.0}
    assert s["files_rewritten"] == 1


def test_merge_delete_action(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2, 3]))
    src = spark.createDataFrame([{"id": 2}])
    t.merge_into(src, on="id", when_matched="delete",
                 when_not_matched=None)
    assert ids_of(t.read()) == [1, 3]


def test_merge_expr_actions_over_t_and_s(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2], v=5.0))
    src = spark.createDataFrame(rows([2], v=3.0))
    t.merge_into(src, on="id", when_matched={"v": "t.v + s.v"},
                 when_not_matched=None)
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got == {1: 5.0, 2: 8.0}


def test_merge_insert_only_nullseeds_missing_columns(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1]))
    src = spark.createDataFrame([{"id": 5, "bucket": "x"}])  # no v column
    t.merge_into(src, on="id", when_matched=None)
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got == {1: 1.0, 5: None}


def test_merge_matched_none_does_not_reinsert_existing_keys(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2]))
    src = spark.createDataFrame(rows([2, 9], v=7.0))
    t.merge_into(src, on="id", when_matched=None)
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got == {1: 1.0, 2: 1.0, 9: 7.0}  # 2 untouched, only 9 inserted


def test_merge_untouched_files_survive(spark, tmp_path):
    t = make_table(spark, tmp_path, stats_columns=["id"])
    t.insert(rows([1, 2], bucket="a"))
    t.insert(rows([100, 200], bucket="b"))
    before = {m.path for m in t.snapshot().alive_files()}
    s = t.merge_into(
        spark.createDataFrame(rows([100], bucket="b", v=2.0)), on="id"
    )
    after = {m.path for m in t.snapshot().alive_files()}
    a_file = [p for p in before if "b=a" in p]
    assert a_file and set(a_file) <= after  # zone-map-pruned, untouched
    assert s["files_scanned"] == 1
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got == {1: 1.0, 2: 1.0, 100: 2.0, 200: 1.0}


def test_merge_duplicate_source_keys_raise(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1]))
    src = spark.createDataFrame(rows([7, 7]))
    with pytest.raises(ValueError, match="duplicate keys"):
        t.merge_into(src, on="id")


def test_merge_extra_source_column_raises(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1]))
    src = spark.createDataFrame([{"id": 1, "bucket": "x", "v": 1.0,
                                  "zz": 1}])
    with pytest.raises(ValueError, match="not in the table"):
        t.merge_into(src, on="id")


def test_merge_atomic_single_commit_and_time_travel(spark, tmp_path):
    from icedb_spark import get_log_file_info

    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2]))
    at = get_log_file_info(t.snapshot().log_files[-1])[0]
    logs_before = len(t.snapshot().log_files)
    t.merge_into(spark.createDataFrame(rows([2, 3], v=4.0)), on="id")
    assert len(t.snapshot().log_files) == logs_before + 1  # one append
    assert ids_of(t.read(at_ms=at)) == [1, 2]
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got == {1: 1.0, 2: 4.0, 3: 4.0}


def test_merge_schema_evolution(spark, tmp_path):
    """allow_new_columns: the source's new column accumulates into the log
    schema in the same atomic commit; untouched files read back
    null-seeded via the unified-schema scan (ice10 machinery), no
    backfill."""
    t = make_table(spark, tmp_path)
    t.insert(rows([1], bucket="a"))
    t.insert(rows([2], bucket="b"))
    src = spark.createDataFrame(
        [{"id": 2, "bucket": "b", "v": 9.0, "tag": "hot"},
         {"id": 5, "bucket": "b", "v": 7.0, "tag": "new"}]
    )
    with pytest.raises(ValueError, match="allow_new_columns"):
        t.merge_into(src, on="id")
    before = {m.path for m in t.snapshot().alive_files()}
    t.merge_into(src, on="id", allow_new_columns=True)
    got = {r["id"]: (r["v"], r["tag"]) for r in t.read().collect()}
    assert got == {1: (1.0, None), 2: (9.0, "hot"), 5: (7.0, "new")}
    assert "tag" in dict(t.snapshot().schema.columns())
    # file a (id=1) was never rewritten — its nulls come from the scan
    a_file = [p for p in before if "b=a" in p]
    assert set(a_file) <= {m.path for m in t.snapshot().alive_files()}


def test_merge_empty_table_inserts_everything(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(rows([1]))
    t.delete("true")
    t.merge_into(spark.createDataFrame(rows([5, 6])), on="id")
    assert ids_of(t.read()) == [5, 6]


def test_merge_without_broadcast_hint_same_result(spark, tmp_path):
    """broadcast_source=False (backfill-scale source) must be
    result-identical to the broadcast path."""
    t = make_table(spark, tmp_path)
    t.insert(rows([1, 2, 3], v=1.0))
    src = spark.createDataFrame(rows([2, 3, 4], v=9.0))
    t.merge_into(src, on="id", broadcast_source=False)
    got = {r["id"]: r["v"] for r in t.read().collect()}
    assert got == {1: 1.0, 2: 9.0, 3: 9.0, 4: 9.0}


# ----------------------------------------------------------- SQL routing


def test_sql_delete_and_update_statements_route_to_engine(spark, tmp_path):
    from icedb_spark import IceTable, PartitionField, PartitionSpec

    t = IceTable(
        spark, str(tmp_path / "sqldml"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )
    t.insert(rows=[{"id": i, "kind": "a", "v": float(i)} for i in range(6)])

    out = t.sql("DELETE FROM ice WHERE v >= 4").collect()[0]
    assert out["operation"] == "delete" and out["rows_deleted"] == 2
    assert sorted(r["id"] for r in t.read().collect()) == [0, 1, 2, 3]

    out = t.sql(
        "UPDATE ice SET v = v + 10, kind = upper(kind) WHERE id in (0, 1);"
    ).collect()[0]
    assert out["operation"] == "update" and out["rows_updated"] == 2
    got = {r["id"]: (r["kind"], r["v"]) for r in t.read().collect()}
    assert got[0] == ("A", 10.0) and got[1] == ("A", 11.0)
    assert got[2] == ("a", 2.0)

    # unmatched shapes fall through to plain SELECT
    assert t.sql("select count(*) as c from ice").collect()[0]["c"] == 4
    # a different view name does not trigger DML on this table
    df = t.sql("select * from t2 where 1=0", view="t2")
    assert df.count() == 0


def test_sql_update_set_with_function_commas(spark, tmp_path):
    from icedb_spark import IceTable, PartitionField, PartitionSpec

    t = IceTable(
        spark, str(tmp_path / "sqldml2"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )
    t.insert(rows=[{"id": 1, "kind": "a", "v": 2.0}])
    t.sql("update ice set v = round(v + 0.123, 1) where id = 1")
    assert t.read().collect()[0]["v"] == 2.1


def test_sql_optimize_and_vacuum_statements(spark, tmp_path):
    from icedb_spark import IceTable, PartitionField, PartitionSpec

    t = IceTable(
        spark, str(tmp_path / "sqlmaint"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )
    for i in range(3):
        t.insert(rows=[{"id": i, "kind": "a"}])
    out = t.sql("OPTIMIZE ice").collect()[0]
    assert out["operation"] == "optimize" and out["merges"] >= 1
    out = t.sql("VACUUM ice RETAIN 0 HOURS").collect()[0]
    assert out["operation"] == "vacuum" and out["data_files_deleted"] >= 3
    assert t.read().count() == 3
    # default retention deletes nothing young
    t.insert(rows=[{"id": 9, "kind": "a"}])
    t.sql("OPTIMIZE ice")
    out = t.sql("VACUUM ice").collect()[0]
    assert out["retain_hours"] == 168 and out["data_files_deleted"] == 0


def test_predicate_schema_projection(spark, tmp_path):
    """_predicate_schema keeps exactly the fields a predicate could
    reference (conservative superset), falls back on backticks, and
    keeps one field when nothing matches — so the distributed DML
    touch-detection pass reads only predicate columns on the fallback
    scan path."""
    from pyspark.sql import types as T

    from icedb_spark import IceTable, PartitionField, PartitionSpec

    t = IceTable(
        spark,
        str(tmp_path / "ps"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("v", T.DoubleType()),
            T.StructField("payload", T.StringType()),
        ]
    )
    assert [
        f.name for f in t._predicate_schema(schema, "id >= 10 AND v < 2.0")
    ] == ["id", "v"]
    # case-insensitive resolution, function names filtered by schema
    assert [
        f.name for f in t._predicate_schema(schema, "upper(KIND) = 'A'")
    ] == ["kind"]
    # backticks: give up, full width (quoted names may contain anything)
    assert t._predicate_schema(schema, "`id` = 1") == schema
    # nothing referenced: keep one column so counting still works
    assert len(t._predicate_schema(schema, "true").fields) == 1


def test_distributed_dml_exact_with_projected_count_pass(spark, tmp_path, monkeypatch):
    """Distributed DELETE/UPDATE (forced) stay exact with the projected
    matched-count pass, including a predicate on a non-sort column."""
    from icedb_spark import IceTable, PartitionField, PartitionSpec

    t = IceTable(
        spark,
        str(tmp_path / "dd"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )
    t.insert(
        rows=[
            {"id": i, "kind": "a" if i % 2 else "b", "v": float(i % 7)}
            for i in range(40)
        ]
    )
    force_two_job_dml(monkeypatch)
    s = t.delete("v >= 5.0")
    assert s["rows_deleted"] == sum(1 for i in range(40) if i % 7 >= 5)
    left = sorted(r["id"] for r in t.read().collect())
    assert left == [i for i in range(40) if i % 7 < 5]
    s = t.update({"v": "v + 100"}, "id < 10")
    assert s["rows_updated"] == sum(1 for i in left if i < 10)
    got = {r["id"]: r["v"] for r in t.read().collect()}
    for i in left:
        assert got[i] == (i % 7) + (100 if i < 10 else 0)
