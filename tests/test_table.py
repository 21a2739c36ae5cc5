"""IceTable end-to-end conformance — models the reference integration flow
(/root/reference/integration_test.py): insert → query → insert → merge →
query-unchanged → cleanup → query-unchanged → remove-partition →
rewrite-partition, with exact file/log-count invariants (FIXTURES.md F1/F7)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from icedb_spark import (
    IceTable,
    PartitionField,
    PartitionSpec,
    SchemaConflictException,
)
from icedb_spark.testdata import load_table

EVENTS_SPEC = PartitionSpec(
    fields=[
        PartitionField("cust", "'test'"),
        PartitionField("d", "date_format(timestamp_millis(ts), 'yyyy-MM-dd')"),
    ]
)


def make_table(spark, tmp_path, **kw) -> IceTable:
    return IceTable(
        spark,
        str(tmp_path / "tbl"),
        partition_spec=kw.pop("partition_spec", EVENTS_SPEC),
        sort_order=kw.pop("sort_order", ["event", "ts"]),
        **kw,
    )


def batch(n_a=2, n_b=1, base_ts=1686_000_000_000):
    rows = []
    for i in range(n_a):
        rows.append(
            {"ts": base_ts + i, "event": "page_load", "user_id": "a",
             "properties": '{"page_name": "Home"}'}
        )
    for i in range(n_b):
        rows.append(
            {"ts": base_ts + i, "event": "something_else", "user_id": "b",
             "properties": '{"page_name": "Settings"}'}
        )
    return rows


def counts_by_user(table, **kw):
    df = (
        table.read(**kw)
        .groupBy("user_id")
        .agg(F.count("user_id").alias("cnt"))
        .orderBy(F.desc("cnt"), "user_id")
    )
    return [(r["cnt"], r["user_id"]) for r in df.collect()]


def test_insert_query_merge_cleanup_flow(spark, tmp_path):
    t = make_table(spark, tmp_path)

    markers = t.insert(batch())
    assert len(markers) == 1  # same day, same cust → one partition file
    assert counts_by_user(t) == [(2, "a"), (1, "b")]

    # schema introspection matches the reference's exact expectation
    assert t.get_schema(batch()).columns() == {
        "ts": "BIGINT", "event": "VARCHAR", "user_id": "VARCHAR",
        "properties": "VARCHAR",
    }

    # two more inserts accumulate
    t.insert(batch())
    t.insert(batch())
    assert counts_by_user(t) == [(6, "a"), (3, "b")]
    state = t.snapshot()
    assert len(state.alive_files()) == 3
    assert len(state.log_files) == 3

    # merge: one file survives, results unchanged, tombstones ⊆ inserted
    res = t.merge(max_file_count=10)
    assert res is not None
    _log, new_marker, part, merged = res
    assert part == "cust=test/d=2023-06-05"
    assert {m.path for m in merged} <= {m.path for m in state.alive_files()}
    state2 = t.snapshot()
    assert len(state2.alive_files()) == 1
    assert counts_by_user(t) == [(6, "a"), (3, "b")]
    # no more merge candidates
    assert t.merge() is None

    # tombstone cleanup: collapse to 1 log file, 1 data file, results unchanged
    deleted_logs, deleted_data = t.tombstone_cleanup(min_age_ms=0)
    assert len(deleted_data) == 3
    state3 = t.snapshot()
    assert len(state3.log_files) == 1
    assert len(state3.alive_files()) == 1
    assert counts_by_user(t) == [(6, "a"), (3, "b")]


def test_time_travel(spark, tmp_path):
    from icedb_spark import get_log_file_info

    t = make_table(spark, tmp_path)
    t.insert(batch(n_a=2, n_b=1))
    # the commit timestamp of the first insert's log file: snapshotting at
    # exactly this instant must see the first batch and nothing later
    ts_after_first = get_log_file_info(t.snapshot().log_files[-1])[0]
    t.insert(batch(n_a=2, n_b=1))
    assert counts_by_user(t) == [(4, "a"), (2, "b")]
    assert counts_by_user(t, at_ms=ts_after_first) == [(2, "a"), (1, "b")]


def test_partition_pruning(spark, tmp_path):
    t = make_table(spark, tmp_path)
    day = 86_400_000
    t.insert(batch(base_ts=1686_000_000_000))          # 2023-06-05
    t.insert(batch(base_ts=1686_000_000_000 + day))    # 2023-06-06
    all_rows = t.read().count()
    assert all_rows == 6
    pruned = t.read(partition_values={"d": "2023-06-05"})
    assert pruned.count() == 3
    # range pruning
    ranged = t.read(partition_values={"d": ("2023-06-06", "2023-06-30")})
    assert ranged.count() == 3
    # the pruned scan must only read one file
    assert len(pruned.inputFiles()) == 1


def test_remove_partitions(spark, tmp_path):
    t = make_table(spark, tmp_path)
    day = 86_400_000
    t.insert(batch(base_ts=1686_000_000_000))
    t.insert(batch(base_ts=1686_000_000_000 + day))
    n = t.remove_partitions(lambda parts: [p for p in parts if p.endswith("2023-06-05")])
    assert n == 1
    assert counts_by_user(t) == [(2, "a"), (1, "b")]
    state = t.snapshot()
    assert len(state.alive_files()) == 1


def test_rewrite_partition(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(batch(n_a=2, n_b=1))
    rewritten = t.rewrite_partition(
        "cust=test/d=2023-06-05",
        "select * from _rows where event != 'page_load'",
    )
    assert len(rewritten) == 1
    assert counts_by_user(t) == [(1, "b")]
    with pytest.raises(ValueError):
        t.rewrite_partition(
            "cust=test/d=2023-06-05",
            "select *, 1 as extra from _rows",
        )


def test_schema_accumulation_and_conflict(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(batch())
    # adding a column is legal — schema is the union
    rows = [{"ts": 1686_000_000_000, "event": "x", "user_id": "a",
             "properties": "{}", "flt": 1.5}]
    t.insert(rows)
    st = t.snapshot()
    assert st.schema.columns()["flt"] == "DOUBLE"
    # reading sees the union schema with nulls for missing columns
    df = t.read()
    assert df.where(F.col("flt").isNull()).count() == 3
    # a type change is rejected at fold time
    t.insert([{"ts": 1, "event": "x", "user_id": "a", "properties": "{}",
               "flt": "not-a-double"}])
    with pytest.raises(SchemaConflictException):
        t.snapshot()


def test_custom_insert_query(spark, tmp_path):
    """F3: custom insert seeds cnt=1 per row (aggregate-on-merge pattern)."""
    t = make_table(
        spark, tmp_path,
        custom_insert_query="select *, cast(1 as bigint) as cnt from _rows",
    )
    t.insert(batch())
    df = t.read()
    assert df.agg(F.sum("cnt")).collect()[0][0] == 3
    assert t.snapshot().schema.columns()["cnt"] == "BIGINT"


def test_aggregate_on_merge(spark, tmp_path):
    """F3 invariant: sum(cnt) by (user_id, event) is identical before and
    after merges while raw count(*) shrinks."""
    t = make_table(
        spark, tmp_path,
        custom_insert_query="select *, cast(1 as bigint) as cnt from _rows",
        custom_merge_query=(
            "select user_id, event, cast(sum(cnt) as bigint) as cnt, "
            "max(ts) as ts, max(properties) as properties "
            "from source_files group by user_id, event"
        ),
    )
    for _ in range(3):
        t.insert(batch())

    def agg_result():
        return sorted(
            (r["user_id"], r["event"], r["s"])
            for r in t.read()
            .groupBy("user_id", "event")
            .agg(F.sum("cnt").alias("s"))
            .collect()
        )

    before = agg_result()
    raw_before = t.read().count()
    assert t.merge() is not None
    assert agg_result() == before
    assert t.read().count() < raw_before
    assert t.read().count() == 2  # fully collapsed: one row per (user, event)


def test_replace_on_merge(spark, tmp_path):
    """F4: replacing-merge keeps the latest row per user (arg_max semantics)."""
    t = make_table(
        spark, tmp_path,
        custom_merge_query=(
            "select user_id, max_by(event, ts) as event, max(ts) as ts, "
            "max_by(properties, ts) as properties "
            "from source_files group by user_id"
        ),
    )
    t.insert(batch(base_ts=1686_000_000_000))
    # same logical events, one ms later ("newer versions")
    rows = [dict(r, ts=r["ts"] + 10, event=r["event"] + "_v2") for r in batch()]
    t.insert(rows)

    def latest():
        return sorted(
            (r["user_id"], r["event"], r["ts"])
            for r in t.sql(
                "select user_id, max_by(event, ts) as event, max(ts) as ts "
                "from ice group by user_id"
            ).collect()
        )

    before = latest()
    assert t.merge() is not None
    assert latest() == before
    assert t.read().count() == 2  # one row per user after replace-merge


def test_python_partition_function(spark, tmp_path):
    """Slow-path parity: arbitrary Python dict->str partition functions."""
    spec = PartitionSpec(python_fn=lambda row: f"u={row['user_id']}")
    t = IceTable(spark, str(tmp_path / "tbl"), partition_spec=spec,
                 sort_order=["ts"])
    t.insert(batch())
    parts = {m.partition() for m in t.snapshot().alive_files()}
    assert parts == {"u=a", "u=b"}


def test_preserve_partition_passthrough(spark, tmp_path):
    """Fast-path parity: precomputed _partition column is honored."""
    t = IceTable(
        spark, str(tmp_path / "tbl"),
        partition_spec=EVENTS_SPEC, sort_order=["ts"],
        preserve_partition=True,
    )
    rows = [dict(r, _partition=f"b={i % 2}") for i, r in enumerate(batch(4, 0))]
    t.insert(rows)
    parts = {m.partition() for m in t.snapshot().alive_files()}
    assert parts == {"b=0", "b=1"}


def test_insert_dataframe_native(spark, tmp_path, sf_dir):
    """DataFrame-native ingest: load driver events parquet straight in."""
    # ts is epoch-nanos BIGINT (nanosAsLong read of the ns-timestamp parquet)
    spec = PartitionSpec(
        fields=[PartitionField("d", "date_format(timestamp_micros(ts div 1000), 'yyyy-MM-dd')")]
    )
    t = IceTable(spark, str(tmp_path / "tbl"), partition_spec=spec,
                 sort_order=["ts"])
    src = load_table(spark, sf_dir, "events")
    t.insert(df=src)
    assert t.read().count() == src.count()
    # one file per day partition
    state = t.snapshot()
    days = {m.partition() for m in state.alive_files()}
    assert len(days) == len(state.alive_files())


def test_write_splits_fans_out_and_merges_back(spark, tmp_path, sf_dir):
    """write_splits > 1: one insert produces N files per partition (parallel
    writers for a hot partition), rows round-trip, sort order holds within
    each file, and merge compacts the splits back to one file."""
    from pyspark.sql import functions as F

    spec = PartitionSpec(
        fields=[PartitionField("m", "date_format(timestamp_micros(ts div 1000), 'yyyy-MM')")]
    )
    t = IceTable(spark, str(tmp_path / "tbl"), partition_spec=spec,
                 sort_order=["event_type", "ts"], write_splits=4)
    src = load_table(spark, sf_dir, "events")
    t.insert(df=src)
    state = t.snapshot()
    by_part = {}
    for m in state.alive_files():
        by_part.setdefault(m.partition(), []).append(m)
    assert all(len(v) > 1 for v in by_part.values()), "expected multiple files per partition"
    assert t.read().count() == src.count()
    # split column never leaks into data or schema
    assert "__ice_split" not in t.read().columns
    assert "__ice_split" not in state.schema.columns()
    # each split file is individually sorted by the table sort order
    one = state.alive_files()[0]
    rows = spark.read.parquet(t.storage.absolute(one.path)).select("event_type", "ts").collect()
    assert rows == sorted(rows, key=lambda r: (r[0], r[1]))
    while t.merge(max_file_size=1 << 40, max_file_count=100) is not None:
        pass
    state2 = t.snapshot()
    parts2 = {m.partition() for m in state2.alive_files()}
    assert len(state2.alive_files()) == len(parts2), "merge should compact splits to one file per partition"
    assert t.read().count() == src.count()


def test_two_writers_same_table(spark, tmp_path, sf_dir):
    """Optimistic multi-writer contract: two independent IceTable handles on
    the same path commit interleaved inserts; every commit is a separate log
    object, so a snapshot from either handle sees the union. A merge issued
    from one handle must not lose the other's rows (merges need an external
    lock only to avoid DUPLICATE work, not for correctness of committed
    state — same contract as the reference, ARCHITECTURE.md:158-165)."""
    from pyspark.sql import functions as F

    spec = PartitionSpec(
        fields=[PartitionField("m", "date_format(timestamp_micros(ts div 1000), 'yyyy-MM')")]
    )
    src = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "tbl")
    w1 = IceTable(spark, path, partition_spec=spec, sort_order=["ts"])
    w2 = IceTable(spark, path, partition_spec=spec, sort_order=["ts"])
    w1.insert(df=src.where(F.col("event_id") % 4 == 0))
    w2.insert(df=src.where(F.col("event_id") % 4 == 1))
    w1.insert(df=src.where(F.col("event_id") % 4 == 2))
    while w1.merge(max_file_size=1 << 40, max_file_count=100) is not None:
        pass
    w2.insert(df=src.where(F.col("event_id") % 4 == 3))
    assert w1.read().count() == src.count()
    assert w2.read().count() == src.count()
    # both hostname-stamped writers appear in the log history
    logs = [k for k, _ in w1.log_io.get_current_log_files(w1.log_storage)]
    assert len(logs) >= 3


def test_optimize_merges_to_exhaustion(spark, tmp_path, sf_dir):
    spec = PartitionSpec(
        fields=[PartitionField("m", "date_format(timestamp_micros(ts div 1000), 'yyyy-MM')")]
    )
    t = IceTable(spark, str(tmp_path / "tbl"), partition_spec=spec)
    src = load_table(spark, sf_dir, "events")
    from pyspark.sql import functions as F
    for i in range(4):
        t.insert(df=src.where(F.col("event_id") % 4 == i))
    n = t.optimize(max_file_size=1 << 40, max_file_count=100)
    assert n >= 1
    state = t.snapshot()
    assert len(state.alive_files()) == len({m.partition() for m in state.alive_files()})
    assert t.read().count() == src.count()


# ---------------------------------------------------------------- merge_all


def _spread_batch(day: int, n: int = 4, base=1686_000_000_000):
    """n rows per user, each user on its own DAY -> 2 partitions per call
    (the partition key is the date)."""
    rows = []
    for j, u in enumerate(("a", "b")):
        for i in range(n):
            rows.append(
                {"ts": base + (day * 2 + j) * 86_400_000 + i, "event": f"e{i%2}",
                 "user_id": u, "properties": "{}"}
            )
    return rows


def test_merge_all_compacts_every_partition_one_log(spark, tmp_path):
    t = make_table(spark, tmp_path)
    for b in range(3):  # 3 files in each of 2 partitions
        t.insert(_spread_batch(day=0, base=1686_000_000_000 + b))
    before = t.read().groupBy("event").count().collect()
    logs_before = len(t.snapshot().log_files)

    res = t.merge_all(concurrency=4)
    assert res is not None
    new_log, merges = res
    assert len(merges) == 2  # both partitions compacted in ONE pass
    state = t.snapshot()
    # one combined commit: exactly one new log file
    assert len(state.log_files) == logs_before + 1
    # each partition now has exactly one alive file
    parts = {}
    for m in state.alive_files():
        parts.setdefault(m.partition(), []).append(m)
    assert all(len(v) == 1 for v in parts.values()) and len(parts) == 2
    # results unchanged
    assert sorted(map(tuple, t.read().groupBy("event").count().collect())) == sorted(
        map(tuple, before)
    )


def test_merge_all_matches_serial_optimize(spark, tmp_path):
    ta = make_table(spark, tmp_path / "a")
    tb = make_table(spark, tmp_path / "b")
    for day in range(3):
        for b in range(2):
            batch_rows = _spread_batch(day, base=1686_000_000_000 + b)
            ta.insert(batch_rows)
            tb.insert(batch_rows)
    n_serial = ta.optimize()
    n_par = tb.optimize(concurrency=4)
    assert n_par == n_serial == 6  # 6 partitions, one merge each
    ka = sorted(map(tuple, ta.read().groupBy("user_id", "event").count().collect()))
    kb = sorted(map(tuple, tb.read().groupBy("user_id", "event").count().collect()))
    assert ka == kb
    # identical alive layouts: one file per partition on both
    assert len(ta.snapshot().alive_files()) == len(tb.snapshot().alive_files()) == 6


def test_merge_all_time_travel_intact(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(_spread_batch(day=0))
    pre_ms = int(time.time() * 1000) + 1
    time.sleep(0.002)
    t.insert(_spread_batch(day=0, base=1686_000_000_001))
    t.merge_all()
    assert t.read(at_ms=pre_ms).count() == 8
    assert t.read().count() == 16


def test_merge_all_no_work_returns_none(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(_spread_batch(day=0))
    t.insert(_spread_batch(day=0, base=1686_000_000_001))
    assert t.merge_all() is not None
    assert t.merge_all() is None


def test_merge_all_with_custom_merge_query(spark, tmp_path):
    """Aggregate-on-merge semantics must survive the concurrent multi-
    partition pass identically to serial merge."""
    t = make_table(
        spark, tmp_path,
        custom_insert_query="select *, cast(1 as bigint) as cnt from _rows",
        custom_merge_query=(
            "select user_id, event, cast(sum(cnt) as bigint) as cnt, "
            "max(ts) as ts, max(properties) as properties "
            "from source_files group by user_id, event"
        ),
    )
    for b in range(3):
        t.insert(_spread_batch(day=0, base=1686_000_000_000 + b))

    def agg_result():
        return sorted(
            (r["user_id"], r["event"], r["s"])
            for r in t.read()
            .groupBy("user_id", "event")
            .agg(F.sum("cnt").alias("s"))
            .collect()
        )

    before = agg_result()
    res = t.merge_all(concurrency=4)
    assert res is not None and len(res[1]) == 2  # both day-partitions
    assert agg_result() == before
    # each partition collapsed to one row per (user, event) group
    assert t.read().count() == 4  # 2 partitions x 1 user x 2 events


def test_optimize_concurrent_multi_pass(spark, tmp_path):
    """More files than max_file_count per partition forces several
    merge_all passes; optimize(concurrency=...) must drain them all."""
    t = make_table(spark, tmp_path)
    for b in range(5):
        t.insert(_spread_batch(day=0, base=1686_000_000_000 + b))
    n = t.optimize(concurrency=4, max_file_count=2)
    # 5 files/partition, pairwise merges to exhaustion: 4 merges per
    # partition x 2 partitions
    assert n == 8
    state = t.snapshot()
    parts = {}
    for m in state.alive_files():
        parts[m.partition()] = parts.get(m.partition(), 0) + 1
    assert all(v == 1 for v in parts.values()) and len(parts) == 2
    assert t.read().count() == 40

def test_vacuum_min_age_grace(spark, tmp_path):
    """min_age_ms is honored for LOG files too: young superseded logs stay
    on disk (time travel inside the window keeps working) and only expire
    on a later vacuum."""
    from icedb_spark import get_log_file_info

    t = make_table(spark, tmp_path)
    t.insert(batch())
    pre_merge_ms = get_log_file_info(t.snapshot().log_files[-1])[0]
    t.insert(batch())
    while t.merge(max_file_size=1 << 40, max_file_count=100) is not None:
        pass

    deleted_logs, deleted_data = t.tombstone_cleanup(min_age_ms=3_600_000)
    assert deleted_data == []  # tombstones younger than the grace
    # only merged logs were collapsed; the superseded insert logs survive
    assert all(get_log_file_info(k)[1] for k in deleted_logs)
    assert counts_by_user(t) == [(4, "a"), (2, "b")]
    assert counts_by_user(t, at_ms=pre_merge_ms) == [(2, "a"), (1, "b")]

    # grace over: the second vacuum removes the expired logs + data files
    _logs2, deleted_data2 = t.tombstone_cleanup(min_age_ms=0)
    assert len(deleted_data2) == 2
    state = t.snapshot()
    assert len(state.log_files) == 1
    assert len(state.alive_files()) == 1
    assert counts_by_user(t) == [(4, "a"), (2, "b")]


def test_partition_column_places_even_without_preserve(spark, tmp_path):
    """Reference parity (icedb/icedb.py:191-196): a row's _partition value
    always wins for placement; preserve_partition=False only strips the
    column from the written data."""
    t = make_table(spark, tmp_path)
    rows = [dict(r, _partition="cust=test/d=2030-01-01") for r in batch()]
    t.insert(rows)
    parts = {m.partition() for m in t.snapshot().alive_files()}
    assert parts == {"cust=test/d=2030-01-01"}
    assert "_partition" not in t.read().columns


def test_preserve_partition_keeps_column(spark, tmp_path):
    """preserve_partition=True retains _partition as a DATA column, like the
    reference (the row dict keeps the key)."""
    t = make_table(spark, tmp_path, preserve_partition=True)
    rows = [dict(r, _partition="b=1") for r in batch()]
    t.insert(rows)
    df = t.read()
    assert "_partition" in df.columns
    assert [r[0] for r in df.select("_partition").distinct().collect()] == ["b=1"]


def test_merge_does_not_resurrect_removed_partition(spark, tmp_path):
    """A file tombstoned by remove_partitions whose INSERT log also fed the
    merge must stay dead: carried markers take their tombstone from the
    folded state, not the raw source-log line (fixes the reference's
    resurrection hazard, icedb/icedb.py:290-305)."""
    t = make_table(spark, tmp_path)
    day1 = 1686_000_000_000
    day2 = day1 + 86_400_000
    # ONE insert log covering two partitions
    t.insert(batch(base_ts=day1) + batch(base_ts=day2))
    # second file in day1's partition so it becomes a merge candidate
    t.insert(batch(base_ts=day1))
    removed = t.remove_partitions(
        lambda parts: [p for p in parts if p.endswith("2023-06-06")]
    )
    assert removed == 1
    while t.merge(max_file_size=1 << 40, max_file_count=100) is not None:
        pass
    parts = {m.partition() for m in t.snapshot().alive_files()}
    assert not any(p.endswith("2023-06-06") for p in parts)
    assert counts_by_user(t) == [(4, "a"), (2, "b")]

def test_format_row_hook(spark, tmp_path):
    """v2-parity pre-insert row transform: applied per dict on the rows
    path (reference examples/api-flask.py:156-167 — e.g. JSON-stringify a
    nested field), reflected in both written data and get_schema."""
    import json

    def fmt(row):
        row["properties"] = json.dumps(row["properties"])
        row["src"] = "hook"
        return row

    t = make_table(spark, tmp_path, format_row=fmt)
    rows = [
        {"ts": 1686_000_000_000, "event": "page_load", "user_id": "a",
         "properties": {"page": "Home"}},
    ]
    t.insert(rows)
    out = t.read().collect()[0]
    assert out["properties"] == '{"page": "Home"}'
    assert out["src"] == "hook"
    cols = t.get_schema(rows).columns()
    assert cols["properties"] == "VARCHAR"
    assert cols["src"] == "VARCHAR"

def test_vacuum_does_not_resurrect_removed_partition(spark, tmp_path):
    """A file tombstoned only in a MERGED log (remove_partitions) whose
    insert log was never merged: vacuum must collapse that insert log too,
    else its alive marker outlives the tombstone and the deleted file
    resurrects under LWW."""
    import os

    t = make_table(spark, tmp_path)
    day1 = 1686_000_000_000
    day2 = day1 + 86_400_000
    t.insert(batch(base_ts=day1) + batch(base_ts=day2))  # ONE insert log
    assert t.remove_partitions(
        lambda ps: [p for p in ps if p.endswith("2023-06-06")]
    ) == 1
    _logs, deleted_data = t.tombstone_cleanup(min_age_ms=0)
    assert len(deleted_data) == 1

    state = t.snapshot()
    parts = {m.partition() for m in state.alive_files()}
    assert not any(p.endswith("2023-06-06") for p in parts)
    for m in state.alive_files():
        assert os.path.exists(t.storage.absolute(m.path))
    assert counts_by_user(t) == [(2, "a"), (1, "b")]


def test_vacuum_grace_protects_young_superseded_merge_log(spark, tmp_path):
    """A merged log whose supersede-tombstone is younger than min_age must
    STAY on disk (in-flight readers / time travel), not be collapsed."""
    from icedb_spark import get_log_file_info

    t = make_table(spark, tmp_path)
    t.insert(batch())
    t.insert(batch())
    while t.merge(max_file_size=1 << 40, max_file_count=100) is not None:
        pass  # M1 supersedes the two insert logs
    mid_ms = get_log_file_info(t.snapshot().log_files[-1])[0]
    t.insert(batch())
    while t.merge(max_file_size=1 << 40, max_file_count=100) is not None:
        pass  # M2 supersedes M1 + the third insert log

    deleted_logs, deleted_data = t.tombstone_cleanup(min_age_ms=3_600_000)
    assert deleted_data == []
    assert counts_by_user(t) == [(6, "a"), (3, "b")]
    assert counts_by_user(t, at_ms=mid_ms) == [(4, "a"), (2, "b")]
    # every preserved tombstone's target log is still on disk
    on_disk = {k for k, _ in t.log_io.get_current_log_files(t.log_storage)}
    tmbs = t.snapshot().log_tombstones
    assert tmbs and all(tmb.path in on_disk for tmb in tmbs)

    # grace over: everything expires cleanly, results unchanged
    t.tombstone_cleanup(min_age_ms=0)
    state = t.snapshot()
    assert counts_by_user(t) == [(6, "a"), (3, "b")]
    assert len(state.log_files) == 1

def test_partition_column_without_source_columns(spark, tmp_path):
    """Rows that carry ONLY a precomputed _partition (no partition-fn source
    columns at all) must insert cleanly — the fallback analysis error is
    caught and placement uses _partition verbatim."""
    t = make_table(spark, tmp_path, preserve_partition=True)
    rows = [{"user_id": "a", "v": 1, "_partition": "d=2030-01-01"},
            {"user_id": "b", "v": 2, "_partition": "d=2030-01-02"}]
    t.insert(rows)  # EVENTS_SPEC needs `ts`, absent here
    parts = {m.partition() for m in t.snapshot().alive_files()}
    assert parts == {"d=2030-01-01", "d=2030-01-02"}
    assert t.read().count() == 2

def test_null_partition_value_keeps_path_depth(spark, tmp_path):
    """A NULL partition-field value must not truncate the path (that made
    rows invisible to pruned reads); it becomes the Hive null token."""
    spec = PartitionSpec(
        fields=[PartitionField("u", "user_id"),
                PartitionField("d", "date_format(timestamp_millis(ts), 'yyyy-MM-dd')")]
    )
    t = make_table(spark, tmp_path, partition_spec=spec)
    rows = [
        {"ts": 1686_000_000_000, "event": "e", "user_id": "a"},
        {"ts": None, "event": "e", "user_id": "a"},  # d evaluates NULL
    ]
    t.insert(rows)
    parts = {m.partition() for m in t.snapshot().alive_files()}
    assert parts == {"u=a/d=2023-06-05", "u=a/d=__HIVE_DEFAULT_PARTITION__"}
    assert t.read().count() == 2
    # pruning on u still sees BOTH rows (depth preserved)
    assert t.read(partition_values={"u": "a"}).count() == 2


def test_merge_with_empty_output_commits(spark, tmp_path):
    """A filtering custom merge query can produce ZERO rows for a partition;
    the merge must still commit (empty parquet, tombstoned sources) instead
    of crashing and wedging compaction."""
    t = make_table(
        spark, tmp_path,
        custom_merge_query="select * from source_files where event = 'nope'",
    )
    t.insert(batch())
    t.insert(batch())
    res = t.merge(max_file_size=1 << 40, max_file_count=100)
    assert res is not None
    assert t.merge() is None  # compacted: no more candidates
    assert t.read().count() == 0
    state = t.snapshot()
    assert len(state.alive_files()) == 1  # the empty file

    # sources with no rows at all merge on the plain (driver-read) path
    # into one empty file as well
    from icedb_spark.log import FileMarker, unique_ms

    (empty,) = state.alive_files()
    copy = empty.path.replace(".parquet", "-copy.parquet")
    t.storage.put(copy, t.storage.get(empty.path))
    t.log_io.append(
        t.log_storage, 1, state.schema,
        [FileMarker(copy, unique_ms(), empty.file_bytes)],
        timestamp_ms=unique_ms(),
    )
    plain = make_table(spark, tmp_path)
    assert plain.merge(max_file_size=1 << 40, max_file_count=100) is not None
    (merged,) = plain.snapshot().alive_files()
    assert merged.path not in (empty.path, copy)
    assert plain.read().count() == 0


def test_malformed_range_predicate_raises(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(batch())
    import pytest as _pytest

    with _pytest.raises(ValueError, match="range"):
        t.read(partition_values={"d": ("a", "b", "c")})


def test_stray_object_in_log_prefix_is_ignored(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert(batch())
    t.log_storage.put("_log/README.txt", b"not a log")
    assert counts_by_user(t) == [(2, "a"), (1, "b")]


def test_partition_fallback_raises_when_needed_but_broken(spark, tmp_path):
    """A batch with NULL _partition values NEEDS the partition expression;
    if that expression doesn't resolve (renamed column, typo), insert must
    surface the error instead of silently filing rows under the bare root."""
    spec = PartitionSpec(fields=[PartitionField("d", "no_such_column")])
    t = IceTable(spark, str(tmp_path / "tbl"), partition_spec=spec)
    ok_rows = [{"_partition": "d=x", "v": 1}]
    t.insert(ok_rows)  # fully precomputed: expression never needed
    assert [m.partition() for m in t.snapshot().alive_files()] == ["d=x"]
    import pyspark.errors

    with pytest.raises(pyspark.errors.AnalysisException):
        t.insert([{"_partition": "d=x", "v": 1}, {"_partition": None, "v": 2}])


def test_maintenance_reuses_snapshot_log_fetches(spark, tmp_path):
    """merge/tombstone_cleanup must fold each log object AT MOST once per
    pass — bookkeeping reads come from the snapshot's parsed cache, and
    since r12's process-wide parse cache, a log object already fetched by
    ANY earlier fold is never re-GET at all (the LIST is the change
    detector). At thousands of logs the old double-fetch doubled vacuum
    request cost; now a warm maintenance pass costs zero log GETs."""
    from icedb_spark.log import IceLogIO

    spec = PartitionSpec(fields=[PartitionField("b", "bucket")])
    t = IceTable(spark, str(tmp_path / "tbl"), partition_spec=spec,
                 sort_order=["k"])
    for i in range(3):
        t.insert([{"bucket": "b", "k": i, "v": float(i)}])

    gets = {"n": 0}
    orig = t.log_storage

    class CountingStorage:
        def __getattr__(self, name):
            return getattr(orig, name)

        def get(self, key):
            if key.startswith("_log/"):
                gets["n"] += 1
            return orig.get(key)

    t.log_storage = CountingStorage()

    # COLD cache: one merge = exactly one fold's worth of GETs (the
    # bookkeeping pass reuses keep_parsed, never a second round)
    IceLogIO.clear_parse_cache()
    n_logs = len(t.snapshot(keep_parsed=False).log_files)
    IceLogIO.clear_parse_cache()
    gets["n"] = 0
    assert t.merge() is not None
    assert gets["n"] == n_logs, f"merge re-fetched logs: {gets['n']} vs {n_logs}"

    # WARM cache: vacuum's fold is served entirely from the parse cache
    # (only the log it writes/deletes changes the listing) — the merge
    # above already fetched every surviving log object
    gets["n"] = 0
    t.tombstone_cleanup(0)
    assert gets["n"] <= 1, (
        f"warm vacuum re-fetched logs: {gets['n']}"
    )
    IceLogIO.clear_parse_cache()


def test_history_and_stats(spark, tmp_path):
    spec = PartitionSpec(fields=[PartitionField("b", "bucket")])
    t = IceTable(spark, str(tmp_path / "tbl"), partition_spec=spec,
                 sort_order=["k"])
    t.insert([{"bucket": "b1", "k": 1, "v": 1.0}])
    t.insert([{"bucket": "b2", "k": 2, "v": 2.0}])
    h = t.history()
    assert len(h) == 2
    assert all(e["kind"] == "insert" and e["n_file_markers"] == 1 for e in h)
    assert h[0]["timestamp_ms"] >= h[1]["timestamp_ms"]  # newest first

    s = t.stats()
    assert s["alive_files"] == 2 and s["tombstoned_files"] == 0
    assert s["partitions"] == 2 and s["log_files"] == 2
    assert s["alive_bytes"] > 0 and s["columns"] == 3

    t.insert([{"bucket": "b1", "k": 3, "v": 3.0}])
    assert t.merge() is not None
    h2 = t.history()
    assert h2[0]["kind"] == "merge"
    s2 = t.stats()
    assert s2["tombstoned_files"] == 2  # the two merged b1 files
    # time travel: stats at the pre-merge instant see the old layout
    from icedb_spark.log import get_log_file_info
    pre_merge_ts = h[0]["timestamp_ms"]
    s_past = t.stats(at_ms=pre_merge_ts)
    assert s_past["alive_files"] == 2 and s_past["tombstoned_files"] == 0


# ------------------------------------------------------- incremental (CDC)


def test_changes_returns_only_window_inserts(spark, tmp_path):
    from icedb_spark import get_log_file_info

    t = make_table(spark, tmp_path)
    t.insert([{"ts": 1686_000_000_000 + i, "event": "a", "v": i} for i in range(4)])
    t0 = get_log_file_info(t.snapshot().log_files[-1])[0]
    t.insert([{"ts": 1686_000_000_100 + i, "event": "b", "v": 100 + i} for i in range(3)])
    out = t.changes(t0)
    assert out.count() == 3
    assert {r["event"] for r in out.collect()} == {"b"}
    # nothing before the watermark, everything from zero
    assert t.changes(0).count() == 7
    head = get_log_file_info(t.snapshot().log_files[-1])[0]
    assert t.changes(head).count() == 0


def test_changes_unaffected_by_compaction(spark, tmp_path):
    """Merged files rewrite EXISTING rows — they must never re-emit into a
    change window, and tombstoned insert-era files must still serve
    theirs."""
    from icedb_spark import get_log_file_info

    t = make_table(spark, tmp_path)
    t.insert([{"ts": 1686_000_000_000 + i, "event": "a", "v": i} for i in range(4)])
    t0 = get_log_file_info(t.snapshot().log_files[-1])[0]
    t.insert([{"ts": 1686_000_000_100 + i, "event": "b", "v": i} for i in range(3)])
    t.merge_all(max_file_size=1 << 40, max_file_count=100)
    out = t.changes(t0)
    assert out.count() == 3
    assert {r["event"] for r in out.collect()} == {"b"}
    # merge commit itself is newer than t0 yet contributes nothing
    assert t.changes(0).count() == 7


def test_changes_windows_compose(spark, tmp_path):
    """Consecutive (since, until] windows partition the append stream."""
    from icedb_spark import get_log_file_info

    t = make_table(spark, tmp_path)
    marks = [0]
    for b in range(3):
        t.insert(
            [{"ts": 1686_000_000_000 + 100 * b + i, "event": f"e{b}", "v": i}
             for i in range(2)]
        )
        marks.append(get_log_file_info(t.snapshot().log_files[-1])[0])
    seen = []
    for since, until in zip(marks, marks[1:]):
        seen += [tuple(r) for r in t.changes(since, until).collect()]
    full = [tuple(r) for r in t.read().collect()]
    assert sorted(seen) == sorted(full)


def test_changes_uses_current_unified_schema(spark, tmp_path):
    t = make_table(spark, tmp_path)
    t.insert([{"ts": 1686_000_000_000, "event": "a", "v": 1}])
    t0 = 0
    t.insert([{"ts": 1686_000_000_001, "event": "b", "v": 2, "extra": "x"}])
    out = t.changes(t0)
    assert "extra" in out.columns
    rows = {r["event"]: r["extra"] for r in out.collect()}
    assert rows == {"a": None, "b": "x"}


# --------------------------------------------------- write-audit-publish


def test_staged_insert_invisible_until_published(spark, tmp_path):
    from icedb_spark import IceTable, PartitionField, PartitionSpec

    t = IceTable(
        spark, str(tmp_path / "wap"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )
    t.insert(rows=[{"id": 1, "kind": "a"}])
    staged = t.insert(rows=[{"id": 2, "kind": "a"}], publish=False)
    assert staged.markers and t.read().count() == 1  # invisible
    # audit the staged file directly, then publish atomically
    audited = spark.read.parquet(
        *[t.storage.absolute(m.path) for m in staged.markers]
    )
    assert audited.count() == 1
    logs0 = len(t.snapshot().log_files)
    t.publish(staged)
    assert len(t.snapshot().log_files) == logs0 + 1
    assert sorted(r["id"] for r in t.read().collect()) == [1, 2]


def test_publish_many_staged_batches_is_one_atomic_commit(spark, tmp_path):
    from icedb_spark import IceTable, PartitionField, PartitionSpec

    t = IceTable(
        spark, str(tmp_path / "wap2"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )
    s1 = t.insert(rows=[{"id": 1, "kind": "a"}], publish=False)
    s2 = t.insert(rows=[{"id": 2, "kind": "b", "extra": "x"}], publish=False)
    assert t.read().count() == 0
    t.publish([s1, s2])
    assert len(t.snapshot().log_files) == 1
    df = t.read()
    assert df.count() == 2 and "extra" in df.columns  # schemas unioned
    assert t.publish([]) == []


def test_abandoned_staged_batch_is_orphan_collected(spark, tmp_path):
    from icedb_spark import IceTable, PartitionField, PartitionSpec

    t = IceTable(
        spark, str(tmp_path / "wap3"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )
    t.insert(rows=[{"id": 1, "kind": "a"}])
    staged = t.insert(rows=[{"id": 99, "kind": "a"}], publish=False)
    deleted, kept = t.gc_orphans(grace_ms=3_600_000, dry_run=True)
    assert {m.path for m in staged.markers} <= set(kept)  # young: safe
    # an unsafe grace WARNS and would collect the staged (uncommitted)
    # files — exactly the in-flight-writer hazard the warning names
    import warnings as _w

    with _w.catch_warnings(record=True) as rec:
        _w.simplefilter("always")
        deleted2, _ = t.gc_orphans(grace_ms=0, dry_run=True)
    assert any("grace" in str(x.message) for x in rec)
    assert {m.path for m in staged.markers} <= set(deleted2)
    assert t.read().count() == 1


def test_lock_provider_acquired_once_per_compound_op(spark, tmp_path):
    """The maintenance lock is reentrant within a thread: optimize ->
    merge_all -> merge acquires the provider exactly once, and every
    rewrite/vacuum entry point takes it; insert never does."""
    from icedb_spark import IceTable, PartitionField, PartitionSpec

    acquired = []

    class _Ctx:
        def __init__(self, op):
            self.op = op

        def __enter__(self):
            acquired.append(self.op)

        def __exit__(self, *exc):
            return False

    t = IceTable(
        spark, str(tmp_path / "locked"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"], lock_provider=_Ctx,
    )
    t.insert(rows=[{"id": 1, "kind": "a"}])
    t.insert(rows=[{"id": 2, "kind": "a"}])
    assert acquired == []  # inserts are lock-free by contract
    t.optimize(max_file_size=1 << 40, max_file_count=100)
    assert acquired == ["optimize"]  # one acquisition for the compound op
    acquired.clear()
    t.delete("id = 2")
    assert acquired == ["delete"]
    acquired.clear()
    t.tombstone_cleanup(min_age_ms=0)
    assert acquired == ["tombstone_cleanup"]


def test_fencing_token_enforced_at_commit(spark, tmp_path):
    """VERDICT r8 #3 end to end: a maintenance holder whose S3 lease was
    stolen mid-operation (GC pause past TTL, network partition) must NOT
    commit its log — LockLostError fires at the fence check BEFORE the
    log PUT, so the stealer's view stays authoritative. A healthy holder
    commits normally and stamps its fencing token into the merged log's
    metadata line for after-the-fact audits."""
    import json as _json
    from contextlib import contextmanager

    from icedb_spark import (
        IceTable, LockLostError, PartitionField, PartitionSpec,
        s3_lock_provider,
    )
    from icedb_spark.locks import _SigV4S3
    from tests.mini_s3 import MiniS3Server

    with MiniS3Server() as server:
        c = _SigV4S3(server.endpoint, "locks", "k", "s")
        c.request("PUT", "")  # create bucket
        real = s3_lock_provider(
            "locks", "tbl/.maintenance.lock",
            endpoint_override=server.endpoint,
            access_key="test", secret_key="test",
            ttl_s=60.0, timeout_s=10.0, poll_s=0.05,
        )
        steal_next = {"on": False}

        @contextmanager
        def pausing_provider(op):
            # acquire the REAL lease, then (when armed) simulate the
            # holder pausing past its TTL while a stealer takes over:
            # the lock object is overwritten before the op's body runs
            with real(op) as lease:
                if steal_next["on"]:
                    c.request(
                        "PUT", "tbl/.maintenance.lock",
                        _json.dumps({
                            "holder": "stealer", "op": op,
                            "token": int(lease) + 1,
                            "expires_at": time.time() + 60,
                        }).encode(),
                    )
                yield lease

        t = IceTable(
            spark, str(tmp_path / "fenced"),
            partition_spec=PartitionSpec(
                fields=[PartitionField("k", "kind")]
            ),
            sort_order=["id"], lock_provider=pausing_provider,
        )
        t.insert(rows=[{"id": 1, "kind": "a"}])
        t.insert(rows=[{"id": 2, "kind": "a"}])

        # healthy holder: merge commits and stamps fence=1
        assert t.merge(max_file_size=1 << 40, max_file_count=100)
        logs = sorted(
            k for k, _s in t.log_io.get_current_log_files(t.log_storage)
        )
        merged_meta = _json.loads(
            t.log_storage.get(logs[-1]).decode().splitlines()[0]
        )
        assert merged_meta["fence"] == 1
        pre = set(logs)

        # stolen lease: the commit is REFUSED and no log file appears
        t.insert(rows=[{"id": 3, "kind": "a"}])
        t.insert(rows=[{"id": 4, "kind": "a"}])
        steal_next["on"] = True
        with pytest.raises(LockLostError):
            t.merge(max_file_size=1 << 40, max_file_count=100)
        post = {
            k for k, _s in t.log_io.get_current_log_files(t.log_storage)
        }
        # exactly the two insert commits landed since; no merged log
        from icedb_spark.log import get_log_file_info

        assert len(post - pre) == 2
        assert not any(get_log_file_info(k)[1] for k in post - pre)


def test_history_and_file_manifest_metadata_tables(spark, tmp_path):
    """history_df() derives one row per commit with file/byte deltas;
    file_manifest() lists alive files with partition + stats — both are
    metadata-only (no data file opened) and time-travelable."""
    from icedb_spark import IceTable, PartitionField, PartitionSpec
    from icedb_spark.log import get_log_file_info

    t = IceTable(
        spark, str(tmp_path / "meta_t"),
        partition_spec=PartitionSpec(fields=[PartitionField("b", "bucket")]),
        sort_order=["k"],
    )
    t.insert([{"bucket": "x", "k": 1}, {"bucket": "x", "k": 4},
              {"bucket": "y", "k": 2}])
    first_ts = get_log_file_info(t.snapshot().log_files[-1])[0]
    t.insert([{"bucket": "x", "k": 3}])
    t.delete("k = 1")
    h = {r["operation"]: r for r in t.history_df().collect()}
    assert h["insert"]["files_added"] >= 1
    assert h["overwrite"]["files_tombstoned"] >= 1  # the delete rewrite
    assert t.history_df().count() == len(t.snapshot().log_files)
    m = t.file_manifest().collect()
    assert {r["partition"] for r in m} == {"b=x", "b=y"}
    assert all(r["file_bytes"] > 0 and r["stats_json"] for r in m)
    # time travel: at the first commit, one insert row, two files
    h0 = t.history_df(at_ms=first_ts).collect()
    assert len(h0) == 1 and h0[0]["operation"] == "insert"
    assert t.file_manifest(at_ms=first_ts).count() == 2
