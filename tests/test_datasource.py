"""Spark Python DataSource (`format("icedb")`): batch, pushdown pruning,
time travel, and the streaming source over the MVCC log."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from icedb_spark import IceTable, PartitionField, PartitionSpec, get_log_file_info
from icedb_spark.datasource import IceDataSource, _IcePushdownReader


@pytest.fixture()
def table(spark, tmp_path):
    try:
        spark.dataSource.register(IceDataSource)
    except Exception:
        pass  # already registered in this session
    t = IceTable(
        spark,
        str(tmp_path / "tbl"),
        # field named like the column: the DataSource's path pruning keys
        # on the filter's column name matching the path field name
        partition_spec=PartitionSpec(
            fields=[PartitionField("bucket", "bucket")]
        ),
        sort_order=["id"],
        stats_columns=["id"],
    )
    t.insert(
        [{"id": i, "bucket": "a" if i < 10 else "z", "v": float(i)}
         for i in range(20)]
    )
    return t


def _load(spark, t, **opts):
    r = spark.read.format("icedb").option("path", t.path)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_batch_read_matches_engine_read(spark, table):
    df = _load(spark, table)
    assert df.count() == 20
    assert sorted(df.columns) == ["bucket", "id", "v"]
    got = {r["id"]: r["v"] for r in df.collect()}
    want = {r["id"]: r["v"] for r in table.read().collect()}
    assert got == want


def test_batch_read_sees_dml_and_time_travel(spark, table):
    at = get_log_file_info(table.snapshot().log_files[-1])[0]
    table.delete("id = 5")
    assert _load(spark, table).count() == 19
    assert _load(spark, table, at_ms=str(at)).count() == 20


def test_schema_evolution_null_seeds(spark, table):
    table.merge_into(
        spark.createDataFrame(
            [{"id": 99, "bucket": "z", "v": 1.0, "tag": "n"}]
        ),
        on="id",
        allow_new_columns=True,
    )
    df = _load(spark, table)
    assert "tag" in df.columns
    assert df.where("tag is null").count() == 20
    assert df.where("tag = 'n'").count() == 1


def test_pushdown_reader_prunes_files(spark, table):
    # unit-level: the pushdown reader's partitions() honors zone maps,
    # partition-path equality, and IN lists
    from pyspark.sql.datasource import EqualTo, GreaterThan, In

    schema = table.spark_schema()
    opts = {"path": table.path}
    r = _IcePushdownReader(schema, opts)
    list(r.pushFilters([EqualTo(("bucket",), "a")]))
    assert len(r.partitions()) == 1  # z file pruned by path equality

    r2 = _IcePushdownReader(schema, opts)
    list(r2.pushFilters([GreaterThan(("id",), 15)]))
    assert len(r2.partitions()) == 1  # a file pruned by zone map

    r3 = _IcePushdownReader(schema, opts)
    list(r3.pushFilters([In(("id",), (1, 2))]))
    assert len(r3.partitions()) == 1

    # end-to-end through Spark (conftest session has the conf off, so the
    # plain reader runs; results must match regardless)
    df = _load(spark, table)
    assert df.where((F.col("bucket") == "a") & (F.col("id") >= 3)).count() == 7


def test_streaming_source_tails_inserts_only(spark, table, tmp_path):
    table.delete("id = 0")      # merged commit: must NOT appear
    table.insert([{"id": 100, "bucket": "z", "v": 9.0}])
    q = (
        spark.readStream.format("icedb").option("path", table.path).load()
        .writeStream.format("memory").queryName("ice_ds_stream")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from ice_ds_stream")
    # both insert commits appear in full (incl. the since-deleted id=0 —
    # the changes() contract re-plays the append stream as committed)
    assert got.count() == 21
    assert got.where("id = 100").count() == 1


def test_missing_path_raises(spark):
    with pytest.raises(Exception, match="path"):
        spark.read.format("icedb").load().count()


def test_empty_table_reads_zero_rows(spark, tmp_path):
    try:
        spark.dataSource.register(IceDataSource)
    except Exception:
        pass
    d = str(tmp_path / "never-written")
    import os

    os.makedirs(d)
    df = spark.read.format("icedb").option("path", d).load()
    assert df.count() == 0


def test_change_feed_stream_matches_batch_feed(spark, table, tmp_path):
    table.delete("id < 3", capture_changes=True)
    table.update({"v": "v + 100"}, "id >= 18", capture_changes=True)
    q = (
        spark.readStream.format("icedb")
        .option("path", table.path)
        .option("feed", "changes")
        .load()
        .writeStream.format("memory").queryName("ice_cdc_stream")
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select * from ice_cdc_stream")
    by_type = {
        r["_change_type"]: r["cnt"]
        for r in got.groupBy("_change_type").agg(F.count("*").alias("cnt")).collect()
    }
    # streamed feed == batch feed (full window)
    batch = {
        r["_change_type"]: r["cnt"]
        for r in table.changes_feed(0)
        .groupBy("_change_type")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert by_type == batch
    assert by_type["insert"] == 20
    assert by_type["delete"] == 3
    assert by_type["update_preimage"] == by_type["update_postimage"] == 2
    # image VALUES stream through too, not just counts
    post = {
        r["id"]: r["v"]
        for r in got.where("_change_type = 'update_postimage'").collect()
    }
    assert post == {18: 118.0, 19: 119.0}


def test_change_feed_stream_excludes_uncaptured_dml(spark, table, tmp_path):
    table.delete("id = 5")  # no capture -> invisible to the feed
    q = (
        spark.readStream.format("icedb")
        .option("path", table.path)
        .option("feed", "changes")
        .load()
        .writeStream.format("memory").queryName("ice_cdc_stream2")
        .option("checkpointLocation", str(tmp_path / "ck3"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("select distinct _change_type from ice_cdc_stream2")
    assert {r[0] for r in got.collect()} == {"insert"}


def test_batch_read_at_tag(spark, table, tmp_path):
    table.tag("cut")
    table.insert([{"id": 200, "bucket": "z", "v": 1.0}])
    full = spark.read.format("icedb").option("path", table.path).load()
    tagged = (
        spark.read.format("icedb")
        .option("path", table.path)
        .option("tag", "cut")
        .load()
    )
    assert full.count() == 21 and tagged.count() == 20
    with pytest.raises(Exception, match="no such tag"):
        spark.read.format("icedb").option("path", table.path).option(
            "tag", "nope"
        ).load().count()


def test_writer_appends_with_atomic_commit(spark, table):
    df = spark.createDataFrame(
        [(1000, "a", 1.5), (1001, "z", 2.5)], "id long, bucket string, v double"
    )
    logs_before = len(table.snapshot().log_files)
    part_col = table.partition_spec.partition_column(df)
    (
        df.withColumn("_partition", part_col)
        .write.format("icedb").mode("append")
        .option("path", table.path).save()
    )
    # one atomic log append; rows visible to the engine's own read path
    assert len(table.snapshot().log_files) == logs_before + 1
    assert table.read().count() == 22
    got = table.read().where("id >= 1000")
    assert {r["bucket"] for r in got.collect()} == {"a", "z"}
    # placement honored the partition column
    parts = {m.partition() for m in table.snapshot().alive_files()}
    assert "bucket=a" in parts and "bucket=z" in parts
    # the engine can compact datasource-written files like any others
    while table.merge(max_file_size=1 << 40, max_file_count=100):
        pass
    assert table.read().count() == 22


def test_writer_without_partition_column_lands_in_root(spark, tmp_path):
    d = str(tmp_path / "flat")
    import os

    os.makedirs(d)
    df = spark.createDataFrame([(1, "x")], "id long, s string")
    df.write.format("icedb").mode("append").option("path", d).save()
    got = spark.read.format("icedb").option("path", d).load()
    assert got.count() == 1 and got.collect()[0]["s"] == "x"


def test_writer_honors_persisted_layout(spark, tmp_path):
    from icedb_spark import IceTable, PartitionField, PartitionSpec

    t = IceTable(
        spark, str(tmp_path / "lay"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"], stats_columns=["id"],
    )
    t.insert(rows=[{"id": 5, "kind": "a"}])
    df = spark.createDataFrame(
        [(9, "a"), (2, "a")], "id long, kind string"
    ).withColumn("_partition", F.lit("k=a"))
    df.write.format("icedb").mode("append").option("path", t.path).save()
    # zone maps captured per spec.json -> range pruning works on new file
    files = t.files_for(column_ranges={"id": (8, 20)})
    assert len(files) == 1
    assert t.read().count() == 3


def test_writer_rejects_overwrite(spark, table):
    df = spark.createDataFrame([(1, "a", 0.0)], "id long, bucket string, v double")
    with pytest.raises(Exception, match="append"):
        df.write.format("icedb").mode("overwrite").option(
            "path", table.path
        ).save()


def test_stream_writer_sinks_microbatches_exactly_once(spark, tmp_path):
    from icedb_spark import IceTable, PartitionField, PartitionSpec

    try:
        spark.dataSource.register(IceDataSource)
    except Exception:
        pass
    t = IceTable(
        spark, str(tmp_path / "sink"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )
    src = str(tmp_path / "src")
    ck = str(tmp_path / "ck-sink")
    import os

    os.makedirs(src)
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "id long, kind string"
    ).write.parquet(src + "/b1")
    stream = (
        spark.readStream.schema("id long, kind string")
        .parquet(src + "/*")
        .withColumn("_partition", F.concat(F.lit("k="), F.col("kind")))
    )
    q = (
        stream.writeStream.format("icedb")
        .option("path", t.path)
        .option("checkpointLocation", ck)
        .option("stream_id", "sinktest")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    assert t.read().count() == 2
    parts = {m.partition() for m in t.snapshot().alive_files()}
    assert parts == {"k=a", "k=b"}
    # commit tag rides in the log name -> a re-delivered batch is a no-op
    tagged = [
        k for k, _ in t.log_io.get_current_log_files(t.log_storage)
        if "wsinktestb0" in k
    ]
    assert len(tagged) == 1
    # second batch through the SAME checkpoint appends batch 1
    spark.createDataFrame(
        [(3, "a")], "id long, kind string"
    ).write.parquet(src + "/b2")
    q2 = (
        stream.writeStream.format("icedb")
        .option("path", t.path)
        .option("checkpointLocation", ck)
        .option("stream_id", "sinktest")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    assert t.read().count() == 3


def test_streaming_pipeline_source_to_sink_by_format_name(spark, tmp_path):
    """End-to-end: table A --readStream('icedb')--> transform
    --writeStream('icedb')--> table B, no engine imports on the pipeline
    path. B must hold exactly A's transformed rows, incrementally across
    two source commits through one checkpoint."""
    from icedb_spark import IceTable, PartitionField, PartitionSpec

    try:
        spark.dataSource.register(IceDataSource)
    except Exception:
        pass
    a = IceTable(
        spark, str(tmp_path / "src-t"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )
    b = IceTable(
        spark, str(tmp_path / "dst-t"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )
    ck = str(tmp_path / "ck-pipe")

    def run_once():
        stream = (
            spark.readStream.format("icedb").option("path", a.path).load()
            .where("v >= 0")
            .withColumn("v2", F.col("v") * 2)
            .withColumn("_partition", F.concat(F.lit("k="), F.col("kind")))
        )
        q = (
            stream.writeStream.format("icedb")
            .option("path", b.path)
            .option("checkpointLocation", ck)
            .option("stream_id", "pipe")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    a.insert(rows=[{"id": 1, "kind": "x", "v": 1.0},
                   {"id": 2, "kind": "y", "v": -1.0}])
    run_once()
    assert {(r["id"], r["v2"]) for r in b.read().collect()} == {(1, 2.0)}
    a.insert(rows=[{"id": 3, "kind": "x", "v": 3.0}])
    run_once()
    assert {(r["id"], r["v2"]) for r in b.read().collect()} == {
        (1, 2.0), (3, 6.0),
    }
    parts = {m.partition() for m in b.snapshot().alive_files()}
    assert parts == {"k=x"}

def test_writer_keeps_partition_column_when_spec_preserves(spark, tmp_path):
    """ADVICE r3: a table built with preserve_partition=True keeps
    `_partition` as a DATA column; the DataSource writer must honor the
    persisted flag instead of always dropping it (files written without it
    would scan as NULL)."""
    from icedb_spark import IceTable, PartitionField, PartitionSpec

    t = IceTable(
        spark, str(tmp_path / "pp"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"], preserve_partition=True,
    )
    t.insert(rows=[{"id": 1, "kind": "a", "_partition": "k=a"}])
    df = spark.createDataFrame(
        [(2, "a")], "id long, kind string"
    ).withColumn("_partition", F.lit("k=a"))
    df.write.format("icedb").mode("append").option("path", t.path).save()
    got = t.read().orderBy("id").collect()
    assert [r["_partition"] for r in got] == ["k=a", "k=a"]
    # placement still honored the value
    assert {m.partition() for m in t.snapshot().alive_files()} == {"k=a"}

@pytest.mark.parametrize("damage", ["truncated", "directory"])
def test_writer_fails_on_unreadable_spec(spark, tmp_path, damage):
    """The writer may treat a table as spec-less only when
    ``_meta/spec.json`` is absent. A torn or unreadable spec (here a
    truncated document, or a directory in its place: an OSError even as
    root) must fail the save and commit nothing — read as spec-less, a
    preserve_partition table would get files without `_partition`, and
    sort order, zone maps and Blooms would be dropped."""
    import os
    import shutil

    from icedb_spark import Storage

    try:
        spark.dataSource.register(IceDataSource)
    except Exception:
        pass  # already registered in this session
    t = IceTable(
        spark, str(tmp_path / "pp"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"], preserve_partition=True,
    )
    t.insert(rows=[{"id": 1, "kind": "a", "_partition": "k=a"}])
    spec = os.path.join(t.path, "_meta", "spec.json")
    if damage == "truncated":
        with open(spec, "rb") as f:
            head = f.read()[:20]
        with open(spec, "wb") as f:
            f.write(head)
    else:
        os.remove(spec)
        os.makedirs(spec)
    logs = Storage(t.path).list("_log")
    df = spark.createDataFrame(
        [(2, "a")], "id long, kind string"
    ).withColumn("_partition", F.lit("k=a"))
    with pytest.raises(Exception, match="JSONDecodeError|Is a directory"):
        df.write.format("icedb").mode("append").option(
            "path", t.path
        ).save()
    assert Storage(t.path).list("_log") == logs
    if damage == "directory":
        shutil.rmtree(spec)


def test_streaming_source_rate_limits_commits_per_batch(spark, tmp_path):
    """max_commits_per_batch=1: a stream facing a 4-commit backlog drains
    it one commit per micro-batch (bounded chunks, the maxFilesPerTrigger
    analog) instead of one giant batch — offsets stay exact, so nothing
    is lost or duplicated."""
    import time as _time

    from icedb_spark import IceTable, PartitionField, PartitionSpec

    t = IceTable(
        spark, str(tmp_path / "rl"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )
    for i in range(4):
        t.insert(rows=[
            {"id": 2 * i, "kind": "a"}, {"id": 2 * i + 1, "kind": "a"},
        ])
    try:
        spark.dataSource.register(IceDataSource)
    except Exception:
        pass
    batches: list[int] = []
    q = (
        spark.readStream.format("icedb")
        .option("path", t.path)
        .option("max_commits_per_batch", "1")
        .load()
        .writeStream.foreachBatch(lambda df, bid: batches.append(df.count()))
        .option("checkpointLocation", str(tmp_path / "ck_rl"))
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    deadline = _time.time() + 120
    while sum(batches) < 8 and _time.time() < deadline:
        _time.sleep(0.5)
    q.stop()
    nonempty = [b for b in batches if b]
    assert sum(batches) == 8          # nothing lost, nothing duplicated
    assert len(nonempty) == 4         # one commit per micro-batch...
    assert max(nonempty) == 2         # ...never more than one commit's rows


def test_streaming_rate_limit_survives_restart_without_duplication(
    spark, tmp_path
):
    """Stop a capped stream mid-backlog and restart on the same
    checkpoint: every commit's rows arrive exactly once. Guards the
    restart contract the cap relies on — Spark re-plans the checkpointed
    batch (partitions) before its first latestOffset, so the cap's floor
    can never regress behind the checkpoint and re-emit the span."""
    import time as _time

    from icedb_spark import IceTable, PartitionField, PartitionSpec

    t = IceTable(
        spark, str(tmp_path / "rr"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )
    for i in range(4):
        t.insert(rows=[{"id": i, "kind": "a"}])
    try:
        spark.dataSource.register(IceDataSource)
    except Exception:
        pass
    # keyed by batch id: a replay of an uncommitted batch reuses its id
    # (legal at-least-once) and overwrites; the BUG under test would
    # re-emit already-committed rows under NEW ids and show up as
    # duplicates across batches
    seen: dict[int, list[int]] = {}

    def total():
        return sum(len(v) for v in seen.values())

    def run(target_total, deadline_s=120):
        q = (
            spark.readStream.format("icedb")
            .option("path", t.path)
            .option("max_commits_per_batch", "1")
            .load()
            .writeStream.foreachBatch(
                lambda df, bid: seen.__setitem__(
                    bid, [r["id"] for r in df.collect()]
                )
            )
            .option("checkpointLocation", str(tmp_path / "ck_rr"))
            .trigger(processingTime="300 milliseconds")
            .start()
        )
        deadline = _time.time() + deadline_s
        while total() < target_total and _time.time() < deadline:
            _time.sleep(0.5)
        q.stop()

    run(2)                      # stop mid-backlog
    assert total() >= 2
    for i in range(4, 6):       # more commits land while the stream is down
        t.insert(rows=[{"id": i, "kind": "a"}])
    run(6)                      # restart on the same checkpoint
    flat = sorted(x for v in seen.values() for x in v)
    assert flat == list(range(6))   # exactly once, in full


def test_read_conformed_projects_and_pushes_filters(tmp_path, monkeypatch):
    """VERDICT r5 #2 plumbing: the fallback reader projects the parquet
    read to the target schema's columns and threads the pushed filter
    conjuncts into the pyarrow scan (row groups whose stats exclude them
    are skipped)."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StructField, StructType

    from icedb_spark import datasource as dsmod

    p = str(tmp_path / "wide.parquet")
    pq.write_table(
        pa.table(
            {
                "a": list(range(100)),
                "b": [f"s{i}" for i in range(100)],
                "c": [float(i) for i in range(100)],
            }
        ),
        p,
        row_group_size=10,
    )
    calls = []
    real = dsmod._read_projected

    def spy(source, fs, columns, filters, shard=None):
        calls.append((columns, filters))
        return real(source, fs, columns, filters, shard)

    monkeypatch.setattr(dsmod, "_read_projected", spy)
    schema = StructType([StructField("a", LongType())])
    spec = {"ranges": {"a": (20, 29)}, "equals": {}, "in": {}}
    batches = list(dsmod._read_conformed(p, schema, filters=spec))
    assert calls == [(["a"], spec)]
    vals = [v for b in batches for v in b.column("a").to_pylist()]
    assert vals == list(range(20, 30))  # filter applied at the scan
    # absent-column conjuncts and no-filter reads stay whole-file
    calls.clear()
    spec2 = {"equals": {"nope": 5}, "ranges": {}, "in": {}}
    batches = list(dsmod._read_conformed(p, schema, filters=spec2))
    vals = [v for b in batches for v in b.column("a").to_pylist()]
    assert vals == list(range(100))


def test_pushdown_reader_threads_filters_to_scan(spark, tmp_path):
    """The pushdown reader's captured conjuncts reach the executor-side
    pyarrow scan: read(partition) yields only matching rows (Spark would
    re-apply the full predicate on top — the scan-level filter is a
    correctness-invisible skip)."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThan

    from icedb_spark import IceTable, PartitionField, PartitionSpec

    root = str(tmp_path / "pd")
    t = IceTable(
        spark,
        root,
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )
    t.insert(
        rows=[{"id": i, "kind": "a" if i % 2 else "b", "v": i * 1.0}
              for i in range(50)]
    )
    schema = t.spark_schema()
    r = _IcePushdownReader(schema, {"path": root})
    unsupported = list(
        r.pushFilters(
            [
                GreaterThanOrEqual(("id",), 10),
                LessThan(("id",), 20),
                EqualTo(("kind",), "a"),
            ]
        )
    )
    assert len(unsupported) == 3  # hint-not-filter: all re-applied
    # LessThan maps onto the hi bound conservatively (applied as <= at
    # the scan — strictness is restored by Spark's re-applied predicate)
    assert r._pushed_spec() == {
        "ranges": {"id": (10, 20)},
        "equals": {"kind": "a"},
        "in": {},
    }
    got = sorted(
        v
        for part in r.partitions()
        for b in r.read(part)
        for v in b.column("id").to_pylist()
    )
    assert got == [11, 13, 15, 17, 19]


def test_table_read_columns_projection(spark, tmp_path):
    """IceTable.read(columns=...) returns just those columns (schema
    order), raises on unknown names, and composes with merge-on-read
    delete sets (predicate applied on the full-width scan, THEN
    projected)."""
    import pytest as _pytest

    from icedb_spark import IceTable, PartitionField, PartitionSpec

    root = str(tmp_path / "proj")
    t = IceTable(
        spark,
        root,
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )
    t.insert(rows=[{"id": i, "kind": "a", "v": float(i)} for i in range(10)])
    narrow = t.read(columns=["id"])
    assert narrow.columns == ["id"]
    assert sorted(r["id"] for r in narrow.collect()) == list(range(10))
    with _pytest.raises(ValueError, match="not in table schema"):
        t.read(columns=["id", "nope"])
    # MOR: the delete predicate references a column OUTSIDE the projection
    t.delete_where("v >= 5.0")
    narrow = t.read(columns=["id"])
    assert narrow.columns == ["id"]
    assert sorted(r["id"] for r in narrow.collect()) == [0, 1, 2, 3, 4]


def test_table_read_rejects_empty_projection(spark, tmp_path):
    """columns=[] must raise: a zero-column Arrow scan would lose row
    counts at pa.Table.from_arrays, silently breaking count queries."""
    import pytest as _pytest

    from icedb_spark import IceTable, PartitionField, PartitionSpec

    t = IceTable(
        spark,
        str(tmp_path / "ep"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
    )
    t.insert(rows=[{"id": 1, "kind": "a"}])
    with _pytest.raises(ValueError, match="columns"):
        t.read(columns=[])


# ------------------------------------------------- row-group shard scans


def test_file_shards_planning():
    """Shard plan from byte size alone: small/unknown files stay one
    task; a file N× the split size fans out into ceil(N) shards, capped."""
    from icedb_spark.datasource import _MAX_SHARDS_PER_FILE, _file_shards

    assert _file_shards(None, 1024) == [None]
    assert _file_shards(0, 1024) == [None]
    assert _file_shards(1024, 1024) == [None]
    assert _file_shards(1025, 1024) == [(0, 2), (1, 2)]
    assert _file_shards(10 * 1024, 1024) == [(i, 10) for i in range(10)]
    assert len(_file_shards(10**12, 1024)) == _MAX_SHARDS_PER_FILE


def test_read_conformed_shards_partition_one_file(tmp_path):
    """Shards of one multi-row-group file are disjoint, cover the file
    exactly, and a shard index past the row-group count reads nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StructField, StructType

    from icedb_spark.datasource import _read_conformed

    p = str(tmp_path / "big.parquet")
    pq.write_table(
        pa.table({"a": list(range(100))}), p, row_group_size=10
    )
    schema = StructType([StructField("a", LongType())])

    def rows(shard):
        return [
            v
            for b in _read_conformed(p, schema, shard=shard)
            for v in b.column("a").to_pylist()
        ]

    got = []
    for i in range(4):
        part = rows((i, 4))
        assert part == sorted(part)
        got.extend(part)
    assert got == list(range(100))  # disjoint cover, order preserved
    # 10 row groups over 16 shards: the empty slices yield zero rows
    got16 = [v for i in range(16) for v in rows((i, 16))]
    assert got16 == list(range(100))
    # shard-level reads still honor pushed filters on non-float columns
    spec = {"ranges": {"a": (35, 44)}, "equals": {}, "in": {}}
    filtered = [
        v
        for i in range(4)
        for b in _read_conformed(p, schema, filters=spec, shard=(i, 4))
        for v in b.column("a").to_pylist()
    ]
    assert filtered == list(range(35, 45))


def test_scan_paths_shards_large_file(spark, tmp_path, monkeypatch):
    """IceTable's pyarrow fallback scan fans one large file out across
    >1 task when the marker's byte size exceeds maxPartitionBytes
    (VERDICT r6 #5) — and still returns every row exactly once."""
    from icedb_spark import IceTable, PartitionField, PartitionSpec

    t = IceTable(
        spark,
        str(tmp_path / "sh"),
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
        row_group_size=50,
    )
    t.insert(rows=[{"id": i, "kind": "a"} for i in range(1000)])
    # force the arrow fallback by presenting the file under a scheme the
    # "JVM" refuses, and shrink the split size so the single ~kB file
    # plans as multiple row-group shards
    m = t.snapshot().alive_files()[0]
    monkeypatch.setattr(
        IceTable, "_jvm_reads_scheme", lambda self, scheme: False
    )
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        from icedb_spark.datasource import _file_shards

        shards = _file_shards(m.file_bytes, 1024)
        assert len(shards) > 1  # the planning itself fans out
        df = t._scan_paths(
            ["file://" + t.storage.absolute(m.path)],
            t.spark_schema(),
            sizes=[m.file_bytes],
        )
        assert sorted(r["id"] for r in df.collect()) == list(range(1000))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", "134217728")


def test_float_filter_conjuncts_not_pushed(tmp_path):
    """ADVICE r6: pyarrow IEEE NaN semantics differ from Spark's (NaN is
    greater than every value, NaN=NaN), so pushed conjuncts on FLOAT
    columns must be skipped at the pyarrow scan — NaN rows survive to
    Spark's re-applied predicate. Non-float conjuncts still prune."""
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from icedb_spark.datasource import _read_conformed

    p = str(tmp_path / "nan.parquet")
    pq.write_table(
        pa.table(
            {
                "a": [1, 2, 3, 4],
                "x": [1.0, 2.0, float("nan"), 4.0],
            }
        ),
        p,
        row_group_size=1,
    )
    schema = StructType(
        [StructField("a", LongType()), StructField("x", DoubleType())]
    )
    # a range conjunct on the float column is NOT applied: all rows come
    # back, NaN included (Spark's x >= 2.0 would KEEP the NaN row)
    spec = {"ranges": {"x": (2.0, None)}, "equals": {}, "in": {}}
    vals = [
        (va, vx)
        for b in _read_conformed(p, schema, filters=spec)
        for va, vx in zip(
            b.column("a").to_pylist(), b.column("x").to_pylist()
        )
    ]
    assert [v[0] for v in vals] == [1, 2, 3, 4]
    assert any(vx is not None and math.isnan(vx) for _, vx in vals)
    # ...while the same-shaped conjunct on the int column still prunes
    spec2 = {"ranges": {"a": (2, None)}, "equals": {}, "in": {}}
    vals2 = [
        v
        for b in _read_conformed(p, schema, filters=spec2)
        for v in b.column("a").to_pylist()
    ]
    assert vals2 == [2, 3, 4]


def test_datasource_scan_shards_by_split_bytes(spark, tmp_path):
    """format('icedb') with a small split_bytes option plans more input
    partitions than alive files, and the scan stays value-correct."""
    from icedb_spark import IceTable, PartitionField, PartitionSpec
    from icedb_spark.datasource import _IceReader

    try:
        spark.dataSource.register(IceDataSource)
    except Exception:
        pass  # already registered in this session
    root = str(tmp_path / "dsh")
    t = IceTable(
        spark,
        root,
        partition_spec=PartitionSpec(fields=[PartitionField("k", "kind")]),
        sort_order=["id"],
        row_group_size=50,
    )
    t.insert(rows=[{"id": i, "kind": "a"} for i in range(1000)])
    reader = _IceReader(
        t.spark_schema(), {"path": root, "split_bytes": "1024"}
    )
    parts = reader.partitions()
    assert len(parts) > len(t.snapshot().alive_files())
    df = (
        spark.read.format("icedb")
        .option("path", root)
        .option("split_bytes", "1024")
        .load()
    )
    assert sorted(r["id"] for r in df.collect()) == list(range(1000))
