"""The one data-write path, ``IceTable._write_groups``.

Every write (insert, merge, GDPR rewrite, DML rewrite) either collects to
one Arrow table and runs the group writer on the driver, or runs the same
writer in a ``groupBy(...).applyInArrow`` job; the ``format("icedb")``
writer runs it on executors. A plain merge reads its sources on the
driver with pyarrow instead of collecting, and starts no Spark job. These
tests pin that the paths are interchangeable — identical read-back
values, marker stats (zone maps and Blooms) and Parquet physical schema —
that every write API goes through the one helper, which merges stay on
Spark, and that the local path falls back only on the failure it exists
for: a collect, or a merge's driver-side read, that outgrows
``spark.driver.maxResultSize``.
"""

from __future__ import annotations

import json
import logging
import os
import subprocess
import sys
import textwrap
import threading

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from icedb_spark import IceTable
from icedb_spark import table as table_mod
from write_helpers import (
    collect_sorted,
    count_local_writes,
    force_distributed,
    force_two_job_dml,
    make,
    result_size_error,
    ts_rows,
)


def _drain_merge(t):
    merged = []
    while True:
        res = t.merge(max_file_size=1 << 40, max_file_count=100)
        if res is None:
            return merged
        merged.append(res)


def _two_insert_table(spark, tmp_path, name, **kw):
    t = make(spark, tmp_path, name, bloom_columns=["event_type"], **kw)
    rows = ts_rows()
    t.insert(rows=rows[:30])
    t.insert(rows=rows[30:])
    return t


def _two_job_delete(t, where):
    with pytest.MonkeyPatch.context() as mp:
        force_two_job_dml(mp)
        return t.delete(where)


def _first_partition(t):
    return sorted(m.partition() for m in t.snapshot().alive_files())[0]


def _format_append(spark, t, df):
    from icedb_spark.datasource import IceDataSource

    try:
        spark.dataSource.register(IceDataSource)
    except Exception:
        pass  # already registered in this session
    (
        df.withColumn("_partition", t.partition_spec.partition_column(df))
        .coalesce(1)  # one writer task: one file per partition, like insert
        .write.format("icedb").mode("append").option("path", t.path).save()
    )


# Each case: (set-up, write under test). The write runs once on the local
# path and once on the other one; ``format_append`` compares the
# DataSource writer against a driver-local insert of the same batch.
def _setup_empty(spark, tmp_path, name):
    return make(spark, tmp_path, name, bloom_columns=["event_type"])


def _scan_batch(spark, tmp_path):
    src = make(spark, tmp_path, "src")
    src.insert(rows=ts_rows())
    return src.read()  # a Parquet scan: estimable, tiny


def _wide_table(spark, tmp_path, name):
    """Two inserts over temporal, decimal and nested columns (with nulls),
    zone-mapped and Bloom-indexed; the second adds a column, so the first
    file lacks it and a merge null-seeds it."""
    t = make(
        spark, tmp_path, name,
        stats_columns=["event_id", "ts", "d", "amt", "event_type"],
        bloom_columns=["event_type", "event_id"],
    )

    def batch(lo, hi):
        return spark.range(lo, hi).selectExpr(
            "id as event_id",
            "timestamp_seconds(1672531200 + (id % 30) * 259200 + id)"
            " as ts",
            "case when id % 2 = 0 then 'a' else 'b' end as event_type",
            "id + 0.25 as value",
            "date_add(date'2023-01-01', cast(id as int)) as d",
            "cast(id * 1.5 as decimal(12,2)) as amt",
            "case when id % 5 = 0 then null"
            " else array(cast(id as string), 'x') end as tags",
            "map('k', cast(id as int), 'n', null) as attrs",
            "case when id % 7 = 0 then null else named_struct("
            "'a', cast(nullif(id, 3) as int),"
            " 'b', nullif(cast(id as string), '4')) end as s",
        )

    t.insert(df=batch(0, 30))
    t.insert(df=batch(30, 60).withColumn("extra", F.concat(
        F.lit("e"), F.col("event_id").cast("string"))))
    return t


CASES = {
    "insert_rows": (
        _setup_empty, lambda spark, tmp, t, local: t.insert(rows=ts_rows())
    ),
    "insert_scan": (
        _setup_empty,
        lambda spark, tmp, t, local: t.insert(df=_scan_batch(spark, tmp)),
    ),
    "merge": (_two_insert_table, lambda spark, tmp, t, local: _drain_merge(t)),
    "merge_wide": (_wide_table, lambda spark, tmp, t, local: _drain_merge(t)),
    "rewrite_partition": (
        _two_insert_table,
        lambda spark, tmp, t, local: t.rewrite_partition(
            _first_partition(t), "select * from _rows where event_id % 5 != 0"
        ),
    ),
    "delete": (
        _two_insert_table,
        lambda spark, tmp, t, local: t.delete("event_type = 'a' and value > 10"),
    ),
    "update": (
        _two_insert_table,
        lambda spark, tmp, t, local: t.update(
            {"value": "value * 2", "ts": "ts + interval 40 days"},
            where="event_id % 4 = 0",
        ),
    ),
    "format_append": (
        _setup_empty,
        lambda spark, tmp, t, local: (
            t.insert(df=_scan_batch(spark, tmp))
            if local
            else _format_append(spark, t, _scan_batch(spark, tmp))
        ),
    ),
}


def _fingerprint(t):
    """Alive files as (partition, stats, physical schema), sorted."""
    return sorted(
        (
            m.partition(),
            json.dumps(m.stats, sort_keys=True),
            str(pq.read_schema(t.storage.absolute(m.path))),
        )
        for m in t.snapshot().alive_files()
    )


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_equals_distributed(spark, tmp_path, monkeypatch, case):
    setup, write = CASES[case]
    tables = {}
    for local in (True, False):
        t = setup(spark, tmp_path / case, "local" if local else "other")
        with monkeypatch.context() as mp:
            calls = count_local_writes(mp)
            if not local:
                force_distributed(mp)
            write(spark, tmp_path / case / ("l" if local else "o"), t, local)
        if local:
            assert calls, f"{case}: the local run must write driver-side"
        else:
            assert not calls, f"{case}: the other run must not write driver-side"
        tables[local] = t
    fast, slow = tables[True], tables[False]
    assert _fingerprint(fast) == _fingerprint(slow)
    assert collect_sorted(fast) == collect_sorted(slow)


def _count_distributed_writes(monkeypatch, spark) -> list:
    """Record every ``applyInArrow`` group write (the distributed writer)
    in the returned list."""
    calls: list = []
    grouped = type(spark.range(1).groupBy("id"))
    orig = grouped.applyInArrow

    def spy(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(grouped, "applyInArrow", spy)
    return calls


def test_local_merge_falls_back_on_collect_failure(
    spark, tmp_path, monkeypatch, caplog
):
    """A plain merge whose sources decode past spark.driver.maxResultSize
    drops its driver-side read, logs one WARNING per merged partition and
    writes on the distributed writer; the markers equal a plain run's."""
    plain = _two_insert_table(spark, tmp_path, "plain")
    _drain_merge(plain)
    t = _two_insert_table(spark, tmp_path, "fb")
    monkeypatch.setattr(table_mod, "_result_size_limit", lambda spark: 1)
    local = count_local_writes(monkeypatch)
    distributed = _count_distributed_writes(monkeypatch, spark)
    with caplog.at_level(logging.WARNING, logger="icedb_spark.table"):
        merged = _drain_merge(t)
    assert merged, "merge must still happen via the distributed writer"
    assert not local
    assert len(distributed) == len(merged)
    warned = [r for r in caplog.records if "maxResultSize" in r.getMessage()]
    assert len(warned) == len(merged)
    assert all(
        "driver-local merge of" in r.getMessage()
        and "exceeded spark.driver.maxResultSize; using the distributed writer"
        in r.getMessage()
        for r in warned
    )
    for _log, _marker, part, _acc in merged:
        assert sum(f"partition {part!r}" in r.getMessage() for r in warned) == 1
    assert _fingerprint(t) == _fingerprint(plain)
    assert collect_sorted(t) == collect_sorted(plain)


def test_spark_side_merge_falls_back_on_collect_failure(
    spark, tmp_path, monkeypatch, caplog
):
    """A Spark-side merge (here: custom merge SQL) still collects; a
    collect that outgrows spark.driver.maxResultSize falls back to the
    distributed writer, logs one WARNING carrying the exception, and still
    produces the merged file."""
    t = _two_insert_table(
        spark, tmp_path, "sql", custom_merge_query="select * from source_files"
    )
    err = result_size_error(spark)

    def boom(self):
        raise err

    monkeypatch.setattr(type(spark.range(1)), "toArrow", boom)
    with caplog.at_level(logging.WARNING, logger="icedb_spark.table"):
        merged = _drain_merge(t)
    assert merged, "merge must still happen via the distributed writer"
    by_part = {}
    for m in t.snapshot().alive_files():
        by_part[m.partition()] = by_part.get(m.partition(), 0) + 1
    assert all(n == 1 for n in by_part.values())
    warned = [r for r in caplog.records if "maxResultSize" in r.getMessage()]
    assert len(warned) == len(merged)
    assert all(r.exc_info and r.exc_info[1] is err for r in warned)


@pytest.mark.parametrize("op", ["insert", "merge"])
def test_other_local_write_failure_propagates(spark, tmp_path, monkeypatch, op):
    """Any failure but the result-size one is a real error: it propagates
    and nothing is committed (the distributed writer would hit the same
    Arrow conversion or read error, so a fallback could only hide it).
    An insert fails in its collect; a plain merge in its driver-side
    read of the sources."""
    from icedb_spark import datasource

    t = _two_insert_table(spark, tmp_path, op)
    before = t.snapshot()

    def boom(*a, **kw):
        raise RuntimeError("simulated Arrow conversion failure")

    if op == "insert":
        monkeypatch.setattr(type(spark.range(1)), "toArrow", boom)
    else:
        monkeypatch.setattr(datasource, "_read_conformed", boom)
    with pytest.raises(RuntimeError, match="simulated"):
        if op == "insert":
            t.insert(rows=ts_rows(6))
        else:
            t.merge(max_file_size=1 << 40, max_file_count=100)
    after = t.snapshot()
    assert after.log_files == before.log_files
    assert {m.path for m in after.alive_files()} == {
        m.path for m in before.alive_files()
    }


def test_every_write_api_routes_through_write_groups(spark, tmp_path, monkeypatch):
    """Every write API reaches ``_write_groups``, and no group writer is
    built on the driver outside it — a copy-pasted write path fails here."""
    state = threading.local()
    calls = []
    orig_write = IceTable._write_groups
    orig_make = table_mod._make_group_writer

    def write_groups(self, *a, **kw):
        calls.append(1)
        state.depth = getattr(state, "depth", 0) + 1
        try:
            return orig_write(self, *a, **kw)
        finally:
            state.depth -= 1

    def make_group_writer(*a, **kw):
        assert getattr(state, "depth", 0), "group writer built outside _write_groups"
        return orig_make(*a, **kw)

    monkeypatch.setattr(IceTable, "_write_groups", write_groups)
    monkeypatch.setattr(table_mod, "_make_group_writer", make_group_writer)

    t = make(spark, tmp_path, "all")
    rows = ts_rows()
    src = spark.createDataFrame(
        [(1, 100.5), (1000, 7.0)], "event_id long, value double"
    ).withColumn("ts", F.lit("2023-02-03").cast("timestamp")).withColumn(
        "event_type", F.lit("b")
    )
    ops = [
        ("insert", lambda: t.insert(rows=rows[:30])),
        ("insert", lambda: t.insert(rows=rows[30:])),
        ("merge", lambda: t.merge(max_file_size=1 << 40, max_file_count=100)),
        ("insert", lambda: t.insert(rows=rows)),
        ("merge_all", lambda: t.merge_all(max_file_size=1 << 40, max_file_count=100)),
        ("rewrite_partition", lambda: t.rewrite_partition(
            _first_partition(t), "select * from _rows where event_id != 3")),
        ("delete", lambda: t.delete("event_id = 6")),
        ("delete", lambda: _two_job_delete(t, "event_id = 9")),
        ("update", lambda: t.update({"value": "value + 1"}, where="event_id = 12")),
        ("merge_into", lambda: t.merge_into(src, on="event_id")),
        ("apply_deletes", lambda: (t.delete_where("event_id = 15"), t.apply_deletes())),
    ]
    for name, op in ops:
        n = len(calls)
        op()
        assert len(calls) > n, f"{name} did not write through _write_groups"


def test_compressible_merge_falls_back_under_tiny_max_result_size(spark, tmp_path):
    """End to end, with the real failure: a merge whose input is a few KB
    of Parquet on disk (under the 32 MB ceiling) but decodes past a 1 MB
    spark.driver.maxResultSize must complete on the distributed writer,
    with markers identical to a run under the default limit."""
    script = textwrap.dedent(
        """
        import json, sys
        import pyarrow as pa
        from pyspark.sql import SparkSession, functions as F
        from icedb_spark import IceTable, PartitionField, PartitionSpec

        root, limit = sys.argv[1], sys.argv[2]
        spark = (
            SparkSession.builder.master("local[2]")
            .config("spark.ui.enabled", "false")
            .config("spark.sql.shuffle.partitions", "2")
            .config("spark.driver.maxResultSize", limit)
            .getOrCreate()
        )
        spark.sparkContext.setLogLevel("OFF")
        t = IceTable(
            spark, root,
            partition_spec=PartitionSpec(fields=[PartitionField("p", "'all'")]),
            sort_order=["id"],
        )
        n = 12_000
        for i in range(2):  # under the tiny limit these fall back too
            t.insert(df=spark.range(i * n, (i + 1) * n).withColumn(
                "s", F.lit("z" * 200)))
        src = sum(m.file_bytes for m in t.snapshot().alive_files())
        assert t.merge(max_file_size=1 << 40, max_file_count=100)
        (m,) = t.snapshot().alive_files()
        agg = t.read().agg(F.count("*"), F.sum("id"), F.sum(F.length("s")))
        print(json.dumps({"src_bytes": src, "stats": m.stats,
                          "file_bytes": m.file_bytes,
                          "agg": list(agg.first())}))
        spark.stop()
        """
    )
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(
        [os.path.dirname(os.path.dirname(os.path.abspath(table_mod.__file__)))]
        + [p for p in [env.get("PYTHONPATH")] if p]
    )
    out = {}
    for limit in ("1m", "1g"):
        proc = subprocess.run(
            [sys.executable, "-c", script, str(tmp_path / limit), limit],
            capture_output=True, text=True, env=env, timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        out[limit] = (json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr)
    tiny, plain = out["1m"][0], out["1g"][0]
    assert tiny["src_bytes"] < 1 << 20 < 2 * 12_000 * 200  # compressible
    assert "exceeded spark.driver.maxResultSize" in out["1m"][1]
    assert "exceeded spark.driver.maxResultSize" not in out["1g"][1]
    # the merge's own fallback, not only the inserts'
    assert "driver-local merge of" in out["1m"][1]
    assert tiny["stats"] == plain["stats"]
    assert tiny["file_bytes"] == plain["file_bytes"]
    assert tiny["agg"] == plain["agg"] == [24_000, sum(range(24_000)), 24_000 * 200]


def _four_partition_table(spark, tmp_path, name, **kw):
    """Two inserts over four monthly partitions: two files in each."""
    t = make(spark, tmp_path, name, **kw)
    rows = [
        dict(r, ts=r["ts"].replace(month=1 + r["event_id"] % 4))
        for r in ts_rows(80)
    ]
    t.insert(rows=rows[:40])
    t.insert(rows=rows[40:])
    return t


def _job_ids(spark) -> set:
    return set(spark.sparkContext.statusTracker().getJobIdsForGroup(None))


def test_plain_merge_all_starts_no_spark_job(spark, tmp_path):
    """A plain compaction pass reads its sources on the driver: merging
    four small partitions starts no Spark job."""
    t = _four_partition_table(spark, tmp_path, "nojob")
    before = _job_ids(spark)
    res = t.merge_all(max_file_size=1 << 40, max_file_count=100)
    assert res is not None and len(res[1]) == 4
    assert _job_ids(spark) - before == set()
    assert len(t.snapshot().alive_files()) == 4
    assert len(collect_sorted(t)) == 80


def _merge_path_spies(monkeypatch) -> dict:
    """Count the driver-side source reads and the Spark-side merge
    DataFrames built by merges until the monkeypatch is undone."""
    calls = {"arrow": 0, "spark": 0}
    orig_read = IceTable._read_merge_sources
    orig_df = IceTable._merge_dataframe

    def read(self, *a, **kw):
        calls["arrow"] += 1
        return orig_read(self, *a, **kw)

    def build(self, *a, **kw):
        calls["spark"] += 1
        return orig_df(self, *a, **kw)

    monkeypatch.setattr(IceTable, "_read_merge_sources", read)
    monkeypatch.setattr(IceTable, "_merge_dataframe", build)
    return calls


@pytest.mark.parametrize(
    "case", ["plain", "custom_sql", "delete_set", "zorder", "over_ceiling"]
)
def test_only_plain_merges_skip_spark(spark, tmp_path, monkeypatch, case):
    """Custom merge SQL (it needs the ``source_files`` view), a pending
    delete set to fold, a z-ordered table and sources over the on-disk
    ceiling keep the Spark-side merge; only a plain merge reads on the
    driver."""
    kw = {
        "custom_sql": {"custom_merge_query": "select * from source_files"},
        "zorder": {"zorder_by": ["event_id", "value"]},
    }.get(case, {})
    t = _two_insert_table(spark, tmp_path, case, **kw)
    if case == "delete_set":
        t.delete_where("event_id = 3")
    if case == "over_ceiling":
        monkeypatch.setattr(table_mod, "_LOCAL_PART_BYTES", 1)
    expected = collect_sorted(t)
    calls = _merge_path_spies(monkeypatch)
    merged = _drain_merge(t)
    assert merged
    if case == "plain":
        assert calls == {"arrow": len(merged), "spark": 0}
    else:
        assert calls == {"arrow": 0, "spark": len(merged)}
    assert collect_sorted(t) == expected
