"""Shared fixtures-as-functions for the write-path tests: a small
timestamp-partitioned table, its rows, and path forcing."""

from __future__ import annotations

import datetime

from icedb_spark import IceTable, PartitionField, PartitionSpec
from icedb_spark import table as table_mod

TS_SPEC = PartitionSpec(
    fields=[PartitionField("m", "date_format(ts, 'yyyy-MM')")]
)


def ts_rows(n=60):
    return [
        {
            "event_id": i,
            "ts": datetime.datetime(2023, 1 + (i % 3), 1 + (i % 27)),
            "event_type": "ab"[i % 2],
            "value": float(i) + 0.25,
        }
        for i in range(n)
    ]


def make(spark, tmp_path, name, **kw):
    return IceTable(
        spark,
        str(tmp_path / name),
        partition_spec=kw.pop("partition_spec", TS_SPEC),
        sort_order=kw.pop("sort_order", ["event_type", "ts"]),
        **kw,
    )


def collect_sorted(t):
    df = t.read()
    return sorted(tuple(r) for r in df.select(sorted(df.columns)).collect())


def force_distributed(monkeypatch):
    """Ceilings below any size (row batches count as 0 bytes): every
    write takes the distributed writer until the monkeypatch is undone."""
    monkeypatch.setattr(table_mod, "_LOCAL_PART_BYTES", -1)
    monkeypatch.setattr(table_mod, "_LOCAL_FANOUT_BYTES", -1)


def force_two_job_dml(monkeypatch):
    """A strategy threshold below any candidate count: delete and update
    take the two-job strategy until the monkeypatch is undone."""
    monkeypatch.setattr(table_mod, "_DML_DISTRIBUTED_THRESHOLD", 0)


def count_local_writes(monkeypatch) -> list:
    """Record every driver-local group write (one entry per collected
    batch) in the returned list."""
    calls: list = []
    orig = table_mod._write_arrow_groups

    def spy(tbl, writer):
        calls.append(tbl.num_rows)
        return orig(tbl, writer)

    monkeypatch.setattr(table_mod, "_write_arrow_groups", spy)
    return calls


def result_size_error(spark):
    """The failure the local write falls back on, as a driver-side
    ``toArrow`` raises it: a Py4J error wrapping a JVM SparkException that
    names spark.driver.maxResultSize."""
    from py4j.protocol import Py4JJavaError

    jexc = spark._jvm.org.apache.spark.SparkException(
        "Job aborted due to stage failure: Total size of serialized results "
        "of 1 tasks (5.4 MiB) is bigger than spark.driver.maxResultSize "
        "(1024.0 KiB)"
    )
    return Py4JJavaError("An error occurred while calling o1.getResult.\n", jexc)
