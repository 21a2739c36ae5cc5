"""The insert side of the write-path gate (optimization r12/r13).

A tiny batch (a codebook, a handful of row dicts) pays ~0.5 s of fixed
distributed-writer cost (shuffle stage + Python-worker round trip) for a
write that takes single-digit milliseconds on the driver. These tests pin
which inserts take the driver-local path — row batches up to
``_SMALL_BATCH_ROWS``, relations whose size estimate is under the ceiling,
the codebook builders' outputs — which do not, and that the rest of the
insert contract (WAP staging, write splits, the one designed fallback)
holds on it. Path equivalence lives in ``test_local_write_paths``.
"""

from __future__ import annotations

import pyarrow as pa

from icedb_spark import IceTable, PartitionField, PartitionSpec
from icedb_spark import table as table_mod
from write_helpers import (
    count_local_writes,
    make,
    result_size_error,
    ts_rows,
)


def test_array_double_batch_roundtrip(spark, tmp_path, monkeypatch):
    """The codebook shape: array<double> rows through the local path."""
    calls = count_local_writes(monkeypatch)
    t = make(
        spark,
        tmp_path,
        "cb",
        partition_spec=PartitionSpec(fields=[PartitionField("p", "'all'")]),
        sort_order=["cid"],
    )
    df = spark.createDataFrame(pa.table({
        "cid": pa.array(range(16), pa.int64()),
        "cv": pa.array([[0.5 * i, -1.25 * i] for i in range(16)],
                       pa.list_(pa.float64())),
    }))
    t.insert(df=df)
    assert calls == [16]
    got = {r["cid"]: r["cv"] for r in t.read().collect()}
    assert got[3] == [1.5, -3.75]
    assert len(got) == 16


def test_auto_trigger_and_opt_outs(spark, tmp_path, monkeypatch):
    calls = count_local_writes(monkeypatch)

    t = make(spark, tmp_path, "auto")
    t.insert(rows=ts_rows(12))  # small rows batch -> local
    assert len(calls) == 1
    # a relation with an estimate under the ceiling -> local
    t.insert(df=spark.createDataFrame(pa.Table.from_pylist(ts_rows(12))))
    assert len(calls) == 2
    # a parallelized row list has no estimate -> distributed
    t.insert(df=spark.createDataFrame(ts_rows(12)))
    assert len(calls) == 2
    # above the row cutoff -> distributed
    monkeypatch.setattr(table_mod, "_SMALL_BATCH_ROWS", 11)
    t.insert(rows=ts_rows(12))
    assert len(calls) == 2
    monkeypatch.undo()
    calls = count_local_writes(monkeypatch)

    # an explicit fan-out keeps the distributed writer
    ts = make(spark, tmp_path, "split", write_splits=2)
    ts.insert(rows=ts_rows(12))
    assert not calls

    # custom insert SQL may expand the batch arbitrarily: the row count
    # no longer bounds it, so a row batch sizes by the (absent) estimate
    tc = make(
        spark,
        tmp_path,
        "custom",
        custom_insert_query="select *, value * 2 as v2 from _rows",
    )
    tc.insert(rows=ts_rows(12))
    assert not calls
    assert {r["v2"] for r in tc.read().select("v2").collect()} == {
        2 * (float(i) + 0.25) for i in range(12)
    }


def test_fallback_on_local_write_failure(spark, tmp_path, monkeypatch):
    """If the driver-side collect outgrows spark.driver.maxResultSize, the
    insert completes on the distributed path — the local path is a
    performance choice, never a new failure mode."""
    err = result_size_error(spark)

    def boom(self):
        raise err

    monkeypatch.setattr(type(spark.range(1)), "toArrow", boom)
    t = make(spark, tmp_path, "fb")
    mk = t.insert(rows=ts_rows(12))
    assert mk and t.read().count() == 12


def test_codebook_builders_write_local(spark, sf_dir, tmp_path, monkeypatch):
    """The three codebook builders' outputs carry honest optimizer
    estimates, so inserting them takes the local path with no tag."""
    from icedb_spark.operators import ivf_codebook_rows
    from icedb_spark.operators.similarity import (
        _train_codebook,
        _training_view,
        pq_subcodebook_rows,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    trained = _train_codebook(
        _training_view(emb, "vec_id", "embedding"), dim=64, n_centroids=4, iters=1
    )
    builders = {
        "ivf_codebook_rows": (ivf_codebook_rows(emb, n_centroids=4), ["cid"]),
        "pq_subcodebook_rows": (
            pq_subcodebook_rows(emb, dim=64, m_sub=4, k_sub=4), ["s", "j"]
        ),
        "_train_codebook": (trained, ["cid"]),
    }
    for name, (df, sort_order) in builders.items():
        calls = count_local_writes(monkeypatch)
        t = make(
            spark, tmp_path, name,
            partition_spec=PartitionSpec(fields=[PartitionField("p", "'all'")]),
            sort_order=sort_order,
        )
        t.insert(df=df)
        assert calls, f"{name} output must take the local write"
        monkeypatch.undo()


def test_auto_write_splits(spark, tmp_path, sf_dir, monkeypatch):
    """write_splits="auto" derives the writer fan-out from the batch's
    optimizer size estimate: a batch above the per-task byte target fans
    out, a small one (and any un-estimable plan) keeps the reference's
    one-file-per-partition layout, and the rows round-trip either way."""
    from icedb_spark.testdata import load_table

    spec = PartitionSpec(
        fields=[PartitionField(
            "m", "date_format(timestamp_micros(ts div 1000), 'yyyy-MM')"
        )]
    )
    src = load_table(spark, sf_dir, "events")
    # force the fan-out at test scale: tiny per-task target
    monkeypatch.setattr(table_mod, "_WRITE_SPLIT_BYTES", 4096)
    t = IceTable(spark, str(tmp_path / "auto"), partition_spec=spec,
                 sort_order=["event_type", "ts"], write_splits="auto")
    assert t._resolve_write_splits(src) > 1
    t.insert(df=src)
    by_part = {}
    for m in t.snapshot().alive_files():
        by_part.setdefault(m.partition(), []).append(m)
    assert any(len(v) > 1 for v in by_part.values())
    assert t.read().count() == src.count()

    # below the target: single file per partition (reference layout)
    monkeypatch.setattr(table_mod, "_WRITE_SPLIT_BYTES", 1 << 30)
    t2 = IceTable(spark, str(tmp_path / "auto1"), partition_spec=spec,
                  sort_order=["event_type", "ts"], write_splits="auto")
    assert t2._resolve_write_splits(src) == 1
    # un-estimable plan (parallelized local relation reports the
    # defaultSizeInBytes sentinel): auto declines to fan out
    monkeypatch.setattr(table_mod, "_WRITE_SPLIT_BYTES", 4096)
    local = spark.createDataFrame([{"a": 1}] * 50)
    assert t2._resolve_write_splits(local) == 1
    # auto + tiny rows batch still takes the local write
    mk = t2.insert(rows=[
        {"event_id": i, "ts": 1686_000_000_000_000_000 + i,
         "event_type": "a", "value": float(i)}
        for i in range(8)
    ])
    assert len(mk) == len({m.path.rsplit("/", 1)[0] for m in mk})


def test_wap_staged_small_batch(spark, tmp_path):
    """publish=False returns a StagedInsert from the local path too."""
    t = make(spark, tmp_path, "wap")
    staged = t.insert(rows=ts_rows(12), publish=False)
    assert t.read().count() == 0  # invisible until publish
    t.publish(staged)
    assert t.read().count() == 12
