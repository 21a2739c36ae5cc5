"""``maintenance``: the distributed side of the insert gate plus every
rewrite path, all under a ``locks.file_lock_provider``. Each cycle:

* one bulk insert read from a staged Parquet file sized above the 8 MB
  insert-estimate ceiling (a local relation always writes driver-local,
  so the insert must come from files);
* one compaction cycle;
* the DML sequence, timed as a whole: ``delete`` of the previous batch
  (the copy-on-write GDPR delete; it also keeps the table stationary),
  ``update``, ``merge_into``, ``delete_where`` plus ``apply_deletes``,
  ``tombstone_cleanup`` plus ``gc_orphans``, and one two-table
  ``IceCatalog`` transaction.

A DuckDB shadow applies the same statements to the generated rows; row
counts and per-partition sums are compared after every cycle."""

from __future__ import annotations

import os
import shutil
import time
import warnings

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from icedb_spark.catalog import IceCatalog
from icedb_spark.table import PartitionField, PartitionSpec

from . import Workload

DAYS = 4
ROWS = 40_000  # rows per bulk batch
PAYLOAD_HEX = 256  # incompressible: puts each staged file near 11 MB
GROUPS = 100
MERGE_ROWS = 200  # source rows of merge_into, half of them new ids
TXN_ROWS = 50
SECONDS_PER_CYCLE = 4.0  # measured cycles = --seconds / this (about 5 s each on 4 cores)
WARMUP_CYCLES = 1
SCHEMA_SQL = "id BIGINT, d VARCHAR, batch BIGINT, grp BIGINT, val DOUBLE"


def day(i: int) -> str:
    return f"2024-02-{1 + i:02d}"


def batch_table(rng: np.random.Generator, batch: int, n: int, first_id: int) -> pa.Table:
    payload = rng.bytes(n * PAYLOAD_HEX // 2).hex()
    return pa.table({
        "id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
        "d": pa.array([day(int(x)) for x in rng.integers(0, DAYS, n)]),
        "batch": pa.array(np.full(n, batch, dtype=np.int64)),
        "grp": pa.array(rng.integers(0, GROUPS, n)),
        "val": pa.array(rng.random(n)),
        "payload": pa.array([payload[i * PAYLOAD_HEX:(i + 1) * PAYLOAD_HEX] for i in range(n)]),
    })


def cycles(seconds: int) -> int:
    return max(2, round(seconds / SECONDS_PER_CYCLE))


def inputs(seed: int, seconds: int) -> dict:
    """Every input of a run, from the seed alone: the preload, one bulk
    batch per cycle and the cycle's DML arguments."""
    rng = np.random.default_rng(seed)
    preload = batch_table(rng, 0, ROWS, 0)
    batches, dml = [], []
    next_id = ROWS
    for c in range(1, WARMUP_CYCLES + cycles(seconds) + 1):
        batches.append(batch_table(rng, c, ROWS, next_id))
        next_id += ROWS
        new = batch_table(rng, c, MERGE_ROWS // 2 + TXN_ROWS, next_id)
        next_id += new.num_rows
        dml.append({
            "upd_day": day(int(rng.integers(0, DAYS))),
            "upd_grp": int(rng.integers(0, GROUPS)),
            "mor_day": day(int(rng.integers(0, DAYS))),
            "mor_grp": int(rng.integers(0, GROUPS)),
            "matched": rng.choice(ROWS, MERGE_ROWS // 2, replace=False),
            "new": new.slice(0, MERGE_ROWS // 2),
            "txn": new.slice(MERGE_ROWS // 2),
            "merge_vals": rng.random(MERGE_ROWS // 2),
        })
    return {"preload": preload, "batches": batches, "dml": dml}


class Maintenance(Workload):
    unit = ("dml",)
    cycle = "compact"

    def setup(self, ctx, rep: int) -> None:
        x = inputs(ctx.seed, ctx.seconds)
        preload, self.extra = x["preload"], x["dml"]
        stage = os.path.join(ctx.work, "stage")
        shutil.rmtree(stage, ignore_errors=True)
        os.makedirs(stage)
        self.staged = []
        for c, batch in enumerate(x["batches"], start=1):
            path = os.path.join(stage, f"batch{c}.parquet")
            pq.write_table(batch, path)
            self.staged.append(path)
        self.t = ctx.table(
            f"main{rep}",
            partition_spec=PartitionSpec(fields=[PartitionField("d", "d")]),
            sort_order=["id"],
            stats_columns=["id"],
            lock_provider=ctx.lock_provider(f"main{rep}"),
        )
        self.audit = ctx.table(
            f"audit{rep}",
            partition_spec=PartitionSpec(fields=[PartitionField("d", "d")]),
            lock_provider=ctx.lock_provider(f"audit{rep}"),
        )
        self.t.insert(df=ctx.spark.createDataFrame(preload))
        self.catalog = IceCatalog(ctx.spark).enable_transactions(
            os.path.join(ctx.work, f"txn{rep}"))
        self.catalog.add("main", self.t).add("audit", self.audit)
        self.db = duckdb.connect()
        self.db.execute(f"CREATE TABLE shadow ({SCHEMA_SQL})")
        self.db.execute(f"CREATE TABLE audit ({SCHEMA_SQL})")
        self._shadow_insert("shadow", preload)
        self.cycle_no = 0

    def _shadow_insert(self, name: str, tbl: pa.Table) -> None:
        self.db.register("rows", tbl.select(["id", "d", "batch", "grp", "val"]))
        self.db.execute(f"INSERT INTO {name} SELECT * FROM rows")
        self.db.unregister("rows")

    def _cycle(self, ctx) -> None:
        self.cycle_no += 1
        c = self.cycle_no
        x = self.extra[c - 1]
        rec, t, k = ctx.rec, self.t, ctx.cores
        staged = ctx.spark.read.parquet(self.staged[c - 1])
        ctx.insert(t, df=staged)
        self.rows += ROWS
        with ctx.untimed():
            self._shadow_insert("shadow", pq.read_table(self.staged[c - 1]))
        ctx.compact(t)

        with ctx.untimed():
            src = self._merge_source(ctx, x)
        with rec.op("dml"):
            with rec.sub("dml.delete"):
                t.delete(f"batch = {c - 1}", concurrency=k)
            with rec.sub("dml.update"):
                t.update({"val": "val + 1"},
                         where=f"d = '{x['upd_day']}' AND grp = {x['upd_grp']}",
                         concurrency=k)
            with rec.sub("dml.merge_into"):
                t.merge_into(src, on="id")
            mor = f"d = '{x['mor_day']}' AND grp = {x['mor_grp']}"
            with rec.sub("dml.delete_where"):
                t.delete_where(mor)
                t.apply_deletes(concurrency=k)
            with rec.sub("dml.vacuum"):
                ctx.vacuum(t)
                with warnings.catch_warnings():
                    # no writer is in flight: the zero grace is safe here
                    warnings.simplefilter("ignore", UserWarning)
                    t.gc_orphans(grace_ms=0)
            with rec.sub("dml.txn"):
                t0 = time.perf_counter()
                with self.catalog.transaction() as tx:
                    tx.insert("main", df=ctx.spark.createDataFrame(x["txn"]))
                    tx.insert("audit", df=ctx.spark.createDataFrame(x["txn"]))
                ctx.c.add("txn.commit_s", time.perf_counter() - t0)
        ctx.observe("dml")
        with ctx.untimed():
            self._shadow_cycle(ctx, c, x, mor)

    def _shadow_cycle(self, ctx, c: int, x: dict, mor: str) -> None:
        """Apply the cycle's statements to the shadow, then compare."""
        db = self.db
        db.execute(f"DELETE FROM shadow WHERE batch = {c - 1}")
        db.execute(f"UPDATE shadow SET val = val + 1 WHERE d = '{x['upd_day']}' AND grp = {x['upd_grp']}")
        db.register("srows", self._merge_rows)
        db.execute("DELETE FROM shadow WHERE id IN (SELECT id FROM srows)")
        db.execute("INSERT INTO shadow SELECT id, d, batch, grp, val FROM srows")
        db.unregister("srows")
        db.execute(f"DELETE FROM shadow WHERE {mor}")
        self._shadow_insert("shadow", x["txn"])
        self._shadow_insert("audit", x["txn"])
        self.verify(ctx, f"cycle{c}")

    def _merge_source(self, ctx, x: dict):
        """Half existing ids of the current batch with new values, half
        new ids: an upsert."""
        cur = pq.read_table(self.staged[self.cycle_no - 1])
        matched = cur.take(pa.array(x["matched"]))
        matched = matched.set_column(
            matched.schema.get_field_index("val"), "val", pa.array(x["merge_vals"]))
        src = pa.concat_tables([matched, x["new"]])
        self._merge_rows = src.drop_columns(["payload"])
        return ctx.spark.createDataFrame(src)

    def verify(self, ctx, where: str) -> None:
        for name, table in (("shadow", self.t), ("audit", self.audit)):
            got = (table.read().groupBy("d")
                   .agg(F.count("*"), F.sum("val"), F.sum("id")).collect())
            want = self.db.execute(
                f"SELECT d, count(*), sum(val), sum(id) FROM {name} GROUP BY d").fetchall()
            ctx.gate.rows(f"maintenance.{name}_sums.{where}", got, want)

    def warmup(self, ctx) -> None:
        for _ in range(WARMUP_CYCLES):
            self._cycle(ctx)

    def measure(self, ctx) -> None:
        for _ in range(cycles(ctx.seconds)):
            self._cycle(ctx)
