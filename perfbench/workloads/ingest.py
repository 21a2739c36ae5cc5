"""``ingest``: what icedb exists for. Small row-dict commits of a few
hundred rows across a handful of day partitions, one after another, and
one compaction cycle (merge to exhaustion, then vacuum) per fixed number
of commits. Loads the driver-local write path, ``log.append`` and the log
fold inside merges; barely touches the distributed writer or large scans."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from icedb_spark.table import PartitionField, PartitionSpec

from . import Workload

DAYS = 4
ROWS = 200  # rows per commit
PRELOAD_ROWS = 1000
PER_CYCLE = 2  # commits per compaction cycle
SECONDS_PER_CYCLE = 1.33  # measured cycles = --seconds / this (about 1 s each on 4 cores)
WARMUP_CYCLES = 3


def rows_batch(rng: random.Random, n: int, seq: int) -> list[dict]:
    return [
        {
            "d": f"2024-03-{1 + rng.randrange(DAYS):02d}",
            "ts": seq * 1_000_000 + i,
            "k": rng.randrange(1 << 40),
            "v": rng.random(),
        }
        for i in range(n)
    ]


def cycles(seconds: int) -> int:
    return max(2, round(seconds / SECONDS_PER_CYCLE))


def inputs(seed: int, seconds: int) -> dict:
    """Every input of a run, from the seed alone."""
    rng = random.Random(seed)
    preload = rows_batch(rng, PRELOAD_ROWS, 0)
    n = (WARMUP_CYCLES + cycles(seconds)) * PER_CYCLE
    return {"preload": preload, "batches": [rows_batch(rng, ROWS, 1 + i) for i in range(n)]}


class Ingest(Workload):
    unit = ("insert",)
    cycle = "compact"

    def setup(self, ctx, rep: int) -> None:
        x = inputs(ctx.seed, ctx.seconds)
        self.preload, self.batches = x["preload"], x["batches"]
        self.shadow = {}
        self.t = ctx.table(
            f"events{rep}",
            partition_spec=PartitionSpec(fields=[PartitionField("d", "d")]),
            sort_order=["ts"],
            stats_columns=["ts"],
        )
        self._commit(ctx, self.preload, timed=False)

    def _commit(self, ctx, rows, timed=True) -> None:
        if timed:
            ctx.insert(self.t, rows=rows)
        else:
            self.t.insert(rows=rows)
        for r in rows:
            n, vs = self.shadow.setdefault(r["d"], (0, []))
            vs.append(r["v"])
            self.shadow[r["d"]] = (n + 1, vs)
        self.rows += len(rows)

    def _cycles(self, ctx, first: int, count: int) -> None:
        for cycle in range(first, first + count):
            for rows in self.batches[cycle * PER_CYCLE:(cycle + 1) * PER_CYCLE]:
                self._commit(ctx, rows)
            ctx.compact(self.t)
            self.verify(ctx, f"cycle{cycle}")

    def warmup(self, ctx) -> None:
        self._cycles(ctx, 0, WARMUP_CYCLES)

    def measure(self, ctx) -> None:
        self._cycles(ctx, WARMUP_CYCLES, cycles(ctx.seconds))

    def verify(self, ctx, where: str) -> None:
        with ctx.untimed():
            self._verify(ctx, where)

    def _verify(self, ctx, where: str) -> None:
        got = (
            self.t.read()
            .groupBy("d")
            .agg(F.count("*").alias("n"), F.sum("v").alias("s"))
            .collect()
        )
        want = [(d, n, math.fsum(vs)) for d, (n, vs) in self.shadow.items()]
        ctx.gate.rows(f"ingest.partition_sums.{where}", got, want)
        alive = self.t.files_for()
        ctx.gate.expect(
            f"ingest.one_file_per_partition.{where}",
            len(alive) == len(self.shadow),
            f"{len(alive)} alive files for {len(self.shadow)} partitions",
        )
