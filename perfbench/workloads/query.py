"""``query``: the floor-dominated read path. Set-up bulk-loads a seeded
events table into day partitions, several files each, with zone maps and
Bloom filters, and persists an IVF index over a clustered 64-dimensional
embedding corpus. Each cycle runs the five query types of an equally
weighted mix once each, in a seeded order, then commits one small insert
to the current day (so the snapshot keeps changing and any state cached
from it must be revalidated), compacts that day (which keeps the table
stationary) and runs one batch of IVF top-k queries against the persisted
index (``operators/``). Loads the log fold, pruning, plan construction and
scan jobs; barely touches merge and DML.

Every answer is recomputed with DuckDB over the generated rows, and every
top-k batch is compared with a brute-force numpy top-k."""

from __future__ import annotations

import time

import duckdb
import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F

from icedb_spark.operators import (
    cosine_topk_against_index_table,
    ivf_codebook_rows,
    ivf_index_rows,
)
from icedb_spark.table import PartitionField, PartitionSpec

from . import Workload

DAYS = 30
FILES_PER_DAY = 2  # one bulk insert per file generation
ROWS = 60_000
DEVICES_PER_DAY = 400  # Bloom key: scattered ids, so zone maps cannot prune
DAY_MS = 86_400_000
RANGE_MS = 2 * 3_600_000
HOT = DAYS + 1  # the day the small inserts go to
HOT_ROWS = 100
SECONDS_PER_CYCLE = 2.7  # measured cycles = --seconds / this (about 4 s each on 4 cores)
WARMUP_CYCLES = 2  # the first cycles after set-up are still getting faster
TYPES = ("pruned_agg", "zone_range", "bloom_point", "full_agg", "time_travel")
DIM = 64
CLUSTERS = 16
VECTORS = 2000
ANN_QUERIES = 8
K = 10
NPROBE = 4
MIN_RECALL = 0.8


def day(i: int) -> str:
    return f"2024-01-{i:02d}"


def cycles(seconds: int) -> int:
    """Cycles in the measured phase."""
    return max(2, round(seconds / SECONDS_PER_CYCLE))


def events(rng: np.random.Generator, n: int, days: np.ndarray, devices: np.ndarray) -> pa.Table:
    """``n`` events on the given 1-based ``days``; each day draws its
    devices from its own slice of ``devices``."""
    slot = rng.integers(0, DEVICES_PER_DAY, n)
    dev = devices[((days - 1) % DAYS) * DEVICES_PER_DAY + slot]
    return pa.table({
        "d": pa.array([day(int(x)) for x in days]),
        "ts": pa.array(days.astype(np.int64) * DAY_MS + rng.integers(0, DAY_MS, n)),
        "device": pa.array(dev.astype(np.int64)),
        "kind": pa.array(rng.integers(0, 8, n)),
        "val": pa.array(rng.random(n)),
    })


def inputs(seed: int, seconds: int) -> dict:
    """Every input of a run, from the seed alone."""
    rng = np.random.default_rng(seed)
    devices = rng.permutation(DAYS * DEVICES_PER_DAY * 50)[: DAYS * DEVICES_PER_DAY]
    base = events(rng, ROWS, rng.integers(1, DAYS + 1, ROWS), devices)
    n_cycles = WARMUP_CYCLES + cycles(seconds)
    hot = [events(rng, HOT_ROWS, np.full(HOT_ROWS, HOT), devices) for _ in range(n_cycles)]
    queries = []
    for _cycle in range(n_cycles):
        for kind in rng.permutation(TYPES):
            if kind == "pruned_agg":
                arg = day(int(rng.integers(1, DAYS + 1)))
            elif kind == "zone_range":
                # two hours inside one day: every range opens one day's files
                lo = int(rng.integers(1, DAYS + 1)) * DAY_MS + int(rng.integers(0, DAY_MS - RANGE_MS))
                arg = (lo, lo + RANGE_MS)
            elif kind == "bloom_point":
                arg = int(base["device"][int(rng.integers(0, ROWS))].as_py())
            else:
                arg = None
            queries.append((str(kind), arg))
    centers = rng.normal(size=(CLUSTERS, DIM))
    labels = rng.integers(0, CLUSTERS, VECTORS)
    vecs = (centers[labels] + 0.35 * rng.normal(size=(VECTORS, DIM))).astype(np.float32)
    ann = [np.sort(rng.choice(VECTORS, ANN_QUERIES, replace=False)) for _ in range(n_cycles)]
    return {"base": base, "hot": hot, "queries": queries, "vecs": vecs, "ann": ann}


def brute_topk(vecs: np.ndarray, q: int) -> dict[int, float]:
    """Every other vector by exact cosine rounded to 6 places, best first
    (ties to the lower id): ``{neighbor: cosine}``."""
    v = vecs.astype(np.float64)
    cos = np.round(v @ v[q] / (np.linalg.norm(v, axis=1) * np.linalg.norm(v[q])), 6)
    cos[q] = -np.inf
    order = np.lexsort((np.arange(len(cos)), -cos))[:-1]
    return {int(i): float(cos[i]) for i in order}


class Query(Workload):
    unit = TYPES
    cycle = "search"

    def setup(self, ctx, rep: int) -> None:
        spark = ctx.spark
        x = inputs(ctx.seed, ctx.seconds)
        self.base, self.hot, self.queries = x["base"], x["hot"], x["queries"]
        self.vecs, self.ann = x["vecs"], x["ann"]
        self.t = ctx.table(
            f"events{rep}",
            partition_spec=PartitionSpec(fields=[PartitionField("d", "d")]),
            sort_order=["ts"],
            stats_columns=["ts", "val"],
            bloom_columns=["device"],
        )
        step = ROWS // FILES_PER_DAY
        for i in range(FILES_PER_DAY):
            self.t.insert(df=spark.createDataFrame(self.base.slice(i * step, step)))
        self.t.tag("loaded")
        # merge only the hot day's small files: the budget stops below
        # the smallest bulk-loaded file, so those are never rewritten
        self.merge_budget = min(m.file_bytes for m in self.t.files_for()) // 2
        self.corpus = spark.createDataFrame(pa.table({
            "vec_id": np.arange(VECTORS, dtype=np.int64),
            "embedding": pa.array(list(self.vecs), type=pa.list_(pa.float32())),
        }))
        self.codebook = ctx.table(
            f"codebook{rep}",
            partition_spec=PartitionSpec(fields=[PartitionField("p", "'all'")]),
            sort_order=["cid"],
        )
        self.codebook.insert(df=ivf_codebook_rows(self.corpus, n_centroids=CLUSTERS))
        self.ix = ctx.table(
            f"ivf{rep}",
            partition_spec=PartitionSpec(fields=[PartitionField("cell", "cell")]),
            sort_order=["vec_id"],
            bloom_columns=["cell"],
        )
        self.ix.insert(df=ivf_index_rows(self.corpus, self.codebook.read()))
        self.inserted: list[pa.Table] = []
        self.db = duckdb.connect()
        self.db.register("base", self.base)
        self.db.register("ice", self.base)
        self.recalls: list[float] = []

    def _run_query(self, ctx, i: int) -> None:
        kind, arg = self.queries[i]
        t = self.t
        with ctx.rec.op(kind):
            if kind == "pruned_agg":
                df = t.sql(f"SELECT kind, count(*) AS n, sum(val) AS s FROM ice WHERE d = '{arg}' GROUP BY kind")
            elif kind == "zone_range":
                df = (t.read(column_ranges={"ts": arg})
                      .where(F.col("ts").between(*arg))
                      .agg(F.count("*"), F.sum("val")))
            elif kind == "bloom_point":
                df = (t.read(column_equals={"device": arg})
                      .where(F.col("device") == arg)
                      .agg(F.count("*"), F.sum("val")))
            elif kind == "full_agg":
                df = t.sql("SELECT d, count(*) AS n, sum(val) AS s FROM ice GROUP BY d")
            else:
                df = t.read(tag="loaded").groupBy("kind").agg(F.count("*"), F.sum("val"))
            t0 = time.perf_counter()
            got = df.collect()
            ctx.c.add("read.exec_s", time.perf_counter() - t0)
        with ctx.untimed():
            ctx.gate.rows(f"query.{kind}.{i}", got, self._expected(kind, arg))

    def _expected(self, kind: str, arg):
        if kind == "pruned_agg":
            sql = f"SELECT kind, count(*), sum(val) FROM ice WHERE d = '{arg}' GROUP BY kind"
        elif kind == "zone_range":
            sql = f"SELECT count(*), sum(val) FROM ice WHERE ts BETWEEN {arg[0]} AND {arg[1]}"
        elif kind == "bloom_point":
            sql = f"SELECT count(*), sum(val) FROM ice WHERE device = {arg}"
        elif kind == "full_agg":
            sql = "SELECT d, count(*), sum(val) FROM ice GROUP BY d"
        else:
            sql = "SELECT kind, count(*), sum(val) FROM base GROUP BY kind"
        return self.db.execute(sql).fetchall()

    def _insert(self, ctx, j: int) -> None:
        batch = self.hot[j]
        ctx.insert(self.t, rows=batch.to_pylist())
        self.rows += batch.num_rows
        with ctx.untimed():
            self.inserted.append(batch)
            self.db.unregister("ice")
            self.db.register("ice", pa.concat_tables([self.base] + self.inserted))

    def _search(self, ctx, c: int) -> None:
        """One IVF top-k batch against the persisted index."""
        qids = self.ann[c]
        queries = self.corpus.where(F.col("vec_id").isin([int(q) for q in qids]))
        with ctx.rec.op("search"):
            t0 = time.perf_counter()
            df = cosine_topk_against_index_table(
                queries, self.ix, self.codebook.read(), nprobe=NPROBE, k=K)
            t1 = time.perf_counter()
            rows = df.collect()
            ctx.c.add("operators.search_plan_s", t1 - t0)
            ctx.c.add("operators.search_exec_s", time.perf_counter() - t1)
        with ctx.untimed():
            self._check_ann(ctx, c, qids, rows)

    def _check_ann(self, ctx, c: int, qids, rows) -> None:
        got: dict[int, dict[int, float]] = {}
        for r in rows:
            got.setdefault(int(r["query_id"]), {})[int(r["neighbor_id"])] = float(r["cosine"])
        hits = 0
        for q in qids:
            exact = brute_topk(self.vecs, int(q))
            mine = got.get(int(q), {})
            wrong = {n: cos for n, cos in mine.items() if abs(cos - exact[n]) > 2e-6}
            ctx.gate.expect(f"query.ann.cosine.{c}.{q}", not wrong, f"wrong cosines {wrong}")
            hits += len(set(list(exact)[:K]) & set(mine))
        recall = hits / (K * len(qids))
        self.recalls.append(recall)
        ctx.gate.expect(f"query.ann.recall.{c}", recall >= MIN_RECALL, f"recall {recall:.3f}")

    def _cycle(self, ctx, c: int) -> None:
        for i in range(c * len(TYPES), (c + 1) * len(TYPES)):
            self._run_query(ctx, i)
        self._insert(ctx, c)
        ctx.compact(self.t, max_file_size=self.merge_budget)
        self._search(ctx, c)

    def warmup(self, ctx) -> None:
        for c in range(WARMUP_CYCLES):
            self._cycle(ctx, c)

    def measure(self, ctx) -> None:
        for c in range(WARMUP_CYCLES, WARMUP_CYCLES + cycles(ctx.seconds)):
            self._cycle(ctx, c)

    def extras(self, ctx) -> dict:
        return {"ann_recall_min": min(self.recalls)}
