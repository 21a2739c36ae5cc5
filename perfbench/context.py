"""The run context every workload receives: the session, the seed, the
recorder, the correctness gate and the tables it created."""

from __future__ import annotations

import os
import time
from contextlib import contextmanager

from .common import DataLedger, Gate, Recorder
from .instruments import Counters, timed_lock_provider


class Ctx:
    def __init__(self, spark, seed: int, seconds: int, work: str, cores: int,
                 tracer=None):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cores = cores
        self.tracer = tracer
        self.c = tracer.c if tracer else Counters()
        self.rec = Recorder(tracer)
        self.gate = Gate()
        self.ledger = DataLedger()
        self.tables: list = []
        self.untimed_s = 0.0

    @contextmanager
    def untimed(self):
        """Benchmark bookkeeping (correctness checks, the data ledger):
        kept out of the measured phase's wall time and the layer counters."""
        t0 = time.perf_counter()
        self.c.paused += 1
        try:
            yield
        finally:
            self.c.paused -= 1
            self.untimed_s += time.perf_counter() - t0

    def observe(self, cause: str) -> None:
        with self.untimed():
            self.ledger.observe(cause)

    def table(self, name: str, **kw):
        """An IceTable under the run's work directory. Traced runs route
        its log through the counting ``Storage`` proxy."""
        from icedb_spark.log import Storage
        from icedb_spark.table import IceTable

        root = os.path.join(self.work, name)
        if self.tracer:
            kw["log_storage"] = self.tracer.storage(Storage(root))
        t = IceTable(self.spark, root, **kw)
        self.ledger.track(root)
        self.tables.append(t)
        return t

    def lock_provider(self, name: str):
        from icedb_spark.locks import file_lock_provider

        p = file_lock_provider(os.path.join(self.work, f"{name}.lock"))
        return timed_lock_provider(p, self.c) if self.tracer else p

    def forget(self, table) -> None:
        """Stop tracking a table (a set-up repetition that is thrown away)."""
        self.tables.remove(table)
        self.ledger.roots.remove(table.path)

    def insert(self, table, **kw):
        """One timed insert commit; returns its markers."""
        with self.rec.op("insert"):
            markers = table.insert(**kw)
        self.observe("insert")
        self.c.add("insert.files", len(markers))
        self.c.add("insert.data_bytes", sum(m.file_bytes for m in markers))
        return markers

    def compact(self, table, **merge_kw) -> None:
        """One timed compaction cycle: ``merge_all`` passes until nothing
        is left to merge, then vacuum."""
        c = self.c
        with self.rec.op("compact"):
            t0 = time.perf_counter()
            while True:
                res = table.merge_all(concurrency=self.cores, **merge_kw)
                if res is None:
                    break
                c.add("merge.passes")
                for _part, new, merged in res[1]:
                    c.add("merge.files_in", len(merged))
                    c.add("merge.files_out")
                    c.add("merge.bytes_rewritten", new.file_bytes)
            t1 = time.perf_counter()
            self.vacuum(table)
            c.add("merge.s", t1 - t0)
        self.observe("merge")

    def vacuum(self, table) -> None:
        t0 = time.perf_counter()
        logs, data = table.tombstone_cleanup(0, concurrency=self.cores)
        self.c.add("vacuum.s", time.perf_counter() - t0)
        self.c.add("vacuum.files_deleted", len(data))
        self.c.add("vacuum.logs_deleted", len(logs))
