"""Instruments of the traced run, built entirely outside the engine.

* :class:`CountingStorage` wraps the log ``Storage`` a table is given
  through ``IceTable(log_storage=...)`` and counts calls and bytes.
* :func:`timed_lock_provider` wraps a ``lock_provider`` callable and
  times the wait for each acquire.
* :class:`Tracer` applies timing shims to the public
  ``IceLogIO.append`` / ``read_at_max_time`` and ``IceTable.files_for`` /
  ``read`` / ``sql`` for the duration of a run, and counts Spark jobs and
  tasks per operation from ``SparkContext.statusTracker()`` job ids (job
  groups set on the calling thread would miss the jobs ``merge_all``
  launches from its own threads).

Counters are plain floats in one dict so the benchmark prints them as
per-layer metrics. Untraced runs install none of this."""

from __future__ import annotations

import functools
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

LOG_PREFIX = "_log/"


class Counters:
    """Thread-safe named sums (``merge_all`` and ``delete`` call into the
    log and pruning layers from worker threads)."""

    def __init__(self):
        self.v: dict[str, float] = defaultdict(float)
        self._lock = threading.Lock()
        self.paused = 0  # >0 while the benchmark checks its own results

    def add(self, key: str, x: float = 1.0) -> None:
        if self.paused:
            return
        with self._lock:
            self.v[key] += x


class CountingStorage:
    """A ``Storage`` proxy that counts requests and bytes.

    Every other attribute (``root``, ``absolute``...) passes through, so
    the log parse cache keys on the same table root as without the proxy."""

    def __init__(self, inner, counters: Counters):
        self._inner = inner
        self._c = counters

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def put(self, key: str, data: bytes) -> None:
        self._inner.put(key, data)
        self._c.add("log.put_calls")
        self._c.add("log.put_bytes", len(data))

    def get(self, key: str) -> bytes:
        data = self._inner.get(key)
        self._c.add("log.get_calls")
        if key.startswith(LOG_PREFIX):
            self._c.add("log.log_gets")
        return data

    def list(self, prefix: str, include_hidden: bool = False):
        self._c.add("log.list_calls")
        return self._inner.list(prefix, include_hidden=include_hidden)

    def delete(self, key: str) -> None:
        self._c.add("log.delete_calls")
        self._inner.delete(key)

    def size(self, key: str) -> int:
        self._c.add("log.head_calls")
        return self._inner.size(key)

    def exists(self, key: str) -> bool:
        self._c.add("log.head_calls")
        return self._inner.exists(key)

    def mtime_ms(self, key: str):
        self._c.add("log.head_calls")
        return self._inner.mtime_ms(key)


def timed_lock_provider(provider, counters: Counters):
    """Wrap a ``lock_provider`` (``op -> context manager``): count
    acquires and time how long each waited for the lock."""

    @contextmanager
    def acquire(op: str):
        t0 = time.perf_counter()
        with provider(op) as lease:
            counters.add("locks.wait_s", time.perf_counter() - t0)
            counters.add("locks.acquires")
            yield lease

    return acquire


class Tracer:
    """Per-layer counters for one traced run."""

    def __init__(self, spark):
        self.c = Counters()
        self._tracker = spark.sparkContext.statusTracker()
        self._last_job = max(self._job_ids(), default=-1)
        self._undo: list = []
        self._local = threading.local()
        self.current = None  # the operation kind being timed, if any

    # ---------------------------------------------------------- spark jobs

    def _job_ids(self) -> list[int]:
        return list(self._tracker.getJobIdsForGroup(None))

    def _take_jobs(self) -> tuple[int, int]:
        new = [j for j in self._job_ids() if j > self._last_job]
        tasks = 0
        for j in new:
            info = self._tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                st = self._tracker.getStageInfo(s)
                tasks += st.numTasks if st else 0
        if new:
            self._last_job = max(new)
        return len(new), tasks

    def begin(self, kind: str) -> None:
        self._take_jobs()  # jobs of earlier untimed work belong to no kind
        self.current = kind

    def end(self, kind: str) -> None:
        jobs, tasks = self._take_jobs()
        self.c.add(f"spark.jobs.{kind}", jobs)
        self.c.add(f"spark.tasks.{kind}", tasks)
        self.current = None

    def reset(self) -> None:
        """Drop everything counted so far (set-up and warm-up)."""
        self._take_jobs()
        with self.c._lock:
            self.c.v.clear()

    # --------------------------------------------------------------- shims

    def storage(self, inner) -> CountingStorage:
        return CountingStorage(inner, self.c)

    def _patch(self, cls, name: str, make):
        orig = getattr(cls, name)
        setattr(cls, name, functools.wraps(orig)(make(orig)))
        self._undo.append((cls, name, orig))

    def _outermost(self, group: str):
        """Context: True when this is the outermost call of ``group`` on
        this thread (``sql`` calls ``read``, ``read`` calls ``files_for``)."""
        local = self._local

        @contextmanager
        def cm():
            depth = getattr(local, group, 0)
            setattr(local, group, depth + 1)
            try:
                yield depth == 0
            finally:
                setattr(local, group, depth)

        return cm()

    def install(self) -> None:
        from icedb_spark.log import IceLogIO
        from icedb_spark.table import IceTable

        c = self.c
        tracer = self

        def append(orig):
            def f(*a, **kw):
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    dt = time.perf_counter() - t0
                    c.add("log.append_s", dt)
                    c.add("log.append_calls")
                    if tracer.current:
                        c.add(f"log.append_s.{tracer.current}", dt)
            return f

        def fold(orig):
            def f(*a, **kw):
                t0 = time.perf_counter()
                state = orig(*a, **kw)
                c.add("log.fold_s", time.perf_counter() - t0)
                c.add("log.fold_calls")
                c.add("log.keys_folded", len(state.log_files))
                return state
            return f

        def files_for(orig):
            def f(self, *a, **kw):
                with tracer._outermost("prune") as top:
                    if not top:
                        return orig(self, *a, **kw)
                    if kw.get("state") is None and not a:
                        kw["state"] = self.snapshot(kw.pop("at_ms", None))
                    t0 = time.perf_counter()
                    files = orig(self, *a, **kw)
                    c.add("pruning.s", time.perf_counter() - t0)
                    c.add("pruning.calls")
                    c.add("pruning.files_kept", len(files))
                    state = kw.get("state")
                    if state is not None:
                        c.add("pruning.files_alive", len(state.alive_files()))
                    return files
            return f

        def plan(orig):
            def f(*a, **kw):
                with tracer._outermost("read") as top:
                    if not top:
                        return orig(*a, **kw)
                    t0 = time.perf_counter()
                    try:
                        return orig(*a, **kw)
                    finally:
                        c.add("read.plan_s", time.perf_counter() - t0)
                        c.add("read.calls")
            return f

        self._patch(IceLogIO, "append", append)
        self._patch(IceLogIO, "read_at_max_time", fold)
        self._patch(IceTable, "files_for", files_for)
        self._patch(IceTable, "read", plan)
        self._patch(IceTable, "sql", plan)

    def uninstall(self) -> None:
        while self._undo:
            cls, name, orig = self._undo.pop()
            setattr(cls, name, orig)
