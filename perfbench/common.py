"""Shared pieces of the benchmark: the pinned Spark session, latency
summaries, the correctness gate, the data-file ledger and /proc readers.

Nothing here imports the engine, so the helpers can be tested without a
Spark session."""

from __future__ import annotations

import math
import os
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Optional

# A tail is reported only where at least this many samples lie beyond it.
TAIL_BEYOND = 10
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def spark_conf(work: str, cores: int) -> dict[str, str]:
    """The pinned session conf. Both sides of a comparison run exactly
    this; it is printed with every run."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.master": f"local[{cores}]",
        "spark.app.name": "perfbench",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "1g",
        # the serial collector runs no background GC threads: peak RSS and
        # latencies vary less from run to run than under G1. No perf-data
        # file: the JVM would write it under /tmp.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:+UseSerialGC -XX:-UsePerfData",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.sql.shuffle.partitions": str(cores),
        "spark.default.parallelism": str(cores),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    }


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def tail_percentile(n: int) -> Optional[float]:
    """The highest ladder percentile with at least ``TAIL_BEYOND`` of
    ``n`` samples beyond it, or None (fewer than 20 samples)."""
    for p in TAIL_LADDER:
        if n * (100.0 - p) / 100.0 >= TAIL_BEYOND - 1e-9:
            return p
    return None


def summarize(xs: list[float]) -> dict:
    """Median and supported tail of a list of seconds, in ms."""
    out = {"n": len(xs)}
    if xs:
        out["p50_ms"] = percentile(xs, 50) * 1e3
        p = tail_percentile(len(xs))
        if p is not None:
            out["tail_pct"] = p
            out["tail_ms"] = percentile(xs, p) * 1e3
    return out


def rows_match(got, want, rel: float = 1e-9) -> bool:
    """Order-insensitive equality of result rows, floats within ``rel``."""
    if len(got) != len(want):
        return False
    key = lambda r: tuple("" if v is None else (round(v, 6) if isinstance(v, float) else v) for v in r)
    for g, w in zip(sorted(got, key=key), sorted(want, key=key)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None or not math.isclose(a, b, rel_tol=rel, abs_tol=1e-9):
                    return False
            elif a != b:
                return False
    return True


class Gate:
    """The correctness gate: every check is one attempted operation, and
    every mismatch is one failed operation."""

    def __init__(self):
        self.checks = 0
        self.failures: list[str] = []

    def expect(self, name: str, ok: bool, detail: str = "") -> bool:
        self.checks += 1
        if not ok:
            self.failures.append(f"{name}: {detail}"[:500])
        return ok

    def rows(self, name: str, got, want, rel: float = 1e-9) -> bool:
        got = [tuple(r) for r in got]
        want = [tuple(r) for r in want]
        return self.expect(name, rows_match(got, want, rel), f"got {got[:5]} want {want[:5]}")


class Recorder:
    """Latency samples per operation kind. With a tracer attached, also
    counts Spark jobs and tasks per kind."""

    def __init__(self, tracer=None):
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.tracer = tracer
        self.ops = 0

    @contextmanager
    def op(self, kind: str):
        if self.tracer:
            self.tracer.begin(kind)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.samples[kind].append(time.perf_counter() - t0)
            self.ops += 1
            if self.tracer:
                self.tracer.end(kind)

    @contextmanager
    def sub(self, kind: str):
        """Time a step inside an operation (no job accounting)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.samples[kind].append(time.perf_counter() - t0)

    def total(self, kind: str) -> float:
        return sum(self.samples.get(kind, ()))


class DataLedger:
    """Data-file bytes written, by cause. Data files are immutable and
    uniquely named, and only vacuum and orphan GC delete them, so listing
    ``_data/`` after every operation sees every file any operation wrote."""

    def __init__(self):
        self.roots: list[str] = []
        self.seen: set[str] = set()
        self.written: dict[str, float] = defaultdict(float)
        self.files: dict[str, float] = defaultdict(float)

    def track(self, root: str) -> None:
        self.roots.append(root)

    def observe(self, cause: str) -> None:
        for root in self.roots:
            for path, size in walk_files(os.path.join(root, "_data")):
                if path not in self.seen:
                    self.seen.add(path)
                    self.written[cause] += size
                    self.files[cause] += 1

    def reset(self) -> None:
        """Forget the totals (keep the seen set): measure from here on."""
        self.observe("before")
        self.written.clear()
        self.files.clear()

    def write_amp(self) -> float:
        return sum(self.written.values()) / max(1.0, self.written["insert"])


def walk_files(base: str):
    """(path, size) of every regular file under ``base``."""
    for dirpath, _dirs, names in os.walk(base):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                yield p, os.path.getsize(p)
            except OSError:
                continue


def tree_bytes(root: str) -> int:
    return sum(s for _p, s in walk_files(root))


# ------------------------------------------------------------------ /proc

_TICK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _stat(pid: int) -> Optional[list[str]]:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces: split after the closing parenthesis
    head, tail = raw.rsplit(")", 1)
    return [head.split("(", 1)[1]] + tail.split()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if d.isdigit():
            st = _stat(int(d))
            if st:
                kids[int(st[2])].append(int(d))
    return kids


def _descendants(pid: int, kids) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def _cpu_s(st: list[str], with_children: bool) -> float:
    # fields after comm: state=1 ppid=2 ... utime=12 stime=13 cutime=14 cstime=15
    t = int(st[12]) + int(st[13])
    if with_children:
        t += int(st[14]) + int(st[15])
    return t / _TICK


class ProcStats:
    """CPU seconds and peak RSS of the driver, its JVM and the JVM's
    Python workers, read from /proc."""

    def __init__(self):
        self.me = os.getpid()

    def _jvm(self, kids) -> Optional[int]:
        for p in _descendants(self.me, kids):
            st = _stat(p)
            if st and st[0] == "java":
                return p
        return None

    def cpu(self) -> dict[str, float]:
        kids = _children()
        out = {"cpu.driver_py_s": _cpu_s(_stat(self.me), False),
               "cpu.jvm_s": 0.0, "cpu.pyworker_s": 0.0}
        jvm = self._jvm(kids)
        if jvm is not None:
            out["cpu.jvm_s"] = _cpu_s(_stat(jvm), False)
            for p in _descendants(jvm, kids):
                st = _stat(p)
                if st and st[0].startswith("python"):
                    out["cpu.pyworker_s"] += _cpu_s(st, True)
        return out

    def peak_rss_mb(self) -> float:
        pids = [self.me]
        jvm = self._jvm(_children())
        if jvm is not None:
            pids.append(jvm)
        kb = 0
        for p in pids:
            try:
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            kb += int(line.split()[1])
            except OSError:
                pass
        return kb / 1024.0


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def loadavg() -> list[float]:
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return []
