"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer metrics). The line
before it is the run record: host load, the pinned Spark conf, table
state, per-kind latency summaries and any correctness failures. Exits 1
when an operation or a correctness check fails, and 2 when the engine is
not in the working directory. Everything the run writes stays under
``.perfbench_work/`` and is removed at the end."""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback
from statistics import median

ROOT = os.getcwd()
SETUP_REPEATS = 3
# Spark task slots. Two of the four cores leave room for this Python
# process and the JVM's JIT and GC threads, so a run competes less with itself.
CORES = 2


def parse_args(argv=None):
    from perfbench.workloads import NAMES

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def engine_present() -> bool:
    return os.path.isfile(os.path.join(ROOT, "icedb_spark", "__init__.py"))


def start_spark(conf: dict):
    from pyspark.sql import SparkSession

    b = SparkSession.builder
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def run(args) -> int:
    from perfbench.common import ProcStats, cpu_ticks, loadavg, spark_conf, summarize
    from perfbench.metrics import end_to_end, per_layer, table_state

    cores = min(CORES, os.cpu_count() or 1)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONHASHSEED"] = "0"  # the same str hashing in every worker
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the launcher JVM's
    conf = spark_conf(work, cores)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": os.cpu_count(), "cores": cores,
        "loadavg_before": loadavg(), "spark_conf": conf,
    }
    proc = ProcStats()
    spark = None
    failed_ops = 0
    metrics: dict = {}
    ctx = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(conf)
        session_s = time.perf_counter() - t0

        from perfbench.context import Ctx
        from perfbench.instruments import Tracer
        from perfbench.workloads import load

        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            tracer.install()
        ctx = Ctx(spark, args.seed, args.seconds, work, cores, tracer)
        wl = load(args.workload)
        setup_times = []
        for rep in range(SETUP_REPEATS):
            for t in list(ctx.tables):  # an earlier repetition's tables
                ctx.forget(t)
                shutil.rmtree(t.path, ignore_errors=True)
            t0 = time.perf_counter()
            wl.setup(ctx, rep)
            setup_times.append(time.perf_counter() - t0)

        wl.warmup(ctx)
        ctx.rec.samples.clear()
        ctx.rec.ops = 0
        ctx.ledger.reset()
        if tracer:
            tracer.reset()
        wl.rows = 0
        ctx.untimed_s = 0.0
        cpu0, ticks0 = proc.cpu(), cpu_ticks()
        t0 = time.perf_counter()
        wl.measure(ctx)
        phase_s = time.perf_counter() - t0 - ctx.untimed_s
        cpu1, ticks1 = proc.cpu(), cpu_ticks()
        if tracer:
            tracer.uninstall()
        state = table_state(ctx.tables)
        e2e = end_to_end(wl, ctx, session_s + median(setup_times), phase_s,
                         state, proc.peak_rss_mb())
        if args.trace:
            metrics = per_layer(wl, ctx, e2e, state,
                                {k: cpu1[k] - cpu0[k] for k in cpu1})
            record["counters"] = dict(ctx.c.v)  # raw, e.g. log.append_s.<op>
        else:
            metrics = e2e
        record.update({
            "session_s": session_s, "setup_times_s": setup_times,
            "phase_s": phase_s, "table_state": state,
            # CPU time the hypervisor gave to other guests during the phase
            "steal_pct": 100.0 * (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0]),
            "write_amp": e2e["write_amp"], "space_amp": e2e["space_amp"],
            "data_written": dict(ctx.ledger.written),
            "samples": {k: summarize(v) for k, v in sorted(ctx.rec.samples.items())},
            "samples_ms": {k: [round(x * 1e3, 1) for x in v]
                           for k, v in sorted(ctx.rec.samples.items())},
            **wl.extras(ctx),
        })
    except Exception:
        traceback.print_exc()
        failed_ops += 1
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)

    gate_checks = ctx.gate.checks if ctx else 0
    failures = ctx.gate.failures if ctx else []
    attempted = (ctx.rec.ops if ctx else 0) + gate_checks + failed_ops
    failed = failed_ops + len(failures)
    record.update({
        "loadavg_after": loadavg(),
        "error_rate": failed / max(1, attempted),
        "failures": failures,
    })
    correct = failed == 0 and bool(metrics)
    from perfbench.metrics import END_TO_END, PER_LAYER

    units = PER_LAYER if args.trace else END_TO_END
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, attempted),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units if k in metrics},
    }))
    sys.stdout.flush()
    return 0 if correct else 1


def main(argv=None) -> int:
    args = parse_args(argv)
    if not engine_present():
        print(f"perfbench: no icedb_spark package under {ROOT}; "
              "run from the root of a checkout", file=sys.stderr)
        return 2
    return run(args)


if __name__ == "__main__":
    sys.path[0] = ROOT  # import the package from the checkout root
    sys.exit(main())
