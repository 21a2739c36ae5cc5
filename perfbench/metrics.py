"""Metric names and units, and their computation from one run.

``END_TO_END`` is printed by every untraced run and ``PER_LAYER`` by every
traced run, on every workload; ``BENCHMARK.json`` lists exactly these
names (a test checks it). A layer a workload does not exercise reads 0."""

from __future__ import annotations

import math
from statistics import median

from .common import tree_bytes, walk_files

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_per_s": "1/s",
    "insert_p50_ms": "ms",
    "ingest_rows_per_s": "rows/s",
    "cycle_p50_ms": "ms",
    "write_amp": "ratio",
    "space_amp": "ratio",
    "driver_rss_mb": "MB",
}

QUERY_TYPES = ("pruned_agg", "zone_range", "bloom_point", "full_agg", "time_travel")
OP_KINDS = ("insert", "compact", "dml", "search") + QUERY_TYPES
DML_KINDS = ("delete", "update", "merge_into", "delete_where", "vacuum", "txn")

PER_LAYER = {
    "log.fold_s": "s",
    "log.fold_calls": "count",
    "log.append_s": "s",
    "log.append_calls": "count",
    "log.get_calls": "count",
    "log.list_calls": "count",
    "log.put_bytes": "bytes",
    "log.parse_hit_ratio": "ratio",
    "log.objects_end": "count",
    "pruning.s": "s",
    "pruning.files_alive": "count",
    "pruning.files_kept": "count",
    "pruning.kept_ratio": "ratio",
    "read.plan_s": "s",
    "read.exec_s": "s",
    **{f"read.{q}_p50_ms": "ms" for q in QUERY_TYPES},
    "insert.wall_s": "s",
    "insert.write_s": "s",
    "insert.files": "count",
    "insert.data_bytes": "bytes",
    "merge.s": "s",
    "merge.passes": "count",
    "merge.files_in": "count",
    "merge.files_out": "count",
    "merge.bytes_rewritten": "bytes",
    "vacuum.s": "s",
    "vacuum.files_deleted": "count",
    "vacuum.logs_deleted": "count",
    **{f"dml.{k}_s": "s" for k in DML_KINDS},
    "dml.files_rewritten": "count",
    "dml.bytes_rewritten": "bytes",
    "locks.acquires": "count",
    "locks.wait_s": "s",
    "txn.commit_s": "s",
    "txn.conflicts": "count",
    "operators.search_plan_s": "s",
    "operators.search_exec_s": "s",
    **{f"spark.jobs.{k}": "count" for k in OP_KINDS},
    **{f"spark.tasks.{k}": "count" for k in OP_KINDS},
    "cpu.driver_py_s": "s",
    "cpu.jvm_s": "s",
    "cpu.pyworker_s": "s",
    "trace.op_p50_ms": "ms",
}


def p50_ms(xs) -> float:
    return median(xs) * 1e3 if xs else 0.0


def table_state(tables) -> dict:
    """Files, log objects and bytes of the tables at the end of a run."""
    alive = [m for t in tables for m in t.files_for()]
    logs = sum(1 for t in tables for _ in walk_files(f"{t.path}/_log"))
    return {
        "alive_files": len(alive),
        "alive_bytes": sum(m.file_bytes for m in alive),
        "log_objects": logs,
        "table_bytes": sum(tree_bytes(t.path) for t in tables),
    }


def unit_p50_ms(samples: dict, kinds) -> float:
    """Median latency of the unit operation. When the unit is a mix of
    kinds (the query types), the geometric mean of the per-kind medians:
    every kind counts equally, and the figure cannot jump between kinds
    the way the median of the pooled samples does."""
    meds = [p50_ms(samples[k]) for k in kinds if samples.get(k)]
    return math.exp(sum(math.log(m) for m in meds) / len(meds)) if meds else 0.0


def end_to_end(wl, ctx, setup_s: float, phase_s: float, state: dict, rss_mb: float) -> dict:
    s = ctx.rec.samples
    ops = sum(len(s.get(k, ())) for k in wl.unit)
    return {
        "setup_s": setup_s,
        "op_p50_ms": unit_p50_ms(s, wl.unit),
        "op_per_s": ops / phase_s,
        "insert_p50_ms": p50_ms(s.get(wl.insert)),
        "ingest_rows_per_s": wl.rows / max(1e-9, ctx.rec.total(wl.insert)),
        "cycle_p50_ms": p50_ms(s.get(wl.cycle)),
        "write_amp": ctx.ledger.write_amp(),
        "space_amp": state["table_bytes"] / max(1, state["alive_bytes"]),
        "driver_rss_mb": rss_mb,
    }


def per_layer(wl, ctx, e2e: dict, state: dict, cpu: dict) -> dict:
    v, rec = ctx.c.v, ctx.rec
    out = {k: float(v.get(k, 0.0)) for k in PER_LAYER}
    out["log.parse_hit_ratio"] = 1.0 - v.get("log.log_gets", 0.0) / max(1.0, v.get("log.keys_folded", 0.0))
    out["log.objects_end"] = state["log_objects"]
    out["pruning.kept_ratio"] = v.get("pruning.files_kept", 0.0) / max(1.0, v.get("pruning.files_alive", 0.0))
    for q in QUERY_TYPES:
        out[f"read.{q}_p50_ms"] = p50_ms(rec.samples.get(q))
    out["insert.wall_s"] = rec.total("insert")
    out["insert.write_s"] = rec.total("insert") - v.get("log.append_s.insert", 0.0)
    for k in DML_KINDS:
        out[f"dml.{k}_s"] = rec.total(f"dml.{k}")
    out["dml.files_rewritten"] = ctx.ledger.files.get("dml", 0.0)
    out["dml.bytes_rewritten"] = ctx.ledger.written.get("dml", 0.0)
    out.update(cpu)
    out["trace.op_p50_ms"] = e2e["op_p50_ms"]
    return out
