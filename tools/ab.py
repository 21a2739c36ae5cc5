"""Interleaved A/B of the benchmark: a parent ref against this checkout.

    python tools/ab.py HEAD~1 --workload maintenance --pairs 10
    python tools/ab.py main --workload query --pairs 3 --seed 2

Exports the parent ref with ``git archive`` into a temporary directory,
then runs ``perfbench/run.py --workload W --seed S --seconds T`` (``T``
is ``run_seconds`` from ``BENCHMARK.json``) once on each side per pair,
alternating which side runs first so host drift hits both equally. For
every end-to-end metric in ``BENCHMARK.json`` it prints
each side's median and quartiles, the pairs the change won, the relative
median change in the metric's bad direction, the metric's bound, and a
verdict:

- ``ok``: the median is no worse than the bound allows;
- ``WORSE``: the median is worse by more than the bound;
- ``unresolved``: either side's interquartile spread, relative to its
  median, is wider than the bound, so the runs cannot tell — unless
  every run of the change reads better than every run of the parent.

``--claim METRIC`` also checks the gain rule for a claimed improvement
of that metric: the change wins at least 9 of every 10 pairs (a tie counts
for neither side) and its median is better than the parent's by more than
the parent's interquartile spread (q3 - q1).

Every run must report ``correct`` with 0 failed; the summary counts the
runs that did not. Only ``BENCHMARK.json`` and ``perfbench/`` are read;
neither is changed. Standard library only. Exits 1 when a metric is
``WORSE``, a run failed or a claim does not hold, else 0.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import subprocess
import sys
import tarfile
import tempfile
import time
from statistics import quantiles

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_ref(ref: str, dest: str) -> None:
    """The committed tree of ``ref`` under ``dest``."""
    tar = subprocess.run(
        ["git", "-C", ROOT, "archive", "--format=tar", ref],
        check=True, capture_output=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(dest, filter="data")


def run_once(cwd: str, workload: str, seed: int, seconds: int) -> dict:
    """One benchmark run from ``cwd``: its result line plus wall time.
    A run that prints no result line counts as not correct."""
    t0 = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=cwd, capture_output=True, text=True,
    )
    wall = time.perf_counter() - t0
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    try:
        result = json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        result = {"correct": False, "failed": 1, "metrics": {}}
    if not (result.get("correct") and result.get("failed") == 0):
        print(proc.stderr[-2000:], file=sys.stderr)
    result["wall_s"] = wall
    return result


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3); with one sample all three are that sample."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def metric_pairs(runs: list[dict], name: str) -> list[tuple[float, float]]:
    """``(parent, change)`` values of one metric, one per pair that
    reported it on both sides."""
    return [
        (p["metrics"][name]["value"], c["metrics"][name]["value"])
        for p, c in ((r["parent"], r["change"]) for r in runs)
        if name in p.get("metrics", {}) and name in c.get("metrics", {})
    ]


def claim(pairs: list[tuple[float, float]], lower: bool) -> dict:
    """The gain rule for a claimed improvement: the change wins at least
    9 of every 10 pairs (ties count for neither side), and its median is
    better than the parent's by more than the parent's interquartile
    spread."""
    won = sum((c < p) if lower else (c > p) for p, c in pairs)
    pq = quartiles([p for p, _ in pairs])
    cq = quartiles([c for _, c in pairs])
    gain = pq[1] - cq[1] if lower else cq[1] - pq[1]
    spread = pq[2] - pq[0]
    return {
        "won": won, "pairs": len(pairs), "gain": gain,
        "parent_spread": spread,
        "holds": 10 * won >= 9 * len(pairs) and gain > spread,
    }


def compare(runs: list[dict], spec: list[dict]) -> list[dict]:
    """Per end-to-end metric: both sides' quartiles, pairs won, the
    relative median change in the bad direction, and the verdict."""
    rows = []
    for m in spec:
        name, lower = m["name"], m["better"] == "lower"
        pairs = metric_pairs(runs, name)
        if not pairs:
            continue
        par, chg = [p for p, _ in pairs], [c for _, c in pairs]
        pq, cq = quartiles(par), quartiles(chg)
        won = sum((c < p) if lower else (c > p) for p, c in pairs)
        worse = (cq[1] - pq[1]) / abs(pq[1]) if pq[1] else 0.0
        if not lower:
            worse = -worse
        rel = max(
            (q[2] - q[0]) / abs(q[1]) if q[1] else 0.0 for q in (pq, cq)
        )
        dominates = max(chg) < min(par) if lower else min(chg) > max(par)
        if rel > m["bound"] and not dominates:
            verdict = "unresolved"
        elif worse > m["bound"]:
            verdict = "WORSE"
        else:
            verdict = "ok"
        rows.append({
            "metric": name, "parent": pq, "change": cq,
            "won": won, "pairs": len(pairs),
            "worse_by": worse, "spread": rel, "bound": m["bound"],
            "verdict": verdict,
        })
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent", help="git ref of the parent tree")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--claim", metavar="METRIC",
                    help="check the gain rule for this end-to-end metric")
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    better = {m["name"]: m["better"] for m in bench["end_to_end"]}
    if args.claim is not None and args.claim not in better:
        ap.error(f"--claim: {args.claim!r} is not an end-to-end metric")
    seconds = bench["run_seconds"]
    tmp = tempfile.mkdtemp(prefix="ab-parent-")
    try:
        export_ref(args.parent, tmp)
        sides = {"parent": tmp, "change": ROOT}
        runs = []
        for i in range(args.pairs):
            order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
            pair = {}
            for side in order:
                pair[side] = run_once(
                    sides[side], args.workload, args.seed, seconds
                )
            runs.append(pair)
            print(
                f"pair {i + 1}/{args.pairs} ({order[0]} first): "
                + ", ".join(
                    f"{s} correct={pair[s].get('correct')} "
                    f"failed={pair[s].get('failed')} {pair[s]['wall_s']:.0f}s"
                    for s in ("parent", "change")
                ),
                file=sys.stderr, flush=True,
            )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    rows = compare(runs, bench["end_to_end"])
    bad_runs = sum(
        not (r[s].get("correct") and r[s].get("failed") == 0)
        for r in runs for s in ("parent", "change")
    )
    print(f"{args.workload}: {len(runs)} pairs vs {args.parent}, "
          f"seed {args.seed}, {seconds} s; runs not correct: {bad_runs}")
    print(f"{'metric':<18} {'parent q1/med/q3':>26} {'change q1/med/q3':>26} "
          f"{'won':>6} {'worse':>7} {'spread':>7} {'bound':>6}  verdict")
    for r in rows:
        fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
        print(f"{r['metric']:<18} {fmt(r['parent']):>26} {fmt(r['change']):>26} "
              f"{r['won']:>3}/{r['pairs']:<2} {r['worse_by']:>+7.3f} "
              f"{r['spread']:>7.3f} {r['bound']:>6.2f}  {r['verdict']}")
    worse = any(r["verdict"] == "WORSE" for r in rows)
    held = True
    if args.claim is not None:
        c = claim(metric_pairs(runs, args.claim), better[args.claim] == "lower")
        held = c["holds"]
        print(f"claim {args.claim}: won {c['won']}/{c['pairs']}, median gain "
              f"{c['gain']:.4g} vs parent spread {c['parent_spread']:.4g}: "
              + ("holds" if held else "does NOT hold"))
    return 1 if worse or bad_runs or not held else 0


if __name__ == "__main__":
    sys.exit(main())
