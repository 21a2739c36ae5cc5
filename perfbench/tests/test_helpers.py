"""Tests of the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

Run from the root of a checkout. The last test runs the ``ingest``
workload twice as a subprocess (about a minute)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from icedb_spark.log import MemoryStorage  # noqa: E402
from perfbench.common import Gate, summarize, tail_percentile  # noqa: E402
from perfbench.instruments import CountingStorage, Counters  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, unit_p50_ms  # noqa: E402
from perfbench.workloads import NAMES  # noqa: E402


# ------------------------------------------------------------- tail rule

@pytest.mark.parametrize("n,want", [
    (0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
    (99, 75.0), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0),
    (10_000, 99.9),
])
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_no_tail_below_twenty_samples():
    assert "tail_ms" not in summarize([0.001 * i for i in range(1, 20)])
    s = summarize([0.001 * i for i in range(1, 101)])
    assert s["tail_pct"] == 90.0
    assert s["tail_ms"] == pytest.approx(90.0)  # 90 samples at or below it
    assert s["p50_ms"] == pytest.approx(50.0)


def test_unit_median_of_a_mix_is_the_geometric_mean_of_kind_medians():
    assert unit_p50_ms({"a": [0.3, 0.1, 0.2]}, ("a",)) == pytest.approx(200.0)
    # per-kind medians 0.1 s and 0.4 s; the pooled median (0.325 s) would
    # sit between the kinds; kinds outside the unit do not count
    mix = {"fast": [0.1, 0.1, 0.25], "slow": [0.4, 0.4, 0.5], "other": [9.0]}
    assert unit_p50_ms(mix, ("fast", "slow")) == pytest.approx(200.0)
    assert unit_p50_ms({}, ("a",)) == 0.0


# ------------------------------------------------------ counting storage

def test_counting_storage_counts_a_scripted_sequence():
    c = Counters()
    s = CountingStorage(MemoryStorage("perfbench-test-counting"), c)
    s.put("_log/1.jsonl", b"abc")
    s.put("_log/2.jsonl", b"defgh")
    s.put("_tags/t", b"7")
    assert s.get("_log/1.jsonl") == b"abc"
    assert s.get("_tags/t") == b"7"
    assert [k for k, _ in s.list("_log")] == ["_log/1.jsonl", "_log/2.jsonl"]
    assert s.exists("_log/2.jsonl")
    s.delete("_log/1.jsonl")
    assert s.size("_log/2.jsonl") == 5
    assert dict(c.v) == {
        "log.put_calls": 3,
        "log.put_bytes": 9,
        "log.get_calls": 2,
        "log.log_gets": 1,
        "log.list_calls": 1,
        "log.head_calls": 2,
        "log.delete_calls": 1,
    }
    # attributes the engine reads pass through (the parse cache keys on root)
    assert s.root == "perfbench-test-counting"
    assert s.absolute("k") == "memory://perfbench-test-counting/k"


# -------------------------------------------------------- correctness gate

def test_gate_catches_a_planted_wrong_answer():
    import duckdb

    rows = pa.table({"d": ["a", "a", "b"], "v": [0.5, 0.25, 1.0]})
    db = duckdb.connect()
    db.register("ice", rows)
    want = db.execute("SELECT d, count(*), sum(v) FROM ice GROUP BY d").fetchall()
    g = Gate()
    assert g.rows("right", [("b", 1, 1.0), ("a", 2, 0.75)], want)
    assert not g.rows("wrong_sum", [("a", 2, 0.75), ("b", 1, 1.0000001)], want)
    assert not g.rows("missing_row", [("a", 2, 0.75)], want)
    assert not g.rows("wrong_count", [("a", 3, 0.75), ("b", 1, 1.0)], want)
    assert g.checks == 4
    assert [f.split(":")[0] for f in g.failures] == ["wrong_sum", "missing_row", "wrong_count"]


# ------------------------------------------------------------ determinism

def _same(a, b) -> bool:
    if isinstance(a, dict):
        return a.keys() == b.keys() and all(_same(a[k], b[k]) for k in a)
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, pa.Table):
        return a.equals(b)
    if isinstance(a, np.ndarray):
        return np.array_equal(a, b)
    return a == b


@pytest.mark.parametrize("name", NAMES)
def test_one_seed_makes_identical_inputs(name):
    import importlib

    mod = importlib.import_module(f"perfbench.workloads.{name}")
    first = mod.inputs(5, 6)
    assert _same(first, mod.inputs(5, 6))
    assert not _same(first, mod.inputs(6, 6))


def test_benchmark_json_lists_exactly_the_printed_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(NAMES)


def _run(seed: int, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest",
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    ).stdout.splitlines()
    return json.loads(out[-2])["record"], json.loads(out[-1])


def test_one_seed_repeats_table_state_and_job_counts():
    """Same seed: the same files, log objects and bytes, so the same
    write and space amplification, and the same Spark job counts."""
    runs = [_run(11, 1) for _ in range(2)]
    for record, result in runs:
        assert result["correct"] and result["failed"] == 0
    (r1, m1), (r2, m2) = runs
    assert r1["table_state"] == r2["table_state"]
    assert r1["data_written"] == r2["data_written"]
    assert (r1["write_amp"], r1["space_amp"]) == (r2["write_amp"], r2["space_amp"])
    jobs = {k: v["value"] for k, v in m1["metrics"].items() if k.startswith("spark.")}
    assert jobs == {k: v["value"] for k, v in m2["metrics"].items() if k.startswith("spark.")}
    assert jobs["spark.jobs.insert"] > 0
