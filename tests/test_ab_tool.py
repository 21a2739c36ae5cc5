"""The gain rule of ``tools/ab.py --claim``, on synthetic runs."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import ab  # noqa: E402


def _runs(pairs, name="m"):
    return [
        {"parent": {"metrics": {name: {"value": p}}},
         "change": {"metrics": {name: {"value": c}}}}
        for p, c in pairs
    ]


def test_claim_holds_on_a_clear_gain():
    pairs = ab.metric_pairs(_runs([(100 + i, 50 + i) for i in range(10)]), "m")
    c = ab.claim(pairs, lower=True)
    assert c["holds"] and c["won"] == 10 and c["pairs"] == 10
    assert c["gain"] == 50


def test_claim_needs_nine_of_ten_wins():
    pairs = [(100.0, 50.0)] * 8 + [(100.0, 150.0)] * 2
    assert ab.claim(pairs, lower=True)["won"] == 8
    assert not ab.claim(pairs, lower=True)["holds"]
    assert ab.claim([(100.0, 50.0)] * 9 + [(100.0, 150.0)], lower=True)["holds"]
    # 8 of 9 is below 9 of 10
    assert not ab.claim([(1.0, 0.5)] * 8 + [(1.0, 2.0)], lower=True)["holds"]


def test_claim_ties_count_for_neither_side():
    pairs = [(100.0, 50.0)] * 9 + [(100.0, 100.0)]
    c = ab.claim(pairs, lower=True)
    assert c["won"] == 9 and c["holds"]
    pairs = [(100.0, 50.0)] * 8 + [(100.0, 100.0)] * 2
    assert not ab.claim(pairs, lower=True)["holds"]


def test_claim_gain_must_exceed_parent_spread():
    # the change wins every pair, but by less than the parent's own
    # interquartile spread (q1 97.75, q3 102.25 for 95..105)
    parent = [95.0, 96, 97, 98, 99, 101, 102, 103, 104, 105]
    small = [(p, p - 2) for p in parent]
    c = ab.claim(small, lower=True)
    assert c["won"] == 10 and c["parent_spread"] > c["gain"] == 2
    assert not c["holds"]
    big = [(p, p - 6) for p in parent]
    assert ab.claim(big, lower=True)["holds"]


def test_claim_respects_higher_is_better():
    pairs = [(10.0, 20.0 + i) for i in range(10)]
    assert ab.claim(pairs, lower=False)["holds"]
    assert not ab.claim(pairs, lower=True)["holds"]


def test_metric_pairs_skips_runs_missing_the_metric():
    runs = _runs([(1.0, 2.0), (3.0, 4.0)])
    runs.append({"parent": {"metrics": {}}, "change": {"metrics": {"m": {"value": 9}}}})
    assert ab.metric_pairs(runs, "m") == [(1.0, 2.0), (3.0, 4.0)]
