"""bench.py's stdout contract, fed synthetic profile records (no Spark)."""

from __future__ import annotations

import json

import bench

CONTRACT_KEYS = {"metric", "value", "unit", "sf", "cpus",
                 "concurrent_wall_sec", "sequential_wall_sec",
                 "n_queries", "n_errors", "protocol", "control_s",
                 "cold_sum_sec"}


def _records() -> list[dict]:
    recs = [{"check": "sort_limit", "cold_s": 0.5, "warm_med_s": 0.2,
             "jobs": 2, "stages": 2, "tasks": 2}]
    for i in range(250):
        recs.append({"check": f"check_with_a_long_name_{i:03d}",
                     "cold_s": 1.0 + i / 100, "warm_med_s": 0.5 + i / 100,
                     "jobs": 3, "stages": 4, "tasks": 5})
    recs.append({"check": "broken_check", "error": "boom"})
    return recs


def test_report_prints_legacy_map_then_headline():
    recs = _records()
    assert len(recs) == 252
    conc = {r["check"]: 1.0 for r in recs}
    lines = bench.report(recs, conc, 42.0, 0.01, 4, seq_elapsed=900.0)

    head = json.loads(lines[-1])
    assert CONTRACT_KEYS <= set(head)
    assert head["protocol"] != "kept-sum-v2"
    assert head["n_queries"] == 252 and head["n_errors"] == 1
    assert head["control_s"] == 0.2
    assert head["concurrent_wall_sec"] == 42.0
    warm = [r["warm_med_s"] for r in recs if "error" not in r]
    assert head["value"] == head["sequential_wall_sec"] \
        == round(sum(warm), 3)
    assert head["cold_sum_sec"] == round(
        sum(r["cold_s"] for r in recs if "error" not in r), 3)

    legacy = lines[-2]
    assert len(legacy) <= 1500
    seq = json.loads(legacy)
    assert set(seq) == {"pass", "queries"} and seq["pass"] == "sequential"
    assert seq["queries"]["check_with_a_long_name_249"] == 2.99
    # only the slowest checks fit; the ones kept are the slowest ones
    kept = set(seq["queries"])
    assert 10 < len(kept) < 251 and "broken_check" not in kept
    assert min(seq["queries"].values()) >= max(
        round(r["warm_med_s"], 2) for r in recs
        if "error" not in r and r["check"] not in kept)


def test_report_counts_concurrent_errors_once():
    recs = _records()
    conc = {r["check"]: 1.0 for r in recs}
    conc["broken_check"] = -1.0
    conc["sort_limit"] = -1.0
    head = json.loads(bench.report(recs, conc, 42.0, 0.01, 4)[-1])
    assert head["n_errors"] == 2
