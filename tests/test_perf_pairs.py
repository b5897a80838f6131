"""`tools/perf_pairs.py` summary arithmetic (no Spark, no runs)."""

from __future__ import annotations

import json

import pytest

from tools.perf_pairs import parse_run, quartiles, summarize


def _rec(**metrics):
    return {"metrics": metrics, "failed": 0, "steal_pct": 1.0}


def test_quartiles_inclusive_and_single_value():
    assert quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
    assert quartiles([7.0]) == (7.0, 7.0, 7.0)


def test_summarize_pairs_ratios_and_drops_crashed_runs():
    pairs = [
        (_rec(setup_s=20.0, cycle_cpu_s=80.0), _rec(setup_s=15.0, cycle_cpu_s=60.0)),
        (_rec(setup_s=22.0, cycle_cpu_s=70.0), _rec(setup_s=11.0, cycle_cpu_s=63.0)),
        (_rec(setup_s=25.0, cycle_cpu_s=75.0), _rec(setup_s=20.0, cycle_cpu_s=75.0)),
        # a crashed change run carries no metrics: the pair drops out
        (_rec(setup_s=99.0, cycle_cpu_s=99.0), {"metrics": {}, "failed": None,
                                                 "steal_pct": None}),
    ]
    s = summarize(pairs, ["setup_s", "cycle_cpu_s", "absent"])
    assert set(s) == {"setup_s", "cycle_cpu_s"}
    assert s["setup_s"]["pairs"] == 3
    assert s["setup_s"]["parent"] == (21.0, 22.0, 23.5)
    assert s["setup_s"]["change"] == (13.0, 15.0, 17.5)
    # median of the per-pair ratios (0.75, 0.5, 0.8), not a ratio of medians
    assert s["setup_s"]["ratio"] == pytest.approx(0.75)
    assert s["cycle_cpu_s"]["ratio"] == pytest.approx(0.9)


def test_parse_run_reads_metrics_failed_and_steal():
    out = "\n".join([
        "some log line",
        json.dumps({"detail": {"cycles_s": [12.5], "cycles_cpu_s": [60.0]}}),
        json.dumps({"host": {"steal_pct": 2.5}}),
        json.dumps({"correct": True, "attempted": 30, "failed": 0,
                    "metrics": {"setup_s": {"value": 15.7, "unit": "s"}}}),
    ])
    rec = parse_run(out)
    assert rec["metrics"] == {"setup_s": 15.7}
    assert rec["failed"] == 0 and rec["steal_pct"] == 2.5
    assert rec["cycles_s"] == [12.5]
    assert parse_run("Traceback ...")["failed"] is None
