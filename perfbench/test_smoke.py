"""The benchmark's own tests, at the smoke size (sf0.001, 20-document
increments, a few tx writes; a few minutes in all):

    python3 -m pytest perfbench/test_smoke.py -q

Each workload must emit every metric ``BENCHMARK.json`` names, with its
unit, and pass its output checks; two runs with the same seed must
record identical per-op counters; an op that raises is counted as
failed and the run still reports every metric.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(workload: str, seed: int, trace: int, *extra: str) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "2", "--trace", str(trace),
         "--size", "smoke", *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    ).stdout.splitlines()
    return json.loads(out[-2]), json.loads(out[-1])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_emits_every_metric_and_passes_checks(workload, trace):
    report, res = _run(workload, 7, trace)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, report["errors"]
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in res["metrics"].items()}
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
    assert 0 <= report["host"]["steal_frac"] <= 1


def test_same_seed_same_counters():
    a, _ = _run("tx_ingest", 11, 0)
    b, _ = _run("tx_ingest", 11, 0)
    n = min(len(a["counters"]), len(b["counters"]))
    assert n > 10
    assert a["counters"][:n] == b["counters"][:n]


# a span inside one op of each load, entered before its layer is called
@pytest.mark.parametrize("workload,span", [
    ("serve_sf01", "plans.execute"),
    ("tx_ingest", "warehouse_tx.merge_pruned"),
    ("tx_ingest", "declarative.run_atomic"),
])
def test_failed_op_is_counted(workload, span):
    report, res = _run(workload, 7, 0, "--fail-span", span)
    assert res["failed"] == 1 and not res["correct"], report["errors"]
    assert report["errors"][0].startswith("RuntimeError: injected failure")
    assert report["metrics"]["error_rate"] == 1 / res["attempted"]
    assert set(res["metrics"]) == {m["name"] for m in BENCH["end_to_end"]}
