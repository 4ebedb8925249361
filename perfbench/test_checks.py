"""Tests of the benchmark's output checks.

    python3 -m pytest perfbench/test_checks.py -q       # or
    python3 perfbench/test_checks.py

``test_corrupted_expected_value_fails_the_run`` runs the read-only
workload once (about a minute) against a copy of expected.json with one fingerprint
changed, and asserts that the run reports the failure.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import workloads  # noqa: E402

WORKLOAD = "analyst_iterative_sf0.01"
SEED = 0  # corpus variant 0
CORRUPTED_OP = "q1_pricing_summary"


def test_query_check_compares_rows_and_hash():
    wl = workloads.QueryWorkload.__new__(workloads.QueryWorkload)
    expected = {"q": [6, -17]}
    assert wl.check("q", [6, -17], expected)
    assert not wl.check("q", [6, -16], expected)
    assert not wl.check("q", [5, -17], expected)
    assert not wl.check("missing", [6, -17], expected)


def test_expected_values_cover_every_operation():
    with open(os.path.join(HERE, "expected.json")) as f:
        exp = json.load(f)
    for workload, ops in (
        ("analyst_iterative_sf0.01", workloads.OPS_WITH_METRICS),
        ("lifecycle_sf0.01", ["to_model"]),
    ):
        for variant in map(str, range(4)):
            assert set(ops) <= set(exp[workload][variant]), (workload, variant)


def test_benchmark_json_lists_every_metric():
    """BENCHMARK.json names exactly the metrics a run prints, with their units."""
    import run
    import spans

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    spark = {k: 1.0 for k, _ in run.SPARK_PER_OP}
    ops = {n: {"build_s": 0.1, "exec_s": 0.1, "spark": spark} for n in workloads.OPS_WITH_METRICS}
    traced = [{"ops": ops, "retained_rdd_mb": 0.0, "gc_s": 0.0, "layers": {}}]
    wl = types.SimpleNamespace(op_names=workloads.OPS_WITH_METRICS)
    printed = {k: unit for k, (_, unit) in run._layer_metrics(wl, traced, 0.0).items()}
    assert printed == {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert run.END_TO_END == {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert set(spans.LAYER_METRICS) == {*spans.MODULE_LAYERS, *spans.CLASS_LAYERS}
    assert [w["name"] for w in bench["workloads"]] == run.WORKLOADS


def test_corrupted_expected_value_fails_the_run():
    with open(os.path.join(HERE, "expected.json")) as f:
        exp = json.load(f)
    rows, h = exp[WORKLOAD][str(SEED % 4)][CORRUPTED_OP]
    exp[WORKLOAD][str(SEED % 4)][CORRUPTED_OP] = [rows, h ^ 1]
    with tempfile.NamedTemporaryFile("w", suffix=".json", dir=HERE, delete=False) as f:
        json.dump(exp, f)
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", WORKLOAD,
             "--seed", str(SEED), "--seconds", "1", "--trace", "0", "--expected", f.name],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
    finally:
        os.unlink(f.name)
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] is False
    assert result["failed"] == 1
    assert result["metrics"]["op_ok_frac"]["value"] < 1.0


if __name__ == "__main__":
    for name, fn in list(globals().items()):
        if name.startswith("test_"):
            fn()
            print(f"{name}: ok")
