"""Unit tests for bench.py's round-over-round delta math — the calibration
normalization must be right or every future round's perf read is wrong."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import HARNESS, compute_delta, recover_truncated_record  # noqa: E402

CAL = {"spark_cpu_sec": 0.50, "python_loop_sec": 0.35, "spark_shuffle_sec": 0.45}


def test_delta_normalization_removes_box_drift():
    """Identical code on a 25% slower box: raw delta shows a phantom
    +2.0s; the normalized delta must be ~0 (the r8/r9 phantom-swing
    scenario the probes exist for)."""
    prev = {
        "value": 8.0,
        "sf": 0.1,
        "harness": {"version": HARNESS["version"]},
        "calibration": {"spark_cpu_sec": 0.40},
    }
    d = compute_delta(prev, "BENCH_r10.json", 10.0, 0.1, CAL)
    assert d["delta_sec"] == 2.0
    assert d["drift_factor"] == 1.25
    assert abs(d["delta_normalized_sec"]) < 1e-9
    assert d["same_harness"] is True


def test_delta_real_regression_survives_normalization():
    """A true 1s regression on a stable box must show up in BOTH deltas."""
    prev = {
        "value": 8.0, "sf": 0.1,
        "harness": {"version": HARNESS["version"]},
        "calibration": {"spark_cpu_sec": 0.50},
    }
    d = compute_delta(prev, "BENCH_r10.json", 9.0, 0.1, CAL)
    assert d["delta_sec"] == 1.0 and d["delta_normalized_sec"] == 1.0


def test_delta_prior_without_calibration_is_unnormalized():
    prev = {"value": 8.0, "sf": 0.1, "harness": {"version": HARNESS["version"]}}
    d = compute_delta(prev, "BENCH_r09.json", 9.0, 0.1, CAL)
    assert d["delta_sec"] == 1.0
    assert d["drift_factor"] is None and d["delta_normalized_sec"] is None
    assert "normalization_note" in d


def test_delta_driver_parsed_wrapper_and_sf_mismatch():
    """The driver wraps the bench line under 'parsed'; a different SF must
    flag same_harness=False."""
    prev = {"parsed": {
        "value": 8.0, "sf": 0.01,
        "harness": {"version": HARNESS["version"]},
        "calibration": {"spark_cpu_sec": 0.50},
    }}
    d = compute_delta(prev, "BENCH_r10.json", 9.0, 0.1, CAL)
    assert d["same_harness"] is False and d["delta_sec"] == 1.0


def test_delta_missing_prev_value_returns_none():
    assert compute_delta({"sf": 0.1}, "BENCH_r01.json", 9.0, 0.1, CAL) is None


# --- r10 failure mode: the driver keeps only the last 2000 stdout chars ---

_R10_STYLE_TAIL = (
    '"q3_top": 0.80, "q5_rev": 0.79, "outliers": 0.57}, '
    '"queries_extra": {"text_nb": 3.86, "pagerank": 2.60}, "sf": 0.1, '
    '"harness": {"version": "v2", "timing": "min_of_2_passes", '
    '"calibration": "v1"}, "calibration": {"pre": {"python_loop_sec": 0.338, '
    '"spark_cpu_sec": 0.4425, "spark_shuffle_sec": 0.3856}, '
    '"post": {"python_loop_sec": 0.3396, "spark_cpu_sec": 0.3812, '
    '"spark_shuffle_sec": 0.3361}, "python_loop_sec": 0.3388, '
    '"spark_cpu_sec": 0.4118, "spark_shuffle_sec": 0.3609}, '
    '"same_harness_delta": {"prev_file": "BENCH_r09.json"}}\n'
)


def test_recover_truncated_record_extracts_queries_and_merged_probe():
    rec = recover_truncated_record(_R10_STYLE_TAIL)
    assert rec["_truncated"] is True
    assert rec["queries"] == {"q3_top": 0.80, "q5_rev": 0.79, "outliers": 0.57}
    assert rec["queries_extra"] == {"text_nb": 3.86, "pagerank": 2.60}
    assert rec["sf"] == 0.1
    assert rec["harness"]["version"] == "v2"
    # merged probe (the LAST spark_cpu_sec inside calibration), not pre/post
    assert rec["calibration"]["spark_cpu_sec"] == 0.4118


def test_recover_full_line_in_tail_parses_cleanly():
    """If the whole JSON line IS in the tail (parse failed upstream for
    another reason), recovery returns the full record, value included."""
    tail = (
        'progress-bar junk] \n{"metric": "headline_queries_total", '
        '"value": 8.0, "unit": "sec", "queries": {"q1": 1.0}, '
        '"queries_extra": {}, "sf": 0.1}\n'
    )
    rec = recover_truncated_record(tail)
    assert rec["value"] == 8.0 and "_truncated" not in rec


def test_delta_common_query_basis_for_truncated_prev():
    """Truncated prev (no total): delta is computed over the COMMON
    headline queries, drift-normalized with the recovered merged probe."""
    prev_wrapper = {"tail": _R10_STYLE_TAIL, "parsed": None, "sf": 0.1}
    timings = {"q3_top": 0.88, "q5_rev": 0.88, "outliers": 0.64, "new_q": 9.9}
    cal = {"spark_cpu_sec": 0.4118 * 1.1}  # box 10% slower than prev
    d = compute_delta(prev_wrapper, "BENCH_r10.json", 99.0, 0.1, cal, timings=timings)
    assert d["prev_total_sec"] == 2.16  # 0.80+0.79+0.57 (common keys only)
    assert d["this_total_common_sec"] == 2.4
    assert "basis" in d and "common-3" in d["basis"]
    assert d["delta_sec"] == round(2.4 - 2.16, 4)
    # normalized: 2.4 - 2.16*1.1 = 0.024 — a ~0 true delta on a 10%-slower box
    assert abs(d["delta_normalized_sec"] - round(2.4 - 2.16 * 1.1, 4)) < 1e-9
    assert d["same_harness"] is True


def test_recover_arbitrary_truncation_never_crashes():
    """Hypothesis: a full bench line truncated at ANY byte offset (the
    driver keeps the LAST N chars) either recovers a consistent partial
    record or returns None — never raises, never invents query keys."""
    import json

    from hypothesis import given, settings
    from hypothesis import strategies as st

    full = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": 8.1234,
            "unit": "sec",
            "queries": {f"q{i}": round(0.1 * i + 0.01, 4) for i in range(1, 20)},
            "queries_extra": {f"x{i}": round(0.2 * i + 0.02, 4) for i in range(1, 20)},
            "sf": 0.1,
            "harness": {"version": "v2"},
            "calibration": {
                "pre": {"spark_cpu_sec": 0.44},
                "post": {"spark_cpu_sec": 0.38},
                "python_loop_sec": 0.33,
                "spark_cpu_sec": 0.41,
                "spark_shuffle_sec": 0.36,
            },
            "same_harness_delta": None,
        }
    ) + "\n"
    valid_q = {f"q{i}" for i in range(1, 20)}
    valid_x = {f"x{i}" for i in range(1, 20)}

    @given(st.integers(min_value=0, max_value=len(full) - 1))
    @settings(max_examples=300, deadline=None)
    def run(cut):
        tail = full[cut:]
        rec = recover_truncated_record(tail)
        if rec is None:
            return
        if "_truncated" not in rec:  # clean full-line parse
            assert rec["value"] == 8.1234
            return
        # recovered queries are a SUBSET of the real ones with right values
        assert set(rec["queries"]) <= valid_q
        assert set(rec.get("queries_extra", {})) <= valid_x
        for k, v in rec["queries"].items():
            assert v == round(0.1 * int(k[1:]) + 0.01, 4)
        cal = rec.get("calibration", {})
        if "spark_cpu_sec" in cal:
            assert cal["spark_cpu_sec"] == 0.41  # merged, never pre/post

    run()

# --- r12: per-query drift-normalized deltas (sidecar-only) ---


def test_per_query_normalized_deltas():
    """Every query present in BOTH rounds gets {prev, raw, delta_raw,
    delta_normalized}; normalization uses the same drift factor as the
    total, and queries present on only one side are skipped."""
    prev = {
        "value": 8.0,
        "sf": 0.1,
        "harness": {"version": HARNESS["version"]},
        "calibration": {"spark_cpu_sec": 0.40},
        "queries": {"q1": 1.0, "q_gone": 0.5},
        "queries_extra": {"pagerank": 2.0},
    }
    timings = {"q1": 1.25, "q_new": 0.3}
    extras = {"pagerank": 2.0}
    d = compute_delta(
        prev, "BENCH_r11.json", 10.0, 0.1, CAL,
        timings=timings, timings_extra=extras,
    )
    assert d["drift_factor"] == 1.25
    per = d["per_query"]
    # only the intersection; headline + extras both covered
    assert set(per) == {"q1", "pagerank"}
    # q1: 25% slower raw on a 25% slower box -> normalized ~0
    assert per["q1"]["prev"] == 1.0 and per["q1"]["raw"] == 1.25
    assert per["q1"]["delta_raw"] == 0.25
    assert abs(per["q1"]["delta_normalized"]) < 1e-9
    # pagerank: flat raw on a 25% slower box -> a TRUE 0.5s-equivalent win
    assert per["pagerank"]["delta_raw"] == 0.0
    assert abs(per["pagerank"]["delta_normalized"] - (2.0 - 2.0 * 1.25)) < 1e-9


def test_drift_consistency_flag():
    """The probe ratio and the median per-query raw ratio are independent
    reads of box drift; when they disagree >25% (the prior round's probes
    caught a contention spike — observed r11→r12), drift_consistent=False
    tells readers the normalized deltas over/under-correct."""
    prev = {
        "value": 8.0, "sf": 0.1,
        "harness": {"version": HARNESS["version"]},
        "calibration": {"spark_cpu_sec": 0.40},
        "queries": {"a": 1.0, "b": 2.0, "c": 3.0},
    }
    # queries flat (median ratio 1.0) but probe says box 25% slower: the
    # two reads sit exactly at the 1.25 boundary — still consistent
    d = compute_delta(
        prev, "BENCH_r11.json", 8.0, 0.1, CAL,
        timings={"a": 1.0, "b": 2.0, "c": 3.0},
    )
    assert d["median_query_ratio"] == 1.0
    assert d["drift_consistent"] is True
    # probe claims 2x but queries only moved 1.2x -> inconsistent
    prev["calibration"] = {"spark_cpu_sec": 0.25}
    d = compute_delta(
        prev, "BENCH_r11.json", 9.6, 0.1, CAL,
        timings={"a": 1.2, "b": 2.4, "c": 3.6},
    )
    assert d["drift_factor"] == 2.0
    assert abs(d["median_query_ratio"] - 1.2) < 1e-9
    assert d["drift_consistent"] is False


def test_per_query_absent_without_prior_probe():
    """No prior calibration -> no per_query block (nothing to normalize)."""
    prev = {
        "value": 8.0, "sf": 0.1,
        "harness": {"version": HARNESS["version"]},
        "queries": {"q1": 1.0},
    }
    d = compute_delta(prev, "BENCH_r09.json", 9.0, 0.1, CAL, timings={"q1": 1.1})
    assert "per_query" not in d


def test_per_query_from_truncated_prev():
    """Per-query deltas also work off a tail-recovered prior record."""
    prev_wrapper = {"tail": _R10_STYLE_TAIL, "parsed": None, "sf": 0.1}
    timings = {"q3_top": 0.88}
    extras = {"text_nb": 3.86}
    cal = {"spark_cpu_sec": 0.4118}  # identical box speed
    d = compute_delta(
        prev_wrapper, "BENCH_r10.json", 9.0, 0.1, cal,
        timings=timings, timings_extra=extras,
    )
    per = d["per_query"]
    assert per["q3_top"]["delta_raw"] == 0.08
    assert per["text_nb"]["delta_normalized"] == 0.0


# ----------------------------------------------------- frozen baselines


def test_summarize_frozen_basic_ratio_and_median():
    from bench import summarize_frozen

    live = {"a": 2.0, "b": 1.0, "c": 3.0}
    froz = {"a": 4.0, "b": 1.0, "c": 2.0}
    out = summarize_frozen(live, froz, "r12")
    # default aligned with main()'s actual 4-pass alternating protocol
    # (r13 ADVICE: the old passes=3 default misdescribed the sidecar)
    assert out["code_version"] == "r12" and out["passes"] == 4
    assert out["per_query"]["a"]["ratio"] == 0.5
    assert out["per_query"]["b"]["ratio"] == 1.0
    assert out["per_query"]["c"]["ratio"] == 1.5
    assert out["median_ratio"] == 1.0


def test_summarize_frozen_skips_one_sided_and_zero_frozen():
    from bench import summarize_frozen

    out = summarize_frozen(
        {"a": 2.0, "only_live": 1.0, "z": 1.0},
        {"a": 2.0, "only_frozen": 1.0, "z": 0.0},
        "r12",
    )
    assert set(out["per_query"]) == {"a"}  # one-sided + zero-frozen dropped
    assert out["median_ratio"] == 1.0


def test_summarize_frozen_empty_returns_none():
    from bench import summarize_frozen

    assert summarize_frozen({}, {}, "r12") is None
    assert summarize_frozen({"a": 1.0}, {"b": 1.0}, "r12") is None
    assert summarize_frozen({"a": 1.0}, {"a": 0.0}, "r12") is None


def test_summarize_frozen_fuzz_never_crashes():
    import random

    from bench import summarize_frozen

    rng = random.Random(13)
    names = [f"q{i}" for i in range(8)]
    for _ in range(200):
        live = {
            n: rng.choice([0.0, rng.uniform(0, 5)])
            for n in rng.sample(names, rng.randint(0, 8))
        }
        froz = {
            n: rng.choice([0.0, rng.uniform(0, 5)])
            for n in rng.sample(names, rng.randint(0, 8))
        }
        out = summarize_frozen(live, froz, "r12")
        if out is not None:
            rs = [v["ratio"] for v in out["per_query"].values()]
            assert min(rs) <= out["median_ratio"] <= max(rs)


def test_frozen_module_is_actually_frozen():
    """bench_frozen.py's contract is that it NEVER changes — a frozen twin
    that drifts with the live code measures nothing. This pins the file's
    content hash; a legitimate re-freeze must update BOTH this hash and
    FROZEN_VERSION (restarting the ratio series), which is exactly the
    friction the contract wants."""
    import hashlib
    from pathlib import Path

    p = Path(__file__).resolve().parent.parent / "bench_frozen.py"
    digest = hashlib.sha256(p.read_bytes()).hexdigest()[:16]
    assert digest == "db904bff45c88413", (
        "bench_frozen.py changed! If this is a deliberate re-freeze, bump "
        "FROZEN_VERSION in the module AND this pinned hash; otherwise "
        "revert the edit — frozen means frozen."
    )
    from bench_frozen import FROZEN, FROZEN_VERSION

    assert FROZEN_VERSION == "r12"
    assert len(FROZEN) == 6


def test_light_frozen_module_is_actually_frozen():
    """Same contract for the r14 light-tier twins (bench_frozen_light.py):
    content-hash pinned; a re-freeze must bump LIGHT_FROZEN_VERSION and
    this hash, restarting the light ratio series."""
    import hashlib
    from pathlib import Path

    p = Path(__file__).resolve().parent.parent / "bench_frozen_light.py"
    digest = hashlib.sha256(p.read_bytes()).hexdigest()[:16]
    assert digest == "7048b68676f4fe7f", (
        "bench_frozen_light.py changed! If this is a deliberate re-freeze, "
        "bump LIGHT_FROZEN_VERSION in the module AND this pinned hash; "
        "otherwise revert the edit — frozen means frozen."
    )
    from bench_frozen_light import LIGHT_FROZEN, LIGHT_FROZEN_VERSION

    assert LIGHT_FROZEN_VERSION == "r14-light"
    assert set(LIGHT_FROZEN) == {
        "q1_pricing_summary", "q5_revenue_by_nation",
        "knn_cosine_bruteforce", "dedup_minhash_pairs",
    }


def test_bench_sf1_usage_errors(capsys):
    """tools/bench_sf1.py reports a pass count below 1 and an unknown
    --queries name as usage errors (exit 2, named in the message) before
    any Spark work, instead of a TypeError or KeyError mid-run."""
    import pytest

    from tools.bench_sf1 import DEFAULT_QUERIES, parse_args

    for argv, needle in (
        (["--passes", "0"], "--passes"),
        (["--queries", "q1_pricing_summary,no_such_entry"], "no_such_entry"),
    ):
        with pytest.raises(SystemExit) as exc:
            parse_args(argv)
        assert exc.value.code == 2
        assert needle in capsys.readouterr().err
    args, names = parse_args(["--passes", "1"])
    assert args.passes == 1 and names == DEFAULT_QUERIES
