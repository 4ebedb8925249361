"""Always-on smokes for the env-gated tiers (r13 VERDICT #2).

The hostile-layout sweep shipped in r13 with an import that had never
executed — the opt-in gate meant no CI path ever ran even the module's
setup code, so the certification was un-rerunnable by its own documented
command for a full round. These tests run ONE trivially small probe
through each gated module's REAL harness code in the default suite, so
import errors and harness rot surface immediately:

- hostile sweep: the full run_hostile_sweep() path (hostile env knob,
  shuffle.partitions=7, oracle compare) restricted to a single entry at
  sf0.01 (~15 s);
- scale smoke: run_smoke_entry() + check_plan_parity() on one entry over
  the real driver decade sf0.001→sf0.01 (no sf1 generation needed), plus
  a tiny scalegen.generate() to a tmp dir so the generator path is
  exercised too.

These are smokes for the HARNESSES, not re-certifications — the full
tiers remain opt-in (SPARK_GRAFT_HOSTILE_SWEEP=1 / SPARK_GRAFT_SCALE_SMOKE=1)
and are executed at round close per CLAUDE.md.
"""

from __future__ import annotations

import os

import pytest


@pytest.fixture(scope="module")
def spark():
    from workbench_spark.session import get_spark

    return get_spark("gated-tier-smoke")


def test_hostile_sweep_single_entry(spark):
    """Execute the hostile sweep's real code path on one oracled entry.
    Asserts the entry stays hash-green under the hostile 7/13 layout AND
    that the module's imports/setup work as shipped."""
    from tests.test_partition_invariance import run_hostile_sweep

    failures = run_hostile_sweep(only="q1_pricing_summary")
    assert not failures, failures
    # the sweep must restore the session's shuffle layout (ADVICE r13):
    assert spark.conf.get("spark.sql.shuffle.partitions") != "7"
    assert "SPARK_GRAFT_HOSTILE_PARTS" not in os.environ


def test_hostile_sweep_reports_seeded_failure(spark, monkeypatch):
    """The sweep must be able to FAIL (the compare() mutation audit covers
    the comparator; this covers the sweep wrapper's failure collection):
    corrupt one registry entry and assert run_hostile_sweep returns it."""
    import __spark_entry__ as entrymod

    from tests.test_partition_invariance import run_hostile_sweep

    real = entrymod.queries()

    def corrupted():
        q = dict(real)
        orig = q["q1_pricing_summary"]
        q["q1_pricing_summary"] = lambda s, sf: orig(s, sf).limit(3)
        return q

    monkeypatch.setattr(entrymod, "queries", corrupted)
    failures = run_hostile_sweep(only="q1_pricing_summary")
    assert len(failures) == 1 and failures[0][0] == "q1_pricing_summary"
    assert any("row count" in p for p in failures[0][1])


def test_scale_smoke_harness_single_entry(spark):
    """Execute the scale-smoke harness (timed hash-of-struct runs, plan
    killer asserts, exponent computation, plan-shape parity) on one cheap
    entry across the driver's real sf0.001→sf0.01 decade."""
    from tests.test_scale_smoke import check_plan_parity, run_smoke_entry

    small, big = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    r = run_smoke_entry(spark, "q1_pricing_summary", small, big)
    assert r["big_rows_out"] > 0
    check_plan_parity(spark, "q1_pricing_summary", small, big)


def test_slow_tier_names_are_registry_entries():
    """Renaming a registry entry must not orphan its slow-tier gate: every
    SLOW_TIER name, the always-on SLOW_SMOKE among them, is an entry of
    the registry the oracle replica parametrizes over."""
    import __spark_entry__ as entry

    from tests.test_correctness import SLOW_SMOKE, SLOW_TIER

    assert sorted(set(SLOW_TIER) - set(entry.queries())) == []
    assert SLOW_SMOKE in SLOW_TIER


def test_oracle_invariance_single_entry():
    """Execute the oracle-side thread-invariance tier's real path on one
    entry at sf0.01 (fast), plus prove its detector can fail: two
    different SQLs must canonicalize differently."""
    from tests.test_oracle_invariance import duckdb_canon, run_oracle_invariance

    sf = "/root/testdata/sf0.01"
    assert run_oracle_invariance(only="q1_pricing_summary", sf_dir=sf) == []
    a = duckdb_canon("SELECT 1 AS x", sf, 4)
    b = duckdb_canon("SELECT 2 AS x", sf, 4)
    assert a != b


def test_oracle_invariance_materialized_pin():
    """r15 ADVICE: the thread-invariance tier's skip set is a PINNED
    registry, not a SQL substring — any oracle that grows an
    `AS MATERIALIZED` CTE without being adjudicated onto
    MATERIALIZED_SKIP (or a pin left stale after an entry changes) fails
    the DEFAULT suite here, so nothing can silently escape the tier."""
    from tests.test_oracle_invariance import (
        MATERIALIZED_SKIP,
        materialized_actual,
    )

    actual = materialized_actual()
    assert actual == MATERIALIZED_SKIP, (
        f"unpinned={sorted(actual - MATERIALIZED_SKIP)} "
        f"stale_pins={sorted(MATERIALIZED_SKIP - actual)}"
    )
    assert len(MATERIALIZED_SKIP) == 14

    # the pinned fixed-point replays are RUNNABLE through the tier (the
    # r15 one-time full run certified all 14 stable at sf0.01); prove the
    # include_materialized path executes one of them end-to-end
    from tests.test_oracle_invariance import run_oracle_invariance

    failures = run_oracle_invariance(
        only="q16_supplier_part_counts",
        sf_dir="/root/testdata/sf0.01",
        include_materialized=True,
    )
    assert failures == []


def test_skew_tier_harness_smoke(spark, tmp_path):
    """Execute the planted-skew tier's real harness path (r15 module,
    same r14 rule: gated tiers need always-on smokes) on a tiny corpus:
    skewed generation, the hot-key plants land at their contracted
    shares, run_skew_ratio times one entry through the real code, and
    one oracle hash-compares on the SKEWED corpus (DuckDB reading the
    Spark-written parquet directories)."""
    import pyspark.sql.functions as F

    from tests.test_skew_stress import run_skew_oracle, run_skew_ratio
    from workbench_spark.session import read_table
    from workbench_spark.sources.scalegen import generate

    uni, skw = str(tmp_path / "uni"), str(tmp_path / "skw")
    generate(spark, uni, sf=0.002)
    generate(spark, skw, sf=0.002, skew=True)
    ev = read_table(spark, skw, "events")
    hot = ev.filter(F.col("user_id") == 0).count() / ev.count()
    assert 0.25 < hot < 0.40, f"hot-user plant off: {hot}"
    li = read_table(spark, skw, "lineitem")
    hp = li.filter(F.col("l_partkey") == 0).count() / li.count()
    assert 0.15 < hp < 0.30, f"hot-part plant off: {hp}"
    # generous bound at toy scale: this smoke checks the HARNESS, the
    # real bounds are asserted by the gated tier at sf0.1
    r = run_skew_ratio(spark, "w1_latest_event_per_user", uni, skw, 50.0)
    assert r["t_skew_s"] > 0
    assert run_skew_oracle(spark, "w_sessionize_events", skw) == []
    # SHJ survival pin (r16): the hint-pinned ShuffledHashJoin probe's
    # plan assert + completion must stay runnable in shipped form
    from tests.test_skew_stress import run_shj_survival

    assert run_shj_survival(spark, uni, skw, 50.0)["t_skew_s"] > 0


def test_scalegen_tiny_generate(spark, tmp_path):
    """Exercise the sf1-fixture's generator path at a tiny SF: all four
    tables written, row counts as contracted, readable back."""
    from workbench_spark.sources.scalegen import ROWS_SF1, generate

    out = str(tmp_path / "sftiny")
    counts = generate(spark, out, sf=0.0005)
    assert set(counts) == {"lineitem", "documents", "embeddings", "events"}
    for name, n in counts.items():
        assert n == int(ROWS_SF1[name] * 0.0005)
        got = spark.read.parquet(os.path.join(out, f"{name}.parquet")).count()
        assert got == n, f"{name}: wrote {got}, contracted {n}"
