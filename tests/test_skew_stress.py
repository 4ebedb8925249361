"""Planted-skew stress tier (r15 — VERDICT r14 #2).

The hostile-layout sweep certifies layout-invariance and the scale
ladder certifies volume; nothing before this tier exercised the Zipfian
KEY SKEW a real 100 TB corpus has (one user dominating an event stream,
one token in half the documents, one dominant source/domain, one hot
part/supplier). scalegen's ``skew=True`` plants exactly those hot keys
on otherwise identical statistics (same hash streams for every
non-planted draw), and this tier asserts three things:

(a) **Correctness under skew** — every registry oracle whose tables are
    generatable (134 of 200: lineitem/documents/embeddings/events only)
    re-runs hash-green against DuckDB on the SKEWED corpus at a
    generated sf0.01. Skew moves data through different code paths
    (AQE skew splits, hot partial-agg buckets, fuller band buckets) —
    the hash pair must not care.
(b) **Throughput under skew** — the most-exposed entries run at sf0.1
    on the uniform AND skewed corpora (same generator, same size;
    min-of-2 each, interleaved) and the skew/uniform wall-time ratio
    must stay under each entry's bound. Bounds are generous by design
    (a 30%-hot user turns a per-user window into one ~300k-row task —
    on 32 cores that is legitimately several× the uniform time); the
    tier exists to catch the UNBOUNDED regressions (a hot band bucket
    going quadratic, a skew join falling off AQE's handling).
(c) **Exponent parity at scale** — the window/dedup entries most
    exposed re-run sf0.1→sf1 ON SKEWED DATA through the scale-smoke
    harness (same MAX_EXPONENT bound): skew must not bend the scaling
    LAW, only its constant.

Gated behind SPARK_GRAFT_SKEW_STRESS=1 (generation + sf1 runs take
minutes; timing needs an idle box):

    SPARK_GRAFT_SKEW_STRESS=1 python -m pytest tests/test_skew_stress.py -q -s

The always-on smoke (test_gated_tiers_smoke.py) generates a tiny skewed
corpus and drives run_skew_ratio + one skewed-oracle compare through
this module's real harness code every default run (the r14 rule: an
env-gated module with never-executed harness code is an unverified
claim). Measured ratios are recorded in COVERAGE.md §skew.
"""

from __future__ import annotations

import os
import re
import time

import pytest

pytestmark = [
    pytest.mark.long,
    pytest.mark.skipif(
        not os.environ.get("SPARK_GRAFT_SKEW_STRESS"),
        reason="skew stress tier is opt-in (SPARK_GRAFT_SKEW_STRESS=1); "
        "measured ratios are recorded in COVERAGE.md",
    ),
]

_SCALE = os.path.join(os.path.dirname(__file__), "..", ".scale")
GEN_TABLES = {"lineitem", "documents", "embeddings", "events"}


@pytest.fixture(scope="module")
def spark():
    from workbench_spark.session import get_spark

    return get_spark("skew-stress")


def gen_skew(spark, sf: float) -> str:
    """Generate (or reuse) just the SKEWED corpus at the given SF."""
    from workbench_spark.sources.scalegen import generate

    skw = os.path.abspath(os.path.join(_SCALE, f"sf{sf:g}skew"))
    generate(spark, skw, sf=sf, skew=True)
    return skw


def gen_pair(spark, sf: float) -> tuple[str, str]:
    """Generate (uniform_dir, skewed_dir) at the given SF. Uniform is
    ALSO generated (not the driver tables) so the two corpora differ
    only by the planted hot keys — ratios isolate skew itself."""
    from workbench_spark.sources.scalegen import generate

    uni = os.path.abspath(os.path.join(_SCALE, f"sf{sf:g}"))
    generate(spark, uni, sf=sf)
    return uni, gen_skew(spark, sf)


# ---------------------------------------------------------------------
# extra measured shapes: lineitem hot-key aggregation + hot-key join
# (no registry entry exercises a skewed-by-20% join key on generated
# tables — q9/q17 need the non-generatable dims)
# ---------------------------------------------------------------------


def _hot_partkey_agg(spark, sf_dir):
    """groupBy(l_partkey) rollup — the canonical skewed-aggregation
    probe. Expected to absorb the hot key map-side: partial (hash)
    aggregation combines the hot partkey's rows within every input
    partition before the shuffle, so the reduce side sees ~n_partitions
    rows for it, not 20% of the table."""
    from pyspark.sql import functions as F

    from workbench_spark.session import read_table

    li = read_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_partkey").agg(
        F.sum("l_quantity").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
        F.avg("l_extendedprice").alias("avg_price"),
    )


def _hot_partkey_join(spark, sf_dir):
    """lineitem ⋈ per-part averages on l_partkey — the q17 decorrelated
    shape without the part dim: a shuffle join whose probe side has a
    20%-hot key. AQE's skew-join handling (enabled in session.py) must
    split the hot partition; the assert is the bounded ratio, the
    mechanism is verified by the run completing without a straggler
    blowup."""
    from pyspark.sql import functions as F

    from workbench_spark.session import read_table

    li = read_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(per_part, li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("avg_qty"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
    )


def _embedding_centroids(spark, sf_dir):
    from workbench_spark.operators.similarity import embedding_group_centroids
    from workbench_spark.session import read_table

    e = read_table(spark, sf_dir, "embeddings")
    return embedding_group_centroids(e, "label", "embedding")


def _hot_partkey_join_shj(spark, sf_dir):
    """§3.1 SHJ-under-skew survival probe (r15 VERDICT #6): the same
    hot-partkey join shape as _hot_partkey_join with the SHUFFLE_HASH
    hint pinning the strategy, so the certificate cannot silently
    degrade to broadcast (AQE upgrades the tiny per-part side at these
    SFs) or to sort-merge. session.py's preferSortMergeJoin=false makes
    ShuffledHashJoin the planner's pick at scale when its size
    conditions hold; the documented residual risk is an OOM when a
    build-side partition does not fit — this probe plants the 20%-hot
    key and asserts the SHJ plan COMPLETES within the skew bound.
    Per-query revert knob (if a production key defeats AQE's skew
    split): .hint("merge") on either side, or session-wide
    spark.sql.join.preferSortMergeJoin=true."""
    from pyspark.sql import functions as F

    from workbench_spark.session import read_table

    li = read_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(per_part.hint("shuffle_hash"), li.l_partkey == F.col("pk"))
        .filter(F.col("l_quantity") < F.col("avg_qty"))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
    )


def run_shj_survival(spark, uni_dir, skw_dir, bound: float) -> dict:
    """Assert the hint-pinned plan really is a ShuffledHashJoin on the
    SKEWED corpus, then run the standard interleaved ratio through it —
    the standing at-scale safety certificate for session.py's
    preferSortMergeJoin=false (r15 VERDICT #6)."""
    from tests.test_scale_smoke import _plan_text

    plan = _plan_text(_hot_partkey_join_shj(spark, skw_dir))
    assert "ShuffledHashJoin" in plan, (
        "SHJ survival probe did not plan a ShuffledHashJoin — the "
        "shuffle_hash hint or session preferSortMergeJoin config moved:\n"
        + plan[:2000]
    )
    return run_skew_ratio(
        spark, "hot_partkey_join_shj", uni_dir, skw_dir, bound
    )


EXTRA = {
    "hot_partkey_agg": _hot_partkey_agg,
    "hot_partkey_join": _hot_partkey_join,
    "hot_partkey_join_shj": _hot_partkey_join_shj,
    "embedding_centroids": _embedding_centroids,
}

# (entry, skew/uniform wall-time bound). Bounds are per-entry because
# the legitimate skew cost differs by shape: per-key windows serialize
# the hot key's rows into one task (~several× at a 30% hot user on 32
# cores); map-side-combinable groupBys should be ~flat; banded dedup
# under a hot shingle is capped by max_band_bucket. A ratio past the
# bound means the valve regressed, not that the box was busy — both
# sides run interleaved in the same session.
# Bounds tightened to 3.0 after the r15 first run measured every entry
# in 0.85–1.10 at sf0.1 (COVERAGE.md §skew) — the slack covers box noise
# on sub-second entries, while a genuine skew blowup (hot band bucket
# going quadratic, AQE skew handling regressing, a per-key sort sneaking
# in) lands far above 3×.
SKEW_RATIO_BOUNDS = {
    # events — hot user (30%)
    "w_sessionize_events": 3.0,        # per-user window sort, hot task
    "w1_latest_event_per_user": 3.0,   # groupBy max: partial-agg absorbs
    "asof_join_purchase_click": 3.0,   # union + per-user carry-forward
    "a12_gmean_rollup": 3.0,           # max-ts window per user
    # documents — hot token (50% of docs) + dominant source (60%)
    "minhash_lsh_production": 3.0,     # hot shingle → max_band_bucket cap
    "bm25_champion_production": 3.0,   # hot posting list → champion cap
    "text_distinctive_terms": 3.0,     # explode → token groupBy
    "text_pii_density_by_source": 3.0, # source groupBy (60% hot)
    # lineitem — hot partkey/suppkey (20%)
    "hot_partkey_agg": 3.0,
    "hot_partkey_join": 3.0,           # AQE skew-join split
    # embeddings — dominant label (50%)
    "embedding_centroids": 3.0,
}

# subset re-run sf0.1 → sf1 ON SKEWED DATA (harness + bound shared with
# the scale smoke): the entries where a hot key could bend the exponent,
# not just the constant
SKEW_SCALE_SUBSET = [
    "w_sessionize_events",
    "minhash_lsh_production",
    "bm25_champion_production",
    "hot_partkey_join",
]


def _timed2(fn, spark, sf_dir) -> float:
    """min-of-2 full-evaluation timing (hash-of-struct, not count — the
    scale-smoke lesson: Catalyst prunes unused columns under count())."""
    from tools.bench_sf1 import _timed

    return min(_timed(fn, spark, sf_dir)[0], _timed(fn, spark, sf_dir)[0])


def _entry_fn(name):
    from tests.test_scale_smoke import EXTRA as SMOKE_EXTRA

    from workbench_spark.queries import queries

    return EXTRA.get(name) or SMOKE_EXTRA.get(name) or queries()[name]


def run_skew_ratio(spark, name, uni_dir, skw_dir, bound) -> dict:
    """Interleaved uniform/skew timing for one entry; asserts the plan
    carries no cartesian on the skewed corpus and the wall-time ratio
    stays under the bound."""
    fn = _entry_fn(name)
    fn(spark, "/root/testdata/sf0.001").count()  # codegen warm
    from tests.test_scale_smoke import _plan_text

    plan = _plan_text(fn(spark, skw_dir))
    assert "CartesianProduct" not in plan, f"{name}: cartesian under skew"
    # interleave u/s twice; per-side min (the frozen-twin convention)
    u1 = _timed2(fn, spark, uni_dir)
    s1 = _timed2(fn, spark, skw_dir)
    u2 = _timed2(fn, spark, uni_dir)
    s2 = _timed2(fn, spark, skw_dir)
    tu, ts = min(u1, u2), min(s1, s2)
    ratio = ts / max(tu, 1e-6)
    print(f"\n{name}: uniform {tu:.2f}s  skew {ts:.2f}s  ratio {ratio:.2f}")
    assert ratio < bound, (
        f"{name}: skew blowup {ratio:.2f}x (uniform {tu:.2f}s -> "
        f"skew {ts:.2f}s, bound {bound}x)"
    )
    return {"t_uniform_s": round(tu, 3), "t_skew_s": round(ts, 3),
            "ratio": round(ratio, 3)}


def generatable_oracles() -> list[str]:
    """Registry entries whose oracle touches ONLY generatable tables."""
    from tests.oracle_utils import TABLES

    from workbench_spark.queries import oracle_sql

    out = []
    for n, s in sorted(oracle_sql().items()):
        used = {t for t in TABLES if re.search(rf"\b{t}\b", s, re.I)}
        if used and used <= GEN_TABLES:
            out.append(n)
    return out


def run_skew_oracle(spark, name, skw_dir) -> list[str]:
    """One entry's full driver-contract compare on the SKEWED corpus."""
    from tests.oracle_utils import compare, duckdb_run

    from workbench_spark.queries import oracle_sql, queries

    return compare(
        queries()[name](spark, skw_dir),
        duckdb_run(oracle_sql()[name], skw_dir),
    )


_ratio_results: dict = {}


@pytest.fixture(scope="module")
def dirs01(spark):
    return gen_pair(spark, 0.1)


@pytest.fixture(scope="module")
def skew001_dir(spark):
    return gen_skew(spark, 0.01)


@pytest.mark.parametrize("name", sorted(SKEW_RATIO_BOUNDS))
def test_skew_ratio(spark, dirs01, name):
    uni, skw = dirs01
    _ratio_results[name] = run_skew_ratio(
        spark, name, uni, skw, SKEW_RATIO_BOUNDS[name]
    )


def test_shj_skew_survival(spark, dirs01):
    """Pin the §3.1 config's at-scale safety story (r15 VERDICT #6): a
    hint-pinned ShuffledHashJoin over the planted 20%-hot partkey must
    PLAN as SHJ and COMPLETE within the standard skew bound — the
    explicit certificate that preferSortMergeJoin=false survives the
    skew axis rather than an implicit property of a green run."""
    uni, skw = dirs01
    _ratio_results["hot_partkey_join_shj"] = run_shj_survival(
        spark, uni, skw, 3.0
    )


def test_skew_oracles_all_green(spark, skew001_dir):
    """Every generatable-table oracle hash-green on the skewed sf0.01
    corpus — correctness certified under key skew, not just layout."""
    failures = []
    for name in generatable_oracles():
        t0 = time.time()
        try:
            probs = run_skew_oracle(spark, name, skew001_dir)
        except Exception as ex:  # noqa: BLE001 — report, don't abort sweep
            probs = [f"error: {str(ex)[:160]}"]
        status = "OK" if not probs else f"FAIL {probs}"
        print(f"{name}: {status} ({time.time() - t0:.1f}s)", flush=True)
        if probs:
            failures.append((name, probs))
    assert not failures, failures


def test_skew_oracles_under_hostile_layout(spark, skew001_dir):
    """Layout × skew interaction (r15 extension): the hostile 7/13
    partitioning sweep re-runs over the SKEWED corpus for every
    generatable-table oracle. A hot key changes which partition carries
    the mass; a hostile layout changes how many partitions there are —
    an entry whose hash stability depends on either would surface only
    in the cross. (The run holds its own Spark session state via
    run_hostile_sweep's save/restore, so it composes with this module's
    fixtures.)"""
    from tests.test_partition_invariance import run_hostile_sweep

    failures = run_hostile_sweep(
        entries=generatable_oracles(), sf_dir=skew001_dir
    )
    assert not failures, failures


def test_skew_oracles_thread_invariant(skew001_dir):
    """Threads × skew — the last cell of the invariance matrix
    (engines × {layout, threads} × {uniform, skew}): every
    generatable-table oracle at DuckDB threads 4 vs 32 ON the skewed
    corpus. A hot group concentrates an aggregation's mass in one
    partial; the thread count decides how partials merge — a
    margin-dependent rounding would flip exactly here."""
    from tests.test_oracle_invariance import run_oracle_invariance

    failures = run_oracle_invariance(
        entries=[n for n in generatable_oracles()],
        sf_dir=skew001_dir,
        include_materialized=True,  # the integer replays are fast at sf0.01
    )
    assert not failures, failures


@pytest.mark.parametrize("name", SKEW_SCALE_SUBSET)
def test_skew_scale_exponent(spark, name):
    """sf0.1 → sf1 exponent on SKEWED corpora through the scale-smoke
    harness — skew may shift the constant, never the law."""
    from tests.test_scale_smoke import run_smoke_entry

    small = gen_skew(spark, 0.1)
    big = gen_skew(spark, 1.0)  # skew-only: the uniform sf1 corpus is
    # the scale tier's concern, not worth minutes of generation here
    # EXTRA entries here are invisible to run_smoke_entry's registry
    # lookup — patch them in via the module's EXTRA hook
    import tests.test_scale_smoke as sm

    added = {k: v for k, v in EXTRA.items() if k not in sm.EXTRA}
    sm.EXTRA.update(added)
    try:
        r = run_smoke_entry(spark, name, small, big)
    finally:
        for k in added:
            sm.EXTRA.pop(k, None)
    _ratio_results[f"{name}@sf1"] = r


def teardown_module(module):  # noqa: ARG001
    if _ratio_results:
        import json

        path = os.path.join(_SCALE, "SKEW_STRESS_RESULTS.json")
        os.makedirs(_SCALE, exist_ok=True)
        with open(path, "w") as f:
            json.dump(_ratio_results, f, indent=1)
        print(f"\nskew results -> {path}")
