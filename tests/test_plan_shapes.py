"""Plan-shape regression sweep: every registry query's physical plan is
checked for scale-killers. CartesianProduct is banned outright; a
BroadcastNestedLoopJoin is allowed ONLY on the explicit allowlist below,
where it is the intended plan:

- scalar-broadcast pattern: a 1-row aggregate (drift bounds, split
  cutoff, dataset totals) crossed into the scan — linear, not quadratic;
- exact-path pattern: a small broadcast query set x reference scan
  (cosine/euclidean brute force, UQ neighbor scoring) — the documented
  ground-truth path whose scale variants (LSH/IVF/BRP) are equi-joins.

A new query that introduces a BNLJ must either justify itself here or
be reshaped into an equi-join — this test is the tripwire.
"""

from __future__ import annotations

import contextlib
import io
import os

import pytest

SF_DIR = "/root/testdata/sf0.001"

# name -> why a BroadcastNestedLoopJoin is the right plan
BNLJ_ALLOWED = {
    "text_distinctive_terms":
        "1-row corpus-total/vocab-size aggregate crossed into the "
        "min_count-pruned (source, term) stream for the log-odds prior",
    "text_pmi_collocations":
        "1-row total-bigram-count aggregate crossed into the frequent-pair "
        "stream (min_count-pruned) for the PMI denominator",
    "embedding_space_audit":
        "1-row scalar-norms aggregate x 1-row anisotropy aggregate (and the "
        "dim-sized per-dim sums x 1-row count) crossed for the single audit "
        "row — every side is O(1) or O(dim)",
    "text_zipf_heaps_audit":
        "1-row Heaps totals x 1-row OLS-fit aggregate crossed for the "
        "single audit row — both sides are scalar aggregates",
    "text_vocabulary_top": "1-row corpus-count aggregate crossed into vocab stats",
    "text_tfidf_vectors": "same vocabulary() 1-row corpus-count cross (idf needs N)",
    "a17_ks_events_value": "1-row CDF-normalization aggregate crossed into scan",
    "a17_psi_events_value": "1-row bin-edge aggregate crossed into scan",
    "a18_detect_drift": "1-row baseline-stats aggregate crossed into scan",
    "a19_target_health": "1-row dataset-total aggregate crossed into scan",
    "o5_temporal_split_counts": "1-row cutoff aggregate crossed into scan",
    "dedup_embedding_cosine": "exact blas path: driver-gated broadcast matrix",
    "knn_cosine_bruteforce": "exact path: small broadcast query set x refs",
    "knn_cosine_pq": "ADC path: small broadcast query LUTs x m-byte code scan "
                     "(per-pair work is m element_at lookups, not O(dim))",
    "knn_euclidean_standardized": "exact path: small broadcast query set",
    "m4_uq_neighbors": "exact-KNN UQ scoring over broadcast queries",
    "m4_uq_coverage": "exact-KNN UQ scoring over broadcast queries",
    "m4_uq_applicability": "exact-KNN UQ scoring over broadcast queries",
    "q22_dormant_accounts": "1-row global-mean-balance aggregate crossed into scan",
    "text_mixture_weights": "1-row grand-total-tokens aggregate crossed into the per-source frame",
    "text_mixture_weights_bpe": "same 1-row grand-total cross (mixture_weights "
                                "with BPE token counts)",
    "text_sample_to_mixture": "same 1-row grand-total cross inside "
                              "mixture_weights (the weight plan it materializes)",
    "text_bm25_topk": "two 1-row aggregates (corpus count for idf, avgdl) "
                      "crossed into the posting join",
    "text_nb_classifier": "model construction: labels x buckets dense cross "
                          "(k·B rows) + 1-row grand-count cross",
    "pipeline_select_pack": "sample_to_mixture's 1-row grand-total cross "
                            "(upstream stage of the composition)",
    "text_dsir_weights": "two 1-row corpus-total aggregates crossed into the "
                         "fixed 256-row DSIR λ model table",
    "text_dsir_resample": "same DSIR λ-model 1-row totals cross (weights feed "
                          "the Gumbel top-k)",
    "sketch_hll_estimate": "1-row estimate x 1-row exact-distinct truth cross "
                           "(demonstrative join, both sides single aggregates)",
    "graph_pagerank_authority": "1-row dangling-mass aggregate crossed into "
                                "the rank frame once per power iteration",
    "text_source_divergence": "1-row corpus-total-tokens aggregate crossed "
                              "into the per-(source, token) frame",
    "graph_hits_hubs_authorities": "two 1-row L1-normalizer aggregates "
                                   "crossed into the score frame per "
                                   "iteration",
    "sketch_dd_quantiles": "1-row total cross + rank-threshold inequality "
                           "join of 5 quantile targets x the artifact-sized "
                           "(<= few-thousand-row) cumulative bucket table",
    # partsupp family: synthetic_partsupp crosses ONE 1-row supplier-count
    # aggregate into the part projection (the scalar-subquery idiom); all
    # data-x-data joins in these five queries are equi-joins
    "q2_min_cost_supplier": "synthetic partsupp's 1-row supplier-count cross",
    "q9_product_type_profit": "synthetic partsupp's 1-row supplier-count cross",
    "q11_important_stock": "synthetic partsupp's 1-row supplier-count cross "
                           "+ 1-row (count, total) threshold aggregate cross",
    "q16_supplier_part_counts": "synthetic partsupp's 1-row supplier-count cross",
    "q20_excess_stock_suppliers": "synthetic partsupp's 1-row supplier-count cross",
}


# name -> why a partition-less (global-order) Window is the right plan,
# naming the scalable alternate (r13 VERDICT #5: mirror the collect-site /
# cartesian discipline — a global window is a single task at execution, so
# one may appear ONLY on an oracle-grade or provably-bounded-input entry
# with a documented scale path).
GLOBAL_WINDOW_ALLOWED = {
    "w4_acctbal_quartiles":
        "oracle-parity ntile(4); scalable alternate: "
        "windows.ntile_buckets_scalable (approx-quantile cut points, no "
        "global sort)",
    "p_confidence_profile":
        "oracle-parity ntile(10) over max_proba; scalable alternate: "
        "proba.confidence_profile(scalable=True) — same approx-quantile "
        "cut-point path",
    "a14_regression_metrics":
        "Spearman average-rank over the model EVALUATION set (bounded eval "
        "frame, not the corpus); scale path: approximate ranks from "
        "quantile cut points (metrics._avg_rank scale note)",
    "m4_uq_metrics_panel":
        "same Spearman _avg_rank pattern over the bounded UQ evaluation "
        "panel (metrics._avg_rank scale note)",
    "a17_ks_events_value":
        "exact KS needs the global CDF; the window input is DISTINCT "
        "metric values, not rows; binned scale alternative: PSI over fixed "
        "bins (a17_psi_events_value)",
    "sketch_dd_quantiles":
        "cumulative sum over the DDSketch bucket table — artifact-sized "
        "(O(log-range) buckets) at ANY data scale, documented in "
        "BNLJ_ALLOWED too",
    "text_zipf_heaps_audit":
        "Zipf OLS needs global frequency ranks of the VOCABULARY (types, "
        "Heaps-sublinear in tokens), never the token stream; cap to top-K "
        "types at web scale",
}


def _top_groups(s: str) -> list[str]:
    """Top-level [...] bracket groups of a Window Arguments line."""
    groups, depth, cur = [], 0, []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def global_windows(plan: str) -> list[str]:
    """Arguments strings of every partition-less Window node in an
    explain('formatted') dump. Spark 4 prints Window Arguments as
    [functions], [partitionSpec], [orderSpec] — OMITTING empty trailing
    groups — so (verified empirically on Spark 4.1):

      1 group                          -> global, no order (partitionBy())
      2 groups, ASC/DESC in group[1]   -> global with ORDER BY
      2 groups, no sort directions     -> partitioned, no order (fine)
      3 groups                         -> partitioned (unless [1] empty)

    Restricted to exact `Window` nodes: WindowGroupLimit has a different
    Arguments layout ([partitionSpec], [orderSpec], fn, k) and always
    accompanies a parent Window node anyway."""
    import re

    out = []
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if not re.match(r"\s*\(\d+\)\s+Window(\s+\[codegen[^\]]*\])?\s*$", line):
            continue
        for j in range(i + 1, min(i + 8, len(lines))):
            if lines[j].lstrip().startswith("Arguments:"):
                args = lines[j].split("Arguments:", 1)[1]
                g = _top_groups(args)
                if len(g) == 1:
                    out.append(args.strip())
                elif len(g) == 2 and (" ASC" in g[1] or " DESC" in g[1]):
                    out.append(args.strip())
                elif len(g) == 3 and not g[1].strip():
                    out.append(args.strip())
                break
    return out


def test_global_window_detector_works(spark):
    """Mutation-style self-check: the detector must FIRE on a real global
    window and stay quiet on a partitioned one — a gate that cannot fail
    certifies nothing (this round's oracle-sensitivity lesson)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("g"))

    def plan(d):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            d.explain("formatted")
        return buf.getvalue()

    glob = df.withColumn("r", F.row_number().over(Window.orderBy("id")))
    part = df.withColumn("r", F.row_number().over(Window.partitionBy("g").orderBy("id")))
    topk = df.withColumn(
        "r", F.row_number().over(Window.partitionBy("g").orderBy("id"))
    ).filter(F.col("r") <= 2)
    glob_noord = df.withColumn("s", F.sum("id").over(Window.partitionBy()))
    part_noord = df.withColumn("s", F.sum("id").over(Window.partitionBy("g")))
    assert len(global_windows(plan(glob))) == 1
    assert global_windows(plan(part)) == []
    assert global_windows(plan(topk)) == []  # WindowGroupLimit is not a hit
    assert len(global_windows(plan(glob.filter(F.col("r") <= 2)))) == 1
    # order-less global window (single-task global aggregate) must be
    # caught too; order-less PARTITIONED window must not
    assert len(global_windows(plan(glob_noord))) == 1
    assert global_windows(plan(part_noord)) == []


def _all_queries():
    from workbench_spark.queries import queries

    return sorted(queries().items())


@pytest.fixture(scope="session")
def spark():
    from workbench_spark.session import get_spark

    return get_spark("tests", extra_conf={"spark.sql.shuffle.partitions": "8"})


# Tables whose row count is CONSTANT at any TPC-H scale factor; only these
# may ever receive a forced F.broadcast() hint in the registry. Everything
# else (customer, part, supplier, orders, lineitem, events, documents,
# embeddings) scales linearly with SF and must be left to Catalyst/AQE,
# which broadcasts while the side fits and shuffles when it doesn't.
CONSTANT_SIZE_TABLES = {"nation", "region"}


def _bound_table(node, var_table: dict) -> str | None:
    """The table an expression reads: unwrap Call/Attribute chains such as
    ``p.filter(...).select(...)`` back to a ``_t(spark, sf_dir, "table")``
    call or to a variable bound to one."""
    import ast

    while True:
        if isinstance(node, ast.Call):
            if isinstance(node.func, ast.Name) and node.func.id == "_t":
                args = node.args
                if len(args) >= 3 and isinstance(args[2], ast.Constant):
                    return args[2].value
                return None
            node = node.func
        elif isinstance(node, ast.Attribute):
            node = node.value
        elif isinstance(node, ast.Name):
            return var_table.get(node.id)
        else:
            return None


def forced_broadcast_violations(src: str, module: str) -> list[str]:
    """Every broadcast(x) in ``src`` whose x reads an SF-scaling table."""
    import ast

    violations = []
    for fndef in ast.walk(ast.parse(src)):
        if not isinstance(fndef, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        # var -> table name for `var = _t(spark, sf_dir, "table")...`; a
        # var derived from another var (e.g. a 1-row global .agg) is not
        # bound
        var_table = {}
        for node in ast.walk(fndef):
            if (
                isinstance(node, ast.Assign)
                and len(node.targets) == 1
                and isinstance(node.targets[0], ast.Name)
            ):
                table = _bound_table(node.value, {})
                if table is not None:
                    var_table[node.targets[0].id] = table
        for node in ast.walk(fndef):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and node.args
            ):
                table = _bound_table(node.args[0], var_table)
                if table is not None and table not in CONSTANT_SIZE_TABLES:
                    violations.append(
                        f"{module}.{fndef.name}: F.broadcast on "
                        f"SF-scaling table '{table}'"
                    )
    return violations


def test_no_forced_broadcast_on_sf_scaling_tables():
    """Source-level tripwire: every F.broadcast(x) in the query registry
    must wrap a variable loaded from a constant-size table. A forced hint
    on an SF-scaling table OOMs the driver at the 100 TB design point
    (round-3 verdict item #1: q3 customer, q14 part)."""
    import pathlib

    import workbench_spark.queries as qmod
    import workbench_spark.queries_pipeline as qpmod

    violations = []
    for mod in (qmod, qpmod):
        src = pathlib.Path(mod.__file__).read_text()
        violations += forced_broadcast_violations(src, mod.__name__)
    assert not violations, "\n".join(violations)


def test_forced_broadcast_tripwire_catches_chained_hint():
    """Seeded mutation: q9 with its old forced hint on the filtered part
    table (``F.broadcast(p.select(...))``, a method chain rather than a
    bare name) must trip the tripwire; q9's nation broadcast must not."""
    import inspect
    import textwrap

    from workbench_spark.queries import q9_product_type_profit

    src = textwrap.dedent(inspect.getsource(q9_product_type_profit))
    assert forced_broadcast_violations(src, "q") == []
    key_set = 'p.select(F.col("p_partkey").alias("__red_pk"))'
    assert src.count(key_set) == 1
    seeded = src.replace(key_set, f"F.broadcast({key_set})")
    assert forced_broadcast_violations(seeded, "q") == [
        "q.q9_product_type_profit: F.broadcast on SF-scaling table 'part'"
    ]


# Calls that run a Spark job or cut lineage. In operators/graph.py only
# graph._iterate may make them inside a loop: a hand-rolled loop that
# probes before it checkpoints executes each round twice, and one that
# checkpoints without releasing leaves every round registered.
_LOOP_ONLY_IN_ITERATE = {"localCheckpoint", "checkpoint", "isEmpty", "collect"}


def loop_probe_violations(src: str, module: str) -> list[str]:
    """Every checkpoint or probe call inside a for/while body of ``src``
    that is not in ``_iterate``."""
    import ast

    violations = []
    for fndef in ast.walk(ast.parse(src)):
        if not isinstance(fndef, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        if fndef.name == "_iterate":
            continue
        for loop in ast.walk(fndef):
            if not isinstance(loop, (ast.For, ast.AsyncFor, ast.While)):
                continue
            for stmt in loop.body + loop.orelse:
                for node in ast.walk(stmt):
                    if (
                        isinstance(node, ast.Call)
                        and isinstance(node.func, ast.Attribute)
                        and node.func.attr in _LOOP_ONLY_IN_ITERATE
                    ):
                        violations.append(
                            f"{module}.{fndef.name}: {node.func.attr} in a loop body"
                        )
    return sorted(set(violations))


def test_graph_loops_go_through_iterate():
    """Source-level tripwire: every fixpoint loop in operators/graph.py
    runs through graph._iterate, which checkpoints before it probes and
    releases the rounds it made."""
    import pathlib

    import workbench_spark.operators.graph as graph

    src = pathlib.Path(graph.__file__).read_text()
    assert "def _iterate(" in src
    assert loop_probe_violations(src, "graph") == []


# the label-propagation loop as connected_components hand-rolled it
# before graph._iterate existed
_OLD_CC_LABEL_LOOP = """
def connected_components(edges, ej, labels, max_iter=20):
    for _ in range(max_iter):
        updated = (
            ej.join(labels.withColumnRenamed("node", "d"), "d")
            .groupBy(F.col("s").alias("node"))
            .agg(F.min("component").alias("component"))
        )
        new_labels = updated.localCheckpoint(eager=True)
        has_change = not new_labels.filter(F.col("__chg")).limit(1).isEmpty()
        labels = new_labels.drop("__chg")
        if not has_change:
            break
    return labels
"""


def test_loop_probe_tripwire_catches_hand_rolled_loop():
    """Seeded mutation: the old hand-rolled CC loop trips the tripwire on
    both its checkpoint and its probe; the same calls inside a function
    named _iterate do not."""
    assert loop_probe_violations(_OLD_CC_LABEL_LOOP, "graph") == [
        "graph.connected_components: isEmpty in a loop body",
        "graph.connected_components: localCheckpoint in a loop body",
    ]
    exempt = _OLD_CC_LABEL_LOOP.replace("def connected_components(", "def _iterate(")
    assert loop_probe_violations(exempt, "graph") == []


def _killer_params():
    """r16 suite-time cut (r15 VERDICT #2): building the PLAN of the
    iterative / index-building entries executes their driver loops
    (pagerank's 10 checkpointed rounds, semdedup's Lloyd training, the
    recall invariants' index builds) — ~60 s of this module is the same
    ten entries test_correctness.SLOW_TIER demotes, so they share the
    gate (SPARK_GRAFT_SLOW_TESTS=1, run at round close) and the
    same always-on smoke member."""
    from tests.test_correctness import SLOW_SMOKE, SLOW_TIER

    gate = os.environ.get("SPARK_GRAFT_SLOW_TESTS")
    out = []
    for name, fn in _all_queries():
        marks = ()
        if name in SLOW_TIER and name != SLOW_SMOKE and not gate:
            marks = (
                pytest.mark.skip(
                    reason="slow oracle-replica tier — "
                    "SPARK_GRAFT_SLOW_TESTS=1"
                ),
            )
        out.append(pytest.param(name, fn, id=name, marks=marks))
    return out


@pytest.mark.parametrize("name,fn", _killer_params())
def test_no_scale_killers_in_plan(spark, name, fn):
    df = fn(spark, SF_DIR)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    if "BroadcastNestedLoopJoin" in plan:
        assert name in BNLJ_ALLOWED, (
            f"{name}: unexpected BroadcastNestedLoopJoin — reshape into an "
            f"equi-join or add an explicit justification to BNLJ_ALLOWED"
        )
    gw = global_windows(plan)
    if gw:
        assert name in GLOBAL_WINDOW_ALLOWED, (
            f"{name}: partition-less Window (single-task global sort) — "
            f"partition it, use the approx-quantile cut-point pattern "
            f"(windows.ntile_buckets_scalable), or justify it in "
            f"GLOBAL_WINDOW_ALLOWED naming the scalable alternate. "
            f"Nodes: {gw}"
        )


def test_bench_extras_plans_clean(spark):
    """The bench's production-mode variants (_bench_extras overrides the
    headline callables for 4 queries) are plans the registry gate never
    sees — hold them to the same bar: no cartesian, no unlisted BNLJ, no
    unlisted global window."""
    import bench

    # sampled-quantile production stats join the 2%-sample quantile row
    # with the full-data min/max/mean row — a 1-row x 1-row cross, the
    # scalar-broadcast pattern
    bench_bnlj_ok = {"descriptive_stats_lineitem"}
    for name, fn in bench._bench_extras(spark).items():
        df = fn(spark, SF_DIR)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "CartesianProduct" not in plan, f"bench:{name}"
        if "BroadcastNestedLoopJoin" in plan:
            assert name in BNLJ_ALLOWED or name in bench_bnlj_ok, (
                f"bench:{name}: unlisted BNLJ"
            )
        assert not global_windows(plan), f"bench:{name}: global window"


def test_simulator_global_sorts_gated_behind_exact():
    """Every global-sort window (``Window.orderBy`` with no ``partitionBy``)
    in the EnsembleSimulator must sit inside an ``if self.exact:`` branch —
    the class docstring promises ``exact=False`` is the 100 TB path with no
    single-partition sorts, so none may be reachable under it (r6 verdict
    finding #1)."""
    import ast as _ast

    path = os.path.join(
        os.path.dirname(__file__), "..", "workbench_spark", "api",
        "ensemble_simulator.py",
    )
    tree = _ast.parse(open(path).read())

    def _is_self_exact(test):
        return (
            isinstance(test, _ast.Attribute)
            and test.attr == "exact"
            and isinstance(test.value, _ast.Name)
            and test.value.id == "self"
        )

    # line spans covered by the taken branch of `if self.exact:`
    exact_spans = []
    for node in _ast.walk(tree):
        if isinstance(node, _ast.If) and _is_self_exact(node.test):
            body = node.body
            exact_spans.append((body[0].lineno, body[-1].end_lineno))
        # ternary: X if self.exact else Y — the `body` side is exact-only
        if isinstance(node, _ast.IfExp) and _is_self_exact(node.test):
            exact_spans.append((node.body.lineno, node.body.end_lineno))

    violations = []
    for node in _ast.walk(tree):
        if (
            isinstance(node, _ast.Call)
            and isinstance(node.func, _ast.Attribute)
            and node.func.attr == "orderBy"
            and isinstance(node.func.value, _ast.Name)
            and node.func.value.id == "Window"
        ):
            if not any(a <= node.lineno <= b for a, b in exact_spans):
                violations.append(f"line {node.lineno}")
    assert not violations, (
        "Window.orderBy (global sort) reachable under exact=False in "
        f"ensemble_simulator.py at: {violations}"
    )


def test_r15_single_eval_shapes(spark):
    """r15 optimization regression gates: the duplicated-heavy-expression
    fixes stay fixed.

    1. cosine_knn's plan evaluates the interpreted cosine machinery
       exactly three times (query-side norm, corpus-side norm, dot) —
       the pre-r15 shape carried the whole fold in the BNLJ join
       condition twice more (guide §4.4 duplication via filter pushdown
       of the pre-window finite-sim guard).
    2. cms_heavy_hitters plans ZERO interpreted per-character polynomial
       folds (both passes use the codegen'd xxhash64 bucket family; the
       output is exact for any hash family so nothing pins the poly).
    3. jaccard_prefix_pairs and containment_pairs each scan their parquet
       input at most twice (the ordered shingle frame both build through
       one shared prefix stage is checkpointed once for the prefix join
       AND the verify sides; pre-r15 the plan held 4 scans / 8 Generates).
    """
    from workbench_spark.operators.dedup import containment_pairs, jaccard_prefix_pairs
    from workbench_spark.operators.similarity import cosine_knn
    from workbench_spark.operators.sketches import cms_heavy_hitters
    from workbench_spark.session import read_table

    def plan_of(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    emb = read_table(spark, SF_DIR, "embeddings")
    knn_plan = plan_of(cosine_knn(emb.filter("vec_id < 20"), emb, k=5))
    n_folds = knn_plan.count("aggregate(")
    assert n_folds <= 3, (
        f"cosine_knn plan evaluates {n_folds} interpreted folds (expected "
        f"<= 3: two norms + one dot) — the finite-sim filter is being "
        f"pushed into the join condition again (use _safe_sim + "
        f"_topk_finite, not _finite_sims-before-window)"
    )

    d = read_table(spark, SF_DIR, "documents")
    toks = d.selectExpr("explode(split(lower(text), ' ')) AS token").filter(
        "length(token) > 0"
    )
    hh_plan = plan_of(cms_heavy_hitters(toks, "token", min_count=5))
    assert "aggregate(" not in hh_plan, (
        "cms_heavy_hitters plans an interpreted polynomial fold — the "
        "prefilter must stay on the codegen'd xxhash64 family (_bucket_xx)"
    )

    for op in (jaccard_prefix_pairs, containment_pairs):
        n_scans = plan_of(op(d.filter("doc_id < 50"))).count("Scan parquet")
        assert n_scans <= 2, (
            f"{op.__name__} plans {n_scans} parquet scans (expected <= 2) — "
            f"the ordered shingle frame must stay localCheckpoint'd and feed "
            f"prefix AND verify sides"
        )


def test_r15_pq_knn_flat_lookup_shape(spark):
    """r15 optimization regression gate: pq_knn's ADC scoring reads FLAT
    per-subspace LUT attributes and scalar code attributes — never the
    nested array<array> LUT + element_at(pq_codes, j) per pair (measured
    interleaved at sf0.1: the nested form ran the end-to-end query 10.7 s
    vs 6.1 s flat — per-pair array-header navigation, 2 levels x 8 terms
    x |corpus| pairs per query). The flat form sums the same doubles in
    the same order, so the shortlist and output are bit-identical.

    r16 (ADVICE): literal codebooks + explicit dim — the gate only needs
    the PLAN shape, so it must not spend live Spark jobs training real
    codebooks (pq_train + the dim probe cost seconds per suite run)."""
    from workbench_spark.operators.similarity import pq_knn
    from workbench_spark.session import read_table

    def plan_of(df) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        return buf.getvalue()

    emb = read_table(spark, SF_DIR, "embeddings")
    # any float grid works — the plan shape is codebook-value-independent
    books = [
        [[float(m * 16 + c + d) for d in range(8)] for c in range(16)]
        for m in range(8)
    ]
    plan = plan_of(
        pq_knn(emb, emb.limit(20), k=1, m=8, n_codes=16,
               codebooks=books, dim=64)
    )
    assert "element_at(element_at(" not in plan, (
        "pq_knn plans nested LUT lookups — keep the per-subspace flat "
        "__lt_j arrays + scalar __c_j codes (r15 opt, ratio 0.57)"
    )
