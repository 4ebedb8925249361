"""Structural tripwire for driver-side materialization: every
`.collect()` / `.toPandas()` in the engine source must be a known,
justified site. A new ungated collect in an operator fails this test
until it is either redesigned or explicitly justified here — the
code-level form of the review rule that every driver pull must be a
1-row/O(k) aggregate, a size-gated small-N path, or a documented
driver-side-by-design surface (never an O(rows) materialization in a
distributed code path)."""

from __future__ import annotations

import ast
import os

ROOT = os.path.join(os.path.dirname(__file__), "..", "workbench_spark")

# (module-relative path, enclosing function) -> why the driver pull is
# legitimate. Keep justifications concrete — "small" is not a size.
ALLOWED: dict[tuple[str, str], str] = {
    ("streaming/monitor.py", "stream_windowed_drift"):
        "O(bins) baseline histogram collected once at stream start",
    ("operators/chem.py", "df_to_sdf_file"):
        "documented single-file driver export; distributed=True part-file "
        "path is the scale alternative",
    ("operators/dedup.py", "_blas_threshold_pairs"):
        "reached only behind driver_matrix_check (byte-bounded), else "
        "auto-routes to hyperplane LSH",
    ("operators/ensembles.py", "inverse_mae_weights"):
        "1-row aggregate: M per-branch MAE scalars",
    ("operators/ensembles.py", "conf_error_corr"):
        "1-row aggregate: M correlation scalars",
    ("operators/ensembles.py", "strategy_comparison"):
        "two 1-row aggregates: strategy parameters, then 7 strategy MAEs",
    ("operators/graph.py", "fingerprint"):
        "1-row xor-hash convergence fingerprint per CC round",
    ("queries_pipeline.py", "a10_smart_sample_q"):
        "two 1-row invariant aggregates (r15: fused from five separate "
        "driver actions that blew the sweep time budget under load)",
    ("operators/ml_analysis.py", "projection_2d"):
        "sampled t-SNE/exact PCA driver path behind driver_matrix_check",
    ("operators/packing.py", "_ranged_cumsum"):
        "per-partition totals (#partitions rows) for the two-phase "
        "distributed prefix sum — never a global window",
    ("operators/unigram.py", "unigram_train"):
        "bounded driver pulls for the EM loop: capped word table "
        "(<= max_words rows) + seed pieces (<= seed_size + alphabet) — "
        "the bpe_train precedent",
    ("operators/unigram.py", "_pieces_dict"):
        "piece-inventory artifact (<= vocab_size rows) materialized to "
        "build the tokenizer's broadcast dict",
    ("operators/proba.py", "binary_accuracy"):
        "1-row accuracy aggregate",
    ("operators/shap.py", "shap_importance"):
        "O(feature-count) mean-|shap| aggregate",
    ("operators/similarity.py", "cosine_knn_blas"):
        "reached only behind driver_matrix_check (byte-bounded)",
    ("operators/kmeans_exact.py", "kmeans_fixed_point"):
        "k-row bounded model state (init pick + per-iteration centroid "
        "sums, k <= 4096) — the dsir k·B / pq_train codebook precedent",
    ("operators/similarity.py", "pq_train"):
        "deterministic codebook-training sample (orderBy+limit sample_n), "
        "gated by driver_matrix_check before the pull — FAISS-style "
        "driver-side PQ training",
    ("operators/uq.py", "fit"):
        "O(1) conformal scale/CDF constants + per-bin PAVA block arrays "
        "(capped at max_thresholds); the global-isotonic toPandas fallback "
        "is structurally gated: an explicit n < bins*MIN_SAMPLES_PER_BIN check "
        "bounds the pull at 200 rows; degenerate bins at large n borrow the "
        "nearest fitted calibrator instead",
    ("operators/text.py", "ngram_lm_counts"):
        "1-row total-token aggregate (the LM's normalization constant)",
    ("operators/bpe.py", "bpe_train"):
        "max_words-capped (word, freq) aggregate — driver-side merge-loop "
        "training on a bounded table, the pq_train precedent",
    ("operators/bpe.py", "_merge_list"):
        "num_merges-bounded artifact table (the trained merges, not corpus "
        "rows)",
    ("sources/layout.py", "write_token_balanced_shards"):
        "O(n_shards) per-shard token totals for the export report",
    ("api/monitor.py", "create_baseline"):
        "O(model features) per-column stats rows for statistics.json — the "
        "baseline artifact is catalog-sized, never data-sized",
    ("api/monitor.py", "run_monitoring_execution"):
        "O(monitored features) drift-stat rows — one fused melted histogram "
        "pass for PSI and KS together (drift_by_feature), never per-feature jobs",
    ("api/cached_meta.py", "_update_modified_registry"):
        "catalog-sized listing (rows = registered artifacts, never data "
        "rows) collected to merge per-artifact modified stamps",
    ("api/ensemble_simulator.py", "_spearman_many"):
        "1-row aggregate of rank correlations (one scalar per pair)",
    ("api/ensemble_simulator.py", "_base_params"):
        "1-row aggregate: M MAE + M correlation scalars",
    ("api/ensemble_simulator.py", "model_performance"):
        "1-row aggregate: O(M) per-model metric scalars",
    ("api/ensemble_simulator.py", "residual_correlations"):
        "1-row aggregate: M(M-1)/2 correlation scalars",
    ("api/ensemble_simulator.py", "confidence_analysis"):
        "1-row stats aggregate + O(4) quartile rows per model",
    ("api/ensemble_simulator.py", "model_agreement"):
        "1-row stats aggregate + O(4) quartile rows",
    ("api/ensemble_simulator.py", "confidence_weight_distribution"):
        "1-row aggregate: O(M) weight-distribution scalars",
    ("api/ensemble_simulator.py", "_compute_strategy_config"):
        "1-row aggregate: O(strategies) MAE scalars",
    ("api/ensemble_simulator.py", "best_ensemble_predictions"):
        "1-row aggregate: O(strategies) MAE scalars (output frame stays "
        "distributed)",
    ("api/ensemble_simulator.py", "ensemble_failure_analysis"):
        "two 1-row aggregates: strategy MAEs, then win-rate scalars",
    ("api/ensemble_simulator.py", "report"):
        "composite analysis report: every collected frame is O(M) or "
        "O(strategies) rows by construction",
    ("api/ensemble_simulator.py", "simulate_strategies"):
        "7 strategy rows per scenario (driver-side rank of scalars)",
    ("api/model.py", "shap_importance"):
        "O(feature-count) aggregate",
    ("api/model.py", "inference"):
        "metric rows: 1-row regression metrics / O(classes) panel",
    ("api/model_comparison.py", "_report_frame"):
        "contest report frames are O(models) rows by construction",
    ("api/synthetic.py", "generate_correlated_series"):
        "deliberate eager 1-row stats collects — avoids the 3^k chained "
        "plan explosion (documented in api/synthetic.py)",
    ("api/synthetic.py", "pearson_correlation"):
        "1-row correlation scalar",
    ("sources/layout.py", "zorder_col"):
        "1-row min/max bounds aggregate (two-pass range normalization)",
    ("functions/encoding.py", "one_hot_encode"):
        "countDistinct cardinality gate runs BEFORE the category collect",
}


def _sites() -> set[tuple[str, str]]:
    found = set()
    for dirpath, _dirs, files in os.walk(ROOT):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, ROOT).replace(os.sep, "/")
            tree = ast.parse(open(path).read())
            spans = [
                (n.lineno, n.end_lineno, n.name)
                for n in ast.walk(tree)
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            ]
            for node in ast.walk(tree):
                if isinstance(node, ast.Attribute) and node.attr in (
                    "collect",
                    "toPandas",
                ):
                    enc = [n for a, b, n in spans if a <= node.lineno <= b]
                    found.add((rel, enc[-1] if enc else "<module>"))
    return found


def test_every_driver_pull_is_justified():
    sites = _sites()
    new = sites - set(ALLOWED)
    assert not new, (
        "unjustified driver-side collect/toPandas sites (gate them or add "
        f"a concrete justification to ALLOWED): {sorted(new)}"
    )


def test_allowlist_has_no_stale_entries():
    """A justification for code that no longer collects is debt — prune."""
    sites = _sites()
    stale = set(ALLOWED) - sites
    assert not stale, f"stale ALLOWED entries: {sorted(stale)}"
