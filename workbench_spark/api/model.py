"""Model + Endpoint — MLlib-backed training and inference (SURVEY §3.3).

Reference flow being re-expressed:
- fs.to_model(...) → FeaturesToModel.transform — features_to_model.py:157-431:
  builds the training view, exports data, launches a SageMaker training job.
  Here: MLlib Pipeline.fit on the training view — same cluster, no
  container hop, no CSV/HTTP dtype laundering (endpoint_core.py:860-905
  exists solely to undo that boundary; it disappears).
- model.to_endpoint() → ModelToEndpoint — deploys; here Endpoint wraps
  model.transform.
- endpoint.inference(df) — endpoint_core.py:452-595: predictions +
  residuals + metrics (A14-A16) + capture to the InferenceStore.

Model registry metadata (metrics, hyperparameters, feature list) lands in
the artifact sidecar — the reference stores these in the SageMaker Model
Registry (model_core.py:118-171).

The SageMaker deployment wrapper (chunked CSV/HTTP inference,
endpoint_core.py:814-905) is AWS-specific and out of local-engine scope
per BASELINE.json; its interface is stubbed in sagemaker_adapter.py.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import GBTClassifier, LogisticRegression, RandomForestClassifier
from pyspark.ml.feature import StringIndexer, VectorAssembler
from pyspark.ml.regression import GBTRegressor, LinearRegression, RandomForestRegressor
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workbench_spark.api.registry import Registry, validate_name

REGRESSORS = {
    # "xgb" maps to MLlib's GBT: same model family (gradient-boosted
    # trees) but a DIFFERENT algorithm from XGBoost proper — no
    # second-order loss expansion, no L1/L2 shrinkage on leaf weights, no
    # histogram split finding — so trained models and importances will
    # not numerically match an actual XGBoost fit. The reference trains
    # real xgboost inside its SageMaker container (model_scripts/
    # xgb_model); swap in a distributed-XGBoost package for exact parity.
    "xgb": GBTRegressor,
    "gbt": GBTRegressor,
    "rf": RandomForestRegressor,
    "linear": LinearRegression,
}
CLASSIFIERS = {
    "xgb": GBTClassifier,
    "gbt": GBTClassifier,
    "rf": RandomForestClassifier,
    "logistic": LogisticRegression,
}


class Model:
    def __init__(
        self,
        name: str,
        spark: SparkSession | None = None,
        warehouse: str | None = None,
    ):
        from workbench_spark.session import get_spark

        self.spark = spark or get_spark()
        self.name = validate_name(name)
        self.registry = Registry(warehouse)
        self._fitted: tuple[tuple[int, int], PipelineModel] | None = None

    # ------------------------------------------------------------ training
    @classmethod
    def train(
        cls,
        df: DataFrame,
        name: str,
        target: str,
        features: list[str],
        model_type: str = "regressor",
        algo: str = "xgb",
        hyperparams: dict[str, Any] | None = None,
        spark: SparkSession | None = None,
        warehouse: str | None = None,
    ) -> "Model":
        """Train an MLlib pipeline on a training-view DataFrame. Honors the
        J2 role columns when present: rows with validation=true are held
        out for the eval metrics; sample_weight feeds weightCol."""
        self = cls(name, spark=spark, warehouse=warehouse)
        hp = hyperparams or {}
        assembler = VectorAssembler(
            inputCols=features, outputCol="__features", handleInvalid="skip"
        )
        stages = [assembler]
        weight_kw = {}
        if "sample_weight" in df.columns:
            # every MLlib estimator Model.train builds supports weightCol
            # (trees since Spark 3.0) — the J2 sample_weight role column
            # weights ALL algos, matching the reference's training view
            weight_kw = {"weightCol": "sample_weight"}
        if model_type == "classifier":
            indexer = StringIndexer(
                inputCol=target, outputCol="__label", handleInvalid="skip"
            )
            stages.append(indexer)
            est = CLASSIFIERS[algo](featuresCol="__features", labelCol="__label", **hp, **weight_kw)
        else:
            est = REGRESSORS[algo](featuresCol="__features", labelCol=target, **hp, **weight_kw)
        stages.append(est)

        if "validation" in df.columns:
            train_df = df.filter(~F.coalesce(F.col("validation"), F.lit(False)))
            val_df = df.filter(F.coalesce(F.col("validation"), F.lit(False)))
        else:
            train_df, val_df = df, None

        fitted: PipelineModel = Pipeline(stages=stages).fit(train_df)
        model_path = self.registry.data_path(self.name)
        fitted.write().overwrite().save(model_path)
        self._fitted = (_artifact_version(model_path), fitted)

        meta = {
            "artifact_type": "model",
            "status": "trained",
            "model_type": model_type,
            "algo": algo,
            "target": target,
            "features": features,
            "hyperparams": hp,
            "tags": [self.name],
        }
        if model_type == "classifier":
            labels = fitted.stages[1].labels
            meta["class_labels"] = list(labels)
        self.registry.write_meta(self.name, meta)

        if val_df is not None:
            # metrics only when the held-out rows reached the model (no
            # separate count job: the metrics aggregate already counts them)
            m = Endpoint(self).inference(val_df, capture=False).metrics
            if m.get("support") or m.get("confusion_matrix"):
                self.registry.upsert_meta(self.name, {"metrics": m})
        return self

    # ------------------------------------------------------------ access
    def pipeline(self) -> PipelineModel:
        """The fitted pipeline, read from disk once per artifact version.
        Retraining under the same name rewrites the artifact, so the next
        call loads the new model."""
        path = self.registry.data_path(self.name)
        version = _artifact_version(path)
        if self._fitted is None or self._fitted[0] != version:
            self._fitted = (version, PipelineModel.load(path))
        return self._fitted[1]

    def meta(self) -> dict:
        return self.registry.read_meta(self.name)

    @property
    def target(self) -> str:
        return self.meta()["target"]

    @property
    def features(self) -> list[str]:
        return self.meta()["features"]

    def class_labels(self) -> list[str] | None:
        return self.meta().get("class_labels")

    def metrics(self) -> dict | None:
        return self.meta().get("metrics")

    def to_endpoint(self, name: str | None = None) -> "Endpoint":
        ep_name = validate_name(name) if name else f"{self.name}_end"
        self.registry.upsert_meta(
            ep_name,
            {"artifact_type": "endpoint", "status": "deployed", "model": self.name},
        )
        return Endpoint(self, endpoint_name=ep_name)

    def delete(self) -> None:
        self.registry.delete(self.name)


def _artifact_version(path: str) -> tuple[int, int]:
    """Identity of a saved pipeline: its metadata dir, which every
    overwrite-save deletes and writes anew."""
    st = os.stat(os.path.join(path, "metadata"))
    return st.st_ino, st.st_mtime_ns


class InferenceResult:
    def __init__(self, df: DataFrame, metrics: dict):
        self.df = df
        self.metrics = metrics


class Endpoint:
    """Local endpoint = model.transform (no chunked CSV/HTTP hop).

    Like a SageMaker container's model_fn, it keeps its model's fitted
    pipeline loaded between requests and reloads it only when the
    artifact on disk is rewritten (Model.pipeline). Pass a Model to share
    its loaded pipeline, or a model name to load it on first use."""

    def __init__(
        self,
        model: str | Model,
        endpoint_name: str | None = None,
        spark: SparkSession | None = None,
        warehouse: str | None = None,
    ):
        if not isinstance(model, Model):
            model = Model(model, spark=spark, warehouse=warehouse)
        self.model = model
        self.spark = model.spark
        self.name = endpoint_name or f"{model.name}_end"

    def _predict(self, df: DataFrame, meta: dict) -> DataFrame:
        out = self.model.pipeline().transform(df)
        if meta["model_type"] == "classifier":
            labels = meta["class_labels"]
            mapping = F.array(*[F.lit(x) for x in labels])
            out = out.withColumn(
                "prediction_label", mapping[F.col("prediction").cast("int")]
            )
        return out

    def inference(self, eval_df: DataFrame, capture: bool = True) -> InferenceResult:
        """endpoint_core.py:452-595 — predictions + residuals + metrics;
        optional capture to the InferenceStore (S11)."""
        from workbench_spark.operators import metrics as M

        meta = self.model.meta()
        target = meta["target"]
        preds = self._predict(eval_df, meta)
        if meta["model_type"] == "classifier":
            preds = preds.withColumnRenamed("prediction", "prediction_idx").withColumnRenamed(
                "prediction_label", "prediction"
            )
            cm = M.confusion_matrix(preds, target, "prediction")
            per_class = M.classification_metrics(preds, target, "prediction")
            stats = {
                "confusion_matrix": [r.asDict() for r in cm.collect()],
                "class_metrics": [r.asDict() for r in per_class.collect()],
            }
        else:
            preds = preds.withColumn("residual", F.col(target) - F.col("prediction"))
            row = M.regression_metrics(preds, target, "prediction").first()
            stats = {k: row[k] for k in ("rmse", "mae", "medae", "r2", "spearman", "support")}
        clean = preds.drop("__features", "rawPrediction", "probability", "__label")
        if capture:
            # S16 — append predictions + metrics snapshot to the endpoint's
            # capture dir (endpoint_core.py:1033-1148 _capture_inference_results;
            # the drift monitor reads this directory)
            import json
            import os

            cap_dir = os.path.join(
                self.model.registry.artifact_dir(self.name), "capture"
            )
            from workbench_spark.streaming.monitor import capture_inference

            captured = clean
            # honor Monitor.enable_data_capture's sampling percentage
            # (data_capture_core.py:64-99): deterministic per-row hash
            # Bernoulli — reproducible across runs/partitionings, never
            # an RNG draw that would differ per retry
            cap_cfg = self.model.registry.read_meta(self.name).get(
                "data_capture"
            ) or {}
            pct = cap_cfg.get("capture_percentage", 100)
            if cap_cfg.get("enabled") and pct < 100:
                captured = clean.filter(
                    F.pmod(
                        F.xxhash64(
                            F.concat_ws("\x1f", *[F.col(c).cast("string") for c in clean.columns])
                        ),
                        F.lit(100),
                    )
                    < F.lit(int(pct))
                )
            capture_inference(captured, cap_dir)
            self.model.registry.upsert_meta(
                self.name,
                {
                    "artifact_type": "endpoint",
                    "model": self.model.name,
                    "last_inference_metrics": json.loads(json.dumps(stats, default=str)),
                },
            )
        return InferenceResult(clean, stats)

    def transform(self, df: DataFrame) -> DataFrame:
        return self._predict(df, self.model.meta())

    def monitor(self) -> "Monitor":
        """The endpoint's Monitor (reference api/endpoint.py:
        Endpoint(name).monitor())."""
        from workbench_spark.api.monitor import Monitor

        return Monitor(
            self.name, spark=self.spark, warehouse=self.model.registry.warehouse
        )


def cross_fold_metrics(
    df,
    name: str,
    target: str,
    features: list[str],
    model_type: str = "regressor",
    algo: str = "xgb",
    k: int = 5,
    id_col: str | None = None,
    spark=None,
    warehouse: str | None = None,
):
    """Cross-fold inference (endpoint_core.py cross_fold path): k
    deterministic folds (crc32(id) % k — engine-portable and stable across
    runs, unlike random splits), train on k-1, evaluate on the held-out
    fold, one metrics row per fold.

    Returns (metrics_rows, predictions_df) where metrics_rows is a list of
    per-fold metric dicts with a 'fold' key.
    """
    from workbench_spark.operators import metrics as M

    key = F.col(id_col) if id_col else F.monotonically_increasing_id()
    folded = df.withColumn("__fold", F.crc32(key.cast("string")) % k)
    all_metrics = []
    all_preds = []
    for fold in range(k):
        train_df = folded.filter(F.col("__fold") != fold)
        test_df = folded.filter(F.col("__fold") == fold)
        if test_df.isEmpty():
            continue
        m = Model.train(
            train_df.drop("__fold"),
            f"{name}_fold{fold}",
            target=target,
            features=features,
            model_type=model_type,
            algo=algo,
            spark=spark,
            warehouse=warehouse,
        )
        res = Endpoint(m).inference(test_df.drop("__fold"), capture=False)
        all_metrics.append({"fold": fold, **res.metrics})
        all_preds.append(res.df.withColumn("fold", F.lit(fold)))
        m.delete()
    import functools

    from pyspark.sql import DataFrame as _DF

    preds = functools.reduce(_DF.unionByName, all_preds) if all_preds else None
    return all_metrics, preds


def feature_importances(model: "Model") -> dict[str, float]:
    """Per-feature importance from the fitted estimator (tree models:
    MLlib featureImportances; linear: |coefficients|). For Shapley-based
    attribution (the reference's SHAP artifacts, model_core.py:118-171)
    use shap_values/shap_importance below — exact path-dependent
    TreeSHAP, no shap package needed."""
    fitted = model.pipeline()
    est = fitted.stages[-1]
    feats = model.features
    if hasattr(est, "featureImportances"):
        vals = est.featureImportances.toArray().tolist()
    elif hasattr(est, "coefficients"):
        vals = [abs(c) for c in est.coefficients.toArray().tolist()]
    else:
        raise ValueError(f"no importance surface on {type(est).__name__}")
    return dict(zip(feats, vals))


def shap_values(model: "Model", df: DataFrame) -> DataFrame:
    """Per-row SHAP attribution for a trained tree model — the engine
    twin of utils/shapley_values.py:22-102 (TreeExplainer over prediction
    results) and the shap_importance.json training artifact
    (utils/shap_utils.py:23-43), computed by exact path-dependent
    TreeSHAP on the fitted MLlib ensemble (operators/shap.py; additivity
    Σφ = f(x) − E[f] tested to float precision). Linear models raise —
    use feature_importances (|coefficients|) there."""
    from workbench_spark.operators.shap import shap_values as _sv

    est = model.pipeline().stages[-1]
    return _sv(est, df, model.features)


def shap_importance(model: "Model", df: DataFrame) -> list[tuple[str, float]]:
    """Mean-|SHAP| global ranking over ``df`` — the list-of-tuples shape
    get_shap_importance returns from S3 (shap_utils.py:23-43)."""
    from workbench_spark.operators.shap import shap_importance as _si

    scored = shap_values(model, df)
    return [
        (r["feature"], r["importance"])
        for r in _si(scored, model.features).collect()
    ]
