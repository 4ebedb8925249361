"""Monitor — the endpoint-monitoring API class (reference:
api/monitor.py:1-148 wrapping core/artifacts/monitor_core.py:1-570).

The reference provisions SageMaker Model Monitor resources: data-capture
config on the endpoint, a baseline (baseline.csv + statistics.json +
constraints.json via ``DefaultModelMonitor.suggest_baseline``), an hourly/
daily monitoring schedule, and readers for the schedule's execution
results (status, violations). Here the same lifecycle runs locally and
Spark-native:

- the baseline is a parquet dataset + statistics/constraints JSON derived
  with the §2.4 stats operators (one aggregation pass — monitor_core.py's
  ``suggest_baseline`` equivalent);
- data capture is the existing ``Endpoint.inference(capture=True)`` dir
  (streaming/monitor.py:21 ``capture_inference``);
- ``run_monitoring_execution()`` IS the scheduled job's body: it checks
  the captured data against the constraints (completeness, bounds,
  baseline drift via PSI/KS — operators/drift.py) and appends an
  execution record, so ``get_monitoring_results()`` / ``details()`` show
  real last-run status/violations instead of AWS console state. A real
  scheduler (cron, Airflow, Databricks job) calls that one method.

Scale: the baseline stats pass is the A5 single-aggregation shape; the
execution pass reads only the capture directory (bounded by traffic since
the last run, never the training corpus) and every check is a Spark
aggregation — nothing is collected but the per-column stats rows.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from workbench_spark.api.model import Model
from workbench_spark.api.registry import Registry, read_json, write_json


class Monitor:
    """Workbench Monitor API (reference api/monitor.py).

    Common usage::

        mon = Monitor(endpoint_name)
        mon.summary(); mon.details()

        # one-time setup
        mon.enable_data_capture()
        mon.create_baseline()
        mon.create_monitoring_schedule()

        # the scheduled job body (invoked by your scheduler)
        mon.run_monitoring_execution()

        # pull information from the monitor
        baseline_df = mon.get_baseline()
        constraints = mon.get_constraints()
        stats_df = mon.get_statistics()
        results_df = mon.get_monitoring_results()
    """

    def __init__(
        self,
        endpoint_name: str,
        spark: SparkSession | None = None,
        warehouse: str | None = None,
    ):
        from workbench_spark.session import get_spark

        self.spark = spark or get_spark()
        self.endpoint_name = endpoint_name
        self.registry = Registry(warehouse)
        self.monitoring_path = os.path.join(
            self.registry.artifact_dir(endpoint_name), "monitoring"
        )
        self.baseline_dir = os.path.join(self.monitoring_path, "baseline")
        self.baseline_data_dir = os.path.join(self.baseline_dir, "baseline_data")
        self.constraints_json_file = os.path.join(self.baseline_dir, "constraints.json")
        self.statistics_json_file = os.path.join(self.baseline_dir, "statistics.json")
        self.schedule_json_file = os.path.join(self.monitoring_path, "schedule.json")
        self.executions_dir = os.path.join(self.monitoring_path, "executions")
        self.capture_dir = os.path.join(
            self.registry.artifact_dir(endpoint_name), "capture"
        )
        self.monitoring_schedule_name = f"{endpoint_name}-monitoring-schedule"

    # ------------------------------------------------------------- helpers
    def _endpoint_meta(self) -> dict:
        return self.registry.read_meta(self.endpoint_name)

    def _model(self) -> Model:
        meta = self._endpoint_meta()
        model_name = meta.get("model")
        if not model_name and self.endpoint_name.endswith("_end"):
            # the Endpoint default naming convention ({model}_end) before
            # the first captured inference writes the endpoint meta
            model_name = self.endpoint_name[: -len("_end")]
        if not model_name:
            raise ValueError(
                f"endpoint {self.endpoint_name!r} has no registered model — "
                "run Endpoint.inference(capture=True) once, or register the "
                "endpoint meta, before monitoring it"
            )
        return Model(model_name, spark=self.spark, warehouse=self.registry.warehouse)

    # ---------------------------------------------------- summary / details
    def summary(self) -> dict:
        """Monitoring-configuration summary (monitor_core.py:81-100; the
        serverless/realtime fork collapses — local endpoints always
        support monitoring)."""
        return {
            "endpoint_type": "local-spark",
            "baseline": self.baseline_exists(),
            "monitoring_schedule": self.monitoring_schedule_exists(),
            "data_capture": self.data_capture_enabled(),
        }

    def details(self) -> dict:
        """Summary + schedule status + last-run outcome
        (monitor_core.py:102-157: MonitoringScheduleStatus +
        LastMonitoringExecutionSummary)."""
        result = self.summary()
        result["monitoring_schedule_status"] = "Not Scheduled"
        if self.baseline_exists():
            result.update(
                {
                    "baseline_dir": self.baseline_dir,
                    "constraints_json_file": self.constraints_json_file,
                    "statistics_json_file": self.statistics_json_file,
                }
            )
        sched = read_json(self.schedule_json_file)
        if sched is not None:
            result.update(
                {
                    "monitoring_schedule_status": "Scheduled",
                    "monitoring_schedule_name": self.monitoring_schedule_name,
                    "schedule": sched.get("schedule"),
                }
            )
        last = self._last_execution()
        if last is not None:
            result.update(
                {
                    "last_run_status": last["status"],
                    "last_run_time": last["scheduled_time"],
                    "last_run_violations": len(last.get("violations", [])),
                }
            )
            if last.get("failure_reason"):
                result["last_run_failure_reason"] = last["failure_reason"]
        return result

    # ------------------------------------------------------- data capture
    def enable_data_capture(self, capture_percentage: int = 100) -> None:
        """Record the capture config on the endpoint (monitor_core.py:159;
        the capture itself is Endpoint.inference(capture=True) appending
        to the endpoint's capture dir)."""
        self.registry.upsert_meta(
            self.endpoint_name,
            {
                "artifact_type": "endpoint",
                "data_capture": {
                    "enabled": True,
                    "capture_percentage": int(capture_percentage),
                },
            },
        )

    def data_capture_enabled(self) -> bool:
        cfg = self._endpoint_meta().get("data_capture") or {}
        return bool(cfg.get("enabled"))

    # ------------------------------------------------------------ baseline
    def baseline_exists(self) -> bool:
        return os.path.exists(self.constraints_json_file) and os.path.exists(
            self.baseline_data_dir
        )

    def create_baseline(
        self,
        recreate: bool = False,
        baseline_df: DataFrame | None = None,
        feature_set: str | None = None,
    ) -> None:
        """monitor_core.py:195-258 — snapshot the model's training rows
        (model features only, sorted columns), derive statistics.json
        (per-column min/q1/median/q3/max/mean/stddev + completeness — the
        suggest_baseline analogue, ONE aggregation pass) and
        constraints.json (completeness=observed non-null fraction,
        baseline [min, max] bounds per numeric feature). Rows come from
        ``baseline_df`` if given, else the named ``feature_set``, else the
        model meta's recorded ``input`` FeatureSet."""
        if self.baseline_exists() and not recreate:
            return
        model = self._model()
        features = sorted(model.features)
        if baseline_df is None:
            fs_name = feature_set or model.meta().get("input")
            if not fs_name:
                raise ValueError(
                    "no baseline source: pass baseline_df= or feature_set= "
                    "(the model meta records no input FeatureSet)"
                )
            from workbench_spark.api.feature_set import FeatureSet

            fs = FeatureSet(
                name=fs_name,
                spark=self.spark,
                warehouse=self.registry.warehouse,
            )
            baseline_df = fs.pull_dataframe()
        base = baseline_df.select(*features)
        os.makedirs(self.baseline_dir, exist_ok=True)
        base.write.mode("overwrite").parquet(self.baseline_data_dir)
        base = self.spark.read.parquet(self.baseline_data_dir)

        from workbench_spark.operators.eda import descriptive_stats, numeric_columns

        num_cols = numeric_columns(base)
        stats_rows = {
            r["column_name"]: r.asDict()
            for r in descriptive_stats(base, num_cols).collect()
        }
        nulls = base.select(
            F.count(F.lit(1)),
            *[F.sum(F.col(c).isNull().cast("long")).alias(c) for c in features],
        ).first()
        n_rows = nulls[0]
        statistics = []
        constraints = {"features": {}, "monitoring_config": {}}
        for c in features:
            non_null = (n_rows - (nulls[c] or 0)) / n_rows if n_rows else 0.0
            entry = {"name": c, "completeness": non_null}
            if c in stats_rows:
                s = stats_rows[c]
                entry.update(
                    {
                        k: s[k]
                        for k in ("min", "q1", "median", "q3", "max", "mean", "stddev")
                    }
                )
                constraints["features"][c] = {
                    "completeness": non_null,
                    "lower_bound": s["min"],
                    "upper_bound": s["max"],
                }
            else:
                constraints["features"][c] = {"completeness": non_null}
            statistics.append(entry)
        write_json(
            self.statistics_json_file, {"dataset": {"item_count": n_rows}, "features": statistics}
        )
        write_json(self.constraints_json_file, constraints)

    def get_baseline(self) -> DataFrame | None:
        """The baseline rows (monitor_core.py:260-271), None if absent."""
        if not os.path.exists(self.baseline_data_dir):
            return None
        return self.spark.read.parquet(self.baseline_data_dir)

    def get_constraints(self) -> dict | None:
        """constraints.json content (monitor_core.py:273-279)."""
        return read_json(self.constraints_json_file)

    def get_statistics(self) -> DataFrame | None:
        """statistics.json per-feature rows as a DataFrame
        (monitor_core.py:281-288), None if absent."""
        stats = read_json(self.statistics_json_file)
        if stats is None:
            return None
        rows = stats["features"]
        cols = ["name", "completeness", "min", "q1", "median", "q3", "max", "mean", "stddev"]
        data = [[r.get(c) for c in cols] for r in rows]
        return self.spark.createDataFrame(
            data,
            "name string, completeness double, min double, q1 double, "
            "median double, q3 double, max double, mean double, stddev double",
        )

    def update_constraints(self, constraints_updates: dict) -> bool:
        """Apply per-feature (or monitoring_config) updates to
        constraints.json (monitor_core.py:290-335)."""
        constraints = self.get_constraints()
        if constraints is None:
            return False
        for key, updates in constraints_updates.items():
            if key == "monitoring_config":
                constraints.setdefault("monitoring_config", {}).update(updates)
            else:
                constraints.setdefault("features", {}).setdefault(key, {}).update(
                    updates
                )
        write_json(self.constraints_json_file, constraints)
        return True

    # ------------------------------------------------------------ schedule
    def create_monitoring_schedule(self, schedule: str = "hourly") -> None:
        """Record the schedule (monitor_core.py:337-389; locally the
        record is the contract an external scheduler reads — the job body
        is run_monitoring_execution())."""
        if schedule not in ("hourly", "daily"):
            raise ValueError(f"schedule must be 'hourly' or 'daily', got {schedule!r}")
        if not self.baseline_exists():
            raise ValueError(
                "create a baseline before the monitoring schedule "
                "(create_baseline())"
            )
        write_json(
            self.schedule_json_file,
            {
                "name": self.monitoring_schedule_name,
                "schedule": schedule,
                "created": time.time(),
            },
        )

    def monitoring_schedule_exists(self) -> bool:
        return os.path.exists(self.schedule_json_file)

    def delete_monitoring_schedule(self) -> None:
        if os.path.exists(self.schedule_json_file):
            os.remove(self.schedule_json_file)

    # ---------------------------------------------------------- executions
    def _capture_watermark(self) -> int:
        """High-water mark (st_mtime_ns) of capture files already analyzed
        by a prior execution; -1 if none. Stored on each successful
        execution record so the scan stays bounded by traffic since the
        last run instead of re-reading the whole capture history."""
        wm = -1
        for r in self._executions():
            wm = max(wm, int(r.get("capture_watermark_ns", -1)))
        return wm

    def _new_capture_files(self, watermark_ns: int) -> tuple[list[str], int]:
        """Capture data files strictly newer than the watermark, plus the
        new high-water mark. Spark's JSON append writes part files (and
        _SUCCESS markers) directly into capture_dir."""
        files: list[str] = []
        new_wm = watermark_ns
        for fn in os.listdir(self.capture_dir):
            if fn.startswith(("_", ".")) or fn.endswith(".crc"):
                continue
            path = os.path.join(self.capture_dir, fn)
            if not os.path.isfile(path):
                continue
            m = os.stat(path).st_mtime_ns
            if m > watermark_ns:
                files.append(path)
                new_wm = max(new_wm, m)
        return sorted(files), new_wm

    def run_monitoring_execution(
        self,
        psi_threshold: float = 0.2,
        ks_threshold: float = 0.2,
        bins: int = 10,
        incremental: bool = True,
    ) -> dict:
        """The scheduled monitoring job's body: captured rows vs the
        baseline constraints. Violations mirror the Model-Monitor kinds —
        missing_column / extra_column schema drift, completeness drop,
        out-of-bounds values, plus PSI/KS distribution drift per numeric
        feature (operators/drift.py). Appends an execution record (status,
        violations) for get_monitoring_results().

        ``incremental=True`` (default) analyzes only capture files newer
        than the last execution's high-water mark (st_mtime_ns, recorded
        on each execution record), so the pass is bounded by traffic since
        the last run — prior rounds' out-of-distribution traffic is never
        re-flagged and the scan cost doesn't grow with capture history.
        ``incremental=False`` re-analyzes the full capture dir.

        Every check is a Spark aggregation over the capture files; only
        per-column scalar stats reach the driver."""
        scheduled = time.time()
        record = {
            "scheduled_time": scheduled,
            "monitoring_type": "DataQuality",
            "status": "Completed",
            "failure_reason": None,
            "violations": [],
        }
        constraints = self.get_constraints()
        if constraints is None:
            record.update(status="Failed", failure_reason="No baseline/constraints")
            return self._append_execution(record)
        if not os.path.exists(self.capture_dir):
            record.update(status="Failed", failure_reason="Job inputs had no data")
            return self._append_execution(record)
        wm = self._capture_watermark() if incremental else -1
        files, new_wm = self._new_capture_files(wm)
        if not files:
            record.update(status="Failed", failure_reason="Job inputs had no data")
            return self._append_execution(record)
        captured = self.spark.read.json(files)
        feats_all = constraints.get("features", {})
        feats = {
            c: spec for c, spec in feats_all.items() if c in captured.columns
        }
        # one aggregation pass for row count + completeness + bounds across
        # all features
        aggs = [F.count(F.lit(1))]
        for c, spec in feats.items():
            aggs.append(F.sum(F.col(c).isNotNull().cast("long")).alias(f"__nn_{c}"))
            if "lower_bound" in spec:
                aggs.append(
                    F.sum(
                        (
                            (F.col(c) < F.lit(spec["lower_bound"]))
                            | (F.col(c) > F.lit(spec["upper_bound"]))
                        ).cast("long")
                    ).alias(f"__oob_{c}")
                )
        row = captured.agg(*aggs).first()
        n = row[0]
        if n == 0:
            record.update(status="Failed", failure_reason="Job inputs had no data")
            return self._append_execution(record)
        record["captured_rows"] = n
        record["capture_files"] = len(files)
        record["capture_watermark_ns"] = new_wm

        from workbench_spark.operators.drift import drift_by_feature

        # schema drift (SageMaker Model Monitor's missing_column /
        # extra_column checks): baseline features absent from the capture
        for c in sorted(set(feats_all) - set(captured.columns)):
            record["violations"].append(
                {
                    "feature": c,
                    "constraint_check_type": "missing_column_check",
                    "description": "baseline feature absent from captured data",
                }
            )
        # extra_column_check (the other half of the Model-Monitor schema
        # pair): captured columns that are neither baseline features nor
        # expected inference outputs. The Endpoint capture legitimately
        # carries target/prediction/residual columns; more can be
        # allowlisted via monitoring_config.allowed_extra_columns.
        allowed_extra = {"prediction", "prediction_idx", "residual"}
        allowed_extra.update(
            (constraints.get("monitoring_config") or {}).get(
                "allowed_extra_columns", []
            )
            or []
        )
        try:
            allowed_extra.add(self._model().meta().get("target"))
        except Exception:
            pass  # no model meta (e.g. synthetic capture in tests) — skip
        for c in sorted(set(captured.columns) - set(feats_all) - allowed_extra):
            record["violations"].append(
                {
                    "feature": c,
                    "constraint_check_type": "extra_column_check",
                    "description": "captured column absent from baseline",
                }
            )
        baseline = self.get_baseline()
        # PSI and KS for ALL bounded features in one fused histogram pass
        # (drift_by_feature melts the feature columns — a fixed number of
        # Spark jobs, never two per feature; a 500-feature monitor must not
        # issue 1000 jobs)
        bounds = {
            c: (float(spec["lower_bound"]), float(spec["upper_bound"]))
            for c, spec in feats.items()
            if "lower_bound" in spec and spec["lower_bound"] is not None
            and spec["upper_bound"] > spec["lower_bound"]
        }
        psi_map, ks_map = {}, {}
        if baseline is not None and bounds:
            for r in drift_by_feature(baseline, captured, bounds, bins, 1000).collect():
                psi_map[r["feature"]] = r["psi"]
                ks_map[r["feature"]] = r["ks"]
        record["feature_stats"] = []
        for c, spec in sorted(feats.items()):
            completeness = (row[f"__nn_{c}"] or 0) / n
            # per-feature constraint-check statistics (the reference
            # execution details carry these alongside the violations)
            record["feature_stats"].append(
                {
                    "feature": c,
                    "completeness": completeness,
                    "oob": (row[f"__oob_{c}"] or 0) if "lower_bound" in spec else 0,
                    "psi": psi_map.get(c),
                    "ks": ks_map.get(c),
                }
            )
            if completeness < spec.get("completeness", 0.0):
                record["violations"].append(
                    {
                        "feature": c,
                        "constraint_check_type": "completeness_check",
                        "description": f"completeness {completeness:.4f} < "
                        f"baseline {spec['completeness']:.4f}",
                    }
                )
            if "lower_bound" in spec:
                oob = row[f"__oob_{c}"] or 0
                if oob > 0:
                    record["violations"].append(
                        {
                            "feature": c,
                            "constraint_check_type": "baseline_drift_check",
                            "description": f"{oob} values outside baseline "
                            f"[{spec['lower_bound']}, {spec['upper_bound']}]",
                        }
                    )
                p = psi_map.get(c)
                k = ks_map.get(c)
                if p is not None and p > psi_threshold:
                    record["violations"].append(
                        {
                            "feature": c,
                            "constraint_check_type": "psi_drift_check",
                            "description": f"PSI {p:.4f} > {psi_threshold}",
                        }
                    )
                if k is not None and k > ks_threshold:
                    record["violations"].append(
                        {
                            "feature": c,
                            "constraint_check_type": "ks_drift_check",
                            "description": f"KS {k:.4f} > {ks_threshold}",
                        }
                    )
        if record["violations"]:
            record["status"] = "CompletedWithViolations"
        self._maybe_alert(record)
        return self._append_execution(record)

    def _maybe_alert(self, record: dict) -> None:
        """Deliver an alert record when the violation count reaches the
        setup_alerts threshold (monitor_core.py:501-560 raises SNS; here
        the alert log IS the delivery contract an external notifier
        tails)."""
        cfg = self._endpoint_meta().get("alerts")
        if not cfg:
            return
        n = len(record.get("violations", []))
        if n < int(cfg.get("violation_threshold", 1)):
            return
        alerts_file = os.path.join(self.monitoring_path, "alerts.jsonl")
        os.makedirs(self.monitoring_path, exist_ok=True)
        with open(alerts_file, "a") as f:
            f.write(
                json.dumps(
                    {
                        "endpoint": self.endpoint_name,
                        "email": cfg.get("email"),
                        "scheduled_time": record["scheduled_time"],
                        "n_violations": n,
                        "status": record["status"],
                    }
                )
                + "\n"
            )
        record["alerted"] = True

    def alerts(self) -> list[dict]:
        """Delivered alert records, oldest first."""
        path = os.path.join(self.monitoring_path, "alerts.jsonl")
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [json.loads(line) for line in f if line.strip()]

    def _append_execution(self, record: dict) -> dict:
        os.makedirs(self.executions_dir, exist_ok=True)
        fname = f"execution_{record['scheduled_time']:.6f}.json"
        write_json(os.path.join(self.executions_dir, fname), record)
        return record

    def _executions(self) -> list[dict]:
        if not os.path.isdir(self.executions_dir):
            return []
        out = []
        for f in sorted(os.listdir(self.executions_dir), reverse=True):
            rec = read_json(os.path.join(self.executions_dir, f))
            if rec is not None:
                out.append(rec)
        return out

    def _last_execution(self) -> dict | None:
        execs = self._executions()
        return execs[0] if execs else None

    def get_monitoring_results(self, max_results: int = 10) -> DataFrame:
        """Recent execution records, newest first (monitor_core.py:414-488:
        status / scheduled_time / violations count / failure_reason)."""
        schema = (
            "status string, scheduled_time double, monitoring_type string, "
            "failure_reason string, violations int, captured_rows bigint"
        )
        rows = [
            [
                r["status"],
                r["scheduled_time"],
                r.get("monitoring_type"),
                r.get("failure_reason"),
                len(r.get("violations", [])),
                r.get("captured_rows"),
            ]
            for r in self._executions()[:max_results]
        ]
        return self.spark.createDataFrame(rows, schema)

    def get_execution_details(self, scheduled_time: float) -> dict | None:
        """Full record (incl. violation list) for one execution
        (monitor_core.py:490-499)."""
        for r in self._executions():
            if abs(r["scheduled_time"] - scheduled_time) < 1e-6:
                return r
        return None

    def streaming_drift_monitor(
        self,
        source_dir: str,
        schema,
        column: str,
        ts_col: str = "ts",
        window: str = "1 hour",
        watermark: str = "2 hours",
        bins: int = 10,
    ):
        """Continuous twin of run_monitoring_execution for ONE feature:
        a watermarked Structured-Streaming query emitting per-window
        (window_start, window_end, n, psi) against this monitor's stored
        baseline, with [lo, hi] taken from constraints.json. The batch
        execution stays the scheduled audit; this is the low-latency
        alerting path (start it with .writeStream, alert when psi exceeds
        the threshold). Baseline bucket fractions are collected once —
        O(bins) scalars regardless of baseline size."""
        constraints = self.get_constraints()
        baseline = self.get_baseline()
        if constraints is None or baseline is None:
            raise ValueError("create a baseline first (create_baseline())")
        spec = constraints.get("features", {}).get(column)
        if not spec or "lower_bound" not in spec:
            raise ValueError(
                f"feature {column!r} has no [lower_bound, upper_bound] in "
                "constraints.json — streaming PSI needs fixed bin bounds"
            )
        from workbench_spark.streaming.monitor import stream_windowed_drift

        return stream_windowed_drift(
            self.spark,
            source_dir,
            schema,
            baseline,
            column,
            float(spec["lower_bound"]),
            float(spec["upper_bound"]),
            bins=bins,
            ts_col=ts_col,
            window=window,
            watermark=watermark,
        )

    def streaming_constraint_monitor(
        self,
        source_dir: str,
        schema,
        ts_col: str = "ts",
        window: str = "1 hour",
        watermark: str = "2 hours",
    ):
        """Continuous completeness/bounds twin of run_monitoring_execution
        for ALL constrained features at once: per-window per-feature
        (n, n_null, n_oob) rows from ONE melted watermarked aggregation
        (streaming/monitor.stream_constraint_monitor), bounds from
        constraints.json."""
        constraints = self.get_constraints()
        if constraints is None:
            raise ValueError("create a baseline first (create_baseline())")
        bounds = {}
        for c, spec in constraints.get("features", {}).items():
            if "lower_bound" in spec and spec["lower_bound"] is not None:
                bounds[c] = (float(spec["lower_bound"]), float(spec["upper_bound"]))
            else:
                bounds[c] = None
        if not bounds:
            raise ValueError("constraints.json lists no features to monitor")
        from workbench_spark.streaming.monitor import stream_constraint_monitor

        return stream_constraint_monitor(
            self.spark, source_dir, schema, bounds, ts_col, window, watermark
        )

    def setup_alerts(self, notification_email: str, threshold: int = 1) -> bool:
        """Record alerting config (monitor_core.py:501-560 provisions SNS;
        locally the config is read by whatever delivers notifications)."""
        self.registry.upsert_meta(
            self.endpoint_name,
            {
                "artifact_type": "endpoint",
                "alerts": {
                    "email": notification_email,
                    "violation_threshold": int(threshold),
                },
            },
        )
        return True

    def __repr__(self) -> str:
        return f"Monitor({self.endpoint_name})"
