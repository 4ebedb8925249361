"""The two workloads: which operations a pass runs, how each is timed
and how its output is checked.

An operation returns an ``Outcome``: its build seconds (the builder call,
including any eager Spark jobs inside it), its execute seconds (the
full-evaluation action) and a ``check`` value compared after timing.
Registry queries are evaluated with the hash-of-struct aggregate over every
output column (``count()`` alone lets Catalyst prune the computation);
doubles are hashed at float32 precision so that last-bit differences in
floating-point summation order between machines do not flip a check.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

import probe

# The analyst mix: 5 of the 19 operations bench.py times (its HEADLINE
# list plus the two _bench_extras stats calls; MinHash runs in the
# production shape _bench_extras uses, not the oracle-grade registry form)
# and one Athena-dialect DataSource query. The other 14 are left out so
# that a run, cold pass included, fits the time one run may take.
ANALYST_REGISTRY = [
    "q1_pricing_summary",
    "w_sessionize_events",
    "text_quality_features",
]
ANALYST_LIBRARY = [
    "dedup_minhash_pairs",
    "descriptive_stats_lineitem",
    "athena_lineitem_summary",
]
# A fixpoint operator whose builder runs most of its jobs eagerly
# (PageRank: 69 of 71 jobs). HITS, the leakage-safe split, PPJoin prefix
# pairs, containment pairs and the Naive-Bayes classifier are left out for
# run time (each is 2-6 s warm, 3-10 s cold).
ITERATIVE_REGISTRY = [
    "graph_pagerank_authority",
]
# The read-only workload runs both mixes in one pass, so that one JVM
# warm-up serves both (operations with op.<name>.* per-layer metrics;
# lifecycle steps have none)
OPS_WITH_METRICS = ANALYST_REGISTRY + ANALYST_LIBRARY + ITERATIVE_REGISTRY
LIFECYCLE_STEPS = [
    "ingest", "feature_set", "to_model", "to_endpoint", "requests", "baseline", "monitor",
]

ATHENA_SQL = """
SELECT "l_returnflag", "l_linestatus",
       COUNT(*) AS n_lines,
       CAST(SUM(l_quantity) AS VARCHAR) AS sum_qty,
       ROUND(AVG(l_extendedprice * (1 - l_discount)), 2) AS avg_net,
       approx_percentile(l_extendedprice, 0.5) AS median_price
FROM lineitem_ds
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY 1, 2
"""

REQUEST_ROWS = 200
FEATURES = ["total_qty", "avg_price", "avg_disc", "n_lines"]
TARGET = "net_rev"
RF_PARAMS = {"numTrees": 8, "maxDepth": 5, "seed": 7}


@dataclass
class Outcome:
    build_s: float
    exec_s: float
    check: Any
    # per-request latencies and CPU seconds (lifecycle requests step only)
    requests_s: list[float] = field(default_factory=list)
    requests_cpu_s: list[float] = field(default_factory=list)


def _float32(dt):
    """``dt`` with every DoubleType replaced by FloatType (recursively)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.DoubleType):
        return T.FloatType()
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_float32(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(_float32(dt.keyType), _float32(dt.valueType), dt.valueContainsNull)
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _float32(f.dataType), f.nullable) for f in dt.fields]
        )
    return dt


def fingerprint(df) -> list[int]:
    """[rows, sum of xxhash64 over a struct of every output column]."""
    from pyspark.sql import functions as F

    cols = []
    for f in df.schema.fields:
        c = df[f"`{f.name}`"]
        target = _float32(f.dataType)
        cols.append(c.cast(target) if target != f.dataType else c)
    row = df.select(
        F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64(F.struct(*cols))).alias("h")
    ).first()
    return [int(row["n"]), int(row["h"] or 0)]


def _timed_query(build: Callable[[], Any]) -> Outcome:
    t0 = time.perf_counter()
    df = build()
    t1 = time.perf_counter()
    fp = fingerprint(df)
    return Outcome(t1 - t0, time.perf_counter() - t1, fp)


class QueryWorkload:
    """Read-only operations over the fixed input tables, after
    ``warm_passes`` untimed passes."""

    def __init__(self, spark, data_dir: str, work_dir: str, op_names: list[str],
                 warm_passes: int):
        from workbench_spark.queries import queries

        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        reg = queries()
        lib = self._library()
        self.builders = {
            n: (lib[n] if n in lib else (lambda fn=reg[n]: fn(spark, data_dir)))
            for n in op_names
        }
        self.op_names = list(op_names)
        self.recorded_ops = self.op_names
        self.warm_passes = warm_passes

    def setup(self) -> None:
        """Fixture: the Athena op's DataSource over lineitem, ingested
        without the onboard stat suite."""
        if "athena_lineitem_summary" in self.op_names:
            from workbench_spark.api.data_source import DataSource

            self.lineitem_ds = DataSource(
                os.path.join(self.data_dir, "lineitem.parquet"), name="lineitem_ds",
                spark=self.spark, warehouse=os.path.join(self.work_dir, "warehouse"),
                onboard=False,
            )

    def before_pass(self, pass_i: int) -> None:
        pass

    def run_op(self, name: str) -> Outcome:
        return _timed_query(self.builders[name])

    def check(self, name: str, value: Any, expected: dict) -> bool:
        return expected.get(name) == value

    def check_served(self) -> bool:
        return True

    def _library(self) -> dict[str, Callable[[], Any]]:
        """The production-mode library calls bench.py times, with the same
        parameters (sampled-quantile stats, persisted 16/4 MinHash)."""
        from workbench_spark.operators import dedup, eda
        from workbench_spark.session import read_table

        spark, d = self.spark, self.data_dir

        def descriptive_stats_lineitem():
            return eda.descriptive_stats(
                read_table(spark, d, "lineitem"),
                ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
                exact=False, sample_fraction=0.02,
            )

        def dedup_minhash_pairs():
            return dedup.minhash_lsh_pairs(
                read_table(spark, d, "documents"), n_hashes=16, bands=4,
                verify_threshold=0.5, persist_signatures=True,
            )

        def athena_lineitem_summary():
            return self.lineitem_ds.query(ATHENA_SQL)

        return {
            "descriptive_stats_lineitem": descriptive_stats_lineitem,
            "dedup_minhash_pairs": dedup_minhash_pairs,
            "athena_lineitem_summary": athena_lineitem_summary,
        }


class LifecycleWorkload:
    """DataSource -> FeatureSet -> Model -> Endpoint -> Monitor, each pass
    in a fresh warehouse directory (the previous one is deleted with
    rmtree before the pass starts; nothing is unpersisted or collected).

    No warm-up pass: a cold lifecycle pass takes about 30 s on a 4-vCPU
    VM, and a warm one would not fit the time one run may take, so a run
    times the first pass, as a scheduled pipeline job that runs once per
    process sees it."""

    warm_passes = 0

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int,
                 requests_per_pass: int):
        import pandas as pd

        self.spark = spark
        self.work_dir = work_dir
        self.op_names = list(LIFECYCLE_STEPS)
        self.recorded_ops = ["to_model"]
        self.requests_per_pass = requests_per_pass
        self.rng = np.random.default_rng(seed)
        li = pd.read_parquet(os.path.join(data_dir, "lineitem.parquet"))
        li["net"] = li["l_extendedprice"] * (1 - li["l_discount"])
        g = li.groupby("l_orderkey")
        feats = pd.DataFrame(
            {
                "total_qty": g["l_quantity"].sum(),
                "avg_price": g["l_extendedprice"].mean(),
                "avg_disc": g["l_discount"].mean(),
                "n_lines": g.size().astype("int64"),
                TARGET: g["net"].sum().round(2),
            }
        )
        feats.index.name = "order_id"
        self.features = feats.reset_index()
        self.features_path = os.path.join(data_dir, "order_features.parquet")
        self.features.to_parquet(self.features_path, index=False)
        self._wh: str | None = None
        self._state: dict[str, Any] = {}
        self._served: list[tuple[Any, Any]] = []

    def setup(self) -> None:
        pass

    def before_pass(self, pass_i: int) -> None:
        if self._wh:
            shutil.rmtree(self._wh, ignore_errors=True)
        self._wh = os.path.join(self.work_dir, f"warehouse_{pass_i}")
        self._state = {}

    def run_op(self, name: str) -> Outcome:
        t0 = time.perf_counter()
        if name == "requests":
            return self._requests(t0)
        check = getattr(self, f"_{name}")()
        return Outcome(time.perf_counter() - t0, 0.0, check)

    # -- steps; a step returns the value its check compares, if any ----
    def _ingest(self):
        from workbench_spark.api.data_source import DataSource

        # the onboard stat suite is skipped for run time; the baseline step
        # runs the EDA stats on freshly written data instead
        self._state["ds"] = DataSource(
            self.features_path, name="order_features", spark=self.spark,
            warehouse=self._wh, onboard=False,
        )

    def _feature_set(self):
        from pyspark.sql import functions as F

        ds = self._state["ds"]
        fs = ds.to_features(name="order_fs", id_column="order_id")
        roles = ds.df().select(
            "order_id",
            (F.col("order_id") % 5 == 0).alias("validation"),
            F.lit(1.0).alias("sample_weight"),
            (F.col("order_id") % 97 == 0).alias("exclude"),
        )
        fs.set_training_roles(roles)
        self._state["fs"] = fs

    def _to_model(self):
        fs = self._state["fs"]
        m = fs.to_model(
            name="rev_model", target=TARGET, features=FEATURES, algo="rf",
            hyperparams=dict(RF_PARAMS),
        )
        self._state["model"] = m
        return {k: m.metrics()[k] for k in ("rmse", "r2", "support")}

    def _to_endpoint(self):
        ep = self._state["model"].to_endpoint()
        mon = ep.monitor()
        mon.enable_data_capture(capture_percentage=100)
        self._state.update(endpoint=ep, monitor=mon)

    def _requests(self, t0: float) -> Outcome:
        """Closed loop, one client: each request is 200 feature rows sent
        as a local DataFrame, answered with predictions the client pulls."""
        ep = self._state["endpoint"]
        lat, cpu, served = [], [], []
        for _ in range(self.requests_per_pass):
            idx = self.rng.choice(len(self.features), REQUEST_ROWS, replace=False)
            pdf = self.features.iloc[np.sort(idx)]
            c0 = probe.tree_cpu_s()
            ts = time.perf_counter()
            res = ep.inference(self.spark.createDataFrame(pdf), capture=True)
            rows = res.df.select("order_id", "prediction").collect()
            lat.append(time.perf_counter() - ts)
            cpu.append(probe.tree_cpu_s() - c0)
            served.append((res.metrics.get("support"), {r[0]: r[1] for r in rows}))
        self._served.extend(served)
        self._state["captured"] = REQUEST_ROWS * len(lat)
        return Outcome(time.perf_counter() - t0, 0.0, served, requests_s=lat,
                       requests_cpu_s=cpu)

    def _baseline(self):
        self._state["monitor"].create_baseline(
            baseline_df=self._state["ds"].df(), recreate=True
        )

    def _monitor(self):
        rec = self._state["monitor"].run_monitoring_execution()
        return {"status": rec["status"], "captured_rows": rec.get("captured_rows")}

    # -- checks (untimed; they may run Spark jobs of their own) ----------
    def check(self, name: str, value: Any, expected: dict) -> bool:
        n = len(self.features)
        if name == "ingest":
            return self._state["ds"].num_rows() == n
        if name == "feature_set":
            # the training view drops the rows whose role says exclude
            excluded = int((self.features["order_id"] % 97 == 0).sum())
            return self._state["fs"].training_view().count() == n - excluded
        if name == "to_model":
            exp = expected.get("to_model")
            return exp is not None and value["support"] == exp["support"] and all(
                abs(value[k] - exp[k]) <= 1e-6 * max(1.0, abs(exp[k])) for k in ("rmse", "r2")
            )
        if name == "to_endpoint":
            return self._state["monitor"].data_capture_enabled()
        if name == "requests":
            return all(
                support == REQUEST_ROWS and len(preds) == REQUEST_ROWS
                and all(p is not None for p in preds.values())
                for support, preds in value
            )
        if name == "baseline":
            with open(self._state["monitor"].statistics_json_file) as f:
                return json.load(f)["dataset"]["item_count"] == n
        if name == "monitor":
            return value["status"] != "Failed" and value["captured_rows"] == self._state.get("captured")
        return False

    def check_served(self) -> bool:
        """Every served prediction equals a batch transform of the same rows
        by the last pass's endpoint (same training data, fixed seed, so
        every pass trains the same model)."""
        if not self._served:
            return True
        preds = self._state["endpoint"].transform(self.spark.createDataFrame(self.features))
        batch = dict(preds.select("order_id", "prediction").collect())
        return all(batch.get(k) == v for _, p in self._served for k, v in p.items())


def build(workload: str, spark, data_dir: str, work_dir: str, seed: int):
    # Both mixes in one pass: the cold pass (about 30 s on a 4-vCPU VM)
    # warms the JIT for every operation, and the next four passes read
    # 16.2, 17.3, 16.4 and 16.0 s, so one warm-up pass is enough.
    if workload.startswith("analyst_iterative"):
        return QueryWorkload(spark, data_dir, work_dir, OPS_WITH_METRICS, warm_passes=1)
    if workload.startswith("lifecycle"):
        return LifecycleWorkload(spark, data_dir, work_dir, seed, requests_per_pass=5)
    raise ValueError(f"unknown workload {workload!r}")


def load_expected(path: str) -> dict:
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        return json.load(f)
