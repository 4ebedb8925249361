"""Span wrappers around the program's layers, installed from outside.

Each layer is a set of public functions or methods. ``install`` replaces
every binding a caller could look the function up by: the defining
module's attribute, every ``workbench_spark`` module that imported the
same object with ``from ... import``, and the class attribute for methods.
A span records calls, inclusive seconds and the Spark jobs launched under
the current job group. A call nested inside another span of the same layer
is not counted again, so a layer's seconds never exceed wall time.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections import defaultdict

# layer name -> list of (module, attribute) for functions (attribute None:
# every public function the module defines), or (module, class,
# [method, ...]) for methods (an empty list: every public method plus
# __init__, except the to_* conversions that hand over to the next layer)
MODULE_LAYERS = {
    "session.read_table": [("workbench_spark.session", "read_table")],
    "functions.athena_sql": [("workbench_spark.functions.athena_sql", "translate_athena_sql")],
    "streaming.capture": [("workbench_spark.streaming.monitor", "capture_inference")],
    "operators.eda": [("workbench_spark.operators.eda", None)],
    "operators.graph": [("workbench_spark.operators.graph", None)],
    "operators.dedup": [("workbench_spark.operators.dedup", None)],
    "operators.text": [("workbench_spark.operators.text", None)],
}
CLASS_LAYERS = {
    "api.data_source": ("workbench_spark.api.data_source", "DataSource", []),
    "api.feature_set": ("workbench_spark.api.feature_set", "FeatureSet", []),
    "api.model.train": ("workbench_spark.api.model", "Model", ["train"]),
    "api.model.inference": ("workbench_spark.api.model", "Endpoint", ["inference"]),
    "api.registry.meta_io": (
        "workbench_spark.api.registry", "Registry", ["read_meta", "write_meta", "upsert_meta"],
    ),
    "api.monitor": ("workbench_spark.api.monitor", "Monitor", []),
    "ml.pipeline_load": ("pyspark.ml", "PipelineModel", ["load"]),
}
# the metrics reported per layer: calls, inclusive seconds, Spark jobs
LAYER_METRICS = {
    "session.read_table": ["calls", "s", "jobs"],
    "functions.athena_sql": ["s"],
    "operators.eda": ["s", "jobs"],
    "operators.graph": ["s", "jobs"],
    "operators.dedup": ["s", "jobs"],
    "operators.text": ["s", "jobs"],
    "api.data_source": ["s", "jobs"],
    "api.feature_set": ["s"],
    "api.model.train": ["s", "jobs"],
    "api.model.inference": ["s", "jobs"],
    "ml.pipeline_load": ["calls", "s"],
    "api.registry.meta_io": ["calls", "s"],
    "streaming.capture": ["s"],
    "api.monitor": ["s", "jobs"],
}


class Tracer:
    def __init__(self, probe) -> None:
        self.probe = probe
        self.enabled = False
        self.group: str | None = None
        self.totals: dict[str, list] = defaultdict(lambda: [0, 0.0, 0])
        self._depth: dict[str, int] = defaultdict(int)

    def reset(self) -> dict[str, list]:
        out, self.totals = dict(self.totals), defaultdict(lambda: [0, 0.0, 0])
        return out

    def wrap(self, layer: str, fn):
        @functools.wraps(fn)
        def span(*args, **kwargs):
            if not self.enabled or self._depth[layer]:
                return fn(*args, **kwargs)
            group = self.group
            jobs0 = self.probe.job_count(group) if group else 0
            self._depth[layer] += 1
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self._depth[layer] -= 1
                tot = self.totals[layer]
                tot[0] += 1
                tot[1] += dt
                if group:
                    tot[2] += self.probe.job_count(group) - jobs0

        return span


def _public_functions(mod) -> list[str]:
    return [
        name for name, obj in vars(mod).items()
        if inspect.isfunction(obj) and obj.__module__ == mod.__name__
        and not name.startswith("_")
    ]


def install(tracer: Tracer) -> dict[str, int]:
    """Wrap every layer; returns the number of bindings replaced per layer."""
    replaced: dict[str, int] = defaultdict(int)
    for layer, targets in MODULE_LAYERS.items():
        for mod_name, attr in targets:
            mod = importlib.import_module(mod_name)
            for name in [attr] if attr else _public_functions(mod):
                orig = getattr(mod, name)
                wrapped = tracer.wrap(layer, orig)
                # every module that bound the same function object by name
                for other in list(sys.modules.values()):
                    if not getattr(other, "__name__", "").startswith("workbench_spark"):
                        continue
                    for key, val in list(vars(other).items()):
                        if val is orig:
                            setattr(other, key, wrapped)
                            replaced[layer] += 1
    for layer, (mod_name, cls_name, methods) in CLASS_LAYERS.items():
        cls = getattr(importlib.import_module(mod_name), cls_name)
        names = methods or [
            n for n, v in vars(cls).items()
            if (n == "__init__" or not n.startswith(("_", "to_")))
            and (inspect.isfunction(v) or isinstance(v, (classmethod, staticmethod)))
        ]
        for name in names:
            raw = inspect.getattr_static(cls, name)
            if isinstance(raw, classmethod):
                setattr(cls, name, classmethod(tracer.wrap(layer, raw.__func__)))
            elif isinstance(raw, staticmethod):
                setattr(cls, name, staticmethod(tracer.wrap(layer, raw.__func__)))
            else:
                setattr(cls, name, tracer.wrap(layer, raw))
            replaced[layer] += 1
    return dict(replaced)
