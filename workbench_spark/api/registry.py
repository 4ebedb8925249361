"""Artifact registry: names, tags, status, cached stats.

Replaces the reference's Glue-Catalog table parameters + SSM metadata
(``core/artifacts/artifact.py:1-511``, ``athena_source.py:99-152``
upsert_workbench_meta) with a warehouse-local JSON sidecar per artifact —
the same role the reference assigns to "table parameters": small
key-value metadata co-located with the data, no service round-trips.

Layout:  {warehouse}/{name}/data/          parquet dataset
         {warehouse}/{name}/_meta.json     tags, status, workbench_meta, stats
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time

DEFAULT_WAREHOUSE = os.environ.get(
    "SPARK_GRAFT_WAREHOUSE", os.path.join(os.path.dirname(__file__), "..", "..", ".warehouse")
)

_NAME_RE = re.compile(r"^[a-z0-9_]+$")


def validate_name(name: str) -> str:
    """Artifact name rules (artifact.py enforces lowercase/sanitized names;
    Athena constraint at pandas_to_data.py:110-115)."""
    clean = re.sub(r"[^a-zA-Z0-9_]", "_", name).lower()
    if not _NAME_RE.match(clean):
        raise ValueError(f"invalid artifact name: {name!r}")
    return clean


def read_json(path: str):
    """The JSON document at ``path``, or None when the file is absent."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def write_json(path: str, value) -> None:
    """Write ``value`` as JSON atomically: a per-process temp file, then
    os.replace, so a concurrent reader sees the old or the new document,
    never a partial one."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(value, f, default=str)
    os.replace(tmp, path)


class Registry:
    def __init__(self, warehouse: str | None = None):
        self.warehouse = os.path.abspath(warehouse or DEFAULT_WAREHOUSE)
        os.makedirs(self.warehouse, exist_ok=True)

    # -- paths -----------------------------------------------------------
    def artifact_dir(self, name: str) -> str:
        return os.path.join(self.warehouse, validate_name(name))

    def data_path(self, name: str) -> str:
        return os.path.join(self.artifact_dir(name), "data")

    def meta_path(self, name: str) -> str:
        return os.path.join(self.artifact_dir(name), "_meta.json")

    # -- metadata --------------------------------------------------------
    def read_meta(self, name: str) -> dict:
        return read_json(self.meta_path(name)) or {}

    def write_meta(self, name: str, meta: dict) -> None:
        write_json(self.meta_path(name), meta)

    def upsert_meta(self, name: str, updates: dict) -> dict:
        meta = self.read_meta(name)
        meta.update(updates)
        meta["modified"] = time.time()
        self.write_meta(name, meta)
        return meta

    def delete(self, name: str) -> None:
        d = self.artifact_dir(name)
        if os.path.exists(d):
            shutil.rmtree(d)

    def exists(self, name: str) -> bool:
        return os.path.exists(self.data_path(name))

    def list_artifacts(self, artifact_type: str | None = None) -> list[str]:
        out = []
        if not os.path.isdir(self.warehouse):
            return out
        for entry in sorted(os.listdir(self.warehouse)):
            meta_p = os.path.join(self.warehouse, entry, "_meta.json")
            if not os.path.exists(meta_p):
                continue
            if artifact_type is not None:
                with open(meta_p) as f:
                    if json.load(f).get("artifact_type") != artifact_type:
                        continue
            out.append(entry)
        return out
