"""Iteration checkpointing with per-partition lineage + metrics.

Spark gives us no resumability: the reference mutates in-memory vectors
(src/centrality/pagerank.rs:67-127), while a Spark kernel's state lives in
a lineage.  The lineage itself is cut by ``plans/materialize.py::
local_materialize`` every superstep; this module writes a **parquet
snapshot of an iteration's state**, which

1. makes runs resumable mid-iteration (north rule: ``latest`` reads the
   newest complete snapshot back), and
2. records per-partition metrics + lineage in a manifest JSON.

Layout (parquet stands in for Iceberg — the Iceberg runtime jars aren't in
this image; the table layout is Iceberg-shaped: one directory per iteration
snapshot + a manifest):

    {base}/{run_id}/iter=00003/part-*.parquet
    {base}/{run_id}/manifest-00003.json

Manifest fields: run_id, iteration, algorithm params hash (lineage), parent
iteration, convergence delta, wall ms, and per-partition (file, rows, bytes).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


@dataclass
class CheckpointManager:
    base: str
    run_id: str
    params: dict = field(default_factory=dict)

    @property
    def run_dir(self) -> str:
        return os.path.join(self.base, self.run_id)

    def _iter_dir(self, iteration: int) -> str:
        return os.path.join(self.run_dir, f"iter={iteration:05d}")

    def _manifest_path(self, iteration: int) -> str:
        return os.path.join(self.run_dir, f"manifest-{iteration:05d}.json")

    def lineage_hash(self) -> str:
        return hashlib.sha256(
            json.dumps(self.params, sort_keys=True, default=str).encode()
        ).hexdigest()[:16]

    def save(
        self,
        df: DataFrame,
        iteration: int,
        delta: float | None = None,
        extra: dict | None = None,
    ) -> None:
        """Write the iteration state and record the manifest.  The manifest
        is written *after* the parquet commit, so an iteration without a
        manifest is incomplete and ignored on resume — crash-consistent
        without a transaction log."""
        t0 = time.time()
        path = self._iter_dir(iteration)
        df.write.mode("overwrite").parquet(path)
        wall_ms = int((time.time() - t0) * 1000)
        parts = []
        for fn in sorted(os.listdir(path)):
            if fn.endswith(".parquet"):
                fp = os.path.join(path, fn)
                rows = pq.ParquetFile(fp).metadata.num_rows
                parts.append(
                    {"file": fn, "rows": rows, "bytes": os.path.getsize(fp)}
                )
        manifest = {
            "run_id": self.run_id,
            "iteration": iteration,
            "lineage": self.lineage_hash(),
            "parent_iteration": iteration - 1 if iteration > 0 else None,
            "delta": delta,
            "wall_ms": wall_ms,
            "partitions": parts,
            "rows": sum(p["rows"] for p in parts),
            **(extra or {}),
        }
        tmp = self._manifest_path(iteration) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(manifest, f)
        os.replace(tmp, self._manifest_path(iteration))

    def latest(self, spark: SparkSession) -> tuple[int, DataFrame, dict] | None:
        """Most recent *complete* iteration (manifest present and matching
        this run's params lineage), or None."""
        if not os.path.isdir(self.run_dir):
            return None
        best = None
        for fn in os.listdir(self.run_dir):
            if fn.startswith("manifest-") and fn.endswith(".json"):
                with open(os.path.join(self.run_dir, fn)) as f:
                    m = json.load(f)
                if m.get("lineage") != self.lineage_hash():
                    continue
                if best is None or m["iteration"] > best["iteration"]:
                    best = m
        if best is None:
            return None
        it = best["iteration"]
        return it, spark.read.parquet(self._iter_dir(it)), best
