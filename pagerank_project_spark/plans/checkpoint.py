"""Iteration-state checkpoint store — Iceberg-shaped, Parquet-backed.

BASELINE.json north_rule: iteration state (rank vector / frontier /
labels) is checkpointed with per-partition lineage and convergence metrics
(L1 delta, active-vertex count) so any run is resumable mid-iteration.

No Iceberg jars in the sandbox (SURVEY.md §7), so the store emulates the
Iceberg layout: one immutable snapshot directory per iteration
(``iter=K/data/*.parquet``) plus a JSON manifest listing per-iteration
metrics and per-partition file lineage (file name, row count). The write
is atomic-by-rename at the manifest level: an iteration is visible to
``latest_iteration()`` only after its manifest entry is committed, so a
crash mid-write never yields a partial resume point. A real Iceberg
catalog drops in behind the same four methods.

The label loops (LPA, CC propagation, CC star) write their state in the
loop's own vid space, as the superstep left it: no decode per write, no
encode per resume. Vids are stable only for the same vertex set, so
``VidCheckpoint`` tags every manifest entry with the build's key.
"""

from __future__ import annotations

import json
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession


class CheckpointStore:
    def __init__(self, root: str, run_id: str = "run"):
        self.root = os.path.join(root, run_id)
        os.makedirs(self.root, exist_ok=True)
        self._manifest_path = os.path.join(self.root, "_manifest.json")

    # -- manifest -----------------------------------------------------------
    def _read_manifest(self) -> dict:
        if not os.path.exists(self._manifest_path):
            return {"format": "iceberg-emulated-v1", "iterations": {}}
        with open(self._manifest_path) as f:
            return json.load(f)

    def _commit_manifest(self, manifest: dict) -> None:
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".manifest.tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=2)
        os.replace(tmp, self._manifest_path)  # atomic commit

    # -- API ----------------------------------------------------------------
    def write_iteration(self, state: DataFrame, iteration: int, metrics: dict) -> None:
        path = os.path.join(self.root, f"iter={iteration}")
        state.write.mode("overwrite").parquet(path)
        files = [
            {"file": fn, "bytes": os.path.getsize(os.path.join(path, fn))}
            for fn in sorted(os.listdir(path))
            if fn.endswith(".parquet")
        ]
        manifest = self._read_manifest()
        manifest["iterations"][str(iteration)] = {
            "path": path,
            "metrics": metrics,
            "partitions": files,  # per-partition lineage
        }
        self._commit_manifest(manifest)

    def latest_iteration(self) -> int | None:
        its = self._read_manifest()["iterations"]
        return max((int(k) for k in its), default=None)

    def read_state(self, spark: SparkSession, iteration: int) -> DataFrame:
        entry = self._read_manifest()["iterations"][str(iteration)]
        return spark.read.parquet(entry["path"])

    def metrics(self) -> dict[int, dict]:
        return {
            int(k): v["metrics"]
            for k, v in self._read_manifest()["iterations"].items()
        }


class VidCheckpoint:
    """A label loop's view of a CheckpointStore. Each entry is tagged with
    the loop's ``algorithm`` and the build's vertex-set key; opening
    raises ValueError, before any superstep runs, when the latest entry
    has another tag — its vids would name other vertices."""

    def __init__(self, store: CheckpointStore, key: list[int], algorithm: str):
        self.store, self.tags = store, {"algorithm": algorithm, "vid_key": key}
        latest = store.latest_iteration()
        self.start = latest or 0  # the iteration the loop resumes after
        got = {} if latest is None else store.metrics()[latest]
        if latest is not None and got.get("vid_key") != key:
            raise ValueError(
                f"checkpoint store {store.root} holds state for vertex-set key "
                f"(n, sum xxhash64(id)) = {got.get('vid_key')} (None: the older "
                f"string-id format), not this graph's {key}; start a new store"
            )
        if latest is not None and got["algorithm"] != algorithm:
            raise ValueError(
                f"checkpoint store holds {got['algorithm']!r} state; cannot resume with "
                f"algorithm={algorithm!r}"
            )

    def read(self, spark: SparkSession) -> DataFrame:
        return self.store.read_state(spark, self.start)

    def write(self, state: DataFrame, iteration: int, metrics: dict | None = None) -> None:
        self.store.write_iteration(state, iteration=iteration, metrics={**self.tags, **(metrics or {})})
