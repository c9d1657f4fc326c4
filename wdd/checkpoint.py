"""Resumable stage store: parquet materialization + JSON manifests.

North-rule requirement: "per-partition checkpointed lineage + metrics so any
stage resumes mid-run". Each stage the pipeline materializes is written to
`<root>/<stage>/` with a `_manifest.json` recording row count (from the
parquet footers), partition count, the pinned algorithm config, and wall
time. A rerun with the same store skips any stage whose manifest is present
and loads its parquet instead — idempotent overwrite semantics replace the
reference's Celery job-dedup (web.py:29-43) and task-state machinery
(discover.py:204-227).

Storage format: local parquet with an explicit directory layout. On a real
cluster the same call sites write Iceberg (`writeTo(...).createOrReplace()`)
with `bucket(N, url)` partition transforms — the Iceberg runtime jar is not
available in this sandbox (no network, SURVEY.md §7.6), so the fallback
materializes the bucket id as a column and repartitions on it, giving the
same co-location properties to downstream joins.
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from wdd.config import DEFAULT, WddConfig


def footer_rows(files) -> int:
    """Rows in these parquet files, summed from their footers (no Spark
    job)."""
    return sum(pq.read_metadata(f).num_rows for f in files)


class StageStore:
    def __init__(self, root: str, spark: SparkSession,
                 cfg: WddConfig = DEFAULT):
        self.root = Path(root)
        self.spark = spark
        self.cfg = cfg
        self.root.mkdir(parents=True, exist_ok=True)

    def _dir(self, stage: str) -> Path:
        return self.root / stage

    def _manifest(self, stage: str) -> Path:
        return self._dir(stage) / "_manifest.json"

    def exists(self, stage: str) -> bool:
        return self._manifest(stage).exists()

    def stages(self) -> list[str]:
        """The stages whose manifest exists, from one listing of the store
        root: a stage directory a crashed write left without its manifest
        is not one of them."""
        return sorted(e.name for e in os.scandir(self.root)
                      if e.is_dir() and self.exists(e.name))

    def load(self, stage: str) -> DataFrame:
        return self.spark.read.parquet(str(self._dir(stage) / "data"))

    def manifest(self, stage: str) -> dict:
        with open(self._manifest(stage)) as f:
            return json.load(f)

    def materialize(self, stage: str, df: DataFrame,
                    partition_by: list[str] | None = None) -> DataFrame:
        """Write-once: if the stage manifest exists and the stored data has
        `df`'s columns, return it (resume path); otherwise write parquet,
        then the manifest (manifest last, fsynced and moved into place
        whole, so a crashed write is retried, never half-trusted). The row
        count comes from the parquet footers and, without `partition_by`,
        the read-back reuses `df`'s schema, so neither costs a Spark job."""
        if self.exists(stage):
            stored = self.load(stage)
            if set(stored.columns) == set(df.columns):
                return stored
            # stored with other columns (by code whose stage had another
            # shape): it cannot stand in for this one. Unlink its manifest
            # first, so the rewrite is an ordinary first write and a crash
            # mid-write leaves the stage unwritten, not half-trusted.
            self._manifest(stage).unlink()
        t0 = time.monotonic()
        path = self._dir(stage) / "data"
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(str(path))
        reader = self.spark.read
        if not partition_by:
            reader = reader.schema(df.schema)
        out = reader.parquet(str(path))
        files = list(path.rglob("*.parquet"))
        manifest = {
            "stage": stage,
            "rows": footer_rows(files),
            "partitions": out.rdd.getNumPartitions(),
            "wall_ms": int((time.monotonic() - t0) * 1000),
            "written_files": len(files),
            "config": self.cfg.as_dict(),
        }
        tmp = self._manifest(stage).with_suffix(".tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, self._manifest(stage))
        return out
