"""Per-stage metrics (north rule: per-partition checkpointed lineage + metrics).

Replaces the reference's Celery progress meta (discover.py:222-227) and statsd
counters (stats.py:28-38) with a job_metrics table:

  job_metrics(stage STRING, rows_out BIGINT, wall_ms BIGINT,
              partitions INT, checkpoint_path STRING)

Row counts come from `df.observe` / materialized counts at stage boundaries —
not from extra count() jobs over unmaterialized lineage.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession


@dataclass
class StageRecord:
    stage: str
    rows_out: int
    wall_ms: int
    partitions: int
    checkpoint_path: str | None = None


@dataclass
class MetricsCollector:
    """Stage records of one pipeline run, in completion order.

    The four near-dup edge stages (edges_lsh, edges_pigeonhole,
    edges_embedding, edges_substring) are built by concurrent driver
    threads, so their wall_ms values overlap: each covers roughly the
    shared wall of the concurrent block, their sum exceeds the pipeline's
    wall, and their record order varies run to run. Key records by stage
    name; do not sum or order their walls."""
    records: list[StageRecord] = field(default_factory=list)
    observations: dict = field(default_factory=dict)   # stage -> Observation

    def record(self, stage: str, rows_out: int, wall_ms: float,
               partitions: int, checkpoint_path: str | None = None):
        self.records.append(StageRecord(stage, int(rows_out), int(wall_ms),
                                        int(partitions), checkpoint_path))

    def observe(self, stage: str, df: DataFrame) -> DataFrame:
        """Attach a zero-cost row counter to a LAZY stage (A3, reference
        discover.py:222-227 progress): `df.observe` accumulates the count
        as a side-car metric of whatever action later materializes the
        plan — no extra count() job over unmaterialized lineage."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F
        obs = Observation(f"wdd_{stage}")
        self.observations[stage] = obs
        return df.observe(obs, F.count(F.lit(1)).alias("rows_out"))

    def harvest_observations(self) -> int:
        """Fill rows_out for lazily-observed stages whose plan has since
        been materialized by some action. Non-blocking: a stage whose
        observed node never ran stays at -1. Returns #stages filled."""
        n = 0
        for r in self.records:
            obs = self.observations.get(r.stage)
            if obs is None or r.rows_out >= 0:
                continue
            try:
                if obs._jo.getOrEmpty().isEmpty():
                    continue             # not materialized yet
                r.rows_out = int(obs.get["rows_out"])
                n += 1
            except Exception:
                continue                 # pre-action NPE -> not ready
        return n

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            [(r.stage, r.rows_out, r.wall_ms, r.partitions, r.checkpoint_path)
             for r in self.records],
            "stage string, rows_out long, wall_ms long, partitions int, "
            "checkpoint_path string",
        )


class stage_timer:
    """Wall time of one stage from __enter__ to done(). Timers of stages
    that run in concurrent threads overlap (see MetricsCollector)."""

    def __init__(self, collector: MetricsCollector | None, stage: str):
        self.collector, self.stage = collector, stage
        self.t0 = 0.0

    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    def done(self, rows_out: int, partitions: int, path: str | None = None):
        if self.collector is not None:
            self.collector.record(self.stage, rows_out,
                                  (time.monotonic() - self.t0) * 1000,
                                  partitions, path)

    def __exit__(self, *exc):
        return False
