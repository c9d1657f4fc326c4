"""Per-stage metrics (north rule: per-partition checkpointed lineage + metrics).

Replaces the reference's Celery progress meta (discover.py:222-227) and statsd
timers (stats.py:28-38) with a job_metrics table:

  job_metrics(stage STRING, rows_out BIGINT, partitions INT,
              checkpoint_path STRING, jobs INT, task_s DOUBLE,
              shuffle_write_bytes BIGINT)

Row counts ride the eventual action as `df.observe` side-cars — not extra
count() jobs over unmaterialized lineage. A stage's Spark cost is read back
from the status store by the job tag its RunScope put on the jobs it
submitted (`job_costs`, the one status reader; TrackedJob's progress polls
read through it too).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field
from typing import Iterable

from py4j.protocol import Py4JJavaError
from pyspark import SparkContext
from pyspark.sql import DataFrame, Observation, SparkSession


@dataclass
class JobCost:
    jobs: int = 0
    tasks: int = 0
    done: int = 0                   # completed tasks
    task_s: float = 0.0
    shuffle_write_bytes: int = 0


def job_costs(sc: SparkContext,
              job_ids: dict[str, Iterable[int]]) -> dict[str, JobCost]:
    """Per key, the Spark cost of its jobs, read from the status store. Only
    these jobs and their stages are read, so the cost of a read does not
    grow with session history. A stage listed by several jobs counts once,
    under the lowest job id: a later job that reuses its shuffle lists it
    as skipped. Jobs the store no longer holds are left out."""
    jvm, store = sc._jvm, sc._jsc.sc().statusStore()
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(
        jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())

    def read(get, key) -> dict | None:
        try:
            return json.loads(mapper.writeValueAsString(get(key)))
        except Py4JJavaError:        # NoSuchElementException: not (yet) held
            return None

    out = {k: JobCost() for k in job_ids}
    seen: set[int] = set()
    for jid, key in sorted((int(j), k) for k, ids in job_ids.items()
                           for j in ids):
        job = read(store.job, jid)
        if job is None:
            continue
        cost = out[key]
        cost.jobs += 1
        for sid in job["stageIds"]:
            if sid in seen:
                continue
            seen.add(sid)
            st = read(store.lastStageAttempt, sid)
            if st is None:
                continue
            cost.tasks += st["numTasks"]
            cost.done += st["numCompleteTasks"]
            cost.task_s += st["executorRunTime"] / 1000.0
            cost.shuffle_write_bytes += st["shuffleWriteBytes"]
    return out


@dataclass
class StageRecord:
    stage: str
    rows_out: int = -1
    partitions: int = -1
    checkpoint_path: str | None = None
    jobs: int = 0
    task_s: float = 0.0
    shuffle_write_bytes: int = 0


@dataclass
class MetricsCollector:
    """Stage records of one pipeline run, keyed by stage name.

    A stage's jobs, task_s and shuffle_write_bytes count the Spark jobs it
    submitted while it was built: the jobs its RunScope tagged with the
    stage. A lazy frame's work runs later, during the caller's own action;
    those jobs belong to the caller, carry no tag and count for no stage.
    rows_out comes from the frame's observe() side-car once some action
    has run it (-1 until then). Records are ordered by first report; the
    four near-dup edge stages are built by concurrent threads, so their
    order varies run to run."""
    tags: dict[str, str]                               # stage -> job tag
    records: list[StageRecord] = field(default_factory=list)
    # stage -> Observation, or the frame's own QueryExecution for a frame
    # kept with a lazy localCheckpoint
    observations: dict = field(default_factory=dict)

    def record(self, stage: str, rows_out: int = -1, partitions: int = -1,
               checkpoint_path: str | None = None) -> StageRecord:
        self.records.append(StageRecord(stage, int(rows_out), int(partitions),
                                        checkpoint_path))
        return self.records[-1]

    def observe(self, stage: str, df: DataFrame, keep=None) -> DataFrame:
        """Attach a zero-cost row counter to a LAZY stage (A3, reference
        discover.py:222-227 progress), then apply `keep` (a persist or a
        lazy localCheckpoint) to the observed frame: `df.observe`
        accumulates the count as a side-car metric of whatever action
        later materializes the plan — no extra count() job over
        unmaterialized lineage. A lazy localCheckpoint plans the frame at
        once and fires the Observation then, with zero rows; such a
        stage's count is read from the frame's own plan instead. The
        pipeline fills all of its checkpoints inside the run (CC reads every
        edge frame), so that count is final by the time a harvest reads
        it. The observation is named by the stage's job tag: the cache
        manager matches persisted frames by plan, and a name unique to the
        run keeps two runs over the same input from sharing a cache entry
        that one run's release() would drop under the other."""
        from pyspark.sql import functions as F
        obs = Observation(self.tags[stage])
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows_out"))
        out = keep(observed) if keep is not None else observed
        leaf = out._jdf.queryExecution().analyzed()
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            self.observations[stage] = observed._jdf.queryExecution()
        else:
            self.observations[stage] = obs
        return out

    def harvest(self) -> int:
        """Fill every stage's Spark cost from one read of the status store
        (after the listener bus has caught up), and rows_out for observed
        stages whose plan some action has since run; a stage whose observed
        node never ran stays at -1. Returns the number of rows_out
        filled."""
        sc = SparkContext._active_spark_context
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc._jsc.sc().statusTracker()
        costs = job_costs(sc, {stage: tracker.getJobIdsForTag(tag)
                               for stage, tag in self.tags.items()})
        by_stage = {r.stage: r for r in self.records}
        for stage, c in costs.items():
            r = by_stage.get(stage) or self.record(stage)
            r.jobs, r.task_s = c.jobs, c.task_s
            r.shuffle_write_bytes = c.shuffle_write_bytes
        n = 0
        for r in self.records:
            obs = self.observations.get(r.stage)
            if obs is None or r.rows_out >= 0:
                continue
            try:
                if not isinstance(obs, Observation):    # a checkpoint's plan
                    r.rows_out = obs.observedMetrics().get(
                        self.tags[r.stage]).get().getLong(0)
                elif obs._jo.getOrEmpty().isEmpty():
                    continue             # not materialized yet
                else:
                    r.rows_out = int(obs.get["rows_out"])
                n += 1
            except Exception:
                continue                 # pre-action NPE -> not ready
        return n

    def to_df(self, spark: SparkSession) -> DataFrame:
        return spark.createDataFrame(
            [(r.stage, r.rows_out, r.partitions, r.checkpoint_path, r.jobs,
              r.task_s, r.shuffle_write_bytes) for r in self.records],
            "stage string, rows_out long, partitions int, "
            "checkpoint_path string, jobs int, task_s double, "
            "shuffle_write_bytes long",
        )
