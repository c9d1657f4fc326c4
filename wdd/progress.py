"""In-flight job progress: the reference's Celery progress meta + poll API.

Reference semantics being reproduced:
  * discover.py:214-227 — the worker calls update_state(meta={'info':
    'Processed %d out of %d captures.'}) every 10 captures while the
    simhash computation runs.
  * web.py:138-165 — GET /job?job_id polls it: while running ->
    {'status': 'PENDING', 'job_id', 'info'}; unknown task.info -> info None;
    on completion -> {'status': 'SUCCESS', 'job_id', 'duration'} (duration
    defaults to 1 when meta is missing); on failure -> {'status': 'error',
    'job_id', 'info'}.

Spark-first design: no per-item accumulator churn and no custom listener —
Spark's status store already counts completed tasks per stage, live, for
free (read through wdd.metrics.job_costs, the engine's one status reader).
A TrackedJob runs its action on an InheritableThread under a dedicated job
group (thread-local in pinned-thread mode, so concurrent jobs don't
cross-tag); status() folds the group's per-stage
(numCompleteTasks / numTasks) into the reference's progress string,
scaling task progress to the caller's item total. Task granularity is the
Spark analogue of the reference's 10-capture update stride: one Spark task
processes one partition of captures, and the count ticks as each lands.

Cancellation maps to sc.cancelJobGroup — the Spark equivalent of Celery
task revocation (the reference exposes none, but the group tag makes it
free here).
"""

from __future__ import annotations

import threading
import time
import uuid
from typing import Any, Callable

from pyspark import InheritableThread
from pyspark.sql import SparkSession

from wdd.metrics import job_costs


class TrackedJob:
    """One background Spark action with a live, poll-able progress surface.

    `action` is a zero-arg callable that triggers Spark jobs (e.g. a
    materializing write or collect). `total_items` is the domain-level item
    count the progress string reports against (the reference reports
    captures, not tasks); when None, raw task counts are reported.
    """

    def __init__(self, spark: SparkSession, action: Callable[[], Any],
                 total_items: int | None = None,
                 job_id: str | None = None, description: str = ""):
        self.spark = spark
        self.action = action
        self.total_items = total_items
        self.job_id = job_id or uuid.uuid4().hex
        self.description = description or f"wdd job {self.job_id}"
        self._group = f"wdd-job-{self.job_id}"
        self.result: Any = None
        self.error: Exception | None = None
        self.duration: float | None = None
        self._done = threading.Event()
        self._thread: InheritableThread | None = None

    # -- lifecycle -----------------------------------------------------
    def start(self) -> "TrackedJob":
        if self._thread is not None:
            return self
        # InheritableThread propagates the parent's local properties and
        # cleans the py4j thread mapping up on exit (required in
        # pinned-thread mode so job-group tags stay thread-local)
        self._thread = InheritableThread(target=self._run)
        self._thread.daemon = True
        self._thread.start()
        return self

    def _run(self):
        sc = self.spark.sparkContext
        t0 = time.monotonic()
        try:
            sc.setJobGroup(self._group, self.description,
                           interruptOnCancel=True)
            self.result = self.action()
        except Exception as exc:            # surfaced via status(), not raised
            self.error = exc
        finally:
            self.duration = time.monotonic() - t0
            self._done.set()

    def wait(self, timeout: float | None = None) -> bool:
        return self._done.wait(timeout)

    def cancel(self):
        """Best-effort cancel of every Spark job tagged with this group."""
        self.spark.sparkContext.cancelJobGroup(self._group)

    # -- the poll surface (web.py:138-165 shapes) ----------------------
    def _task_progress(self) -> tuple[int, int]:
        """(completed, total) tasks across the group's jobs, from the
        status store — no listeners, no extra Spark jobs."""
        sc = self.spark.sparkContext
        ids = sc.statusTracker().getJobIdsForGroup(self._group)
        cost = job_costs(sc, {self._group: ids})[self._group]
        return cost.done, cost.tasks

    def status(self) -> dict:
        if not self._done.is_set():
            done, total = self._task_progress()
            if total == 0:
                # no Spark job submitted yet under the group — the
                # reference's empty task.info -> info None
                return {"status": "PENDING", "job_id": self.job_id,
                        "info": None}
            if self.total_items is not None:
                # scale task progress to the domain item count the
                # reference reports ("captures")
                i = int(self.total_items * done / total)
                n = self.total_items
            else:
                i, n = done, total
            return {"status": "PENDING", "job_id": self.job_id,
                    "info": "Processed %d out of %d captures." % (i, n)}
        if self.error is not None:
            return {"status": "error", "job_id": self.job_id,
                    "info": str(self.error)}
        return {"status": "SUCCESS", "job_id": self.job_id,
                "duration": self.duration if self.duration is not None else 1}


class JobRegistry:
    """job_id -> TrackedJob, with the reference's unknown-id semantics: a
    Celery AsyncResult for an id the broker never saw reports PENDING with
    no info (web.py:144-151), so poll() does the same instead of erroring."""

    def __init__(self):
        self._jobs: dict[str, TrackedJob] = {}
        self._lock = threading.Lock()

    def track(self, job: TrackedJob) -> TrackedJob:
        with self._lock:
            self._jobs[job.job_id] = job
        return job.start()

    def poll(self, job_id: str | None) -> dict:
        if not job_id:
            return {"status": "error", "info": "job_id param is required."}
        job = self._jobs.get(job_id)
        if job is None:
            return {"status": "PENDING", "job_id": job_id, "info": None}
        return job.status()
