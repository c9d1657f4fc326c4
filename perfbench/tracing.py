"""Spans, Spark counters read from outside, and process-tree memory.

Spans are kept in memory as (name, start, end, parent, run id) and written
once when the run ends. Spark's own counters come from the application's
status store (the data behind its REST API), read in bulk after the
measured work and attributed to spans by submission time — the harness is
the only client, so every job submitted inside a span's interval belongs
to it.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float            # epoch seconds
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested spans; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id, self.enabled = run_id, enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        with self._lock:
            parent = self._stack[-1] if self._stack else None
            sp = Span(name, time.time(), parent=parent, run_id=self.run_id,
                      attrs=dict(attrs))
            self.spans.append(sp)
            idx = len(self.spans) - 1
            self._stack.append(idx)
        try:
            yield sp
        finally:
            sp.end = time.time()
            with self._lock:
                self._stack.remove(idx)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.dur for s in self.named(name))

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part covered by child
        spans (children run sequentially inside their parent)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.dur
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + max(0.0, s.dur - child[i])
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            f.write(json.dumps({"run_id": self.run_id, **extra}) + "\n")
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, "name": s.name, "start": s.start,
                                    "end": s.end, "parent": s.parent,
                                    "run_id": s.run_id, **s.attrs}) + "\n")


# -- Spark counters ----------------------------------------------------------

class SparkCounters:
    """Bulk snapshot of the status store's job and stage records, serialized
    JVM-side to JSON in one call per table."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc, self._store = sc, sc._jsc.sc().statusStore()
        jvm = sc._jvm
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self.jobs: list[dict] = []
        self.stages: list[dict] = []

    def refresh(self) -> None:
        jvm = self._sc._jvm
        self.jobs = json.loads(self._json.writeValueAsString(
            self._store.jobsList(None)))
        self.stages = json.loads(self._json.writeValueAsString(
            self._store.stageList(None, False, False,
                                  self._sc._gateway.new_array(jvm.double, 0),
                                  jvm.java.util.ArrayList())))
        for rec in self.jobs + self.stages:
            for k in ("submissionTime", "firstTaskLaunchedTime",
                      "completionTime"):
                if rec.get(k) is not None:
                    rec[k] = rec[k] / 1000.0

    def window(self, start: float, end: float) -> dict:
        """Counters of the jobs and stages submitted in [start, end]."""
        lo, hi = start - 0.002, end + 0.002
        def inside(rec):
            t = rec.get("submissionTime")
            return t is not None and lo <= t <= hi
        jobs = [j for j in self.jobs if inside(j)]
        stages = [s for s in self.stages if inside(s)]
        spans = sorted((s["firstTaskLaunchedTime"], s["completionTime"])
                       for s in stages
                       if s.get("firstTaskLaunchedTime") is not None
                       and s.get("completionTime") is not None)
        covered, cur_s, cur_e = 0.0, None, None
        for a, b in spans:
            a, b = max(a, start), min(b, end)
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": sum(s["numCompleteTasks"] for s in stages),
            "task_s": sum(s["executorRunTime"] for s in stages) / 1000.0,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1000.0,
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                               for s in stages),
            "input_records": sum(s["inputRecords"] for s in stages),
            "driver_gap_s": max(0.0, (end - start) - covered),
        }


# -- process tree ------------------------------------------------------------

def descendants(root: int) -> set[int]:
    """Pids of every live process below `root`."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = set(), [root]
    while todo:
        for c in children.get(todo.pop(), []):
            if c not in out:
                out.add(c)
                todo.append(c)
    return out


def alive(pids: set[int]) -> set[int]:
    """The subset of pids still running (zombies count as ended)."""
    out = set()
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                if f.read().rsplit(")", 1)[1].split()[0] != "Z":
                    out.add(p)
        except (OSError, IndexError):
            pass
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages (the forked python workers share
    most of theirs) are split between the processes that map them."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak proportional resident memory of this process plus all its
    descendants, sampled on a background thread."""

    def __init__(self, interval: float = 0.2):
        self.interval, self.peak = interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        total = sum(_pss_bytes(p) for p in descendants(me) | {me})
        self.peak = max(self.peak, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False
