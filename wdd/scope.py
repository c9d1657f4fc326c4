"""Run scope: the one owner of every cache and checkpoint a run makes.

A run hands each frame it pins to its RunScope — `persist` for evictable
caches, `checkpoint` for localCheckpoints — and `release()` drops exactly
those blocks. Operators that take a `cache_token` register with the scope
of that token (`scope_for`), so runs interleaving in one session never
release each other's caches; operators called with no token share the
None scope. DataFrame.unpersist() does not reach a localCheckpoint's
blocks, so the scope keeps the checkpointed RDD (the frame's LogicalRDD
leaf) itself.

A run's scope also owns its job tags: `stage(name)` tags every Spark job
the current thread submits inside the block with `wdd:<token>:<name>`,
which is how the run's stage records read their Spark cost back
(wdd.metrics).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import DataFrame

_SCOPES: dict[str | None, RunScope] = {}
_LOCK = threading.Lock()


class RunScope:
    def __init__(self, token: str | None):
        self.token = token
        self.released = False
        self.tags: dict[str, str] = {}     # stage -> its job tag
        # id(frame) -> (frame, checkpointed JVM RDD or None if persisted)
        self._held: dict[int, tuple[DataFrame, object]] = {}

    def persist(self, df: DataFrame) -> DataFrame:
        return self._track(df.persist(), None)

    def checkpoint(self, df: DataFrame, eager: bool = False) -> DataFrame:
        out = df.localCheckpoint(eager=eager)
        return self._track(out, out._jdf.queryExecution().analyzed().rdd())

    def _track(self, df: DataFrame, rdd) -> DataFrame:
        with _LOCK:  # stage builder threads register concurrently
            self._held[id(df)] = (df, rdd)
        return df

    @contextmanager
    def stage(self, name: str):
        """Tag every Spark job this thread submits inside the block — AQE
        stage and broadcast jobs included, as they capture the submitting
        thread's local properties — with the run's tag for stage `name`.
        The tag is removed on exit: pinned-thread mode reuses JVM threads,
        so a tag left behind would leak into later, unrelated jobs."""
        tag = f"wdd:{self.token}:{name}"  # job tags may not hold commas
        with _LOCK:
            self.tags[name] = tag
        sc = SparkContext._active_spark_context
        sc.addJobTag(tag)
        try:
            yield
        finally:
            sc.removeJobTag(tag)

    @property
    def persisted(self) -> list[DataFrame]:
        return [df for df, rdd in self._held.values() if rdd is None]

    def drop(self, *dfs: DataFrame) -> int:
        """Free these tracked frames' blocks now (superseded checkpoints,
        dead caches) and stop tracking them. Returns how many."""
        with _LOCK:
            gone = [self._held.pop(id(d)) for d in dfs if id(d) in self._held]
        for df, rdd in gone:
            if rdd is None:
                df.unpersist()
            else:
                rdd.unpersist(False)
        return len(gone)

    def release(self) -> int:
        """Drop every block this scope holds and close it: frames it
        checkpointed lose their data, so they must not be read again.
        Idempotent; returns the number of frames released."""
        with _LOCK:
            if _SCOPES.get(self.token) is self:
                del _SCOPES[self.token]
            held = [df for df, _ in self._held.values()]
        self.released = True
        return self.drop(*held)


def scope_for(token: str | None) -> RunScope:
    """The scope registered under `token`, opened on first use."""
    with _LOCK:
        scope = _SCOPES.get(token)
        if scope is None:
            scope = _SCOPES[token] = RunScope(token)
        return scope
