"""Idempotent job submission / active-task dedup (SURVEY.md §2.6).

Reference semantics being reproduced:
  * get_active_task (reference web.py:29-43): submitting (url, year) while
    an identical task is pending/started returns the EXISTING task instead
    of spawning a second one;
  * /job status polling (reference web.py:135-164): job id -> state.

Bulk Spark form: a ledger table of (job_id, url, year, status, seq) plus
ONE anti-join of the requested set against rows whose latest status blocks
resubmission — no driver-side loop, so a 10^8-row request backlog dedups at
shuffle speed. job_id is the deterministic md5(url|year): a resubmission
maps to the same id by construction (the bulk analog of the reference's
active-task lookup). Failed jobs do NOT block — resubmitting one runs it
again, matching the reference's FAILURE -> new task path.

The ledger is parquet-append into one flat `jobs/` directory: every
submit/mark is written to a hidden staging directory and its part files are
renamed into `jobs/` as `<seq>-<part file>`. The whole ledger is one read of
`jobs/` with LEDGER_SCHEMA pinned, so no read runs a schema-inference job and
the one-directory listing stays on the driver however many appends the
ledger holds. `seq` is allocated without Spark and without a lock: a writer
claims `seq/<n>` with an exclusive create (O_CREAT|O_EXCL), so two writers —
threads or processes on one root — never share a seq, and one append's rows
are exactly the files named `<seq>-*`. Latest seq wins per job_id (a per-job
window, the same shape as the collapse operator). An append whose footers
hold no rows leaves no file behind: its seq claim stays, and latest-seq-wins
needs no contiguous seqs. StageStore linkage: reconcile() marks running
jobs done once their stage manifest exists — the finished stages come from
one listing of the store, and the count of jobs it transitioned from the
footers of its one append, so it collects nothing — and a crashed run
resumes with the store and the ledger converges without a coordinator.

A ledger written before seq claims existed (`part-*` files in `jobs/`, no
`seq/`) still reads; its first claim starts above its max seq.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from wdd.checkpoint import StageStore, footer_rows

LEDGER_SCHEMA = ("job_id string, url string, year string, status string, "
                 "stage string, seq long")
LEDGER_COLUMNS = ("job_id", "url", "year", "status", "stage", "seq")
BLOCKING = ("running", "done")


def job_id_col(url: str = "url", year: str = "year"):
    """Deterministic job identity — identical (url, year) always maps to the
    same id, in any engine (md5 of 'url|year')."""
    return F.md5(F.concat_ws("|", F.col(url), F.col(year)))


_STATUS_RANK = {"done": 3, "failed": 2, "running": 1}


def latest_status(ledger: DataFrame) -> DataFrame:
    """One row per job_id: the row with the highest seq (per-job window —
    partitioned, scales like any collapse).

    JobLedger's own writers never share a seq (`_next_seq` claims it
    exclusively), but rows appended out of band, or by a ledger written
    before seq claims existed, can. Ties are broken by status rank
    (done > failed > running — a terminal state a racing writer recorded
    is never shadowed by a concurrent 'running' append), then url/year for
    a total order. Same-seq same-status
    duplicates collapse to one row either way."""
    rank = F.coalesce(
        *[F.when(F.col("status") == s, F.lit(r))
          for s, r in _STATUS_RANK.items()],
        F.lit(0))
    w = Window.partitionBy("job_id").orderBy(
        F.desc("seq"), rank.desc(), F.asc("url"), F.asc("year"))
    return (ledger.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1).drop("_rn"))


def pending_work(requested: DataFrame, ledger: DataFrame,
                 blocking: tuple[str, ...] = BLOCKING) -> DataFrame:
    """The fresh subset of requested (url, year) work: one distinct + one
    anti-join against jobs whose latest status is in `blocking`."""
    blocked = (latest_status(ledger)
               .where(F.col("status").isin(*blocking))
               .select("url", "year"))
    return (requested.select("url", "year").dropDuplicates(["url", "year"])
            .join(blocked, ["url", "year"], "left_anti"))


class JobLedger:
    """Parquet-append job ledger with idempotent submission."""

    def __init__(self, root: str, spark: SparkSession):
        self.root = Path(root)
        self.spark = spark
        self.root.mkdir(parents=True, exist_ok=True)

    def _data_dir(self) -> Path:
        return self.root / "jobs"

    def _pinned(self):
        return self.spark.read.schema(LEDGER_SCHEMA)

    def read(self) -> DataFrame:
        d = self._data_dir()
        if not d.exists():
            return self.spark.createDataFrame([], LEDGER_SCHEMA)
        # Files not named `<seq>-*` come from pre-claim ledgers or out-of-band
        # writers. A stage-less pre-claim submit stored its all-null `stage`
        # as BOOLEAN, which the pinned read rejects: read those without it.
        others = [e.path for e in os.scandir(d)
                  if e.name[0] not in "_." and not e.name[0].isdigit()]
        stageless = [p for p in others
                     if pq.read_schema(p).field("stage").type != pa.string()]
        if not stageless:
            return self._pinned().parquet(str(d))
        out = (self.spark.read
               .schema(LEDGER_SCHEMA.replace("stage string, ", ""))
               .parquet(*stageless)
               .withColumn("stage", F.lit(None).cast("string"))
               .select(*LEDGER_COLUMNS)
               .unionByName(self._pinned().option("pathGlobFilter", "[0-9]*")
                            .parquet(str(d))))
        rest = [p for p in others if p not in stageless]
        return out.unionByName(self._pinned().parquet(*rest)) if rest else out

    def _next_seq(self) -> int:
        """Claim the next seq: exclusively create `seq/<n>` above every claim
        seen, moving on past any claim a racing writer made first. No Spark
        job, except once for a pre-claim ledger (no claims yet, data
        present), whose claims start above its max seq."""
        d = self.root / "seq"
        d.mkdir(exist_ok=True)
        claims = [int(p) for p in os.listdir(d) if p.isdigit()]
        if claims:
            seq = max(claims) + 1
        elif self._data_dir().exists():
            cur = self.read().agg(F.max("seq").alias("m")).collect()[0].m
            seq = (cur or 0) + 1
        else:
            seq = 1
        while True:
            try:
                os.close(os.open(d / str(seq),
                                 os.O_CREAT | os.O_EXCL | os.O_WRONLY))
                return seq
            except FileExistsError:
                seq += 1

    def _append(self, rows: DataFrame) -> tuple[int, int]:
        """Write `rows` as one ledger append under a fresh seq: Spark writes
        them to a hidden `jobs/_append-<seq>` directory, whose part files
        are then renamed into `jobs/` as `<seq>-<part file>`. An append of
        no rows (Spark still writes one empty part file) is dropped whole.
        Returns the seq and the rows appended, from the part files'
        footers."""
        seq = self._next_seq()
        d = self._data_dir()
        staging = d / f"_append-{seq}"
        (rows.withColumn("seq", F.lit(seq).cast("long"))
         .select(*LEDGER_COLUMNS)
         .write.parquet(str(staging)))
        parts = list(staging.glob("part-*"))
        n = footer_rows(parts)
        if n:
            for f in parts:
                os.replace(f, d / f"{seq}-{f.name}")
        shutil.rmtree(staging)
        return seq, n

    def submit(self, requested: DataFrame,
               stage: str | None = None) -> DataFrame:
        """Idempotent submit: dedups requested (url, year) against running/
        done jobs, appends ONLY the fresh ones as 'running', and returns
        them (empty result == everything was already submitted — the
        reference's get_active_task no-op path). `stage` optionally names
        the StageStore stage whose manifest marks these jobs done."""
        seq, n = self._append(
            pending_work(requested, self.read())
            .withColumn("job_id", job_id_col())
            .withColumn("status", F.lit("running"))
            .withColumn("stage", F.lit(stage).cast("string")))
        if not n:
            return self.spark.createDataFrame([], LEDGER_SCHEMA)
        return (self._pinned().option("pathGlobFilter", f"{seq}-*")
                .parquet(str(self._data_dir())))

    def mark(self, jobs: DataFrame, status: str) -> int:
        """Append a status transition for every job in `jobs` (needs job_id,
        url, year, stage columns — e.g. the frame submit() returned).
        Returns the number of jobs transitioned."""
        return self._append(jobs.select("job_id", "url", "year", "stage")
                            .dropDuplicates(["job_id"])
                            .withColumn("status", F.lit(status)))[1]

    def reconcile(self, store: StageStore) -> int:
        """Mark running jobs done when their stage manifest exists in the
        store (resume path: a crashed run that DID materialize its stage is
        recognized as complete). The finished stages come from one listing
        of the store, and the number transitioned from the footers of the
        one append that marks them, so nothing is collected. Returns #jobs
        transitioned."""
        finished = store.stages()
        if not finished:
            return 0
        return self.mark(latest_status(self.read()).where(
            (F.col("status") == "running") & F.col("stage").isin(finished)),
            "done")

    def status(self, url: str, year) -> str | None:
        """Point status read (the reference's /job poll, web.py:135-164) —
        an API-sized collect at the serving boundary. Every row of a job_id
        carries its (url, year), so filtering first leaves the window only
        the polled job's rows to sort."""
        rows = (latest_status(self.read()
                              .where((F.col("url") == url)
                                     & (F.col("year") == str(year))))
                .select("status").collect())
        return rows[0].status if rows else None
