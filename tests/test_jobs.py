"""Idempotent job submission (reference web.py:29-43 get_active_task parity
at the bulk level): resubmission is a no-op, failures rerun, the StageStore
manifest completes jobs, and the status poll reads the latest transition."""
import pytest
from pyspark.sql import functions as F

from wdd.checkpoint import StageStore
from wdd.jobs import JobLedger, pending_work


@pytest.fixture()
def requested(spark):
    return spark.createDataFrame(
        [(f"http://site{i}.example/", "2024") for i in range(10)],
        "url string, year string")


def test_submit_then_resubmit_is_noop(spark, tmp_path, requested):
    led = JobLedger(tmp_path / "jobs", spark)
    first = led.submit(requested)
    assert first.count() == 10
    again = led.submit(requested)
    assert again.count() == 0          # all active -> reference no-op path
    # a NEW url in the same batch still runs
    mixed = requested.unionByName(spark.createDataFrame(
        [("http://new.example/", "2024")], "url string, year string"))
    third = led.submit(mixed)
    assert [r.url for r in third.collect()] == ["http://new.example/"]


def test_failed_jobs_rerun_and_done_jobs_do_not(spark, tmp_path, requested):
    led = JobLedger(tmp_path / "jobs", spark)
    sub = led.submit(requested)
    failed = sub.where(F.col("url").contains("site3"))
    done = sub.where(~F.col("url").contains("site3"))
    led.mark(failed, "failed")
    led.mark(done, "done")
    rerun = led.submit(requested)
    assert [r.url for r in rerun.collect()] == ["http://site3.example/"]
    assert led.status("http://site4.example/", 2024) == "done"
    assert led.status("http://site3.example/", 2024) == "running"  # rerunning
    assert led.status("http://absent.example/", 2024) is None


def test_reconcile_with_stage_store(spark, tmp_path, requested):
    led = JobLedger(tmp_path / "jobs", spark)
    store = StageStore(tmp_path / "store", spark)
    led.submit(requested, stage="sig_batch_1")
    assert led.reconcile(store) == 0   # manifest not written yet
    store.materialize("sig_batch_1", requested)   # the stage completes
    assert led.reconcile(store) == 10
    assert led.submit(requested).count() == 0     # done blocks resubmission
    assert led.status("http://site0.example/", "2024") == "done"


def test_pending_work_is_one_antijoin(spark, requested):
    """pending_work must not collect: its plan is a distinct + anti-join."""
    ledger = spark.createDataFrame(
        [("j1", "http://site1.example/", "2024", "done", None, 1),
         ("j2", "http://site2.example/", "2024", "failed", None, 1)],
        "job_id string, url string, year string, status string, "
        "stage string, seq long")
    out = pending_work(requested, ledger)
    assert out.count() == 9            # done blocks, failed does not
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan


def test_latest_status_deterministic_under_same_seq_race(spark, tmp_path,
                                                         requested):
    """Two racing writers can both read max(seq) and append the same seq
    (jobs.py _next_seq is read-max-then-append). latest_status must resolve
    the tie deterministically: terminal status outranks 'running'
    (done > failed > running), so the winner does not depend on parquet
    file scan order."""
    from wdd.jobs import latest_status

    led = JobLedger(tmp_path / "jobs", spark)
    sub = led.submit(requested)                     # seq=1, running

    def batch(status):
        return (sub.select("job_id", "url", "year", "stage")
                .withColumn("status", F.lit(status))
                .withColumn("seq", F.lit(2).cast("long"))
                .select("job_id", "url", "year", "status", "stage", "seq"))

    # racing writers: one marks done, one appends running, SAME seq
    batch("done").write.mode("append").parquet(str(led._data_dir()))
    batch("running").write.mode("append").parquet(str(led._data_dir()))

    for _ in range(3):   # stable across repeated evaluations
        ls = {r.url: r.status for r in latest_status(led.read()).collect()}
        assert set(ls.values()) == {"done"}
    # and the terminal state blocks resubmission
    assert led.submit(requested).count() == 0


def test_next_seq_distinct_across_threads_and_ledgers(spark, tmp_path):
    """Seq claims are exclusive creates: racing threads on two JobLedger
    instances over one root never get the same seq, and none is skipped."""
    from concurrent.futures import ThreadPoolExecutor

    ledgers = [JobLedger(tmp_path / "jobs", spark) for _ in range(2)]
    n = 64
    with ThreadPoolExecutor(8) as pool:
        seqs = list(pool.map(lambda i: ledgers[i % 2]._next_seq(), range(n)))
    assert sorted(seqs) == list(range(1, n + 1))


def test_stageless_then_staged_submit_reads_pinned(spark, tmp_path,
                                                   requested):
    """A stage-less submit writes `stage` as a string column, so it and a
    staged submit read back together under LEDGER_SCHEMA."""
    from wdd.jobs import LEDGER_SCHEMA

    led = JobLedger(tmp_path / "jobs", spark)
    led.submit(requested.where(F.col("url") < "http://site5"))
    led.submit(requested, stage="sig_batch_1")
    got = led.read()
    assert got.schema == spark.createDataFrame([], LEDGER_SCHEMA).schema
    stages = sorted((r.url, r.stage, r.seq) for r in got.collect())
    assert stages == sorted(
        [(f"http://site{i}.example/", None, 1) for i in range(5)]
        + [(f"http://site{i}.example/", "sig_batch_1", 2)
           for i in range(5, 10)])


def test_flat_pre_claim_ledger_reads_and_seqs_above_its_max(spark, tmp_path,
                                                            requested):
    """A ledger written before seq claims (flat parquet files in jobs/, a
    stage-less submit's all-null `stage` stored as BOOLEAN) still reads,
    reconciles, and its next seq is above its max."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from wdd.jobs import job_id_col

    root = tmp_path / "jobs"
    flat = root / "jobs"

    def append(df, status, stage, seq):
        (df.withColumn("job_id", job_id_col())
         .withColumn("status", F.lit(status))
         .withColumn("stage", F.lit(stage))
         .withColumn("seq", F.lit(seq).cast("long"))
         .select("job_id", "url", "year", "status", "stage", "seq")
         .write.mode("append").parquet(str(flat)))

    low = requested.where(F.col("url") < "http://site5")
    append(low, "running", None, 1)
    append(low, "done", None, 4)
    append(requested.subtract(low), "running", "sig_batch_1", 7)
    assert any(pq.read_schema(p).field("stage").type != pa.string()
               for p in flat.glob("*.parquet"))

    led = JobLedger(root, spark)
    assert led.read().count() == 15
    assert led.status("http://site1.example/", 2024) == "done"
    assert led.status("http://site7.example/", 2024) == "running"
    assert led._next_seq() == 8
    store = StageStore(tmp_path / "store", spark)
    store.materialize("sig_batch_1", requested)
    assert led.reconcile(store) == 5
    assert led.status("http://site7.example/", 2024) == "done"
    assert led.submit(requested).count() == 0


def test_long_ledger_reads_without_a_spark_job(spark, tmp_path, requested):
    """Every append lands in the one flat jobs/ directory, so past Spark's
    parallel-listing threshold (32 paths) a read still lists on the driver
    and runs no job, and submit reads back exactly its own append."""
    led = JobLedger(tmp_path / "jobs", spark)
    row = led.submit(requested.limit(1))
    for _ in range(40):
        led.mark(row, "failed")
    sc = spark.sparkContext._jsc.sc()
    before = sc.statusStore().jobsList(None).size()
    ledger = led.read()
    assert sc.statusStore().jobsList(None).size() == before
    assert ledger.count() == 41
    again = led.submit(requested)
    assert [r.seq for r in again.collect()] == [42] * 10


def _ledger_files(led):
    return sorted(p.name for p in led._data_dir().iterdir())


def test_noop_submit_leaves_no_ledger_file(spark, tmp_path, requested):
    """Spark writes one empty part file for an empty frame: a submit with
    nothing fresh returns an empty frame and leaves jobs/ as it was, and the
    next append still reads back under its own (later) seq."""
    led = JobLedger(tmp_path / "jobs", spark)
    led.submit(requested)
    files = _ledger_files(led)
    again = led.submit(requested)
    assert again.count() == 0
    assert again.columns == list(led.read().columns)
    assert _ledger_files(led) == files
    fresh = led.submit(spark.createDataFrame(
        [("http://new.example/", "2024")], "url string, year string"))
    assert [(r.url, r.seq) for r in fresh.collect()] == [
        ("http://new.example/", 3)]
    assert led.status("http://site0.example/", "2024") == "running"


def test_store_stages_skip_a_stage_without_manifest(spark, tmp_path,
                                                    requested):
    """A stage directory whose manifest is missing (a write that crashed
    before its manifest) is not a finished stage: stages() leaves it out
    and reconcile marks none of its jobs, nor appends anything."""
    led = JobLedger(tmp_path / "jobs", spark)
    store = StageStore(tmp_path / "store", spark)
    low = requested.where(F.col("url") < "http://site5")
    led.submit(low, stage="done_stage")
    led.submit(requested.subtract(low), stage="crashed")
    store.materialize("done_stage", low)
    requested.write.parquet(str(tmp_path / "store" / "crashed" / "data"))
    assert store.stages() == ["done_stage"]
    assert led.reconcile(store) == 5
    files = _ledger_files(led)
    assert led.reconcile(store) == 0            # nothing left to transition
    assert _ledger_files(led) == files
    assert led.status("http://site1.example/", "2024") == "done"
    assert led.status("http://site7.example/", "2024") == "running"


def test_reconcile_collects_nothing(spark, tmp_path, requested):
    """reconcile lists the finished stages and counts its transitions from
    parquet footers: none of the Spark jobs it submits is a collect, and a
    store with no finished stage costs no job at all."""
    led = JobLedger(tmp_path / "jobs", spark)
    store = StageStore(tmp_path / "store", spark)
    led.submit(requested, stage="sig_batch_1")
    sc = spark.sparkContext._jsc.sc()

    def jobs_newest_first():
        sc.listenerBus().waitUntilEmpty()
        jobs = sc.statusStore().jobsList(None)
        return (jobs.apply(i) for i in range(jobs.size()))

    def job_names(fn):
        """fn's result and the call-site names of the jobs it submitted"""
        last = next((j.jobId() for j in jobs_newest_first()), -1)
        out = fn()
        names = []
        for j in jobs_newest_first():
            if j.jobId() <= last:
                break
            names.append(j.name())
        return out, sorted(names)

    assert job_names(lambda: led.reconcile(store)) == (0, [])
    store.materialize("sig_batch_1", requested)
    n, names = job_names(lambda: led.reconcile(store))
    assert n == 10 and names
    assert not [nm for nm in names if nm.startswith("collect")], names
