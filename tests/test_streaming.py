"""Incremental ingest: availableNow stream over pages parquet produces the
same simhashes as the batch stage, and a rerun with the same checkpoint
ingests nothing new (exactly-once file progress)."""
from pyspark.sql import functions as F

from wdd.sources.pages import synth_pages
from wdd.streaming.ingest import run_incremental_simhash


def test_incremental_ingest_matches_batch(spark, sf_dir, tmp_path):
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    pages.limit(80).write.parquet(pages_dir)

    run_incremental_simhash(spark, pages_dir, out_dir, ckpt)
    got = spark.read.parquet(out_dir)
    n1 = got.count()
    assert n1 == 80
    assert set(got.columns) == {"url", "warc_ts", "digest", "page_id",
                                "simhash64", "signature"}

    # batch equivalence on a sample
    from wdd.streaming.ingest import _signature_batch
    batch = _signature_batch(spark.read.parquet(pages_dir))
    b = {r.page_id: r.simhash64 for r in batch.collect()}
    s = {r.page_id: r.simhash64 for r in got.collect()}
    assert b == s

    # rerun: checkpoint prevents reprocessing
    run_incremental_simhash(spark, pages_dir, out_dir, ckpt)
    assert spark.read.parquet(out_dir).count() == n1


def test_incremental_ingest_f256_matches_batch(spark, sf_dir, tmp_path):
    """The streaming signature stage at the reference's PROD width (f=256,
    conf.yml.example:2): wide sim_parts column end-to-end, value-identical
    to the batch-path signature stage."""
    from wdd.config import WddConfig
    from wdd.streaming.ingest import _signature_batch

    cfg = WddConfig(simhash_size=256)
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    pages_dir = str(tmp_path / "pages")
    pages.limit(40).write.parquet(pages_dir)

    run_incremental_simhash(spark, pages_dir, str(tmp_path / "out"),
                            str(tmp_path / "ckpt"), cfg=cfg)
    got = spark.read.parquet(str(tmp_path / "out"))
    assert set(got.columns) == {"url", "warc_ts", "digest", "page_id",
                                "sim_parts", "signature"}
    rows = got.collect()
    assert rows and all(len(r.sim_parts) == 4 for r in rows)  # 4x64-bit words

    batch = _signature_batch(spark.read.parquet(pages_dir), cfg)
    b = {r.page_id: tuple(r.sim_parts) for r in batch.collect()}
    s = {r.page_id: tuple(r.sim_parts) for r in rows}
    assert b == s


def test_streaming_ledger_reconcile_crash_resume(spark, tmp_path):
    """Crash-resume through the streaming sink: a run that died after
    submitting its jobs but before the stage manifest leaves 'running'
    rows; the next drain writes the manifest and reconcile converges the
    ledger to 'done' — end-to-end, no coordinator."""
    from pyspark.sql import functions as F
    from wdd.checkpoint import StageStore
    from wdd.jobs import JobLedger

    from datetime import datetime
    ts = datetime(2024, 3, 1)
    pages = spark.createDataFrame(
        [(f"http://s{i}.example/", ts,
          bytearray(b"<html><body><p>w" + str(i).encode() + b"</p></body></html>"),
          f"w{i}", "en") for i in range(6)],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    pages_dir = str(tmp_path / "pages")
    pages.write.parquet(pages_dir)

    ledger = JobLedger(tmp_path / "jobs", spark)
    store = StageStore(tmp_path / "store", spark)

    # simulate the crashed run: jobs submitted (running), no manifest
    ledger.submit(
        pages.select("url", F.year("warc_ts").cast("string").alias("year")),
        stage="ingest_1")
    assert ledger.status("http://s0.example/", 2024) == "running"

    run_incremental_simhash(spark, pages_dir, str(tmp_path / "out"),
                            str(tmp_path / "ckpt"),
                            ledger=ledger, store=store, stage="ingest_1")
    assert spark.read.parquet(str(tmp_path / "out")).count() == 6
    assert ledger.status("http://s0.example/", 2024) == "done"

    # second drain: checkpoint ingests nothing, ledger stays converged
    run_incremental_simhash(spark, pages_dir, str(tmp_path / "out"),
                            str(tmp_path / "ckpt"),
                            ledger=ledger, store=store, stage="ingest_1")
    assert spark.read.parquet(str(tmp_path / "out")).count() == 6
    assert ledger.status("http://s5.example/", 2024) == "done"


def test_streaming_ledger_requires_stage_and_store(spark, tmp_path):
    """A ledger submit without the stage/store pair would strand 'running'
    rows forever (reconcile filters stage IS NOT NULL) — rejected at entry."""
    import pytest
    from wdd.jobs import JobLedger

    ledger = JobLedger(tmp_path / "jobs", spark)
    with pytest.raises(ValueError, match="stage"):
        run_incremental_simhash(spark, str(tmp_path / "pages"),
                                str(tmp_path / "out"), str(tmp_path / "ckpt"),
                                ledger=ledger)


def test_streaming_manifest_dedups_replayed_batches(spark, tmp_path):
    """foreachBatch + append parquet is at-least-once: a crash between batch
    write and checkpoint commit replays the batch, duplicating sink rows.
    The stage manifest must freeze the exactly-once view (page_id, digest)."""
    from datetime import datetime

    from wdd.checkpoint import StageStore
    from wdd.jobs import JobLedger

    ts = datetime(2024, 3, 1)
    pages = spark.createDataFrame(
        [(f"http://d{i}.example/", ts,
          bytearray(b"<html><body><p>w" + str(i).encode() + b"</p></body></html>"),
          f"w{i}", "en") for i in range(5)],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    pages_dir = str(tmp_path / "pages")
    out_dir = str(tmp_path / "out")
    pages.write.parquet(pages_dir)

    # simulate a replayed batch already sitting in the sink directory
    from wdd.streaming.ingest import _signature_batch
    _signature_batch(spark.read.parquet(pages_dir)) \
        .write.mode("append").parquet(out_dir)

    ledger = JobLedger(tmp_path / "jobs", spark)
    store = StageStore(tmp_path / "store", spark)
    run_incremental_simhash(spark, pages_dir, out_dir,
                            str(tmp_path / "ckpt"),
                            ledger=ledger, store=store, stage="ingest_1")

    # sink keeps the at-least-once contract (replay + drain = 10 rows);
    # the manifest view is exactly-once
    assert spark.read.parquet(out_dir).count() == 10
    assert store.load("ingest_1").count() == 5


def test_signature_batch_has_no_anchors_or_text(spark, sf_dir, tmp_path):
    """The ingest sink's signature stage calls the fused UDF without an
    anchor window: its schema is the same at f=64 and f=256 (no `anchors`,
    no `text`), and its optimized plan computes no anchors."""
    from wdd.config import WddConfig
    from wdd.streaming.ingest import _signature_batch

    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    pages.limit(20).write.parquet(str(tmp_path / "pages"))
    batch = spark.read.parquet(str(tmp_path / "pages"))
    for f, sim in ((64, "bigint"), (256, "array<bigint>")):
        out = _signature_batch(batch, WddConfig(simhash_size=f))
        name = "simhash64" if f == 64 else "sim_parts"
        assert out.dtypes == [
            ("digest", "string"), ("url", "string"),
            ("warc_ts", "timestamp"), ("page_id", "bigint"), (name, sim),
            ("signature", "array<int>")]
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert "anchors" not in plan


def _keyed_pages(spark, tmp_path, n, host):
    from datetime import datetime
    ts = datetime(2024, 3, 1)
    pages = spark.createDataFrame(
        [(f"http://{host}{i}.example/", ts,
          bytearray(b"<html><body><p>w" + str(i).encode()
                    + b"</p></body></html>"),
          f"w{i}", "en") for i in range(n)],
        "url string, warc_ts timestamp, html binary, text string, lang string")
    pages_dir = str(tmp_path / "pages")
    pages.write.parquet(pages_dir)
    return pages_dir


def test_redrain_of_ingested_files_adds_no_ledger_file(spark, tmp_path):
    """A drain over files whose keys the ledger already holds (a fresh
    stream checkpoint) submits nothing fresh and reconciles nothing: the
    ledger's jobs/ directory keeps its file count, and the keys stay done."""
    from wdd.checkpoint import StageStore
    from wdd.jobs import JobLedger

    pages_dir = _keyed_pages(spark, tmp_path, 4, "r")
    ledger = JobLedger(tmp_path / "jobs", spark)
    store = StageStore(tmp_path / "store", spark)
    run_incremental_simhash(spark, pages_dir, str(tmp_path / "out"),
                            str(tmp_path / "ckpt1"),
                            ledger=ledger, store=store, stage="ingest_1")
    files = sorted(p.name for p in ledger._data_dir().iterdir())
    run_incremental_simhash(spark, pages_dir, str(tmp_path / "out"),
                            str(tmp_path / "ckpt2"),
                            ledger=ledger, store=store, stage="ingest_1")
    assert sorted(p.name for p in ledger._data_dir().iterdir()) == files
    assert {ledger.status(f"http://r{i}.example/", 2024)
            for i in range(4)} == {"done"}


def test_failed_submit_fails_the_batch_and_the_replay_converges(spark,
                                                                 tmp_path):
    """The ledger submit runs beside the signature write; when it fails the
    batch fails with it, uncommitted, and the next drain replays it: the
    manifest then holds each (page_id, digest) once, every key reads done,
    and no submit thread outlives a drain."""
    import os
    import threading

    import pytest
    from pyspark import InheritableThread

    from wdd.checkpoint import StageStore
    from wdd.jobs import JobLedger

    def submit_threads():
        return {t for t in threading.enumerate()
                if isinstance(t, InheritableThread)}

    pages_dir = _keyed_pages(spark, tmp_path, 6, "f")
    out_dir, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    ledger = JobLedger(tmp_path / "jobs", spark)
    store = StageStore(tmp_path / "store", spark)
    submit, calls = ledger.submit, []

    def failing_once(*a, **kw):
        calls.append(1)
        if len(calls) == 1:
            raise RuntimeError("injected submit failure")
        return submit(*a, **kw)

    ledger.submit = failing_once
    alive = submit_threads()
    with pytest.raises(Exception, match="injected submit failure"):
        run_incremental_simhash(spark, pages_dir, out_dir, ckpt,
                                ledger=ledger, store=store, stage="ingest_1")
    assert submit_threads() <= alive
    commits = os.path.join(ckpt, "commits")
    assert not os.path.isdir(commits) or not [
        p for p in os.listdir(commits) if not p.startswith(".")]
    assert not store.exists("ingest_1")
    assert ledger.status("http://f0.example/", 2024) is None

    run_incremental_simhash(spark, pages_dir, out_dir, ckpt,
                            ledger=ledger, store=store, stage="ingest_1")
    assert len(calls) == 2
    assert submit_threads() <= alive
    ids = [tuple(r) for r in
           store.load("ingest_1").select("page_id", "digest").collect()]
    assert len(ids) == len(set(ids)) == 6
    assert {ledger.status(f"http://f{i}.example/", 2024)
            for i in range(6)} == {"done"}
