"""Incremental ingest via Structured Streaming (SURVEY.md §2.8).

The reference is task-queue incremental (Celery jobs per url/year,
web.py:121-123); semantically that's "new captures arrive, compute their
simhashes, append to the store". Here: a file-source stream over the pages
directory, trigger availableNow (drain-everything-then-stop — the batch-first
design), foreachBatch running the SAME deterministic signature stage as the
batch pipeline, appending to a parquet sink. Stream checkpointing gives
exactly-once file-level progress, replacing the reference's job-state
machinery; no watermarks/event-time windows are needed (the reference has no
late-data semantics — Redis TTL is operational, SURVEY.md §2.8).
"""

from __future__ import annotations

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from wdd import udfs
from wdd.config import DEFAULT, WddConfig
from wdd.operators import dedup as D


def _signature_batch(batch: DataFrame, cfg: WddConfig = DEFAULT) -> DataFrame:
    prepped = D.with_page_id(D.with_digest(batch))
    uniq = prepped.select("digest", "html").dropDuplicates(["digest"])
    # same fused one-Arrow-round signature UDF and projection as the batch
    # pipeline (wdd/pipeline.py signatures stage), minus text — identical
    # kernels, so an incremental drain and a batch run produce identical rows
    fused = udfs.make_signatures_udf(cfg.simhash_size, cfg.simhash_hash)
    sigs = uniq.select("digest", fused("html").alias("x")) \
        .select("digest", "x.*").drop("text")
    return prepped.select("url", "warc_ts", "digest", "page_id") \
        .join(sigs, "digest")


def run_incremental_simhash(spark: SparkSession, pages_dir: str,
                            out_dir: str, checkpoint_dir: str,
                            schema: str | None = None,
                            cfg: WddConfig = DEFAULT,
                            ledger=None, store=None,
                            stage: str | None = None) -> None:
    """Drain all new page files into the simhashes sink, then stop.

    cfg selects the signature width (f=64 scalar `simhash64` vs wide
    `sim_parts` — the reference's prod f=256, conf.yml.example:2).

    Ledger wiring (crash-resume end-to-end): when `ledger`/`store`/`stage`
    are given, each micro-batch submits its (url, year) work to the
    JobLedger as 'running' on a second thread while the batch's own thread
    writes its signatures; both finish before the batch returns, and so
    before the stream commits it — a failed submit or write fails the
    batch, and the next drain replays it. After the drain the stage
    manifest is materialized into the StageStore and `ledger.reconcile`
    transitions running->done. A run that crashed between submit and
    manifest leaves 'running' rows; the NEXT run's stream checkpoint skips
    already-ingested files while reconcile converges the ledger — no
    coordinator, same invariant as the batch pipeline's StageStore resume."""
    if ledger is not None and (store is None or stage is None):
        # a ledger submit without the stage/store pair would write 'running'
        # rows that reconcile() (which filters stage IS NOT NULL against the
        # stage manifest) can never transition to 'done' — permanently
        # blocking resubmission of those (url, year) jobs
        raise ValueError(
            "ledger wiring requires both store and stage: submitted rows "
            "are only reconciled to 'done' through the stage manifest")
    schema = schema or ("url string, warc_ts timestamp, html binary, "
                        "text string, lang string")
    stream = (spark.readStream.schema(schema).parquet(pages_dir))

    sink_schema = None

    def _sink(batch: DataFrame, batch_id: int):
        nonlocal sink_schema
        out = _signature_batch(batch, cfg)
        sink_schema = out.schema
        if ledger is None:
            out.write.mode("append").parquet(out_dir)
            return
        failed: list[BaseException] = []

        def submit():
            try:
                ledger.submit(
                    batch.select(
                        "url", F.year("warc_ts").cast("string").alias("year")),
                    stage=stage)
            except BaseException as exc:        # re-raised on the batch thread
                failed.append(exc)

        # an InheritableThread carries the batch thread's local properties
        # (job group, tags) and releases its JVM thread when it ends
        submitter = InheritableThread(target=submit)
        submitter.start()
        try:
            out.write.mode("append").parquet(out_dir)
        finally:
            submitter.join()
        if failed:
            raise failed[0]

    (stream.writeStream
     .foreachBatch(_sink)
     .option("checkpointLocation", checkpoint_dir)
     .trigger(availableNow=True)
     .start()
     .awaitTermination())

    if ledger is not None and store is not None and stage is not None:
        if not store.exists(stage):
            # foreachBatch + append parquet is at-least-once: a crash between
            # the batch write and the stream-checkpoint commit re-writes that
            # batch on resume, duplicating rows in out_dir. Dedup on the
            # (page_id, digest) identity when freezing the stage manifest so
            # duplicates never enter the store (the sink directory itself
            # keeps the at-least-once contract; readers needing exactly-once
            # go through the manifest). The read takes the schema the batches
            # wrote, so it runs no schema-inference job; only a drain that
            # wrote no batch (its files were committed before a crash)
            # infers it.
            reader = spark.read
            if sink_schema is not None:
                reader = reader.schema(sink_schema)
            store.materialize(
                stage,
                reader.parquet(out_dir).dropDuplicates(["page_id", "digest"]))
        ledger.reconcile(store)
