#!/usr/bin/env python3
"""Benchmark of the wdd near-duplicate engine.

    python3 perfbench/run.py --workload batch-x1 --seed 7 --seconds 5 --trace 0

Run from the root of a checkout. One invocation starts one Spark session on
local[N] (N = this process's CPU affinity), writes the workload's seeded
inputs, and drives the system from outside through the public functions of
the wdd modules. Workloads:

  batch-x1      seeded documents planted into ~300 pages by the project's
                generator (synth_pages, with embeddings: all six edge
                sources); one cold `run_dedup_pipeline`, drained to a noop
                sink and checked for dup-pair recall; its simhashes are
                published as the serving index and read back.
  serve-ingest  the serving index is built from ~8.7k generated captures
                of the reference's shape (corpus.py; no pipeline, no
                kernels); one closed-loop client sends a seeded read mix for
                --seconds seconds; then seeded batches of new page files
                arrive and each is drained by `run_incremental_simhash` with
                a JobLedger and a StageStore wired in, with status polls and
                point reads in between.

Set-up (both): the serving index is built, written and opened
SETUP_REPEATS times (setup_s is the median); serve-ingest then appends
no-capture sentinel rows. Every read is checked against a driver-side
oracle, the ingest sink against `_signature_batch` over the same files.

--trace 0 prints every end-to-end metric. --trace 1 runs the same phases
with spans around each call into a layer, then replays the layers the
workload's path went through on its materialized frames (layers.py), reads
Spark's own counters, and prints the per-layer metrics; a layer the
workload does not call reads 0. The last line of stdout is one JSON object:
correct, attempted, failed, metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import corpus as C
from oracle import ServeOracle
from tracing import RssSampler, SparkCounters, Tracer, alive, descendants

ROOT = Path(__file__).resolve().parent.parent

# batch-x1: 200 seeded documents (100 with embeddings) planted by
# synth_pages into ~300 pages; its published index gets one block of reads
BATCH_DOCS, BATCH_VECTORS, VERIFY_READS = 200, 100, 10
# serve-ingest: 2 hot urls at the 1095-capture cap plus 420 cold urls of
# 1-30 captures (~8.7k rows, a quarter of them hot; corpus.py)
HOT_URLS, COLD_URLS, COLD_MAX = 2, 420, 30
SETUP_REPEATS = 3         # index builds per run; setup_s is their median
MIN_READS = 8             # reads per closed loop at least
SENTINEL_URLS = (40, 20)  # (captured, never-captured) urls given a sentinel
INGEST_DOCS, INGEST_BATCHES, INGEST_MIN_DOCS = 480, 2, 160
# documents of an untimed first batch: a long-running ingest service pays
# the first drain's cold start once, so set-up pays it here
WARM_DOCS = 10
POLLS_PER_GAP, READS_PER_GAP = 1, 1
INGEST_DOC_BASE = 1_000_000

# read latencies are per-layer metrics only: their run-to-run spread on a
# 4-CPU host (IQR ~20% of the median over ten seeds) is too close to any
# bound a regression check could use
END_TO_END = {
    "setup_s": "s", "pages_per_s": "pages/s", "ok_frac": "ratio",
    "peak_rss_mb": "MB",
}
# the measured work whose Spark counters are the spark.* layer metrics
WORK_SPANS = {"batch-x1": "pipeline", "serve-ingest": "stream.drain"}


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=sorted(WORK_SPANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="duration of the serve-ingest closed read loop")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


class Run:
    """One invocation's state: Spark session, work dirs, counters."""

    def __init__(self, args, work: Path):
        self.args, self.work = args, work
        self.rng = np.random.default_rng(args.seed)
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer(f"{args.workload}-s{args.seed}-{uuid.uuid4().hex[:8]}",
                             enabled=bool(args.trace))
        self.attempted = self.failed = 0
        self.samples: dict[str, list[float]] = {}
        self.facts: dict[str, float] = {}
        self.spark = None

    # -- bookkeeping ---------------------------------------------------------
    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def op(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)

    def guarded(self, what: str, fn, *a, **kw):
        """Run one operation; an exception counts it as attempted+failed."""
        try:
            return fn(*a, **kw)
        except Exception:
            self.attempted += 1
            self.failed += 1
            print(f"perfbench: {what} raised:\n{traceback.format_exc()}",
                  file=sys.stderr)
            return None

    # -- session -------------------------------------------------------------
    def start_spark(self):
        from wdd.session import get_spark
        tmp = self.work / "tmp"
        tmp.mkdir(parents=True)
        os.environ["TMPDIR"] = str(tmp)
        os.environ["WDD_DRIVER_MEM"] = "2g"
        os.environ["WDD_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = \
            str(self.work / "spark-local")
        conf = {
            "spark.sql.shuffle.partitions": str(2 * self.cpus),
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16m",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.hadoop.hadoop.tmp.dir": str(tmp),
        }
        if self.args.trace:
            # keep every job and stage record for the counter snapshot
            conf.update({"spark.ui.retainedJobs": "100000",
                         "spark.ui.retainedStages": "100000"})
        self.spark = get_spark("perfbench", cpus=self.cpus, extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")

    def stop_spark(self) -> None:
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        started = descendants(os.getpid())
        self.spark.stop()
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()          # the JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
        # python workers the JVM forked exit once it is gone; wait for them
        deadline = time.monotonic() + 20
        while alive(started) and time.monotonic() < deadline:
            time.sleep(0.2)
        for pid in alive(started):
            try:
                os.kill(pid, 9)
            except OSError:
                pass

    # -- batch-x1 ------------------------------------------------------------
    def batch_inputs(self):
        """Seeded documents and embeddings, planted into pages by the
        project's generator and written with a seeded row order and file
        assignment. Returns the page frame, its truth pairs and its size."""
        docs = str(self.work / "docs")
        C.write_documents(self.rng, docs, BATCH_DOCS, BATCH_VECTORS)
        rows, truth = C.planted_pages(self.spark, docs, with_embeddings=True,
                                      with_truth=True)
        C.write_pages(rows, str(self.work / "pages"), self.rng,
                      files=4 * self.cpus,
                      columns=["url", "warc_ts", "html", "embedding"])
        return self.spark.read.parquet(str(self.work / "pages")), truth, len(rows)

    def batch(self, pages, truth, n_pages):
        """One cold pipeline run, drained to a noop sink; recall over the
        planted pairs, joined driver-side."""
        from pyspark.sql import functions as F
        from wdd.pipeline import run_dedup_pipeline
        t0 = time.perf_counter()
        with self.tracer.span("pipeline"):
            res = run_dedup_pipeline(self.spark, pages, eager_stages=False)
            res.clusters.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        self.sample("pages_per_s", n_pages / wall)
        self.facts["pipeline_s"] = wall

        cluster = {(r.url, r.t): r.cluster_id for r in res.clusters.select(
            "url", F.unix_timestamp("warc_ts").alias("t"), "cluster_id"
        ).collect()}
        hit = sum(1 for a, b in truth
                  if cluster.get(a) is not None and cluster.get(a) == cluster.get(b))
        recall = hit / len(truth) if truth else 0.0
        self.facts["dup_pair_recall"] = recall
        self.op(recall == 1.0, f"dup_pair_recall {recall} over {len(truth)} pairs")
        return res

    # -- serving index -------------------------------------------------------
    def setup(self, rows, n_sentinels=(0, 0)):
        """Build, write and open the serving index over `rows` — (url, epoch
        seconds, simhash64) — SETUP_REPEATS times (the median is setup_s).
        Then append no-capture sentinel rows for n_sentinels (captured,
        never-captured) seeded urls, the way a later discovery pass would.
        The oracle answers from the same rows."""
        from pyspark.sql import functions as F
        from wdd.kernels.surt import surt
        from wdd.pipeline import build_simhash_index
        from wdd.sources.ingest import no_capture_sentinels
        captures: dict[str, dict[str, int]] = {}
        for url, t, sim in rows:
            captures.setdefault(url, {})[C.ts14(t)] = sim
        src = str(self.work / "simhashes")
        os.makedirs(src)
        url, t, sim = zip(*rows)
        pq.write_table(pa.table({"url": url, "t": t, "simhash64": sim}),
                       f"{src}/part-00000.parquet")
        simhashes = self.spark.read.parquet(src).select(
            "url", F.col("t").cast("timestamp").alias("warc_ts"), "simhash64")
        for i in range(SETUP_REPEATS):
            out = str(self.work / f"index{i}")
            t0 = time.perf_counter()
            with self.tracer.span("index.build"):
                build_simhash_index(simhashes).write.parquet(out)
                index = self.spark.read.parquet(out)
            self.sample("setup_s", time.perf_counter() - t0)
        self.facts["index.files"] = len([p for p in os.listdir(out)
                                         if p.endswith(".parquet")])
        sentinels = []
        if any(n_sentinels):
            urls = sorted(captures)
            picked = self.rng.choice(len(urls), n_sentinels[0], replace=False)
            sentinels = [(urls[i], C.SENTINEL_YEAR) for i in sorted(picked)] + [
                (f"http://never{i}.example/page", C.SENTINEL_YEAR)
                for i in self.rng.integers(0, 10**6, n_sentinels[1])]
            req = self.spark.createDataFrame(
                [(surt(u), y) for u, y in sentinels],
                "surt_key string, year string")
            sent = no_capture_sentinels(req, index)
            sent.select(*[F.col(f.name) if f.name in sent.columns
                          else F.lit(None).cast(f.dataType).alias(f.name)
                          for f in index.schema.fields]) \
                .write.mode("append").parquet(out)
            index = self.spark.read.parquet(out)
        self.facts["index.rows"] = len(rows) + len(sentinels)
        return index, ServeOracle(captures, sentinels), captures, sentinels

    # -- reads ---------------------------------------------------------------
    def lookup(self, index, oracle, req) -> None:
        from wdd.operators import lookup as LK
        kind = req[0]
        t0 = time.perf_counter()
        with self.tracer.span(f"lookup.{kind}") as sp:
            if kind == "point":
                got = LK.timestamp_simhash(index, req[1], req[2])
            elif kind == "year":
                got = LK.year_simhash(index, req[1], req[2], req[3], req[4])
            else:
                t = LK.capture_diff_matrix(index, req[1], req[2]).toArrow() \
                    .sort_by([("ts_a", "ascending"), ("ts_b", "ascending")])
                got = tuple(t[c].cast(pa.int64()).to_numpy()
                            for c in ("ts_a", "ts_b", "hamming"))
        self.sample(f"{kind}_s", time.perf_counter() - t0)
        if sp is not None:
            sp.attrs["results"] = max(1, len(got[0]) if kind == "year"
                                      and isinstance(got, list) else
                                      len(got[0]) if kind == "diff" else 1)
        want = getattr(oracle, kind)(*req[1:])
        if kind == "diff":
            self.op(len(got[0]) == len(want[0])
                    and all(np.array_equal(g, w) for g, w in zip(got, want)),
                    f"{req}: {len(got[0])} pairs, want {len(want[0])} pairs")
        else:
            self.op(got == want, f"{req}: got {got!r} want {want!r}")

    def reads(self, index, oracle, reqs, seconds=None):
        """One closed-loop client: every request of `reqs`, or, given
        `seconds`, as many as fit (at least MIN_READS)."""
        t0 = time.perf_counter()
        n = 0
        with self.tracer.span("serve"):
            while n < len(reqs) and (
                    seconds is None or n < MIN_READS
                    or time.perf_counter() - t0 < seconds):
                self.guarded("lookup", self.lookup, index, oracle, reqs[n])
                n += 1
        self.sample("reads_per_s", n / (time.perf_counter() - t0))

    # -- serve-ingest --------------------------------------------------------
    def ingest_inputs(self):
        """Seeded documents planted into pages by the project's generator,
        cut into a warm-up batch of WARM_DOCS and INGEST_BATCHES contiguous
        document ranges of seeded sizes; each range is staged as one parquet
        file, to arrive later."""
        docs = str(self.work / "ingest-docs")
        C.write_documents(self.rng, docs, WARM_DOCS + INGEST_DOCS,
                          doc_id_base=INGEST_DOC_BASE)
        rows, _ = C.planted_pages(self.spark, docs, with_embeddings=False,
                                  with_truth=False)
        sizes = [WARM_DOCS] + C.ingest_cuts(self.rng, INGEST_DOCS,
                                            INGEST_BATCHES, INGEST_MIN_DOCS)
        self.staged, self.batch_keys, self.batch_pages = [], [], []
        lo = INGEST_DOC_BASE
        for i, n in enumerate(sizes):
            batch = [r for r in rows if lo <= C.doc_id(r["url"]) < lo + n]
            lo += n
            self.staged.append(str(self.work / "ingest" / f"staged{i}"))
            C.write_pages(batch, self.staged[-1], self.rng, files=1,
                          columns=["url", "warc_ts", "html", "text", "lang"])
            self.batch_keys.append(sorted({(r["url"], C.ts14(r["warc_ts"])[:4])
                                           for r in batch}))
            self.batch_pages.append(len(batch))

    def ingest(self, index, oracle, captures):
        """Each staged batch arrives and is drained into the sink; the first
        (warm-up) drain is untimed, and after each timed one the client
        polls job status and reads. Returns the directory the ingested page
        files arrived in."""
        from wdd.checkpoint import StageStore
        from wdd.jobs import JobLedger
        from wdd.streaming.ingest import _signature_batch, run_incremental_simhash

        w = self.work / "ingest"
        staged, keys = self.staged, self.batch_keys
        pages_dir, out_dir, ckpt = (str(w / "pages"), str(w / "out"),
                                    str(w / "ckpt"))
        os.makedirs(pages_dir)
        ledger_cls, store_cls = (_traced_wrappers() if self.args.trace
                                 else (JobLedger, StageStore))
        ledger = ledger_cls(str(w / "ledger"), self.spark)
        store = store_cls(str(w / "store"), self.spark)
        ledger.tracer = store.tracer = self.tracer
        drains = []                 # wall of each timed drain
        point_reqs = [("point", u, ts) for u, d in sorted(captures.items())
                      for ts in d]
        for i, src in enumerate(staged):
            for p in sorted(os.listdir(src)):       # the batch's files arrive
                os.rename(os.path.join(src, p),
                          os.path.join(pages_dir, f"b{i}-{p}"))
            t0 = time.perf_counter()
            with self.tracer.span("stream.drain" if i else "stream.warmup"):
                run_incremental_simhash(self.spark, pages_dir, out_dir, ckpt,
                                        ledger=ledger, store=store,
                                        stage=f"ingest_{i}")
            if i == 0:
                continue
            drains.append(time.perf_counter() - t0)
            # drained keys are done; keys of batches not yet arrived are
            # unknown to the ledger
            for _ in range(POLLS_PER_GAP):
                j = int(self.rng.integers(len(staged)))
                url, year = keys[j][int(self.rng.integers(len(keys[j])))]
                want = "done" if j <= i else None
                with self.tracer.span("ledger.status"):
                    got = self.guarded("status", ledger.status, url, year)
                self.op(got == want, f"status({url}, {year}) = {got} want {want}")
            for _ in range(READS_PER_GAP):
                self.guarded("lookup", self.lookup, index, oracle,
                             point_reqs[int(self.rng.integers(len(point_reqs)))])

        # the sink equals the signature stage over the same files, and the
        # last stage manifest holds each (page_id, digest) exactly once
        cols = ["url", "warc_ts", "digest", "page_id", "simhash64", "signature"]

        def rows(df):
            return sorted(tuple(r) for r in df.select(*cols).collect())
        sink = rows(self.spark.read.parquet(out_dir))
        self.op(sink == rows(_signature_batch(self.spark.read.parquet(pages_dir))),
                "ingest sink differs from _signature_batch")
        ids = [tuple(r) for r in store.load(f"ingest_{len(staged) - 1}")
               .select("page_id", "digest").collect()]
        self.op(len(ids) == len(set(ids)) == len(sink),
                f"stage manifest: {len(ids)} rows, {len(set(ids))} distinct, "
                f"{len(sink)} in the sink")
        self.sample("ingest_pages_per_s", sum(self.batch_pages[1:]) / sum(drains))
        self.facts["stream.rows"] = len(sink)
        self.facts["stream.batches"] = len([
            p for p in os.listdir(os.path.join(ckpt, "commits"))
            if not p.startswith(".")])
        self.facts["store.bytes_written"] = sum(
            f.stat().st_size for f in (w / "store").rglob("*") if f.is_file())
        return pages_dir


def _traced_wrappers():
    """JobLedger and StageStore with spans around submit and materialize."""
    from wdd.checkpoint import StageStore
    from wdd.jobs import JobLedger

    class _TracedLedger(JobLedger):
        def submit(self, requested, stage=None):
            with self.tracer.span("ledger.submit"):
                return super().submit(requested, stage)

    class _TracedStore(StageStore):
        def materialize(self, stage, df, partition_by=None):
            with self.tracer.span("store.materialize"):
                return super().materialize(stage, df, partition_by)

    return _TracedLedger, _TracedStore


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(run: Run, peak: int) -> dict:
    s = run.samples
    write = "pages_per_s" if "pages_per_s" in s else "ingest_pages_per_s"
    vals = {
        "setup_s": _median(s.get("setup_s", [])),
        "pages_per_s": _median(s.get(write, [])),
        "ok_frac": (run.attempted - run.failed) / max(run.attempted, 1),
        "peak_rss_mb": peak / 2**20,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}


def _phase(run: Run, name: str, fn, *a):
    t0 = time.perf_counter()
    out = fn(*a)
    run.facts[f"{name}_phase_s"] = time.perf_counter() - t0
    return out


def batch_x1(run: Run) -> dict:
    """The pipeline over the planted corpus, its simhashes published as the
    serving index and read back. Traced, the batch layers are replayed on
    the pipeline's frames afterwards; returns their count metrics."""
    from pyspark.sql import functions as F
    pages, truth, n_pages = _phase(run, "inputs", run.batch_inputs)
    res = _phase(run, "batch", run.batch, pages, truth, n_pages)
    rows = [tuple(r) for r in res.simhashes.select(
        "url", F.unix_timestamp("warc_ts"), "simhash64").collect()]
    index, oracle, captures, _ = _phase(run, "setup", run.setup, rows)
    _phase(run, "reads", run.reads, index, oracle,
           C.lookup_requests(run.rng, captures, [], VERIFY_READS))
    replay = {}
    if run.args.trace:
        import layers
        replay = _phase(run, "replay", layers.replay_layers, run.spark,
                        run.tracer, res, pages)
    res.release()
    return replay


def serve_ingest(run: Run) -> dict:
    """The serving index over generated captures, a closed read loop, then
    incremental ingest beside reads. Traced, the prep and signature layers
    are replayed on the ingested files afterwards; returns their counts."""
    _phase(run, "inputs", run.ingest_inputs)
    rows = C.captures(run.rng, HOT_URLS, COLD_URLS, COLD_MAX)
    index, oracle, captures, sentinels = _phase(run, "setup", run.setup, rows,
                                                SENTINEL_URLS)
    reqs = C.lookup_requests(run.rng, captures, sentinels, 5000)
    _phase(run, "reads", run.reads, index, oracle, reqs, run.args.seconds)
    pages_dir = _phase(run, "ingest", run.ingest, index, oracle, captures)
    if not run.args.trace:
        return {}
    import layers
    return _phase(run, "replay", layers.replay_signatures, run.spark,
                  run.tracer, run.spark.read.parquet(pages_dir))


def execute(run: Run) -> dict:
    """Every phase of the run, the same traced or not; returns the
    per-layer metrics when traced."""
    t0 = time.perf_counter()
    run.start_spark()
    run.facts["spark_start_s"] = time.perf_counter() - t0
    work = batch_x1 if run.args.workload == "batch-x1" else serve_ingest
    replay = work(run)
    return traced_metrics(run, replay) if run.args.trace else {}


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import wdd.pipeline  # noqa: F401  the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the wdd package from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    load_1min = os.getloadavg()[0]     # before Spark starts
    work = ROOT / ".bench_work" / f"{args.workload}-s{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    run = Run(args, work)
    t_start = time.perf_counter()
    try:
        with RssSampler() as rss:
            layer = execute(run)
        peak = rss.peak
    except Exception:
        traceback.print_exc()
        run.attempted += 1
        run.failed += 1
        peak, layer = 0, {}
    finally:
        run.stop_spark()
        shutil.rmtree(work, ignore_errors=True)

    detail = {"workload": args.workload, "seed": args.seed, "cpus": run.cpus,
              "load_1min_before": load_1min,
              "wall_s": time.perf_counter() - t_start,
              "samples": {k: len(v) for k, v in run.samples.items()},
              **run.facts}
    print("detail " + json.dumps(detail))
    metrics = layer if args.trace else end_to_end(run, peak)
    for k, m in metrics.items():
        print(f"  {k:32s} {m['value']:>14.6g} {m['unit']}")
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}))
    return 0


LAYER_UNITS = {
    "dedup.prep_s": "s", "dedup.digest_ratio": "ratio",
    "exact.edges": "count", "samesim.edges": "count",
    "signatures.busy_s": "s", "signatures.rows": "count",
    "signatures.html_bytes": "B", "signatures.rows_per_s": "1/s",
    "simhashes.busy_s": "s", "simhashes.shuffle_bytes": "B",
    **{f"{src}.{m}": u for src in ("lsh", "pigeonhole", "substring",
                                    "embedding")
       for m, u in (("busy_s", "s"), ("candidates", "count"),
                    ("verified", "count"), ("yield", "ratio"))},
    "cc.busy_s": "s", "cc.iterations": "count", "cc.edges_in": "count",
    "cc.s_per_iteration": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.driver_gap_s": "s",
    "spark.shuffle_write_bytes": "B", "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "index.build_s": "s", "index.rows": "count", "index.files": "count",
    "lookup.point_s": "s", "lookup.year_s": "s", "lookup.diff_s": "s",
    "lookup.p99_ms": "ms", "lookup.reads_per_s": "1/s",
    "lookup.jobs_per_call": "count",
    "lookup.rows_scanned_per_result": "ratio",
    "stream.drain_s": "s", "stream.batches": "count", "stream.rows": "count",
    "ledger.submit_s": "s", "ledger.rows_read_per_submit": "count",
    "ledger.status_s": "s",
    "store.materialize_s": "s", "store.bytes_written": "B",
    "trace.overhead_s": "s",
}


def traced_metrics(run: Run, replay: dict) -> dict:
    """Per-layer metrics from the spans, the replay counts and Spark's own
    counters, attributed to spans by submission time."""
    tr = run.tracer
    t0 = time.perf_counter()
    counters = SparkCounters(run.spark)
    counters.refresh()

    def med(name):
        return _median([sp.dur for sp in tr.named(name)])

    def summed(names, key):
        return sum(counters.window(sp.start, sp.end)[key]
                   for n in names for sp in tr.named(n))

    # a layer this workload does not call reads 0
    v = dict.fromkeys(LAYER_UNITS, 0.0)
    v.update(replay)
    v["dedup.prep_s"] = tr.total("dedup.prep")
    for layer in ("signatures", "simhashes", "lsh", "pigeonhole",
                  "substring", "embedding", "cc"):
        v[f"{layer}.busy_s"] = tr.total(layer)
    if v["signatures.busy_s"]:
        v["signatures.rows_per_s"] = v["signatures.rows"] / v["signatures.busy_s"]
    v["simhashes.shuffle_bytes"] = summed(["simhashes"],
                                          "shuffle_write_bytes")
    v["cc.s_per_iteration"] = v["cc.busy_s"] / max(v["cc.iterations"], 1)
    work = [WORK_SPANS[run.args.workload]]
    for k in ("jobs", "stages", "tasks", "task_s", "driver_gap_s",
              "shuffle_write_bytes", "spill_bytes", "gc_s"):
        v[f"spark.{k}"] = summed(work, k)
    v["index.build_s"] = med("index.build")
    for k in ("index.rows", "index.files", "stream.batches", "stream.rows",
              "store.bytes_written"):
        v[k] = run.facts.get(k, 0)
    kinds = ("lookup.point", "lookup.year", "lookup.diff")
    for k in kinds:
        v[f"{k}_s"] = med(k)
    lat = sorted(sp.dur for k in kinds for sp in tr.named(k))
    if lat:
        v["lookup.p99_ms"] = 1000 * lat[min(len(lat) - 1, int(0.99 * len(lat)))]
    v["lookup.reads_per_s"] = _median(run.samples.get("reads_per_s", []))
    n_calls = len(lat)
    v["lookup.jobs_per_call"] = summed(kinds, "jobs") / max(n_calls, 1)
    results = sum(sp.attrs.get("results", 1) for k in kinds
                  for sp in tr.named(k))
    v["lookup.rows_scanned_per_result"] = (summed(kinds, "input_records")
                                           / max(results, 1))
    v["stream.drain_s"] = med("stream.drain")
    v["ledger.submit_s"] = med("ledger.submit")
    v["ledger.rows_read_per_submit"] = (
        summed(["ledger.submit"], "input_records")
        / max(len(tr.named("ledger.submit")), 1))
    v["ledger.status_s"] = med("ledger.status")
    v["store.materialize_s"] = med("store.materialize")
    # harness-side cost of tracing: the counter snapshot plus span records
    t1 = time.perf_counter()
    probe = type(tr)("probe", enabled=True)
    for _ in range(1000):
        with probe.span("x"):
            pass
    per_span = (time.perf_counter() - t1) / 1000
    v["trace.overhead_s"] = (t1 - t0) + per_span * len(tr.spans)
    run.facts["self_s"] = tr.self_times()
    out = ROOT / ".bench_out"
    out.mkdir(exist_ok=True)
    tr.write(str(out / f"trace-{run.args.workload}-s{run.args.seed}.jsonl"),
             {"facts": run.facts})
    return {k: {"value": float(v[k]), "unit": u} for k, u in LAYER_UNITS.items()}


if __name__ == "__main__":
    sys.exit(main())
