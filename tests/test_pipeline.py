"""Planted-truth end-to-end: synthetic pages -> clusters, recall >= 0.99
(SURVEY.md §5.3; targets from BASELINE.md)."""
import re

import pytest
from pyspark.sql import functions as F

from wdd.pipeline import run_dedup_pipeline, build_simhash_index
from wdd.sources.pages import synth_pages
from wdd.kernels import extract_text


@pytest.fixture(scope="module")
def pipeline_result(spark, sf_dir):
    pages, truth = synth_pages(spark, sf_dir)
    res = run_dedup_pipeline(spark, pages)
    return pages, truth, res


def test_pages_text_invariant(spark, sf_dir):
    """pages.text must be byte-identical to the reference extraction of
    pages.html (north-rule per-row invariant)."""
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    sample = pages.limit(100).collect()
    assert len(sample) == 100
    for r in sample:
        assert extract_text(bytes(r.html)) == r.text, r.url


def test_pipeline_converges(pipeline_result):
    _, _, res = pipeline_result
    assert res.cc_converged


def test_cluster_recall_against_planted_truth(pipeline_result, spark):
    pages, truth, res = pipeline_result
    # map truth (url, ts) pairs -> cluster ids
    cl = res.clusters.select("url", "warc_ts", "cluster_id")
    t = (truth
         .join(cl.withColumnRenamed("url", "url_a")
                 .withColumnRenamed("warc_ts", "ts_a")
                 .withColumnRenamed("cluster_id", "c_a"), ["url_a", "ts_a"])
         .join(cl.withColumnRenamed("url", "url_b")
                 .withColumnRenamed("warc_ts", "ts_b")
                 .withColumnRenamed("cluster_id", "c_b"), ["url_b", "ts_b"]))
    per_kind = (t.groupBy("kind")
                .agg(F.count("*").alias("n"),
                     F.sum((F.col("c_a") == F.col("c_b")).cast("int")).alias("hit"))
                .collect())
    stats = {r.kind: (r.hit, r.n) for r in per_kind}
    assert stats, "no truth pairs joined"
    total_hit = sum(h for h, _ in stats.values())
    total_n = sum(n for _, n in stats.values())
    recall = total_hit / total_n
    # per-kind visibility on failure
    assert recall >= 0.99, f"recall={recall:.4f} per-kind={stats}"
    # exact dups must be perfect
    eh, en = stats["exact"]
    assert eh == en
    # Hamming-0 across distinct digests (reversed token order) is invisible
    # to exact/LSH/pigeonhole/substring by construction — these pairs prove
    # the samesim star-edge source, and must be perfect too
    rh, rn = stats["reorder"]
    assert rn > 0 and rh == rn, stats


def test_samesim_edges_connect_reordered_text(pipeline_result):
    """The reorder variants have different digests from their base but the
    identical bag -> identical simhash; the only edge source that can reach
    them is 'samesim'. Assert those edges exist in the candidate graph."""
    _, _, res = pipeline_result
    n = res.candidate_pairs.where(F.col("source") == "samesim").count()
    assert n > 0


def test_precision_every_lsh_edge_is_truly_similar(pipeline_result):
    """Precision guard: every LSH-verified edge must hold up against the
    TRUE 3-shingle Jaccard (the signature estimate may wobble ~3 sigma around
    truth, never fabricate similarity). NB the sf corpus genuinely contains
    near-duplicate documents (distinct doc_ids with J ~ 0.9), so precision is
    checked per-edge, not by counting clusters."""
    from wdd.kernels.minhash import shingles
    pages, truth, res = pipeline_result
    # prep is pruned to the content column it consumes (html here); recover
    # per-page text through the per-digest signatures table
    texts = (res.simhashes.select("page_id", "digest")
             .join(res.signatures.select("digest", "text"), "digest")
             .select("page_id", "text"))
    edges = (res.candidate_pairs.where(F.col("source") == "lsh")
             .join(texts.select(F.col("page_id").alias("a"),
                                F.col("text").alias("ta")), "a")
             .join(texts.select(F.col("page_id").alias("b"),
                                F.col("text").alias("tb")), "b")
             .limit(300).collect())
    assert edges
    for r in edges:
        sa, sb = set(shingles(r.ta)), set(shingles(r.tb))
        true_j = len(sa & sb) / len(sa | sb)
        assert true_j >= 0.55, (r.a, r.b, true_j)


def test_no_rampant_false_merges(pipeline_result):
    """Sanity: clustering must not collapse the corpus. The sf0.001 corpus
    has ~6% genuine near-dup base docs, so expect >= 90% distinct clusters
    among base pages."""
    pages, truth, res = pipeline_result
    # one row per distinct base url (exact-dup captures share the url)
    base = (res.clusters.where(F.col("url").contains("/doc/"))
            .groupBy("url").agg(F.min("cluster_id").alias("cluster_id")))
    n_base = base.count()
    n_clusters = base.select("cluster_id").distinct().count()
    assert n_clusters >= 0.90 * n_base, (n_clusters, n_base)


def test_simhash_index_layout(pipeline_result, spark):
    _, _, res = pipeline_result
    idx = build_simhash_index(res.simhashes.limit(200))
    rows = idx.select("surt_key", "ts14", "simhash_b64", "bucket").collect()
    assert all(len(r.ts14) == 14 for r in rows)
    assert all(r.simhash_b64 and len(r.simhash_b64) == 12 for r in rows)  # 8B -> 12 b64 chars
    assert all(r.surt_key.endswith(tuple(")/" + "0123456789")) or ")" in r.surt_key
               for r in rows)


def test_metrics_recorded(pipeline_result, spark):
    _, _, res = pipeline_result
    res.clusters.write.format("noop").mode("overwrite").save()
    res.metrics.harvest()
    stages = {r.stage for r in res.metrics.records}
    assert {"prep", "signatures", "simhashes", "edges_exact", "edges_samesim",
            "edges_blocked", "candidate_pairs",
            "clusters"} <= stages
    df = res.metrics.to_df(spark)
    assert df.where(F.col("rows_out") > 0).count() >= 5


def test_pipeline_f256_end_to_end(spark, sf_dir):
    """Reference PROD config (simhash.size: 256, conf.yml.example:2) runs the
    whole pipeline: array<long> simhash words through the multi-word
    pigeonhole join, the b64 index packs 32 bytes, capture-diff computes
    multi-word Hamming, and cluster labels broadly agree with the f=64 run
    (exact + LSH edges are width-independent; only near-dup Hamming edges
    differ at the margin)."""
    import base64
    from wdd.config import WddConfig
    from wdd.operators.lookup import capture_diff_matrix
    cfg = WddConfig(simhash_size=256, n_blocks=4, hamming_k=3)
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    res = run_dedup_pipeline(spark, pages, cfg=cfg)
    assert res.cc_converged
    assert dict(res.simhashes.dtypes)["sim_parts"] == "array<bigint>"
    idx = build_simhash_index(res.simhashes, cfg)
    row = idx.select("simhash_b64").first()
    assert len(base64.b64decode(row.simhash_b64)) == 256 // 8
    d = capture_diff_matrix(idx, "http://hot.example/doc/0", "2019").collect()
    assert len(d) == 1 and d[0].hamming == 0   # exact-dup capture planted
    res64 = run_dedup_pipeline(spark, pages)
    c256 = {(r.page_id, r.cluster_id) for r in res.clusters.collect()}
    c64 = {(r.page_id, r.cluster_id) for r in res64.clusters.collect()}
    assert len(c256 & c64) / len(c64) > 0.95


def test_lazy_metrics_observe_rows(spark, sf_dir):
    """A3 (reference progress meta, discover.py:222-227): in lazy mode the
    stage row counts arrive as observe() side-cars of the final action —
    no extra count() jobs — and harvest() fills them in."""
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    res = run_dedup_pipeline(spark, pages)
    assert all(r.rows_out == -1 for r in res.metrics.records)
    n_pages = res.clusters.count()            # the action
    filled = res.metrics.harvest()
    assert filled > 0
    by_stage = {r.stage: r.rows_out for r in res.metrics.records}
    assert by_stage["prep"] >= n_pages        # every page flowed through prep
    assert by_stage["clusters"] == n_pages
    # a lazily checkpointed edge stage counts its rows too (its observation
    # fires, with zero rows, when the checkpoint plans the frame)
    assert by_stage["edges_blocked"] > 0
    mdf = res.metrics.to_df(spark)
    assert mdf.where("rows_out >= 0").count() >= filled


def test_pipeline_precomputed_text_only_table(spark, sf_dir):
    """A table with NO html column (input_hint allows text-only corpora)
    runs the whole pipeline, at f=64 and at f=256: the pipeline chooses the
    text path from the columns, digest identity comes from text, and each
    page's simhash and cluster label agree with the html run on the same
    corpus (extraction is the identity on these pages: text ==
    extract(html), the invariant test_pages_text_invariant pins)."""
    from wdd.config import WddConfig
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    text_only = pages.select("url", "warc_ts", "text", "lang")
    for cfg in (WddConfig(), WddConfig(simhash_size=256)):
        sim = "simhash64" if cfg.simhash_size == 64 else "sim_parts"
        res = run_dedup_pipeline(spark, text_only, cfg=cfg)
        res_html = run_dedup_pipeline(spark, pages, cfg=cfg)
        assert sim in res.signatures.columns
        sims = {r.page_id: r[sim] for r in res.simhashes.collect()}
        sims_html = {r.page_id: r[sim] for r in res_html.simhashes.collect()}
        assert sims == sims_html
        a = {(r.page_id, r.cluster_id) for r in res.clusters.collect()}
        b = {(r.page_id, r.cluster_id) for r in res_html.clusters.collect()}
        assert len(a & b) / len(b) > 0.99
        res.release()
        res_html.release()


def test_extraction_failed_pages_never_weld(spark, sf_dir):
    """ADVICE r4 (high): pages whose html decodes to NO text (empty feature
    bag) must carry a NULL simhash — the reference skips empty-feature
    captures entirely (discover.py:158 `if data:`) — and must NOT be
    star-welded into one cluster by the samesim/LSH stages. Byte-identical
    failures still cluster (exact digest edges)."""
    import datetime as _dt
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    base = pages.limit(40)
    ts0 = _dt.datetime(2019, 1, 1)
    rows = [
        (f"http://fail{i}.example/x", ts0 + _dt.timedelta(seconds=i),
         bytearray(b"\xff\xfe\x00bad%d" % i), "", "en")
        for i in range(6)
    ] + [
        ("http://fail-dup.example/a", ts0, bytearray(b"\xff\xfe\x00same"), "", "en"),
        ("http://fail-dup.example/b", ts0 + _dt.timedelta(days=1),
         bytearray(b"\xff\xfe\x00same"), "", "en"),
    ]
    failed = spark.createDataFrame(rows, schema=base.schema)
    res = run_dedup_pipeline(spark, base.unionByName(failed))
    # null sims recorded for every failed page (8 rows)
    assert res.simhashes.where(F.col("simhash64").isNull()).count() == 8
    cl = {r.url: r.cluster_id
          for r in res.clusters.where(F.col("url").startswith("http://fail"))
          .collect()}
    # six distinct-byte failures -> six distinct clusters (no welding)
    assert len({cl[f"http://fail{i}.example/x"] for i in range(6)}) == 6
    # byte-identical failures share a digest -> one cluster via exact edges
    assert cl["http://fail-dup.example/a"] == cl["http://fail-dup.example/b"]
    # and no failed page merged with any real page
    real = {r.cluster_id for r in res.clusters
            .where(~F.col("url").startswith("http://fail")).collect()}
    assert not (set(cl.values()) & real)


def test_null_and_empty_content_are_exact_duplicates(spark, sf_dir):
    """Null content is read as empty content: a null page keeps its
    simhashes row (null sim) and its cluster, as an exact duplicate of an
    empty page, and the signatures row's text is "" whichever of the two
    dropDuplicates keeps. An ingest batch keeps a null-html page too."""
    import datetime as _dt
    from wdd.streaming.ingest import _signature_batch
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    base = pages.limit(60)
    ts0 = _dt.datetime(2019, 1, 1)
    odd = spark.createDataFrame(
        [("http://null.example/", ts0, None, None, "en"),
         ("http://empty.example/", ts0, bytearray(b""), "", "en")],
        schema=base.schema)
    odd_urls = ["http://null.example/", "http://empty.example/"]
    res = run_dedup_pipeline(
        spark, base.unionByName(odd).select("url", "warc_ts", "text", "lang"))
    assert res.simhashes.count() == 62 and res.clusters.count() == 62
    sims = res.simhashes.where(F.col("url").isin(odd_urls)).collect()
    assert len({r.digest for r in sims}) == 1
    assert [r.simhash64 for r in sims] == [None, None]
    assert len({r.cluster_id for r in res.clusters
                .where(F.col("url").isin(odd_urls)).collect()}) == 1
    assert [r.text for r in res.signatures
            .where(F.col("digest") == sims[0].digest).collect()] == [""]
    res.release()

    rows = {r.url: r for r in _signature_batch(
        base.limit(5).unionByName(odd)).collect()}
    assert len(rows) == 7
    assert rows[odd_urls[0]].digest == rows[odd_urls[1]].digest
    assert rows[odd_urls[0]].simhash64 is None


def test_embedding_only_duplicates_cluster(spark, sf_dir):
    """VERDICT r4 #1: the embedding-cosine edge source is a flagship
    pipeline stage. The planted embedding-only kind (disjoint tokens +
    copied vector) is invisible to every token-level source by
    construction; clustering it proves the edges_embedding stage."""
    pages, truth = synth_pages(spark, sf_dir, with_embeddings=True)
    assert "embedding" in pages.columns
    res = run_dedup_pipeline(spark, pages)
    # the source appears in the candidate graph
    assert res.candidate_pairs.where(F.col("source") == "embedding").count() > 0
    # and every planted embedding-only pair co-clusters
    cl = res.clusters.select("url", "warc_ts", "cluster_id")
    j = (truth.where(F.col("kind") == "embedding")
         .join(cl.select(F.col("url").alias("url_a"),
                         F.col("warc_ts").alias("ts_a"),
                         F.col("cluster_id").alias("c_a")), ["url_a", "ts_a"])
         .join(cl.select(F.col("url").alias("url_b"),
                         F.col("warc_ts").alias("ts_b"),
                         F.col("cluster_id").alias("c_b")), ["url_b", "ts_b"]))
    rows = j.collect()
    assert rows and all(r.c_a == r.c_b for r in rows)
    # without the embedding column the same corpus MISSES these pairs —
    # the planted kind is token-invisible, proving edge attribution
    res0 = run_dedup_pipeline(spark, pages.drop("embedding"))
    assert res0.candidate_pairs.where(
        F.col("source") == "embedding").count() == 0
    cl0 = res0.clusters.select("url", "warc_ts", "cluster_id")
    j0 = (truth.where(F.col("kind") == "embedding")
          .join(cl0.select(F.col("url").alias("url_a"),
                           F.col("warc_ts").alias("ts_a"),
                           F.col("cluster_id").alias("c_a")), ["url_a", "ts_a"])
          .join(cl0.select(F.col("url").alias("url_b"),
                           F.col("warc_ts").alias("ts_b"),
                           F.col("cluster_id").alias("c_b")), ["url_b", "ts_b"]))
    assert all(r.c_a != r.c_b for r in j0.collect())


def test_interleaved_pipelines_keep_their_caches(spark, sf_dir):
    """VERDICT r4 #6: every pipeline run owns its own cache scope — a run
    releasing its caches must NOT unpin a concurrently in-flight run's
    exploded tables."""
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    small = pages.limit(120)
    # pipeline B constructs lazily: its candidate stages pin caches now,
    # its final action runs later
    resB = run_dedup_pipeline(spark, small)
    frames_b = resB.scope.persisted
    def ckpts_b():
        # B's near-dup edge frames (a, b, source, score); CC, finished on
        # the driver, keeps no checkpoint of its own
        return [r for df, r in resB.scope._held.values()
                if r is not None and "source" in df.columns]
    assert frames_b and ckpts_b()
    # pipeline A runs to completion and releases ITS scope only
    resA = run_dedup_pipeline(spark, small)
    assert resA.clusters.count() > 0
    assert resA.release() > 0
    assert all(df.storageLevel.useMemory for df in frames_b), \
        "A's release unpinned B's in-flight caches"
    # the blocked stage's one frame (lsh, pigeonhole and substring edges):
    # these pages carry no embeddings
    assert len(ckpts_b()) == 1
    # B still completes; the PUBLIC release surface (round-5 ADVICE) frees
    # exactly B's caches
    assert resB.clusters.count() > 0
    assert resB.release() > 0
    assert not any(df.storageLevel.useMemory for df in frames_b)
    assert resB.release() == 0  # idempotent


def test_release_returns_persistent_rdds_to_their_count_before_the_run(
        spark, sf_dir):
    """Every cache and checkpoint a run makes — stage frames, operator
    tables, CC's checkpoints — belongs to its scope, so release() leaves
    the session's persistent RDDs exactly as the run found them."""
    jsc = spark.sparkContext._jsc
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    # Hold the RDDs persisted before the run: the context cleaner drops
    # earlier tests' unreferenced ones whenever the JVM collects garbage,
    # which would move the count mid-run.
    held = jsc.getPersistentRDDs()
    before = held.size()
    res = run_dedup_pipeline(spark, pages.limit(150))
    res.clusters.write.format("noop").mode("overwrite").save()
    assert jsc.getPersistentRDDs().size() > before
    assert res.release() > 0
    assert jsc.getPersistentRDDs().size() == before


def test_frames_fail_fast_after_release(spark, sf_dir):
    """A released result refuses to hand out its frames (their checkpoint
    blocks are gone) instead of failing mid-job on a missing block, and a
    release before the first action leaves no persistent RDD behind."""
    jsc = spark.sparkContext._jsc
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    before = jsc.getPersistentRDDs().size()
    res = run_dedup_pipeline(spark, pages.limit(120))
    assert res.release() > 0
    assert jsc.getPersistentRDDs().size() == before
    for name in ("pages", "signatures", "simhashes", "candidate_pairs",
                 "clusters"):
        with pytest.raises(RuntimeError, match=r"release\(\)"):
            getattr(res, name)


def test_flagship_computes_content_digest_exactly_once(spark, sf_dir):
    """Round-5 verdict wrong #1: the embedding edge stage must derive its
    per-digest vectors from the already-computed simhashes frame, NOT by
    re-running with_digest (= sha1 over the full content column) on the raw
    pages table — at 100 TB that doubles the pipeline's most expensive scan.
    with_digest is the engine's only sha1-over-content site, so one call per
    run == one content-hash pass in the plan."""
    from wdd.operators import dedup as dedup_mod
    calls = []
    orig = dedup_mod.with_digest

    def spy(*a, **k):
        calls.append(1)
        return orig(*a, **k)

    dedup_mod.with_digest = spy
    try:
        pages, _ = synth_pages(spark, sf_dir, with_truth=False,
                               with_embeddings=True)
        res = run_dedup_pipeline(spark, pages.limit(200))
        assert res.candidate_pairs.where(
            F.col("source") == "embedding").count() >= 0  # stage ran
    finally:
        dedup_mod.with_digest = orig
    assert len(calls) == 1, (
        f"with_digest called {len(calls)}x — the content column must be "
        f"scanned+hashed exactly once per pipeline run")
    res.release()


def test_embedding_stage_plan_has_no_nested_loop_join(spark, sf_dir):
    """The edges_embedding stage must stay a bucket equi-join + id joins —
    no BroadcastNestedLoopJoin / CartesianProduct anywhere in the flagship
    candidate-pair plan (the round-1 scale-killer class)."""
    pages, _ = synth_pages(spark, sf_dir, with_truth=False,
                           with_embeddings=True)
    res = run_dedup_pipeline(spark, pages)
    plan = res.candidate_pairs._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def _sql_plans(spark) -> dict[int, str]:
    """execution id -> physical plan, from the SQL status store (which
    the listener fills with the UI off)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    return {e.executionId(): e.physicalPlanDescription()
            for e in (execs.apply(i) for i in range(execs.size()))}


def test_pipeline_runs_one_python_round(spark, sf_dir):
    """The fused signature UDF is the batch pipeline's only Python UDF: the
    embedding stage's sign-LSH codes are JVM expressions, so over a run
    with embeddings no SQL execution's plan names another `*_udf(`."""
    pages, _ = synth_pages(spark, sf_dir, with_truth=False,
                           with_embeddings=True)
    before = set(_sql_plans(spark))
    res = run_dedup_pipeline(spark, pages.limit(120))
    res.clusters.write.format("noop").mode("overwrite").save()
    res.candidate_pairs.write.format("noop").mode("overwrite").save()
    plans = [p for i, p in _sql_plans(spark).items() if i not in before]
    assert any("_bkts" in p for p in plans)  # the embedding stage ran
    assert {n for p in plans for n in re.findall(r"(\w+_udf)\(", p)} \
        == {"signatures_udf"}
    res.release()


def test_embedding_column_all_null_skips_stage(spark, sf_dir):
    """An embedding column that is entirely null (e.g. a corpus slice
    without vectors) must skip the edges_embedding stage cleanly."""
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    with_null = pages.limit(60).withColumn(
        "embedding", F.lit(None).cast("array<float>"))
    res = run_dedup_pipeline(spark, with_null)
    assert res.candidate_pairs.where(
        F.col("source") == "embedding").count() == 0
    assert res.clusters.count() == 60


def test_signature_stage_partitions_sized_by_content_bytes(
        spark, sf_dir, monkeypatch):
    """The fused UDF stage gets ceil(content bytes / UDF_PARTITION_BYTES)
    partitions once that exceeds the core count, and its largest partition
    reads at most twice that many content bytes."""
    import math
    from wdd import pipeline

    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    total = pages.agg(F.sum(F.octet_length("html"))).first()[0]
    target = total // 10
    monkeypatch.setattr(pipeline, "UDF_PARTITION_BYTES", target)
    res = run_dedup_pipeline(spark, pages)
    n = math.ceil(total / target)
    assert n > spark.sparkContext.defaultParallelism
    assert res.signatures.rdd.getNumPartitions() == n
    content = (res.pages.groupBy("digest")
               .agg(F.max(F.octet_length("html")).alias("bytes")))
    per_part = (res.signatures
                .select(F.spark_partition_id().alias("p"), "digest")
                .join(content, "digest").groupBy("p")
                .agg(F.sum("bytes").alias("bytes")).collect())
    assert len(per_part) == n
    assert max(r.bytes for r in per_part) <= 2 * target
    res.release()


def test_clusters_equal_cc_over_non_exact_candidate_pairs(spark, sf_dir):
    """CC is fed the five near-dup edge frames directly; its clusters equal
    those of CC over candidate_pairs minus its 'exact' rows (the route that
    groups every page-level exact edge first), at f=64 and f=256."""
    from wdd.config import WddConfig
    from wdd.operators.components import connected_components

    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    for cfg in (WddConfig(), WddConfig(simhash_size=256)):
        res = run_dedup_pipeline(spark, pages, cfg=cfg)
        reps = res.pages.groupBy("digest").agg(F.min("page_id").alias("rep"))
        cc = connected_components(
            res.candidate_pairs.where(F.col("source") != "exact")
            .select("a", "b"), reps.select(F.col("rep").alias("id")))
        want = (res.pages.select("page_id", "digest").join(reps, "digest")
                .join(cc.labels.withColumnRenamed("id", "rep"), "rep", "left")
                .select("page_id", F.coalesce("cluster_id", "rep")
                        .alias("cluster_id")))
        got = {(r.page_id, r.cluster_id) for r in res.clusters.collect()}
        assert got == {(r.page_id, r.cluster_id) for r in want.collect()}
        assert len({c for _, c in got}) < len(got)  # some pages merged
        res.release()
