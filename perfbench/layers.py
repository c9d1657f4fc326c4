"""Traced per-layer replays, run after a workload's measured work.

Each layer's public function is called on the already-materialized
upstream frames of a PipelineResult (batch-x1), or, for the prep and
signature layers the ingest path uses, on the ingested page files
(serve-ingest); its output is drained to Spark's
noop sink inside a span named after the layer. Counts (candidates, verified
pairs, rows, bytes) are taken by separate actions outside the timed spans.
Spark counters for each span are attributed afterwards (tracing.SparkCounters).
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wdd import udfs
from wdd.config import DEFAULT
from wdd.operators import dedup as D
from wdd.operators import lsh as L
from wdd.operators import pigeonhole as P
from wdd.operators.components import connected_components
from wdd.operators.pairs import pairs_from_groups_scalable, release_stage_caches
from wdd.operators.similarity import cosine_dup_pairs
from wdd.operators.substring import anchor_candidates, substring_candidates


def _drain(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def _pinned(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def replay_signatures(spark, tracer, pages: DataFrame, prepped=None,
                      cfg=DEFAULT) -> dict:
    """operators.dedup prep and the fused signature UDF (udfs + kernels)
    over raw page rows; `prepped` is their already-materialized prepped form
    when there is one. Returns the count metrics."""
    width = max(spark.sparkContext.defaultParallelism, 32)
    with tracer.span("dedup.prep"):
        _drain(D.with_page_id(D.with_digest(pages)))
    if prepped is None:
        prepped = _pinned(D.with_page_id(D.with_digest(pages)))
    uniq = _pinned(prepped.select("digest", "html")
                   .dropDuplicates(["digest"]).repartition(width))
    with tracer.span("signatures"):
        _drain(uniq.select(udfs.make_signatures_udf(cfg.simhash_size,
                                                    cfg.simhash_hash)("html")
                           .alias("x")).select("x.*"))
    agg = uniq.agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.length("html")).alias("b")).collect()[0]
    return {"dedup.digest_ratio": agg.n / max(prepped.count(), 1),
            "signatures.rows": agg.n, "signatures.html_bytes": agg.b or 0}


def replay_layers(spark, tracer, res, pages: DataFrame, cfg=DEFAULT) -> dict:
    """Run every batch layer once more on `res`'s frames. Returns the count
    metrics; busy times are read from the tracer's spans by the caller."""
    token = f"perfbench-{uuid.uuid4().hex}"
    width = max(spark.sparkContext.defaultParallelism, 32)
    prepped, sigs, simhashes = res.pages, res.signatures, res.simhashes
    out = replay_signatures(spark, tracer, pages, prepped, cfg)

    # pipeline join-back: page-level simhashes
    with tracer.span("simhashes"):
        _drain(prepped.select("url", "warc_ts", "digest", "page_id").join(
            sigs.select("digest", "simhash64").hint("shuffle_hash"), "digest"))

    # digest representatives, as the pipeline derives them
    reps = _pinned(prepped.groupBy("digest").agg(F.min("page_id").alias("rep"))
                   .join(sigs.select("digest", "simhash64", "signature"),
                         "digest"))
    nd_reps = reps.where(F.col("simhash64").isNotNull())

    with tracer.span("exact"):
        exact = _pinned(D.exact_dup_edges(simhashes, "digest", "page_id"))
    out["exact.edges"] = exact.count()
    with tracer.span("samesim"):
        samesim = _pinned(D.exact_dup_edges(nd_reps, "simhash64", "rep"))
    out["samesim.edges"] = samesim.count()

    # operators.lsh: band candidates, then Jaccard verification
    with tracer.span("lsh"):
        cand = _pinned(L.lsh_candidates(nd_reps, id_col="rep",
                                        sig_col="signature", cfg=cfg,
                                        cache_token=token))
        verified = _pinned(L.verify_jaccard(
            cand, reps.select("rep", "signature"), id_col="rep",
            sig_col="signature", threshold=cfg.jaccard_threshold))
    _yield(out, "lsh", cand.count(), verified.count())

    # operators.pigeonhole: block-sharing pairs, Hamming-verified
    with tracer.span("pigeonhole"):
        sim_pairs = _pinned(P.pigeonhole_candidates(
            nd_reps, id_col="simhash64", cfg=cfg, cache_token=token))
        _drain(P.simhash_pairs_to_page_pairs(sim_pairs, nd_reps, id_col="rep",
                                             sim_col="simhash64"))
    blocks = (nd_reps.select(F.col("simhash64").alias("sim")).distinct()
              .select("sim", F.explode(P.block_keys_col(
                  "sim", cfg.n_blocks, cfg.simhash_size)).alias("block_key")))
    n_block_pairs = pairs_from_groups_scalable(
        blocks, ["block_key"], "sim", cap=cfg.band_group_cap,
        huge_group_rows=cfg.huge_group_rows,
        cache_token=token).select("a", "b").distinct().count()
    _yield(out, "pigeonhole", n_block_pairs, sim_pairs.count())

    # operators.substring: anchor candidates (the pipeline trusts anchors)
    texts = _pinned(sigs.join(reps.select("digest", "rep"), "digest")
                    .select(F.col("rep").alias("id"), "text")
                    .repartition(width))
    with tracer.span("substring"):
        sub = _pinned(substring_candidates(texts, id_col="id",
                                           text_col="text", cfg=cfg,
                                           cache_token=token))
    n_anchor = anchor_candidates(texts, "id", "text", cfg,
                                 cache_token=token).count()
    _yield(out, "substring", n_anchor, sub.count())

    # operators.similarity: embedding-cosine pairs (when the corpus has them)
    if "embedding" in pages.columns:
        emb = _pinned(
            D.with_page_id(pages.where(F.col("embedding").isNotNull())
                           .select("url", "warc_ts", "embedding"))
            .join(simhashes.select("page_id", "digest"), "page_id")
            .join(reps.select("digest", "rep"), "digest")
            .groupBy("rep").agg(F.first("embedding").alias("embedding")))
        dim = len(emb.first().embedding)
        n_emb = emb.count()
        bits = min(16, max(8, (max(n_emb, 2) - 1).bit_length()))
        kw = dict(id_col="rep", vec_col="embedding", method="lsh", dim=dim,
                  bits=bits, cache_token=token)
        with tracer.span("embedding"):
            emb_pairs = _pinned(cosine_dup_pairs(
                emb, threshold=cfg.cosine_dup_threshold, **kw))
        n_cand = cosine_dup_pairs(emb, threshold=-1.0, **kw).count()
        _yield(out, "embedding", n_cand, emb_pairs.count())
    else:
        _yield(out, "embedding", 0, 0)

    # operators.components: CC over the non-exact candidate graph
    edges = _pinned(res.candidate_pairs.where(F.col("source") != "exact")
                    .select("a", "b"))
    with tracer.span("cc"):
        cc = connected_components(edges, reps.select(F.col("rep").alias("id")))
        _drain(cc.labels)
    out["cc.iterations"] = cc.iterations
    out["cc.edges_in"] = edges.count()
    release_stage_caches(token)
    return out


def _yield(out: dict, layer: str, candidates: int, verified: int) -> None:
    out[f"{layer}.candidates"] = candidates
    out[f"{layer}.verified"] = verified
    out[f"{layer}.yield"] = verified / candidates if candidates else 0.0
