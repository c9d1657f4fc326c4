"""Round-7 optimization guards.

Each test pins an optimization that changed an operator's internals:
  * the huge_group_rows=None guarantee now FAILS LOUDLY on a violating
    mega-group instead of silently concentrating one reducer (round-6
    verdict next #3);
  * shard_pack's range bucket widened past 256 (verdict next #4) with
    bucket-count-invariant output;
  * the unrolled Hamming-parts distance equals the HOF fold;
  * the vectorized adjacent-LCP (binary lifting) equals Kasai;
  * repetition_stats' single-pass plan carries exactly one Generate
    (gram explode) instead of three.
"""

from __future__ import annotations

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from wdd.operators.pairs import ASSERT_GROUP_MAX, pairs_from_groups_scalable


def test_huge_group_none_guarantee_fails_loudly(spark):
    """A planted mega-group under huge_group_rows=None must raise (not
    silently take the collect_set path)."""
    from pyspark.errors import PySparkException
    n = 50
    df = spark.range(n).select(F.lit(1).alias("k"), F.col("id"))
    pairs = pairs_from_groups_scalable(df, ["k"], "id", cap=10,
                                       huge_group_rows=None)
    # same guard with a test-sized limit so the 50-id group violates it
    from wdd.operators.pairs import pairs_from_groups
    guarded = pairs_from_groups(df, ["k"], "id", cap=10, assert_max_rows=10)
    with pytest.raises(PySparkException, match="exceeds the huge_group_rows"):
        guarded.count()
    # the production limit does not fire for bounded groups
    assert pairs.count() > 0


def test_huge_group_none_guard_is_wired(spark):
    """pairs_from_groups_scalable(huge_group_rows=None) carries the
    raise_error guard in its plan (the guarantee is verified, not trusted)."""
    df = spark.range(10).select(F.lit(1).alias("k"), F.col("id"))
    pairs = pairs_from_groups_scalable(df, ["k"], "id",
                                       huge_group_rows=None)
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "raise_error" in plan
    assert str(ASSERT_GROUP_MAX) in plan


@pytest.mark.parametrize("buckets", [64, 300, 4096])
def test_shard_pack_bucket_count_invariance(spark, buckets):
    """shard_pack output equals the 256-bucket (historical) output at any
    bucket count — the range bucket is monotone in the hash order at every
    prefix width, so the global order and shard cuts are identical."""
    from wdd.operators.curation import shard_pack
    docs = spark.range(400).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.array(*[F.concat(F.lit("w"),
                                            ((F.col("id") + i) % 97)
                                            .cast("string"))
                                   for i in range(12)])).alias("text"))
    base = shard_pack(docs, budget=100, buckets=256) \
        .orderBy("doc_id").collect()
    wide = shard_pack(docs, budget=100, buckets=buckets) \
        .orderBy("doc_id").collect()
    assert base == wide


def test_shard_pack_rejects_absurd_buckets(spark):
    from wdd.operators.curation import shard_pack
    docs = spark.range(3).select(F.col("id").alias("doc_id"),
                                 F.lit("a b").alias("text"))
    with pytest.raises(ValueError):
        shard_pack(docs, budget=10, buckets=16 ** 8 + 1)


def test_unrolled_hamming_matches_hof(spark):
    from wdd.operators.pigeonhole import hamming_parts_col
    rows = [([random.getrandbits(63) for _ in range(4)],
             [random.getrandbits(63) for _ in range(4)])
            for _ in range(50)]
    df = spark.createDataFrame(rows, "a array<long>, b array<long>")
    out = df.select(hamming_parts_col("a", "b", 4).alias("u"),
                    hamming_parts_col("a", "b").alias("h")).collect()
    for r in out:
        assert r.u == r.h


def test_lifted_lcp_matches_kasai():
    from wdd.operators.substring import (_adjacent_lcp_lifted, _kasai_lcp,
                                         _suffix_array_levels)
    rng = random.Random(11)
    for _ in range(100):
        n = rng.randint(2, 200)
        s = np.array([rng.randint(0, 3) for _ in range(n)], dtype=np.int64)
        sa, levels = _suffix_array_levels(s)
        assert np.array_equal(_adjacent_lcp_lifted(n, sa, levels),
                              _kasai_lcp(s, sa)[1:])


def test_repetition_stats_single_generate(spark):
    """The single-pass rewrite must explode the tagged gram array exactly
    once — one Generate node, one (id, n, gram) aggregate chain."""
    from wdd.operators.curation import repetition_stats
    docs = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", F.lit("a"), F.lit("b"), F.lit("a"),
                    F.col("id").cast("string")).alias("text"))
    out = repetition_stats(docs)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Generate") == 1
    # spot-check values: doc text "a b a <id>" -> top token frac 2/4
    row = out.where(F.col("doc_id") == 3).collect()[0]
    assert row.top_token_frac == 0.5
    assert row.top_bigram_frac == pytest.approx(1.0 / 3.0)
    assert row.top_trigram_frac == 0.5


def test_cc_sync_planning_stays_bounded(spark):
    """§13 guard: the CC sync loop truncates lineage at EVERY star
    contraction, so no single toRdd planning call ever sees more than one
    star over a checkpoint-scan leaf. The unbroken 2-round form planned a
    ~959-operator tree (measured 1.3-3 s of serial driver time per sync).
    This pins the cadence: chaining even two contractions without a
    checkpoint re-blows the tree. Both checks are shape ratios, not
    operator counts, so optimizer rule changes do not move them."""
    from wdd.operators.components import _large_star, _small_star
    e = (spark.range(0, 500)
         .select((F.col("id") * 7919 % 1021).alias("a"),
                 (F.col("id") * 104729 % 1021).alias("b"))
         .where(F.col("a") != F.col("b"))
         .dropDuplicates(["a", "b"])
         .localCheckpoint(eager=True))

    def leaves(df):
        return df._jdf.queryExecution().optimizedPlan().collectLeaves().size()

    def unbroken(y, rounds):
        for _ in range(rounds):
            y = _small_star(_large_star(y))
        return y

    # production cadence: ckpt after every contraction, 2 rounds — the next
    # round a consumer plans over it is as small as one round over `e`
    x = e
    for _ in range(2):
        x = _large_star(x).localCheckpoint(eager=False)
        x = _small_star(x).localCheckpoint(eager=False)
    assert leaves(unbroken(x, 1)) == leaves(unbroken(e, 1)), \
        "per-contraction truncation lost: planning blowup"

    # the old cadence (one ckpt per 2-round sync) blows the tree up with
    # every contraction — the regression this test exists to catch: each
    # star reads its input several times, so the input's scans multiply
    assert leaves(unbroken(e, 2)) > 4 * leaves(unbroken(e, 1))


def test_cc_labels_identical_across_checkpoint_cadence(spark, monkeypatch):
    """§13 is a pure planning change: connected_components' labels must be
    bit-identical to a cadence-free reference (hash_min_components). The
    graph is below components.DRIVER_EDGES, so the bound is patched to -1
    to keep the contraction rounds (and their cadence) running."""
    from wdd.operators import components
    from wdd.operators.components import (connected_components,
                                          hash_min_components)
    monkeypatch.setattr(components, "DRIVER_EDGES", -1)
    e = (spark.range(0, 300)
         .select((F.col("id") % 97).alias("a"),
                 ((F.col("id") * 31) % 97 + 50).alias("b"))
         .where(F.col("a") != F.col("b")))
    verts = spark.range(0, 160).select(F.col("id"))
    a = connected_components(e, verts)
    b = hash_min_components(e, verts)
    assert a.converged and b.converged and a.iterations > 0
    assert sorted(map(tuple, a.labels.collect())) == \
        sorted(map(tuple, b.labels.collect()))


def test_lazy_pipeline_releases_checkpointed_edge_frames(spark, sf_dir):
    """§15 guard: the lazy pipeline's blocked and embedding edge stages
    are localCheckpoint(eager=False)-ed inside their builders (so the
    candidate-union tree is planned from RDD leaves, not full lineages), and release() must drop those checkpoint blocks along with
    the persisted caches — the run's scope holds nothing afterwards."""
    from wdd.pipeline import run_dedup_pipeline
    from wdd.sources.pages import synth_pages
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    res = run_dedup_pipeline(spark, pages.limit(150))
    # edge frames are (a, b, source, score); CC, finished on the driver,
    # keeps no checkpoint of its own. One frame, the blocked stage's (LSH,
    # pigeonhole and substring edges): these pages carry no embeddings
    ckpts = [r for df, r in res.scope._held.values()
             if r is not None and "source" in df.columns]
    assert len(ckpts) == 1, \
        "lazy edge stages no longer register checkpoints"
    res.clusters.select("cluster_id").distinct().count()
    assert res.release() > 0
    assert not res.scope._held
    assert res.release() == 0
