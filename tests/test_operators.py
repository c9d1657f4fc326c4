"""Unit tests for the DataFrame operators (pair expansion, pigeonhole,
connected components, substring verification)."""
import pytest
from pyspark.sql import functions as F

from wdd.config import WddConfig
from wdd.operators.components import connected_components
from wdd.operators.pairs import (blocked_pairs, pairs_from_groups,
                                 release_stage_caches)
from wdd.operators.pigeonhole import pigeonhole_candidates
from wdd.operators.dedup import exact_dup_edges


def test_pairs_from_groups_all_pairs(spark):
    df = spark.createDataFrame(
        [("g1", 3), ("g1", 1), ("g1", 2), ("g2", 5), ("g2", 6), ("g3", 9)],
        ["k", "id"])
    pairs = pairs_from_groups(df, ["k"], "id", cap=10).collect()
    got = {(r.a, r.b) for r in pairs}
    assert got == {(1, 2), (1, 3), (2, 3), (5, 6)}


def test_pairs_from_groups_star_chain_over_cap(spark):
    df = spark.createDataFrame([("g", i) for i in range(1, 8)], ["k", "id"])
    pairs = pairs_from_groups(df, ["k"], "id", cap=4).collect()
    got = {(r.a, r.b) for r in pairs}
    star = {(1, i) for i in range(2, 8)}
    chain = {(i, i + 1) for i in range(1, 7)}
    assert got == star | chain
    # linear, not quadratic
    assert len(got) < 7 * 6 / 2


def test_blocked_pairs_dedups_per_source(spark):
    """A pair several keys of one scheme find is kept once; a pair two
    schemes find is kept once per scheme; an equal key value in two schemes
    is two groups, not one."""
    df = spark.createDataFrame(
        [("lsh", 7, 1), ("lsh", 7, 2), ("lsh", 8, 1), ("lsh", 8, 2),
         ("substring", 7, 2), ("substring", 7, 1), ("substring", 9, 3),
         ("pigeonhole", 7, 3)], ["source", "key", "id"])
    out = blocked_pairs(df, "id", WddConfig(huge_group_rows=None))
    assert out.columns == ["a", "b", "source"]
    got = sorted(tuple(r) for r in out.collect())
    assert got == [(1, 2, "lsh"), (1, 2, "substring")]


def test_exact_dup_edges_star(spark):
    df = spark.createDataFrame(
        [("d1", 10), ("d1", 11), ("d1", 12), ("d2", 20)], ["digest", "page_id"])
    edges = {(r.a, r.b) for r in exact_dup_edges(df, "digest").collect()}
    assert edges == {(10, 11), (10, 12)}


def test_pigeonhole_finds_hamming_neighbors(spark):
    base = 0x0123456789ABCDEF
    near = base ^ 0b101          # hamming 2
    far = base ^ ((1 << 1) | (1 << 20) | (1 << 40) | (1 << 60))  # hamming 4
    df = spark.createDataFrame([(base,), (near,), (far,), (base,)],
                               "simhash64 long")
    pairs = pigeonhole_candidates(df).collect()
    got = {(r.a, r.b) for r in pairs}
    lo, hi = sorted((base, near))
    assert (lo, hi) in got
    # hamming-4 pair excluded by verification (k=3)
    assert all({p for p in (r.a, r.b)} != {min(base, far), max(base, far)}
               for r in pairs)


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 1)], ["a", "b"])
    vertices = spark.createDataFrame([(i,) for i in
                                      [1, 2, 3, 10, 11, 20, 21, 22, 99]], ["id"])
    res = connected_components(edges, vertices)
    assert res.converged
    labels = {r.id: r.cluster_id for r in res.labels.collect()}
    assert labels[1] == labels[2] == labels[3] == labels[20] == labels[21] == labels[22] == 1
    assert labels[10] == labels[11] == 10
    assert labels[99] == 99


def test_connected_components_chain_converges(spark):
    # a long chain is the worst case for min propagation
    n = 40
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], ["a", "b"])
    res = connected_components(edges, max_iter=50)
    assert res.converged
    labels = {r.id: r.cluster_id for r in res.labels.collect()}
    assert set(labels.values()) == {0}


def test_connected_components_keeps_callers_caches(spark):
    """CC frees only the checkpoints it made: a frame the caller persisted,
    first computed inside the CC loop, keeps its cache RDD afterwards."""
    edges = spark.range(0, 60).select(
        (F.col("id") % 17).alias("a"), ((F.col("id") * 7) % 23).alias("b"))
    edges = edges.persist()
    cm = spark._jsparkSession.sharedState().cacheManager()
    try:
        connected_components(edges, cache_token="cc-own-caches")
        builder = cm.lookupCachedData(edges._jdf).get() \
            .cachedRepresentation().cacheBuilder()
        assert builder.isCachedColumnBuffersLoaded()
        rdd_id = builder.cachedColumnBuffers().id()
        assert spark.sparkContext._jsc.getPersistentRDDs() \
            .containsKey(rdd_id), "CC unpersisted the caller's cache"
    finally:
        release_stage_caches("cc-own-caches")
        edges.unpersist()


def test_tokenless_connected_components_pins_nothing(spark):
    """With no cache_token CC keeps its checkpoints in a private scope: the
    shared None scope gains no frames, so nothing outlives the result."""
    from wdd.scope import scope_for
    held = scope_for(None)._held
    before = len(held)
    edges = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], ["a", "b"])
    for _ in range(2):
        labels = connected_components(edges).labels
        assert labels.select("cluster_id").distinct().count() == 2
    assert len(held) == before


def test_verify_substring_pairs_registers_its_candidate_cache(spark):
    """The precise verify leg persists its candidate frame for the sizing
    count and the verify join; that cache belongs to the caller's scope."""
    from wdd.operators.substring import verify_substring_pairs
    jsc = spark.sparkContext._jsc
    docs = spark.createDataFrame(
        [(1, "abc " * 40), (2, "abc " * 40)], ["id", "text"])
    cand = spark.createDataFrame([(1, 2, "substring")], ["a", "b", "source"])
    before = jsc.getPersistentRDDs().size()
    out = verify_substring_pairs(cand, docs, "id", "text", min_len=50,
                                 cache_token="verify-scope")
    assert [(r.a, r.b) for r in out.collect()] == [(1, 2)]
    assert release_stage_caches("verify-scope") == 1
    assert jsc.getPersistentRDDs().size() == before


def test_substring_stage_end_to_end(spark):
    from wdd.operators.substring import substring_candidates
    shared = "the quick brown fox jumps over the lazy dog and keeps running " * 4
    docs = spark.createDataFrame([
        (1, "aaa bbb ccc " * 30 + shared),
        (2, shared + "zzz yyy xxx " * 30),
        (3, "totally unrelated content words " * 40),
    ], ["id", "text"])
    # fast path: anchor-hash evidence, score = configured lower bound
    out = substring_candidates(docs).collect()
    got = {(r.a, r.b) for r in out}
    assert got == {(1, 2)}
    assert all(r.score >= 100 for r in out)
    # precise path: exact suffix-array LCS as score
    out_p = substring_candidates(docs, precise=True).collect()
    assert {(r.a, r.b) for r in out_p} == {(1, 2)}
    shared_len = len(
        "the quick brown fox jumps over the lazy dog and keeps running " * 4)
    assert all(r.score >= shared_len - 1 for r in out_p)


def test_verify_bucket_count_scales_and_is_modulus_invariant(spark):
    """Round-5 verdict next #6: the SA-verify pair-bucket modulus must grow
    with the candidate count (fixed 64 capped the leg at 64 Python tasks
    with unbounded batch text volume) and the verified result set must be
    identical under ANY modulus (the bucket only groups pairs into tasks)."""
    from wdd.operators.substring import (substring_candidates,
                                         verify_bucket_count,
                                         verify_substring_pairs)
    par = spark.sparkContext.defaultParallelism
    # grows linearly with the candidate count once past the parallelism floor
    assert verify_bucket_count(0, par) == max(par, 1)
    assert verify_bucket_count(64 * par, par) == par
    assert verify_bucket_count(64 * par * 10, par) == par * 10
    assert verify_bucket_count(10_000_000, par) == 10_000_000 // 64 + \
        (1 if 10_000_000 % 64 else 0)

    shared = "the quick brown fox jumps over the lazy dog and keeps on " * 4
    docs = spark.createDataFrame([
        (1, "aaa bbb ccc " * 30 + shared),
        (2, shared + "zzz yyy xxx " * 30),
        (3, "common tail of words here " * 20 + shared),
        (4, "totally unrelated content words " * 40),
    ], ["id", "text"])
    cand = substring_candidates(docs)  # anchor candidates (score col rides)
    results = []
    for m in (1, 3, 64):
        out = verify_substring_pairs(cand, docs, "id", "text",
                                     min_len=100, n_buckets=m)
        results.append(sorted((r.a, r.b, r.score) for r in out.collect()))
    assert results[0] == results[1] == results[2]
    assert {(a, b) for a, b, _ in results[0]} == {(1, 2), (1, 3), (2, 3)}


def test_pairs_from_groups_scalable_mega_group(spark):
    """Huge groups take the salted two-level path: linear edge count,
    connectivity identical to full pairing."""
    from wdd.operators.pairs import pairs_from_groups_scalable
    from wdd.operators.components import connected_components
    rows = [("mega", i) for i in range(5000)] + [("tiny", 7_000_000 + j)
                                                 for j in range(3)]
    df = spark.createDataFrame(rows, ["k", "id"])
    pairs = pairs_from_groups_scalable(df, ["k"], "id", cap=4,
                                       huge_group_rows=500)
    n_pairs = pairs.count()
    assert n_pairs < 2 * 5003  # linear, not quadratic (C(5000,2) ~ 12.5M)
    cc = connected_components(pairs.select("a", "b"))
    labels = {r.id: r.cluster_id for r in cc.labels.collect()}
    mega_labels = {labels[i] for i in range(5000)}
    assert mega_labels == {0}
    assert {labels[7_000_000 + j] for j in range(3)} == {7_000_000}
