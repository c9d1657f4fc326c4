"""UDF == kernel equivalence on real table data (SURVEY.md §5.2).

Every UDF is compared with the driver-side kernels it wraps. Where a UDF
takes or returns a long or an array, one test puts a null in the same Arrow
batch (`coalesce(1)`) as real values: a boundary that guessed types would
round every int64 in that batch."""
import base64
import struct
from collections import Counter

import numpy as np
import pytest
from pyspark.sql import functions as F

from wdd.kernels import (
    calculate_simhash,
    custom_hash_function,
    extract_text,
    minhash_signature,
    surt,
)
from wdd.kernels.simhash import (
    pack_simhash_to_bytes,
    simhash64_batch,
    simhash_parts_batch,
)
from wdd.kernels.urls import url_fix, url_is_valid
from wdd.operators import similarity, substring
from wdd import udfs


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def _bag(text) -> dict:
    return dict(Counter(text.split())) if text else {}


def test_simhash64_text_udf_matches_kernel(spark, sf_dir):
    df = (spark.read.parquet(f"{sf_dir}/documents.parquet")
          .limit(50)
          .select("doc_id", "text",
                  udfs.simhash64_text_udf("text").alias("simhash64")))
    rows = df.collect()
    assert len(rows) == 50
    for r in rows:
        feats = dict(Counter(r.text.split()))
        expected = _signed64(calculate_simhash(feats, 64, custom_hash_function))
        assert r.simhash64 == expected


def test_minhash_udf_matches_kernel(spark, sf_dir):
    """The fused UDF's minhash signature equals minhash_signature."""
    rows = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .limit(20)
            .select("text", udfs.make_signatures_udf(64, from_html=False)(
                "text").getField("signature").alias("sig"))
            .collect())
    for r in rows:
        assert r.sig == minhash_signature(r.text).tolist()
        assert len(r.sig) == 128


def test_extract_features_udf(spark):
    """T1 inside the fused UDF: the text is extract_text's, and the
    simhash is that of the text's token bag (an empty page -> null)."""
    html = [
        ("<html><title>my title</title><body>abc test</body></html>",),
        ("<p>Hello, World!</p>",),
        ("",),
    ]
    out = spark.createDataFrame(html, ["html"]).coalesce(1) \
        .select(udfs.make_signatures_udf(64)("html").alias("x")) \
        .select("x.text", "x.simhash64").collect()
    assert out[0].text == extract_text(html[0][0])
    assert out[0].simhash64 == _signed64(calculate_simhash(
        {"my": 1, "title": 1, "abc": 1, "test": 1}, 64, custom_hash_function))
    assert out[1].text == extract_text(html[1][0]) == "hello\nworld"
    assert out[1].simhash64 == _signed64(calculate_simhash(
        {"hello": 1, "world": 1}, 64, custom_hash_function))
    assert out[2].text == "" and out[2].simhash64 is None


def test_extract_features_udf_on_binary(spark):
    x = spark.createDataFrame([(bytearray(b"<p>a b</p>"),)], "html binary") \
        .select(udfs.make_signatures_udf(64)("html").alias("x")) \
        .collect()[0].x
    assert x.text == "a b"
    assert x.simhash64 == _signed64(calculate_simhash(
        {"a": 1, "b": 1}, 64, custom_hash_function))


def test_surt_and_b64_udfs(spark):
    """The index-column UDFs on one Arrow batch that holds a null in every
    input: a null simhash64 and a null sim_parts give a null b64, and the
    real values beside them pack exactly (reference discover.py:71-77,
    f=64 and the prod f=256)."""
    h = [4921271527955783372, None, -4680126587760241616]
    bags = [{"one": 1, "two": 2, "three": 3}, {}, {"a": 1, "b": 2}]
    parts = simhash_parts_batch(bags, 256)
    urls = ["http://example.com", None, ""]
    df = spark.createDataFrame(
        list(zip(range(3), urls, h, parts)),
        "i int, url string, h long, p array<bigint>").coalesce(1).select(
        "i",
        udfs.surt_key_udf("url").alias("k"),
        udfs.url_fix_udf("url").alias("fixed"),
        udfs.url_is_valid_udf("url").alias("valid"),
        udfs.simhash_b64_udf("h").alias("b64"),
        udfs.make_parts_b64_udf()("p").alias("b64_256"))
    rows = sorted(df.collect())
    assert [r.k for r in rows] == ["com,example)/", "", ""]
    assert rows[0].k == surt("http://example.com")
    assert [r.fixed for r in rows] == [url_fix(urls[0]), None, ""]
    assert [r.valid for r in rows] == [url_is_valid(u) for u in urls]
    assert rows[0].valid is True
    assert [r.b64 for r in rows] == [
        base64.b64encode(struct.pack("<q", v)).decode("ascii")
        if v is not None else None for v in h]
    assert rows[0].b64 == "zF4Mc2HeS0Q=" and rows[2].b64 == "MJSwMKrZDL8="
    want = [base64.b64encode(pack_simhash_to_bytes(calculate_simhash(
                b, 256, custom_hash_function), 256)).decode("ascii")
            if b else None for b in bags]
    assert [r.b64_256 for r in rows] == want
    assert len(base64.b64decode(want[0])) == 32


def test_anchor_udf_matches_kernel_with_null_in_batch(spark, sf_dir):
    """The substring anchor UDF equals batch_anchor_hashes row for row, with
    null, empty and shorter-than-L text in the same Arrow batch."""
    cfg_l, cfg_q = 100, 8
    texts = [r.text for r in spark.read.parquet(
        f"{sf_dir}/documents.parquet").limit(12).collect()]
    texts += [None, "", "x" * (cfg_l - 1)]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string") \
        .coalesce(1).select(
            "i", substring._make_anchor_udf(cfg_l, cfg_q)("text").alias("a"))
    got = [r.a for r in sorted(df.collect())]
    want = substring.batch_anchor_hashes(texts, cfg_l, cfg_q)
    assert got == want
    assert got[-3:] == [[], [], []] and any(got[:-3])


def test_sign_codes_col_matches_numpy(spark):
    """The embedding LSH codes (JVM expressions) equal the same matmul on
    the driver, for float vectors across several partitions: the
    multi-table form the pipeline uses, and the one-table form of
    lsh_ann_topk at bits=1 and bits=8."""
    dim = 16
    rng = np.random.Generator(np.random.PCG64(7))
    vecs = rng.standard_normal((40, dim)).astype(np.float32)
    df = spark.createDataFrame(
        [(i, v.tolist()) for i, v in enumerate(vecs)],
        "i int, v array<float>").repartition(3)
    for bits, tables in [(8, 4), (1, 1), (8, 1)]:
        got = {r.i: r.c for r in df.select(
            "i", similarity.sign_codes_col("v", dim, bits, tables)
            .alias("c")).collect()}
        H = np.concatenate([similarity._hyperplanes(
            dim, bits, similarity._ANN_SEED + t) for t in range(tables)],
            axis=1)
        codes = (((vecs.astype(np.float64) @ H) > 0)
                 .reshape(40, tables, bits)
                 @ (1 << np.arange(bits, dtype=np.int64)))
        assert got == {i: c.tolist() for i, c in enumerate(codes)}, \
            (bits, tables)


@pytest.mark.parametrize("bad, size", [(None, "null"), ([1.0, 2.0, 3.0], "3")])
def test_sign_codes_col_fails_on_bad_vectors(spark, bad, size):
    """A null vector, or one whose size is not dim, fails the task with a
    message naming both sizes, even in one batch beside good rows (it
    would otherwise get no codes, and so silently no candidates)."""
    rows = [(i, [float(i), 1.0, -1.0, 0.5]) for i in range(5)] + [(5, bad)]
    df = spark.createDataFrame(rows, "i int, v array<float>").coalesce(1)
    with pytest.raises(Exception,
                       match=f"need 4-dim vectors, got size {size}"):
        df.select(similarity.sign_codes_col("v", 4, 8, 2)).collect()


def test_fused_signatures_matches_separate_udfs(spark, sf_dir):
    """The fused one-round signatures UDF equals the separate steps run on
    the driver (extract_text, the token bag, simhash64_batch /
    simhash_parts_batch, minhash_signature) at BOTH widths, from html and
    from text, and evaluates once per row even when all three struct
    fields are selected (one ArrowEvalPython node, one udf instance in the
    physical plan). One partition puts null- and empty-content rows (null
    simhash) in the same Arrow batch as the real ones, whose int64
    simhashes must still come back exact."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
    extra = spark.createDataFrame([(-1, None), (-2, "")],
                                  "doc_id long, text string")
    html40 = docs.selectExpr("doc_id",
                             "concat('<html><body><p>', text, "
                             "'</p></body></html>') AS html")
    html_df = html40.unionByName(extra.withColumnRenamed("text", "html")) \
        .coalesce(1)
    html = {r.doc_id: r.html for r in html_df.collect()}
    keys = sorted(html)
    texts = {k: extract_text(html[k]) for k in keys}
    bags = [_bag(texts[k]) for k in keys]

    def fused64(df):
        return df.select(
            "doc_id", udfs.make_signatures_udf(64)("html").alias("x")) \
            .select("doc_id", F.col("x.text").alias("text"),
                    F.col("x.simhash64").alias("simhash64"),
                    F.col("x.signature").alias("signature"))
    want = {k: (texts[k], s, minhash_signature(texts[k]).tolist())
            for k, s in zip(keys, simhash64_batch(bags))}
    got = {r.doc_id: tuple(r)[1:] for r in fused64(html_df).collect()}
    assert got == want and len(got) == 42
    assert got[-1][1] is None and got[-2][1] is None

    # (a union plans one node per branch, so the plan is checked without it)
    plan = fused64(html40)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("signatures_udf") == 1

    # wide path: sim_parts equals the parts kernel's words
    fused256 = html_df.select(
        "doc_id", udfs.make_signatures_udf(256)("html").alias("x")) \
        .select("doc_id", F.col("x.sim_parts").alias("sim_parts"))
    assert {r.doc_id: r.sim_parts for r in fused256.collect()} == \
        dict(zip(keys, simhash_parts_batch(bags, 256)))

    # text input (a text-only pages table): from_html=False takes the text
    # as is
    text_df = docs.select("doc_id", "text").unionByName(extra).coalesce(1)
    texts = {r.doc_id: r.text for r in text_df.collect()}
    feats = {k: _bag(t) for k, t in texts.items()}
    fused_text = text_df.select(
        "doc_id", udfs.make_signatures_udf(64, from_html=False)("text")
        .alias("x")).select("doc_id", "x.*")
    b = {r.doc_id: tuple(r)[1:] for r in fused_text.collect()}
    assert len(b) == 42
    for k, f in feats.items():
        assert b[k][0] == texts[k]
        assert b[k][1] == (_signed64(calculate_simhash(
            f, 64, custom_hash_function)) if f else None)
        assert b[k][2] == minhash_signature(texts[k] or "").tolist()
    assert b[-1][1] is None and b[-2][1] is None

    fused_text256 = text_df.select(
        "doc_id", udfs.make_signatures_udf(256, from_html=False)("text")
        .alias("x")).select("doc_id", "x.sim_parts")
    keys = sorted(feats)
    want = dict(zip(keys, simhash_parts_batch([feats[k] for k in keys], 256)))
    assert {r.doc_id: r.sim_parts for r in fused_text256.collect()} == want
    assert want[-1] is None and want[-2] is None


def test_fused_anchors_match_kernel_with_null_in_batch(spark, sf_dir):
    """With an anchor window the fused UDF's `anchors` field equals
    batch_anchor_hashes over the text it extracted, row for row, from html
    and from text, at f=64 and f=256, with null, empty and shorter-than-L
    content in the same Arrow batch as the real rows. Without a window the
    struct has no `anchors` field."""
    L, q = 100, 8
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(12)
    extra = spark.createDataFrame(
        [(-1, None), (-2, ""), (-3, "x" * (L - 1))],
        "doc_id long, text string")
    text_df = docs.select("doc_id", "text").unionByName(extra).coalesce(1)
    html_df = text_df.selectExpr(
        "doc_id", "CASE WHEN text IS NULL THEN NULL ELSE concat("
        "'<html><body><p>', text, '</p></body></html>') END AS html") \
        .coalesce(1)
    for from_html, df, col in ((True, html_df, "html"),
                               (False, text_df, "text")):
        content = {r.doc_id: r[col] for r in df.collect()}
        keys = sorted(content)
        texts = [extract_text(content[k]) if from_html else content[k]
                 for k in keys]
        want = dict(zip(keys, substring.batch_anchor_hashes(texts, L, q)))
        assert any(want.values()) and want[-1] == want[-2] == want[-3] == []
        for f in (64, 256):
            fused = udfs.make_signatures_udf(f, from_html=from_html,
                                             anchor_window=(L, q))
            out = df.select("doc_id", fused(col).alias("x"))
            got = {r.doc_id: r.anchors
                   for r in out.select("doc_id", "x.anchors").collect()}
            assert got == want, (from_html, f)
            plain = df.select(udfs.make_signatures_udf(
                f, from_html=from_html)(col).alias("x")).select("x.*")
            assert "anchors" not in plain.columns
