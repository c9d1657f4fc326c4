"""UDF == kernel equivalence on real table data (SURVEY.md §5.2)."""
from collections import Counter

import pytest
from pyspark.sql import functions as F

from wdd.kernels import (
    calculate_simhash,
    custom_hash_function,
    extract_text,
    minhash_signature,
    surt,
)
from wdd.kernels.simhash import simhash_b64, simhash_parts_batch
from wdd import udfs


def _signed64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


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
    rows = (spark.read.parquet(f"{sf_dir}/documents.parquet")
            .limit(20)
            .select("text", udfs.minhash128_udf("text").alias("sig"))
            .collect())
    for r in rows:
        assert r.sig == minhash_signature(r.text).tolist()
        assert len(r.sig) == 128


def test_extract_features_udf(spark):
    html = [
        ("<html><title>my title</title><body>abc test</body></html>",),
        ("<p>Hello, World!</p>",),
        ("",),
    ]
    df = spark.createDataFrame(html, ["html"]) \
        .select(udfs.extract_features_udf("html").alias("x")) \
        .select("x.text", "x.features")
    out = df.collect()
    assert out[0].features == {"my": 1, "title": 1, "abc": 1, "test": 1}
    assert out[0].text == extract_text(html[0][0])
    assert out[1].features == {"hello": 1, "world": 1}
    assert out[2].features == {}


def test_extract_features_udf_on_binary(spark):
    df = spark.createDataFrame([(bytearray(b"<p>a b</p>"),)], "html binary") \
        .select(udfs.extract_features_udf("html").alias("x"))
    assert df.collect()[0].x.features == {"a": 1, "b": 1}


def test_surt_and_b64_udfs(spark):
    df = spark.createDataFrame(
        [("http://example.com", 123456789)], ["url", "h"]
    ).select(
        udfs.surt_key_udf("url").alias("k"),
        udfs.simhash_b64_udf("h").alias("b64"),
        udfs.url_is_valid_udf("url").alias("valid"),
    )
    r = df.collect()[0]
    assert r.k == surt("http://example.com") == "com,example)/"
    assert r.b64 == simhash_b64(123456789, 64)
    assert r.valid is True


def test_simhash_bytes_udf_256_reference_prod_config(spark):
    """f=256 path (reference conf.yml.example:2): 32 little-endian bytes,
    equal to the pure kernel + b64-roundtrip-compatible."""
    import base64
    from wdd.udfs import make_simhash_bytes_udf
    udf256 = make_simhash_bytes_udf(256)
    df = spark.createDataFrame(
        [({"one": 1, "two": 2, "three": 3},)],
        "features map<string,int>").select(udf256("features").alias("p"))
    packed = bytes(df.collect()[0].p)
    assert len(packed) == 32
    h = calculate_simhash({"one": 1, "two": 2, "three": 3}, 256,
                          custom_hash_function)
    from wdd.kernels.simhash import pack_simhash_to_bytes
    assert packed == pack_simhash_to_bytes(h, 256)
    assert base64.b64decode(base64.b64encode(packed)) == packed


def test_fused_signatures_matches_separate_udfs(spark, sf_dir):
    """The fused one-round signatures UDF is bit-identical to the separate
    extract -> simhash/minhash plan at BOTH widths, from html and from
    text, and evaluates once per row even when all three struct fields are
    selected (one ArrowEvalPython node, one udf instance in the physical
    plan)."""
    html_df = (spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
               .selectExpr("doc_id",
                           "concat('<html><body><p>', text, "
                           "'</p></body></html>') AS html"))

    sep = html_df.select(
        "doc_id", udfs.extract_features_udf("html").alias("x"))
    sep = sep.localCheckpoint(eager=True).select(
        "doc_id", F.col("x.text").alias("text"),
        udfs.simhash64_udf("x.features").alias("simhash64"),
        udfs.minhash128_udf("x.text").alias("signature"))

    fused64 = html_df.select(
        "doc_id", udfs.make_signatures_udf(64)("html").alias("x")) \
        .select("doc_id", F.col("x.text").alias("text"),
                F.col("x.simhash64").alias("simhash64"),
                F.col("x.signature").alias("signature"))

    a = {r.doc_id: r for r in sep.collect()}
    b = {r.doc_id: r for r in fused64.collect()}
    assert a.keys() == b.keys() and len(a) == 40
    for k in a:
        assert (a[k].text, a[k].simhash64, a[k].signature) == \
            (b[k].text, b[k].simhash64, b[k].signature)

    plan = fused64._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1
    assert plan.count("signatures_udf") == 1

    # wide path: sim_parts must equal the separate parts UDF's output
    sep256 = html_df.select(
        "doc_id", udfs.extract_features_udf("html").alias("x"))
    sep256 = sep256.localCheckpoint(eager=True).select(
        "doc_id",
        udfs.make_simhash_parts_udf(256)("x.features").alias("sim_parts"))
    fused256 = html_df.select(
        "doc_id", udfs.make_signatures_udf(256)("html").alias("x")) \
        .select("doc_id", F.col("x.sim_parts").alias("sim_parts"))
    a = {r.doc_id: r.sim_parts for r in sep256.collect()}
    b = {r.doc_id: r.sim_parts for r in fused256.collect()}
    assert a == b

    # text input (a text-only pages table): from_html=False takes the text
    # as is. One partition puts the null-text and empty-text rows (null
    # simhash) in the same Arrow batch as the real ones, whose int64
    # simhashes must still come back exact.
    text_df = (spark.read.parquet(f"{sf_dir}/documents.parquet").limit(40)
               .select("doc_id", "text")
               .unionByName(spark.createDataFrame(
                   [(-1, None), (-2, "")], "doc_id long, text string"))
               .coalesce(1))
    texts = {r.doc_id: r.text for r in text_df.collect()}
    feats = {k: dict(Counter(t.split())) if t else {}
             for k, t in texts.items()}
    sep_text = text_df.select(
        "doc_id", "text",
        udfs.simhash64_text_udf("text").alias("simhash64"),
        udfs.minhash128_udf("text").alias("signature"))
    fused_text = text_df.select(
        "doc_id", udfs.make_signatures_udf(64, from_html=False)("text")
        .alias("x")).select("doc_id", "x.*")
    a = {r.doc_id: tuple(r)[1:] for r in sep_text.collect()}
    b = {r.doc_id: tuple(r)[1:] for r in fused_text.collect()}
    assert a == b and len(a) == 42
    for k, f in feats.items():
        assert b[k][0] == texts[k]
        assert b[k][1] == (_signed64(calculate_simhash(
            f, 64, custom_hash_function)) if f else None)
    assert b[-1][1] is None and b[-2][1] is None

    fused_text256 = text_df.select(
        "doc_id", udfs.make_signatures_udf(256, from_html=False)("text")
        .alias("x")).select("doc_id", "x.sim_parts")
    keys = sorted(feats)
    want = dict(zip(keys, simhash_parts_batch([feats[k] for k in keys], 256)))
    assert {r.doc_id: r.sim_parts for r in fused_text256.collect()} == want
    assert want[-1] is None and want[-2] is None
