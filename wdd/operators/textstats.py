"""Text-analysis operators for training-data curation over `documents`-shaped
tables: token counting, quality scoring, language ID, fingerprinting.

Everything except the winnowing fingerprint is pure pyspark.sql built-ins
(JVM, whole-stage codegen, SQL-oracle-checkable); the winnowing fingerprint
reuses the rolling-anchor kernel (wdd.operators.substring).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from wdd.config import DEFAULT

# Small per-language stopword profiles (public common function words).
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "una", "es", "por"],
    "de": ["der", "die", "das", "und", "zu", "in", "ist", "ein", "eine", "mit"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "une", "est", "pour"],
}

# BPE-ish word/piece splitter: word chars runs, digits runs, single punct.
TOKEN_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def tokens_col(text_col: str) -> Column:
    """Whitespace tokens (the reference's split semantics, discover.py:53)."""
    return F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")


def with_token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens + BPE-ish regex pieces + distincts."""
    toks = tokens_col(text_col)
    return (
        df.withColumn("n_tokens", F.size(toks))
        .withColumn("n_distinct_tokens", F.size(F.array_distinct(toks)))
        .withColumn(
            "n_pieces",
            F.regexp_count(F.lower(F.col(text_col)), F.lit(TOKEN_RE)))
        .withColumn("n_chars", F.length(text_col))
    )


def with_quality_scores(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality heuristics (Gopher/C4-style): length, mean word length,
    distinct-token ratio, stopword ratio, punctuation density."""
    toks = tokens_col(text_col)
    n = F.size(toks)
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    out = (
        df.withColumn("mean_word_len",
                      (F.length(F.regexp_replace(text_col, r"\s+", ""))
                       / F.greatest(n, F.lit(1))).cast("double"))
        .withColumn("distinct_ratio",
                    (F.size(F.array_distinct(toks))
                     / F.greatest(n, F.lit(1))).cast("double"))
        .withColumn("stopword_ratio",
                    (F.size(F.filter(toks, lambda t: F.array_contains(en_stop, t)))
                     / F.greatest(n, F.lit(1))).cast("double"))
        .withColumn("punct_ratio",
                    (F.length(F.regexp_replace(text_col, r"[a-zA-Z0-9\s]", ""))
                     / F.greatest(F.length(text_col), F.lit(1))).cast("double"))
    )
    return out.withColumn(
        "quality_ok",
        (F.col("mean_word_len").between(2.0, 12.0)
         & (F.col("distinct_ratio") > 0.1)
         & (F.col("punct_ratio") < 0.3)
         & (F.size(toks) >= 5)),
    )


def _contains(arr_col):
    def _f(t):
        return F.array_contains(arr_col, t)
    return _f


def with_lang_id(df: DataFrame, text_col: str = "text",
                 langs: list[str] | None = None) -> DataFrame:
    """n-gram/stopword-profile language ID: argmax over per-language stopword
    hit ratios; 'und' when nothing matches. Pure built-ins."""
    langs = langs or list(STOPWORDS)
    toks = tokens_col(text_col)
    scores = []
    for l in langs:
        # intersection with the stopword set, counting duplicate hits
        stop_arr = F.array(*[F.lit(w) for w in STOPWORDS[l]])
        hits = F.size(F.filter(toks, _contains(stop_arr)))
        scores.append(F.struct(
            (hits / F.greatest(F.size(toks), F.lit(1)))
            .cast("double").alias("score"),
            F.lit(l).alias("lang"),
        ))
    best = F.greatest(*scores) if len(scores) > 1 else scores[0]
    return (df.withColumn("_best", best)
            .withColumn("lang_pred",
                        F.when(F.col("_best.score") > 0.0, F.col("_best.lang"))
                        .otherwise(F.lit("und")))
            .withColumn("lang_score", F.col("_best.score"))
            .drop("_best"))


def with_md5_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact-content fingerprint (SQL-oracle-able; md5 over normalized ws)."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return df.withColumn("fingerprint", F.md5(norm))


def ngram_bottomk_sketch(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id", n: int = 8, k: int = 8,
                         merge_salts: int = 16) -> DataFrame:
    """Bottom-k sketch over character n-grams — zero UDFs, pure Catalyst.

    Each document's k lexicographically-smallest distinct md5(n-gram) values.
    Bottom-k sketches are mergeable order statistics: bottom-k of a union is
    the bottom-k of the per-part bottom-k's, so the aggregation runs in two
    salted levels and NO single reducer ever collects a whole document's
    gram set (a 1 MB page has ~10^6 grams; level 1 bounds each collect_set
    to ~|grams|/merge_salts, level 2 to merge_salts*k rows). Both levels are
    hash aggregates with map-side partial combine.

    Output: (id_col, rank, gram_md5), rank 1..k ascending — an unbiased
    Jaccard estimator between documents (|bottomk(A) ∩ bottomk(B) ∩
    bottomk(A∪B)| / k) and a winnowing-grade near-dup fingerprint that is
    fully SQL-expressible, hence DuckDB-oracle-checkable end to end.
    """
    grams = df.select(
        F.col(id_col),
        F.explode(F.expr(
            f"CASE WHEN length({text_col}) >= {n} THEN "
            f"  transform(sequence(1, length({text_col}) - {n} + 1), "
            f"            i -> substring({text_col}, i, {n})) "
            f"ELSE cast(array() AS array<string>) END")).alias("gram"),
    ).select(id_col, F.md5("gram").alias("gram_md5"))
    lvl1 = (grams
            .groupBy(id_col, F.pmod(F.xxhash64("gram_md5"),
                                    F.lit(merge_salts)).alias("_salt"))
            .agg(F.slice(F.array_sort(F.collect_set("gram_md5")),
                         1, k).alias("_part")))
    lvl2 = (lvl1.groupBy(id_col)
            .agg(F.slice(F.array_sort(F.array_distinct(
                F.flatten(F.collect_list("_part")))), 1, k).alias("_sketch")))
    return (lvl2.select(id_col, F.posexplode("_sketch").alias("_pos", "gram_md5"))
            .select(id_col, (F.col("_pos") + 1).cast("long").alias("rank"),
                    "gram_md5"))


def _make_winnow_udf(L: int, q: int, k: int):
    from wdd.kernels.anchors import batch_anchor_hashes

    @pandas_udf(ArrayType(LongType()))
    def winnow_udf(text: pd.Series) -> pd.Series:
        # one rolling-hash pass over the whole Arrow batch (boundary-masked
        # concatenation — substring.py batch kernel); per-doc output is
        # already sorted-unique, so the k smallest is a head slice
        hashes = batch_anchor_hashes(list(text), L, q)
        return pd.Series([h[:k] for h in hashes])
    return winnow_udf


def with_winnow_fingerprint(df: DataFrame, text_col: str = "text",
                            k: int = 8) -> DataFrame:
    """Winnowing-style document fingerprint: the k smallest content-defined
    rolling-hash anchors (robust to local edits, unlike md5)."""
    udf = _make_winnow_udf(DEFAULT.min_overlap_chars, DEFAULT.anchor_modulus, k)
    return df.withColumn("winnow_fp", udf(text_col))


def tfidf_topk(df: DataFrame, k: int = 5, id_col: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Top-k TF-IDF terms per document — the classic retrieval / quality
    primitive (salient-term extraction, keyword-based filtering).

    tf      = term count within the document
    idf     = ln((N + 1) / (df_t + 1)) + 1   (smoothed; N = corpus size)
    output  = (id, term, tf, round(tfidf, 6), rank)  for rank <= k,
              ordered per doc by (tfidf desc, term asc) — the term tiebreak
              makes equal-score ranks deterministic across engines.

    Plan shape (100 TB): explode -> hash-aggregate (doc, term) with
    map-side combine -> term-keyed document-frequency aggregate joined
    back on term (shuffle equi-join on the uniform term key; stopword
    mega-terms are naturally bounded because the df table is one row per
    DISTINCT term) -> per-doc top-k window. The window partitions by
    doc_id — millions of tiny partitions, never a global sort. N rides in
    as a 1-row broadcast cross join, not a driver-side literal, so the
    plan stays fully lazy/distributed.
    """
    from pyspark.sql import Window

    toks = df.select(id_col, F.explode(tokens_col(text_col)).alias("term"))
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df_t"))
    n_docs = df.agg(F.count("*").alias("n_docs"))
    scored = (tf.join(dfreq, "term")
              .join(F.broadcast(n_docs))
              .withColumn(
                  "tfidf",
                  F.col("tf") * (F.log((F.col("n_docs") + 1)
                                       / (F.col("df_t") + 1)) + 1)))
    w = Window.partitionBy(id_col).orderBy(F.desc("tfidf"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select(id_col, "term", F.col("tf").cast("long").alias("tf"),
                    F.round("tfidf", 6).alias("tfidf"),
                    F.col("rank").cast("long").alias("rank")))


def top_ngrams(df: DataFrame, n: int = 3, k: int = 50,
               text_col: str = "text") -> DataFrame:
    """Corpus-wide top-k most frequent word n-grams — boilerplate/template
    mining (stopphrase lists, spam-template detection). Deterministic
    (count desc, gram asc) tiebreak.

    Plan shape (100 TB): explode -> one hash-aggregate on the gram key
    (map-side combine) -> global top-k via orderBy+limit, which Spark
    plans as TakeOrderedAndProject: each partition keeps its local top-k
    heap and the driver merges k*partitions rows — no global sort ever
    materializes.
    """
    from wdd.operators.curation import _word_ngrams
    toks = tokens_col(text_col)
    grams = df.select(F.explode(_word_ngrams(toks, n)).alias("gram"))
    return (grams.groupBy("gram").agg(F.count("*").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("gram"))
            .limit(k)
            .select("gram", F.col("cnt").cast("long").alias("cnt")))


def sketch_dup_pairs(sketch: DataFrame, min_shared: int = 2,
                     df_cap: int = 64, id_col: str = "doc_id") -> DataFrame:
    """Near-dup candidate pairs from bottom-k sketches (closes the
    `ngram_bottomk_sketch` loop into a dedup path): document pairs sharing
    >= min_shared sketch hashes, scored by the exact Jaccard of their two
    (df-capped) sketch sets — shared / (|A| + |B| - shared), the standard
    resemblance-of-sketches estimate of document similarity.

    Scale shape (100 TB): hashes appearing in more than df_cap documents
    are dropped first as non-discriminative boilerplate (the same
    df-capping that keeps `ngram_jaccard_pairs` off the stopword df^2
    blowup) — which also bounds every join group; then one self-equi-join
    on the uniform hash key and one (a, b) hash-aggregate. No windows,
    no driver-side state.

    Input: (id_col, rank, gram_md5) as produced by ngram_bottomk_sketch.
    Output: (doc_a, doc_b, shared, sketch_jaccard), doc_a < doc_b.
    """
    h = sketch.select(F.col(id_col).alias("_id"), "gram_md5")
    keep = (h.groupBy("gram_md5").agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= df_cap).select("gram_md5"))
    hh = h.join(keep, "gram_md5")
    sizes = hh.groupBy("_id").agg(F.count("*").alias("_sz"))
    pairs = (hh.select(F.col("_id").alias("_a"), "gram_md5")
             .join(hh.select(F.col("_id").alias("_b"), "gram_md5"),
                   "gram_md5")
             .where(F.col("_a") < F.col("_b"))
             .groupBy("_a", "_b").agg(F.count("*").alias("shared"))
             .where(F.col("shared") >= min_shared))
    return (pairs
            .join(sizes.select(F.col("_id").alias("_a"),
                               F.col("_sz").alias("_sza")), "_a")
            .join(sizes.select(F.col("_id").alias("_b"),
                               F.col("_sz").alias("_szb")), "_b")
            .select(F.col("_a").alias("doc_a"), F.col("_b").alias("doc_b"),
                    F.col("shared").cast("long").alias("shared"),
                    F.round(F.col("shared")
                            / (F.col("_sza") + F.col("_szb")
                               - F.col("shared")), 6)
                    .alias("sketch_jaccard")))
