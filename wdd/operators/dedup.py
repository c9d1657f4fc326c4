"""Exact-duplicate detection + the compute-once-per-digest rewrite.

The reference's single most important optimization is its per-task digest memo
(`self.seen`, discover.py:160-163,183): a capture whose content digest was
already processed reuses the simhash instead of re-downloading/re-hashing.
The bulk-form equivalent (wdd.pipeline) computes the expensive UDF columns
once per distinct digest, then joins them back on the digest.
Catalyst does not dedup UDF work on its own (SURVEY.md §4 O4), so this rewrite
is expressed explicitly in the plan.

At 100 TB scale: the distinct side is a fraction of the pages table (web
corpora are 30-60% exact-dup), the join back is an equi-join on digest that
AQE will broadcast when the filtered distinct side is small enough, else a
sort-merge co-partitioned on digest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wdd.operators.pairs import pairs_from_groups


def with_digest(pages: DataFrame, content_col: str = "html",
                out_col: str = "digest") -> DataFrame:
    """Content digest, JVM-side (reference uses the WBM-provided SHA-1 digest
    per capture, discover.py:159; we derive it from the content)."""
    return pages.withColumn(out_col, F.sha1(F.col(content_col)))


def with_page_id(pages: DataFrame, out_col: str = "page_id") -> DataFrame:
    """Surrogate 64-bit page identity from the natural key (url, warc_ts).

    xxhash64 keeps every downstream join/groupBy on a fixed-width long.
    NOTE at 10^12-row scale a single 64-bit key has non-negligible birthday
    collisions (~3e4 expected); the production layout keeps (url, warc_ts)
    alongside and resolves the rare collision at cluster materialization by
    grouping on the composite key.
    """
    return pages.withColumn(
        out_col,
        F.xxhash64("url", F.date_format("warc_ts", "yyyyMMddHHmmss")),
    )


def exact_dup_edges(df: DataFrame, key_col: str, id_col: str = "page_id") -> DataFrame:
    """Star edges (group-min id, member id) for rows sharing `key_col`.

    Linear in group size — no quadratic blowup on mega-duplicate groups —
    while producing identical connected components (J3).
    """
    w = Window.partitionBy(key_col)
    return (
        df.select(key_col, F.col(id_col).cast("long").alias(id_col))
        .withColumn("a", F.min(id_col).over(w))
        .where(F.col("a") != F.col(id_col))
        .select("a", F.col(id_col).alias("b"))
        .withColumn("source", F.lit("exact"))
    )


def exact_dup_clusters(df: DataFrame, key_col: str,
                       id_col: str = "page_id") -> DataFrame:
    """(id, exact_cluster_id = min id sharing the key) — the degenerate
    single-source clustering; full multi-source clustering goes through
    wdd.operators.components."""
    w = Window.partitionBy(key_col)
    return df.select(
        F.col(id_col),
        F.min(id_col).over(w).alias("cluster_id"),
    )


def exact_dup_pairs(df: DataFrame, key_col: str, id_col: str = "page_id",
                    cap: int = 64) -> DataFrame:
    """All verified exact-dup pairs (for recall reporting; star edges suffice
    for clustering)."""
    return pairs_from_groups(df, [key_col], id_col, cap=cap, source="exact")
