"""J1 — MinHash LSH band candidate generation.

Plan shape (one wide shuffle, everything JVM-side after the signature UDF):

  minhashes(id, signature[128])
    -> band_keys: array of 32 xxhash64(slice(signature, band*4+1, 4), band)
    -> posexplode               (32 rows per doc; narrow)
    -> groupBy(source, key)     (THE shuffle; AQE coalesces/splits skew)
    -> collect_set(id) -> JVM pair expansion + pair dedup
       (wdd.operators.pairs.blocked_pairs, shared with the other schemes)

With b=32 bands x r=4 rows, the S-curve crosses ~ (1/32)^(1/4) ≈ 0.42
Jaccard: pairs with J >= 0.8 are caught with prob >= 1-(1-0.8^4)^32 ≈ 1.0
(north-rule recall >= 0.99 has margin). Verification joins the signatures
back and keeps pairs with estimated Jaccard >= threshold.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wdd.config import DEFAULT, WddConfig
from wdd.operators.pairs import blocked_pairs, jaccard_estimate_col


def band_keys_col(sig_col: str, bands: int, rows: int):
    """Array of per-band 64-bit keys; band index is salted into the hash so
    identical row-slices in different bands never collide into one group."""
    return F.array(*[
        F.xxhash64(F.slice(sig_col, b * rows + 1, rows), F.lit(b))
        for b in range(bands)
    ])


def band_keyed(minhashes: DataFrame, id_col: str = "page_id",
               sig_col: str = "signature",
               cfg: WddConfig = DEFAULT) -> DataFrame:
    """LSH's (source='lsh', key, id) rows: one per band of each signature."""
    # single 64-bit group key: the band index is already salted INTO the
    # hash (band_keys_col), so a separate band column would only repeat it —
    # dropping it cuts the exploded table (the stage's shuffle payload) from
    # (id, band, key) to (id, key). A cross-band 64-bit collision merely
    # yields a junk candidate that Jaccard verification discards.
    # Cap interaction (known trade-off): at ~32n keys, birthday collisions
    # appear around n ~ 10^9 docs; a collision that merges two real groups
    # past band_group_cap switches that group to star+chain expansion, where
    # a true pair can be lost if its chain intermediates fail verification.
    # Connectivity (cluster recall) is preserved either way; if PAIR recall
    # SLOs tighten at 10^9+ docs, widen the key to (band, hash) two-column
    # form at the cost of ~1.5x shuffle payload.
    return minhashes.select(
        F.lit("lsh").alias("source"),
        F.explode(band_keys_col(sig_col, cfg.lsh_bands, cfg.lsh_rows))
        .alias("key"),
        id_col)


def lsh_candidates(minhashes: DataFrame, id_col: str = "page_id",
                   sig_col: str = "signature",
                   cfg: WddConfig = DEFAULT,
                   cache_token: str | None = None) -> DataFrame:
    """Candidate pairs (a, b, source='lsh') from LSH banding."""
    return blocked_pairs(band_keyed(minhashes, id_col, sig_col, cfg), id_col,
                         cfg, cache_token)


def verify_jaccard(pairs: DataFrame, minhashes: DataFrame,
                   id_col: str = "page_id", sig_col: str = "signature",
                   threshold: float = DEFAULT.jaccard_threshold) -> DataFrame:
    """J5: join both signatures, keep pairs with estimated Jaccard >= t.

    The signature lookup table is (id, signature) — 128*4B per row; when the
    candidate set is small relative to it, Catalyst/AQE broadcasts the pairs
    side; both joins are equi-joins on the long id.
    """
    sigs = minhashes.select(F.col(id_col).alias("_id"), F.col(sig_col).alias("_sig"))
    out = (
        pairs
        .join(sigs.withColumnRenamed("_id", "a").withColumnRenamed("_sig", "_sig_a"), "a")
        .join(sigs.withColumnRenamed("_id", "b").withColumnRenamed("_sig", "_sig_b"), "b")
        .withColumn("score", jaccard_estimate_col("_sig_a", "_sig_b"))
        .drop("_sig_a", "_sig_b")
    )
    return out.where(F.col("score") >= threshold)
