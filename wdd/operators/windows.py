"""Window-based operators: CDX collapse (L1) and DataFrame pagination (L3).

L1 reproduces the reference's CDX `collapse=timestamp:9` (discover.py:251-256):
keep the FIRST capture per 9-char timestamp prefix (i.e. per ~2.8h bucket,
giving <= ~9 captures/day; CDX returns rows in ts order so first = earliest).

L3 is the bulk form of the reference's page slicing (util.py:73-97): a
row_number window over a deterministic order. At scale, pagination of a huge
result set through a single global window is an anti-pattern; partition the
window by the serving key (surt_key) — which is exactly how the reference
shards too (one Redis hash per URL).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def collapse_timestamp(df: DataFrame, ts_col: str = "warc_ts",
                       key_cols: list[str] | None = None,
                       prefix: int = 9) -> DataFrame:
    """L1: first row per (key_cols, substr(ts14, 1, prefix))."""
    ts14 = F.date_format(ts_col, "yyyyMMddHHmmss")
    parts = [F.substring(ts14, 1, prefix).alias("_ts_prefix")]
    part_cols = (key_cols or []) + ["_ts_prefix"]
    out = df.withColumn("_ts_prefix", parts[0])
    w = Window.partitionBy(*part_cols).orderBy(F.col(ts_col).asc())
    return (out.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn", "_ts_prefix"))


def paginate(df: DataFrame, order_cols: list[str], page: int,
             per_page: int, partition_cols: list[str] | None = None) -> DataFrame:
    """L3: rows of `page` (1-based) under a deterministic total order,
    with the global row number exposed as `rn`."""
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    if partition_cols:
        w = Window.partitionBy(*partition_cols).orderBy(
            *[F.col(c) for c in order_cols])
    lo, hi = (page - 1) * per_page, page * per_page
    return (df.withColumn("rn", F.row_number().over(w))
            .where((F.col("rn") > lo) & (F.col("rn") <= hi)))
