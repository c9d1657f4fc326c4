"""Candidate-pair primitives: in-group pair generation, canonicalization,
JVM-side verification.

The quadratic step of every candidate source (LSH band groups J1, pigeonhole
block groups J2, exact-digest groups J3, anchor groups) is expressed as ONE
shuffle: groupBy(key).agg(sort_array(collect_list(id))) followed by a pure
JVM `transform`-based combination expansion — no self-join, no second shuffle
of the big side. Skew (SURVEY.md §4.2: boilerplate mega-bands; the reference's
motivating case is twitter.com's 167k captures/year, discover.py:253-254) is
handled with a group-size cap: groups up to `cap` emit all C(n,2) pairs;
larger groups emit star(min)+chain edges — linear in group size, preserving
connectivity through connected components (transitivity), so cluster recall is
unaffected while the shuffle volume stays bounded.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from wdd.config import DEFAULT
from wdd.scope import scope_for


def release_stage_caches(cache_token: str | None = None) -> int:
    """Release the run scope registered under `cache_token` (None = the
    shared scope of callers that pass no token): its persisted tables and
    checkpointed frames. Frames it checkpointed must not be read again."""
    return scope_for(cache_token).release()


# Loud-failure ceiling for the huge_group_rows=None caller guarantee: a
# group larger than this under the guarantee means the guarantee is violated
# (a mega-group silently concentrating one reducer via collect_set) — the
# task FAILS with a diagnostic instead of degrading. The check is one
# size(ids) comparison per group riding the existing aggregate: zero extra
# jobs, zero shuffles (round-6 verdict next #3).
ASSERT_GROUP_MAX = 1_000_000


def pairs_from_groups(df: DataFrame, group_cols: list[str], id_col: str,
                      cap: int = DEFAULT.band_group_cap,
                      source: str | None = None,
                      assert_max_rows: int | None = None) -> DataFrame:
    """groupBy(group_cols) -> candidate pairs (a, b) with a < b.

    One shuffle (the groupBy); expansion + dedup of the pair list is JVM-side.
    assert_max_rows: when set, any group with more distinct ids raises at
    execution time (see ASSERT_GROUP_MAX).
    """
    grouped = (
        df.groupBy(*group_cols)
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    # STREAMED expansion (round-7, guide §5 — bound per-task memory): a
    # single-expression form materialized ALL C(n,2) pair structs of a
    # group as ONE in-memory array before its explode — a group of 2,941
    # anchor-sharing docs (sf1.0's planted substring block) built a
    # 4.3M-struct array per group row and OOM'd an 8g heap. Two nested
    # Generates emit the same pair set with per-row memory bounded by ONE
    # partner slice (<= n ids): posexplode the member list, then per
    # member x at 0-based position i emit
    #   size<=cap : slice(ids, i+2, n-i-1)          (all y > x)
    #   size> cap : i==0 -> slice(ids, 2, n-1)      (star from the min)
    #               else -> [ids[i+1]]              (chain edge)
    # — identical to all-pairs / array_union(star, chain): star covers
    # (ids[0], ids[1]), chain rows start at i>=1, ids are sorted-distinct
    # so no duplicates arise.
    rows = grouped.select("ids", F.posexplode("ids").alias("_i", "_x"))
    partners = F.when(
        F.size("ids") <= cap,
        F.expr("slice(ids, _i + 2, size(ids) - _i - 1)"),
    ).otherwise(F.when(F.col("_i") == 0, F.expr("slice(ids, 2, size(ids) - 1)"))
                .otherwise(F.expr("CASE WHEN _i <= size(ids) - 2 "
                                  "THEN slice(ids, _i + 2, 1) "
                                  "ELSE slice(ids, 1, 0) END")))
    if assert_max_rows is not None:
        partners = F.when(
            F.size("ids") <= F.lit(int(assert_max_rows)), partners
        ).otherwise(F.raise_error(F.concat(
            F.lit("pairs_from_groups: group of "), F.size("ids").cast("string"),
            F.lit(f" ids exceeds the huge_group_rows=None guarantee "
                  f"(limit {int(assert_max_rows)}); pass a huge_group_rows "
                  f"bound so mega-groups take the salted star path"))))
    pairs = (
        rows.select(F.col("_x").alias("a"), F.explode(partners).alias("b"))
    )
    if source is not None:
        pairs = pairs.withColumn("source", F.lit(source))
    return pairs


def pairs_from_groups_scalable(df: DataFrame, group_cols: list[str],
                               id_col: str,
                               cap: int = DEFAULT.band_group_cap,
                               huge_group_rows: int = 10_000,
                               source: str | None = None,
                               cache_token: str | None = None) -> DataFrame:
    """pairs_from_groups with mega-group protection (SURVEY.md §4.2).

    collect_set materializes a whole group in one reducer — fine for band
    groups up to ~10^4, fatal for boilerplate mega-bands (10^7+ members at
    web scale). Groups above `huge_group_rows` take a salted two-level path
    built only from aggregates and joins (no giant array ever exists):

      salt = pmod(id, ceil(|g| / huge_group_rows))
      level 1: star edges member -> min(member) within (group, salt)
      level 2: star edges salt-min -> min over the whole group

    Connectivity (hence connected-component recall) is identical to full
    pairing; emitted edges are linear in group size.

    Group sizing uses groupBy-count (partial-aggregated) + a BROADCAST
    semi/anti join of the huge keys — huge groups are by definition few, so
    the key set always broadcasts. (A count window over the exploded table
    would add a full sort-exchange to every candidate stage.)

    huge_group_rows=None is a caller GUARANTEE — "my key domain bounds
    every group" (e.g. the bench/oracle harnesses, whose planted corpora
    bound every group by construction) — and skips the sizing pass
    entirely: one less Spark job per candidate stage, which on small
    latency-sensitive inputs is pure scheduling overhead. The guarantee is
    CHEAPLY VERIFIED (round-6 verdict next #3): the expansion raises at
    execution time on any group above ASSERT_GROUP_MAX, so a violated
    guarantee fails loudly instead of silently concentrating one reducer.
    At unknown scale, keep huge_group_rows set.

    The pinned exploded table is released with the run scope of
    `cache_token` (wdd.scope); the returned frame is lazy, so it cannot
    unpersist its own input.
    """
    if huge_group_rows is None:
        # the guarantee is now VERIFIED in-line: a violating mega-group
        # fails the job loudly instead of silently concentrating a reducer
        return pairs_from_groups(df, group_cols, id_col, cap=cap,
                                 source=source,
                                 assert_max_rows=ASSERT_GROUP_MAX)
    # the exploded table feeds BOTH the sizing pass and the pair pass —
    # cache it instead of recomputing the explode+hash lineage per consumer
    # (measured ~2x on the LSH stage). persist(), not localCheckpoint: the
    # cache must stay EVICTABLE — pinning 30M-row exploded tables in the
    # block manager OOMed an 8-core 24g leg.
    scope = scope_for(cache_token)
    df = scope.persist(df)
    sizes = (df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("_gsz"))
             .where(F.col("_gsz") > huge_group_rows))

    if sizes.isEmpty():
        return pairs_from_groups(df, group_cols, id_col, cap=cap,
                                 source=source)
    # materialize only on the non-empty path: sizes feeds two consumers
    # below (the broadcast key set and the _gsz join); the common case —
    # no huge groups — never pays the checkpoint job
    sizes = scope.checkpoint(sizes, eager=True)

    huge_keys = F.broadcast(sizes)
    small = df.join(huge_keys.select(*group_cols), group_cols, "left_anti")
    out = pairs_from_groups(small, group_cols, id_col, cap=cap, source=source)

    huge = df.join(huge_keys, group_cols)
    huge = huge.withColumn(
        "_salt", F.pmod(F.col(id_col),
                        F.ceil(F.col("_gsz") / huge_group_rows).cast("long")))
    sw = Window.partitionBy(*group_cols, "_salt")
    huge = huge.withColumn("_smin", F.min(id_col).over(sw))
    lvl1 = (huge.where(F.col(id_col) != F.col("_smin"))
            .select(F.col("_smin").alias("a"), F.col(id_col).alias("b")))
    gmins = huge.groupBy(*group_cols).agg(F.min(id_col).alias("_gmin"))
    lvl2 = (huge.select(*group_cols, "_salt", "_smin")
            .dropDuplicates(group_cols + ["_salt"])
            .join(gmins, group_cols)
            .where(F.col("_smin") != F.col("_gmin"))
            .select(F.col("_gmin").alias("a"), F.col("_smin").alias("b")))
    huge_edges = lvl1.union(lvl2).dropDuplicates(["a", "b"])
    if source is not None:
        huge_edges = huge_edges.withColumn("source", F.lit(source))
    return out.unionByName(huge_edges)


def canonicalize_pairs(df: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Ensure a < b and drop self-pairs."""
    return (
        df.withColumn("_lo", F.least(a, b))
        .withColumn("_hi", F.greatest(a, b))
        .where(F.col("_lo") != F.col("_hi"))
        .drop(a, b)
        .withColumnRenamed("_lo", a)
        .withColumnRenamed("_hi", b)
    )


def dedup_pairs(df: DataFrame, a: str = "a", b: str = "b") -> DataFrame:
    """Global candidate dedup; prefer keeping the strongest source tag."""
    cols = [c for c in df.columns if c not in (a, b)]
    if not cols:
        return df.dropDuplicates([a, b])
    agg = [F.min(c).alias(c) for c in cols]
    return df.groupBy(a, b).agg(*agg)


def jaccard_estimate_col(sig_a: str, sig_b: str,
                         n_perms: int | None = None) -> Column:
    """MinHash-signature Jaccard estimate, fully JVM-side:
    mean(positions where the two signatures agree).

    With `n_perms` (the statically-known signature length, cfg.minhash_perms)
    the agreement count is UNROLLED into a BALANCED-tree sum of
    (a[i] == b[i]) int casts: higher-order functions (zip_with/aggregate)
    are CodegenFallback in Spark, so the folded form walks the interpreted
    evaluator per element per pair. Integer addition is associative and
    exact, so the balanced association is identical to the left fold.

    MEASURED (round-7) AND LEFT UNWIRED: at driver-bench candidate volumes
    (~10^3-10^4 pairs) even the balanced 128-term tree LOSES ~1.2 s per
    planning to Catalyst analysis/codegen of the wide expression (left-deep
    was far worse, 4.3 -> 10.6 s), so every production call site keeps the
    HOF fold. The unrolled form only pays off when per-pair evaluation
    dominates planning (>= ~10^6 candidate pairs per plan); callers at that
    scale can opt in. Divisor stays size(sig_a)."""
    if n_perms is not None:
        terms = [(F.col(sig_a)[i] == F.col(sig_b)[i]).cast("int")
                 for i in range(n_perms)]
        while len(terms) > 1:
            terms = [terms[i] + terms[i + 1] if i + 1 < len(terms)
                     else terms[i] for i in range(0, len(terms), 2)]
        return (terms[0].cast("double") / F.size(sig_a)).alias("jaccard_est")
    return (
        F.aggregate(
            F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
            F.lit(0),
            lambda acc, x: acc + x,
        ).cast("double") / F.size(sig_a)
    ).alias("jaccard_est")


def hamming_col(sim_a: str, sim_b: str) -> Column:
    """64-bit Hamming distance via the built-in bit_count (JVM-side)."""
    return F.bit_count(F.col(sim_a).bitwiseXOR(F.col(sim_b)))
