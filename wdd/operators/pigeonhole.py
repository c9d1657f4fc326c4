"""J2 — SimHash Hamming pigeonhole candidate generation.

Pigeonhole principle: split the f-bit simhash into n_blocks = k+1 blocks;
any pair within Hamming distance k agrees on at least one whole block, so an
equi-join per block value finds every such pair. Verification is the built-in
`bit_count(a XOR b) <= k` — pure codegen; summed per word for f > 64.
One operator, pigeonhole_candidates, serves both simhash layouts and picks
its block keys and verifier from the column's type: the scalar long
`simhash64` (f=64) or the array<long> of f/64 words `sim_parts` (the
reference's prod f=256, conf.yml.example:2).

Scale notes:
  * runs over DISTINCT simhash values, not pages — exact duplicates (and
    same-simhash near-identical pages) collapse before the quadratic step;
    this is the bulk analog of the reference's digest memo (discover.py:160-163)
    applied one level up;
  * block value 0 (all-zero 16-bit block) is a natural hot key on boilerplate
    — the group cap in pairs_from_groups bounds it, AQE skew-join the rest.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType

from wdd.config import DEFAULT, WddConfig
from wdd.operators.pairs import blocked_pairs


def block_keys_col(sim_col: str, n_blocks: int, bits: int):
    """One long key per block: (block_value * n_blocks + block_index), so a
    single column both identifies the block and carries its value — the
    exploded table shuffles (id, key) instead of (id, block, value), and
    equal values in DIFFERENT blocks still land in different groups."""
    width = bits // n_blocks
    mask = (1 << width) - 1
    return F.array(*[
        F.expr(f"(shiftrightunsigned({sim_col}, {i * width}) & {mask}) "
               f"* {n_blocks} + {i}")
        for i in range(n_blocks)
    ])


def block_keyed(simhashes: DataFrame, sim_col: str, id_col: str,
                cfg: WddConfig = DEFAULT) -> DataFrame:
    """Pigeonhole's (source='pigeonhole', key, id) rows, one per block of
    each simhash: block_keys_col for a long (f=64), parts_block_keys_col
    for an array<long> of f/64 words."""
    parts = isinstance(simhashes.schema[sim_col].dataType, ArrayType)
    keys = parts_block_keys_col if parts else block_keys_col
    return simhashes.select(
        F.lit("pigeonhole").alias("source"),
        F.explode(keys(sim_col, cfg.n_blocks, cfg.simhash_size)).alias("key"),
        id_col)


def hamming_col(a: str, b: str, parts: bool, cfg: WddConfig = DEFAULT):
    """Hamming distance between simhash columns a and b: one bit_count for
    longs, the unrolled per-word sum for array<long> words (parts)."""
    if not parts:
        return F.bit_count(F.col(a).bitwiseXOR(F.col(b)))
    n_words, rest = divmod(cfg.simhash_size, 64)
    return hamming_parts_col(a, b, None if rest else n_words)


def pigeonhole_candidates(simhashes: DataFrame, id_col: str = "simhash64",
                          cfg: WddConfig = DEFAULT,
                          cache_token: str | None = None) -> DataFrame:
    """Candidate (a, b) pairs of DISTINCT simhash values within Hamming k.

    Input: any DataFrame with a simhash column; distinct is taken here. The
    plan is distinct values, one explode (block_keyed), one groupBy shuffle
    (blocked_pairs), codegen Hamming verify (hamming_col; Spark arrays of
    longs group, sort and join like scalars). Output columns a, b are
    simhash values of the input's type, verified within Hamming k, with
    a < b (lexicographically for arrays)."""
    parts = isinstance(simhashes.schema[id_col].dataType, ArrayType)
    distinct = (simhashes.select(F.col(id_col).alias("sim"))
                .where(F.col("sim").isNotNull())   # extraction-failed pages
                .dropDuplicates(["sim"]))
    pairs = blocked_pairs(block_keyed(distinct, "sim", "sim", cfg), "sim",
                          cfg, cache_token)
    return pairs.where(hamming_col("a", "b", parts, cfg) <= cfg.hamming_k)


def hamming_parts_col(a: str, b: str, n_words: int | None = None):
    """Hamming distance between two array<long> word vectors.

    With `n_words` (statically known: simhash_size // 64) the fold is
    UNROLLED into bit_count(a[0]^b[0]) + ... — higher-order functions
    (zip_with/aggregate) are CodegenFallback in Spark, so the folded form
    walks the interpreted evaluator per word per pair. Integer addition is
    exact; results identical."""
    if n_words is not None:
        acc = F.bit_count(F.col(a)[0].bitwiseXOR(F.col(b)[0]))
        for j in range(1, n_words):
            acc = acc + F.bit_count(F.col(a)[j].bitwiseXOR(F.col(b)[j]))
        return acc
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0), lambda acc, x: acc + x)


def parts_block_keys_col(parts_col: str, n_blocks: int, bits: int):
    """One 64-bit key per block for multi-word simhashes (f > 64, the
    reference's prod f=256 path, conf.yml.example:2). Block j covers bits
    [j*width, (j+1)*width); the key hashes (block value, block index) so
    equal values in different blocks never collide into one group. Two
    word-alignment regimes cover every sane config:
      * width % 64 == 0: the block is a word slice -> xxhash64(slice, j);
      * 64 % width == 0: the block is a sub-word field -> extract + hash.
    A 64-bit key collision only ADDS a candidate, which the exact
    bit_count verification then rejects — recall is unaffected."""
    width = bits // n_blocks
    if width % 64 == 0:
        wpb = width // 64
        return F.array(*[
            F.xxhash64(F.slice(parts_col, j * wpb + 1, wpb), F.lit(j))
            for j in range(n_blocks)
        ])
    if 64 % width != 0:
        raise ValueError(
            f"block width {width} must divide or be a multiple of 64")
    per_word = 64 // width
    mask = (1 << width) - 1
    return F.array(*[
        F.xxhash64(
            F.expr(f"shiftrightunsigned({parts_col}[{j // per_word}], "
                   f"{(j % per_word) * width}) & {mask}"),
            F.lit(j))
        for j in range(n_blocks)
    ])


def pigeonhole_candidates_parts(simhashes: DataFrame,
                                parts_col: str = "sim_parts",
                                cfg: WddConfig = DEFAULT,
                                cache_token: str | None = None) -> DataFrame:
    """pigeonhole_candidates over an array<long> `parts_col`."""
    return pigeonhole_candidates(simhashes, parts_col, cfg, cache_token)


def simhash_pairs_to_page_pairs(sim_pairs: DataFrame, simhashes: DataFrame,
                                id_col: str = "page_id",
                                sim_col: str = "simhash64") -> DataFrame:
    """Map simhash-value pairs to page-id pairs via one representative page
    per simhash value. Pages/reps sharing a simhash are connected separately
    — per-digest exact star edges plus the per-sim-value 'samesim' star edges
    the pipeline emits (wdd/pipeline.py edges_samesim stage) — so one
    representative per value preserves the connected components, including
    Hamming-0 pairs across distinct digests."""
    reps = (simhashes.groupBy(sim_col)
            .agg(F.min(id_col).alias("rep")))
    return (
        sim_pairs
        .join(reps.withColumnRenamed(sim_col, "a").withColumnRenamed("rep", "rep_a"), "a")
        .join(reps.withColumnRenamed(sim_col, "b").withColumnRenamed("rep", "rep_b"), "b")
        .select(
            F.least("rep_a", "rep_b").alias("a"),
            F.greatest("rep_a", "rep_b").alias("b"),
            "source",
        )
        .where(F.col("a") != F.col("b"))
    )
