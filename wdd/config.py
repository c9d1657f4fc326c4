"""Pinned algorithm configuration.

One place for every constant that affects output values, echoed into metrics
manifests so any run is reproducible. Mirrors the reference's conf.yml
(reference conf.yml.example:2-3 pins simhash size=256 in prod; the north-star
config here is f=64 with the same blake2b token hash, reference
discover.py:56-59) and adds the MinHash/LSH parameters required by the north
rule (128 perms, b=32 bands x r=4 rows).
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict


@dataclass(frozen=True)
class WddConfig:
    # --- SimHash (reference parity: discover.py:62-68, conf.yml.example:2) ---
    simhash_size: int = 64          # north-star f; reference prod uses 256
    simhash_hash: str = "blake2b"   # reference custom_hash_function, discover.py:56-59
    # Hamming radius for near-dup verification (J2)
    hamming_k: int = 3
    # pigeonhole blocks: k+1 blocks guarantee a shared block at distance <= k
    n_blocks: int = 4

    # --- MinHash / LSH (north rule) ---
    minhash_perms: int = 128
    lsh_bands: int = 32
    lsh_rows: int = 4               # bands * rows == minhash_perms
    shingle_words: int = 3          # word w-shingles over extracted text
    minhash_seed: int = 42
    # Applied to the signature ESTIMATE. The target is 0.8 true Jaccard;
    # the 128-perm estimator has sigma ~= sqrt(J(1-J)/128) ~= 0.035, so
    # verifying at target-3*sigma keeps recall of true-J>=0.8 pairs >= 0.999
    # (precision is restored by the connected-components + downstream
    # consumers seeing the score).
    jaccard_threshold: float = 0.7

    # --- embedding-cosine near-dup edges (optional pipeline source) ---
    # Activated when the pages table carries an `embedding` array<float>
    # column. 0.9 sits far above unrelated-content cosines (the synthetic
    # corpus maxes at ~0.6 between distinct docs) while any re-encoded /
    # paraphrase-duplicate embedding pair lands near 1.0.
    cosine_dup_threshold: float = 0.9

    # --- substring dedup (suffix/anchor stage) ---
    # window L=100 with 1/8 anchor density: a 170-char planted overlap has 71
    # windows -> ~9 anchors; miss probability (7/8)^71 ~ 7e-5 (recall budget)
    min_overlap_chars: int = 100    # report cross-doc exact repeats >= L chars
    anchor_modulus: int = 8         # rolling-hash anchor density (1/q positions)

    # --- skew handling ---
    band_group_cap: int = 64        # full pairing for LSH/pigeonhole groups <= cap;
                                    # star pairing (to group min) beyond (SURVEY §4.2)
    huge_group_rows: int | None = 10_000
                                    # groups beyond this skip collect_set and take
                                    # the salted two-level star path (no single
                                    # reducer ever holds a whole mega-group);
                                    # None asserts no mega-groups exist and skips
                                    # the sizing job (bench/oracle harnesses only)

    # --- capture semantics (reference parity) ---
    max_capture_bytes: int = 1_000_000   # discover.py:90
    collapse_ts_prefix: int = 9          # CDX collapse=timestamp:9, discover.py:256
    snapshots_per_page: int = 600        # conf.yml.example:34

    # --- physical ---
    shuffle_partitions: int = 32
    url_buckets: int = 32           # bucket(N, url) layout for the simhash index
    arrow_max_records: int = 4096

    def as_dict(self) -> dict:
        return asdict(self)

    def __post_init__(self):
        assert self.lsh_bands * self.lsh_rows == self.minhash_perms
        assert self.simhash_size % self.n_blocks == 0
        if self.simhash_size > 512:
            # reference invariant, discover.py:95-96
            raise ValueError("do not support simhash longer than 512")


DEFAULT = WddConfig()
