"""MinHash signatures over word shingles (north-rule generalization).

Not present in the reference (which only computes SimHash); required by the
north rule for LSH-band candidate generation. Deterministic at a fixed seed
across executors: the permutation parameters are materialized once from a
seeded numpy Generator at import time and shipped to workers as module state
(no RNG calls at execution time — SURVEY.md §7 "hard parts" #3).

Universal hashing mod the Mersenne prime 2^31-1 keeps every product inside
int64 (a, x < 2^31 => a*x + b < 2^62), so the whole signature is one
vectorized (n_shingles x n_perms) int64 matrix min — no Python loop per perm.
"""

from __future__ import annotations

import hashlib

import numpy as np

from wdd.config import DEFAULT

_P = (1 << 31) - 1  # Mersenne prime 2^31 - 1


def _perm_params(n_perms: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, _P, size=n_perms, dtype=np.int64)
    b = rng.integers(0, _P, size=n_perms, dtype=np.int64)
    return a, b


_A, _B = _perm_params(DEFAULT.minhash_perms, DEFAULT.minhash_seed)


def shingles(text: str, w: int = DEFAULT.shingle_words) -> list[str]:
    """Word w-shingles; a document shorter than w words yields one shingle."""
    toks = text.split()
    if len(toks) <= w:
        return [" ".join(toks)] if toks else []
    return [" ".join(toks[i:i + w]) for i in range(len(toks) - w + 1)]


def _shingle_hashes(text: str, w: int) -> np.ndarray:
    """Distinct shingle hashes in [0, 2^31-1) as int64."""
    hs = {
        int.from_bytes(hashlib.blake2b(s.encode("utf-8"), digest_size=8).digest(), "big")
        % _P
        for s in shingles(text, w)
    }
    return np.fromiter(hs, dtype=np.int64, count=len(hs))


def minhash_signature(text: str, n_perms: int = DEFAULT.minhash_perms,
                      w: int = DEFAULT.shingle_words,
                      seed: int = DEFAULT.minhash_seed) -> np.ndarray:
    """128-perm MinHash signature of a document -> int32[n_perms].

    Empty documents get the all-max sentinel signature (never collides with a
    real band because real docs have >= 1 shingle).
    """
    if n_perms == DEFAULT.minhash_perms and seed == DEFAULT.minhash_seed:
        a, b = _A, _B
    else:
        a, b = _perm_params(n_perms, seed)
    x = _shingle_hashes(text, w)
    if x.size == 0:
        return np.full(n_perms, _P, dtype=np.int32)
    vals = (x[:, None] * a[None, :] + b[None, :]) % _P  # (n_shingles, n_perms)
    return vals.min(axis=0).astype(np.int32)


def minhash_batch(texts, n_perms: int = DEFAULT.minhash_perms,
                  w: int = DEFAULT.shingle_words) -> list[np.ndarray]:
    """Batch form used by the fused signatures Arrow UDF (wdd.udfs)."""
    return [minhash_signature(t if isinstance(t, str) else "", n_perms, w)
            for t in texts]


def jaccard_estimate(sig_a: np.ndarray, sig_b: np.ndarray) -> float:
    return float(np.mean(np.asarray(sig_a) == np.asarray(sig_b)))
