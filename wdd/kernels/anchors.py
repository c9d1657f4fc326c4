"""Content-defined substring anchors: rolling Karp-Rabin hashes of L-byte
windows, kept where hash % q == 0 (~1 in q positions).

Identical L-byte runs in two documents give identical anchor hashes no matter
where they sit, so documents sharing an anchor share an exact window (up to a
64-bit collision). numpy only: wdd.operators.substring joins on these, and
the fused signature UDF (wdd.udfs) computes them in the same Arrow round as
the simhash and minhash.
"""

from __future__ import annotations

import numpy as np

_B = np.uint64(1000003)  # odd polynomial base; arithmetic wraps mod 2^64


def _window_hashes(c: np.ndarray, L: int) -> np.ndarray:
    """uint64 hash of every L-byte window of c (len(c) >= L):
    win[i] = sum_{j<L} c[i+j] * B^(L-1-j) (mod 2^64), computed as L shifted
    vector multiply-adds, all numpy-side."""
    with np.errstate(over="ignore"):
        powers = np.empty(L, dtype=np.uint64)
        powers[0] = 1
        if L > 1:
            np.multiply.accumulate(np.full(L - 1, _B, dtype=np.uint64),
                                   out=powers[1:])
        m = c.size - L + 1
        win = np.zeros(m, dtype=np.uint64)
        cu = c.astype(np.uint64)
        for j in range(L):
            win += cu[j:j + m] * powers[L - 1 - j]
    return win


def rolling_anchor_hashes(text: str, L: int, q: int) -> np.ndarray:
    """int64 hashes of the L-char windows at content-defined anchor positions."""
    if not text or len(text) < L:
        return np.empty(0, dtype=np.int64)
    c = np.frombuffer(text.encode("utf-8", "surrogatepass"), dtype=np.uint8)
    if c.size < L:
        return np.empty(0, dtype=np.int64)
    win = _window_hashes(c, L)
    return np.unique(win[win % np.uint64(q) == 0]).view(np.int64)


def batch_anchor_hashes(texts: list, L: int, q: int) -> list[list[int]]:
    """Whole-batch anchor hashing: one rolling-hash pass over the
    concatenated batch with boundary masking — the L-term multiply-add loop
    runs once per Arrow batch instead of once per document (~5-10x on short
    docs). Windows that straddle a document boundary are masked out, so the
    result per doc is exactly rolling_anchor_hashes(doc), sorted; a null or
    non-str entry has no anchors."""
    enc = [t.encode("utf-8", "surrogatepass") if isinstance(t, str) else b""
           for t in texts]
    lens = np.fromiter((len(e) for e in enc), dtype=np.int64, count=len(enc))
    n = int(lens.sum())
    if n == 0 or n < L:
        return [[] for _ in texts]
    win = _window_hashes(np.frombuffer(b"".join(enc), dtype=np.uint8), L)
    starts = np.concatenate(([0], np.cumsum(lens)))[:-1]
    anchored_pos = np.nonzero(win % np.uint64(q) == 0)[0]
    # window at global pos p belongs to doc d iff it lies fully inside d
    doc_idx = np.searchsorted(starts, anchored_pos, side="right") - 1
    valid = anchored_pos + L <= (starts + lens)[doc_idx]
    anchored_pos, doc_idx = anchored_pos[valid], doc_idx[valid]
    out: list[list[int]] = [[] for _ in texts]
    vals = win[anchored_pos].view(np.int64)
    for d, v in zip(doc_idx, vals):
        out[d].append(int(v))
    return [sorted(set(v)) for v in out]
