"""Charikar SimHash — reference-parity kernel + vectorized numpy batch kernel.

Semantics pinned empirically against the reference's golden fixtures
(SURVEY.md §8.1; reference discover.py:56-77 and tests/test_discover.py:83-211):

  * default token hash (golden fixture path): big-endian int of md5(token_utf8);
  * production token hash: big-endian int of blake2b(token_utf8) (512-bit),
    reference custom_hash_function, discover.py:56-59;
  * the token hash is masked to the LOW f bits;
  * weighted bit vote per bit i (LSB-indexed): bit_i = 1 iff
    2 * sum(weights of tokens with bit_i set) > sum(all weights)
    — strict majority, ties -> 0;
  * packing (discover.py:71-77): little-endian, f//8 bytes when size given,
    else minimal width.

Golden: calculate_simhash({'two':2,'three':3,'one':1}, 128)
        == 66237222457941138286276456718971054176.
"""

from __future__ import annotations

import base64
import hashlib

import numpy as np


def _md5_hash_function(x: bytes) -> int:
    return int.from_bytes(hashlib.md5(x).digest(), byteorder="big")


def custom_hash_function(x: bytes) -> int:
    """Production token hash (reference discover.py:56-59)."""
    return int.from_bytes(hashlib.blake2b(x).digest(), byteorder="big")


def calculate_simhash(features_dict: dict[str, int], simhash_size: int,
                      hashfunc=None) -> int:
    """SimHash of a {token: weight} dict (reference discover.py:62-68)."""
    if hashfunc is None:
        hashfunc = _md5_hash_function
    mask = (1 << simhash_size) - 1
    total = 0
    sums = [0] * simhash_size
    for token, weight in features_dict.items():
        h = hashfunc(token.encode("utf-8")) & mask
        total += weight
        i = 0
        while h:
            if h & 1:
                sums[i] += weight
            h >>= 1
            i += 1
    value = 0
    for i in range(simhash_size):
        if 2 * sums[i] > total:
            value |= 1 << i
    return value


def pack_simhash_to_bytes(simhash: int, simhash_size: int | None = None) -> bytes:
    """Little-endian packing (reference discover.py:71-77)."""
    if simhash_size is None:
        size_in_bytes = (simhash.bit_length() + 7) // 8
    else:
        size_in_bytes = simhash_size // 8
    return simhash.to_bytes(size_in_bytes, byteorder="little")


def simhash_b64(simhash: int, simhash_size: int) -> str:
    """base64 of the packed simhash (reference discover.py:180-182)."""
    return base64.b64encode(pack_simhash_to_bytes(simhash, simhash_size)).decode("ascii")


# ---------------------------------------------------------------------------
# Vectorized batch kernel (the UDF hot path): one kernel at every width;
# f=64's scalar long is its one-word view.
# ---------------------------------------------------------------------------

def simhash_parts_batch(features_list, simhash_size: int,
                        hash_name: str = "blake2b") -> list[list[int] | None]:
    """SimHash at any byte-aligned f <= 512 over a batch of {token: weight}
    dicts -> per-doc list of f/64 signed int64 words, little-endian word
    order (word j holds bits [64j, 64j+64) of the reference integer — the
    same layout pack_simhash_to_bytes(h, f) writes, 8 bytes per word).

    The hot path at every width: the north-star f=64 (simhash64_batch) and
    the reference's production f=256 (conf.yml.example:2; discover.py:95-96
    enforces f <= 512). Hashes each distinct token once per batch (the batch
    analog of the reference's per-task digest memo, discover.py:160-163),
    then does the weighted bit vote as one matrix product per document.

    Empty feature bags yield None (not an all-zero vector): the reference
    skips captures with no extracted features entirely (discover.py:158
    `if data:`), so extraction-failed pages must never share a simhash
    value — an all-zero sentinel would star-weld every failed page into
    one cluster in the pipeline's samesim stage.
    """
    assert simhash_size % 64 == 0 and simhash_size <= 512
    n_parts = simhash_size // 64
    n_bytes = simhash_size // 8
    if hash_name == "blake2b":
        digest = hashlib.blake2b
    elif hash_name == "md5":
        digest = hashlib.md5
    else:
        raise ValueError(f"unknown simhash token hash {hash_name!r}")
    out: list[list[int] | None] = [[0] * n_parts if feats else None
                                   for feats in features_list]
    vocab: dict[str, int] = {}
    for feats in features_list:
        if feats:
            for tok in feats:
                if tok not in vocab:
                    vocab[tok] = len(vocab)
    if not vocab:
        return out
    # low f bits of the big-endian digest int == its last f/8 bytes;
    # unpackbits is MSB-first, so reverse columns for LSB-first bit index
    buf = np.empty((len(vocab), n_bytes), dtype=np.uint8)
    for i, tok in enumerate(vocab):
        dg = digest(tok.encode("utf-8")).digest()
        if len(dg) < n_bytes:      # digest shorter than f: high bits are 0
            dg = b"\x00" * (n_bytes - len(dg)) + dg
        buf[i] = np.frombuffer(dg[-n_bytes:], dtype=np.uint8)
    bits = np.unpackbits(buf, axis=1)[:, ::-1].astype(np.int64)  # (V, f)
    for d, feats in enumerate(features_list):
        if not feats:
            continue
        idx = np.fromiter((vocab[t] for t in feats), dtype=np.int64,
                          count=len(feats))
        w = np.fromiter(feats.values(), dtype=np.int64, count=len(feats))
        ones = w @ bits[idx]                           # (f,) per LSB-first bit
        bitvals = (2 * ones > int(w.sum())).astype(np.uint8)
        for j in range(n_parts):
            word = np.packbits(bitvals[64 * j:64 * (j + 1)],
                               bitorder="little").tobytes()
            out[d][j] = int.from_bytes(word, "little", signed=True)
    return out


def parts_to_b64(parts: list[int], simhash_size: int) -> str:
    """base64 of the little-endian packed simhash, from its 64-bit words —
    byte-identical to simhash_b64(h, f) (reference discover.py:71-77)."""
    import struct
    raw = b"".join(struct.pack("<q", int(w)) for w in parts)
    return base64.b64encode(raw[:simhash_size // 8]).decode("ascii")


def simhash64_batch(features_list, hash_name: str = "blake2b") -> list:
    """SimHash f=64 over a batch of {token: weight} dicts -> list of int64
    values (None for empty feature bags): the one-word view of
    simhash_parts_batch, whose single little-endian signed word IS the
    signed 64-bit reference integer."""
    return [p[0] if p is not None else None
            for p in simhash_parts_batch(features_list, 64, hash_name)]
