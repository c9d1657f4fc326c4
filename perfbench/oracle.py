"""Driver-side serving oracle.

Answers the three read calls from plain Python dictionaries built out of the
collected simhashes table plus the sentinel rows the benchmark wrote, with
the reference service's semantics (its util.py, as pinned by
tests/test_query_layer.py):

  * point: exact (url, ts14) hit -> {"simhash": b64}; else a bare-year
    sentinel for ts14[:4] -> NO_CAPTURES; else CAPTURE_NOT_FOUND.
  * year: sentinel for the year -> NO_CAPTURES; no capture in the year ->
    NOT_CAPTURED; else [rows, total] with rows [ts14, b64] in timestamp
    order, paginated (page clamped to the last page, ["pages", n] header)
    and total counting every capture of the year.
  * diff: every (ts_a < ts_b) pair of the year's captures with the Hamming
    distance of their 64-bit simhashes, as three int64 arrays (timestamps
    as the integer YYYYMMDDhhmmss) in (ts_a, ts_b) order: a hot url-year at
    the 1095-capture cap has ~600k pairs.

It shares no code with wdd.operators.lookup: simhash packing, pagination and
Hamming distance are computed here independently.
"""

from __future__ import annotations

import base64
from math import ceil

import numpy as np

NO_CAPTURES = {"status": "error", "message": "NO_CAPTURES"}
CAPTURE_NOT_FOUND = {"status": "error", "message": "CAPTURE_NOT_FOUND"}
NOT_CAPTURED = {"status": "error", "message": "NOT_CAPTURED"}
_MASK = (1 << 64) - 1


def b64_of(simhash64: int) -> str:
    """Little-endian 8-byte packing of the (two's complement) 64-bit value."""
    return base64.b64encode((simhash64 & _MASK).to_bytes(8, "little")).decode()


class ServeOracle:
    def __init__(self, captures: dict[str, dict[str, int]],
                 sentinels: list[tuple[str, str]]):
        self.captures = captures
        self.sentinel = {(u, y) for u, y in sentinels}

    def point(self, url: str, ts14: str) -> dict:
        sim = self.captures.get(url, {}).get(ts14)
        if sim is not None:
            return {"simhash": b64_of(sim)}
        if (url, ts14[:4]) in self.sentinel:
            return NO_CAPTURES
        return CAPTURE_NOT_FOUND

    def year(self, url: str, year: str, page=None, per_page=None):
        if (url, year) in self.sentinel:
            return NO_CAPTURES
        caps = sorted((ts, b64_of(s)) for ts, s in
                      self.captures.get(url, {}).items() if ts[:4] == year)
        if not caps:
            return NOT_CAPTURED
        total = len(caps)
        rows = [[ts, b] for ts, b in caps]
        if page:
            n_pages = ceil(total / per_page)
            page = min(page, n_pages)
            rows = [["pages", n_pages]] + rows[(page - 1) * per_page:
                                               page * per_page]
        return [rows, total]

    def diff(self, url: str, year: str):
        caps = sorted((ts, s) for ts, s in
                      self.captures.get(url, {}).items() if ts[:4] == year)
        ts = np.array([int(t) for t, _ in caps], dtype=np.int64)
        sims = np.array([s for _, s in caps], dtype=np.int64)
        a, b = np.triu_indices(len(caps), k=1)
        xor = (sims[a] ^ sims[b]).view(np.uint8).reshape(-1, 8)
        return ts[a], ts[b], np.unpackbits(xor, axis=1).sum(axis=1)
