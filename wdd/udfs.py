"""Vectorized pandas/Arrow UDF layer over wdd.kernels.

Every UDF here is Arrow-batched (no per-row Python UDFs anywhere in the
engine — input_hint mandate). The hash kernels batch work per Arrow batch:
simhash hashes each distinct token once per batch, minhash runs one
(n_shingles x 128) matrix-min per doc. Cheap column work (digest, year
slicing, bit ops) stays JVM-side in pyspark.sql.functions — see wdd.operators.

Reference surface covered: T1 extract (discover.py:31-53), T2/T3 simhash
(discover.py:56-68), T4 pack+b64 (discover.py:71-77,180-182), F2 url_fix
(discover.py:191), F3 surt (discover.py:233).
"""

from __future__ import annotations

import struct
import base64
from collections import Counter

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

from wdd.config import DEFAULT
from wdd.kernels import extract as _extract
from wdd.kernels import minhash as _minhash
from wdd.kernels import simhash as _simhash
from wdd.kernels.surt import surt as _surt_fn
from wdd.kernels.urls import url_fix as _url_fix_fn, url_is_valid as _url_is_valid_fn


def _nullable(values: list) -> pd.Series:
    """Per-row simhashes with None for empty feature bags, as an object
    Series: pandas infers float64 for int64 values mixed with None, and
    Arrow's unsafe cast back to long then drops the low bits of every
    simhash in that batch."""
    return pd.Series(values, dtype=object)


_EXTRACT_TYPE = StructType([
    StructField("text", StringType()),
    StructField("features", MapType(StringType(), IntegerType())),
])


@pandas_udf(_EXTRACT_TYPE)
def extract_features_udf(html: pd.Series) -> pd.DataFrame:
    """T1: raw html (binary or string) -> (normalized text, token weights)."""
    texts = [_extract.extract_text(h) for h in html]
    feats = [dict(Counter(t.split())) if t else {} for t in texts]
    return pd.DataFrame({"text": texts, "features": feats})


def make_signatures_udf(simhash_size: int = 64,
                        hash_name: str = DEFAULT.simhash_hash,
                        from_html: bool = True):
    """T1+T3+MinHash fused in ONE Arrow round: content -> struct(text,
    simhash64|sim_parts, signature). The simhash field is the scalar long
    `simhash64` at f=64 and the array<long> of f/64 words `sim_parts` at
    any other byte-aligned f (the reference's prod f=256,
    conf.yml.example:2); both come from the one batch kernel.

    from_html=True extracts the text from raw html; from_html=False takes
    already-normalized text (a text-only pages table) as the text itself,
    with null/non-str text giving an empty feature bag (null simhash).

    This is the signature hot path's boundary-bytes optimization: the
    separate extract -> hash UDF plan ships the token-weight features MAP
    out of Python and straight back in (map serialization is the largest
    Arrow payload of the stage — one child entry per distinct token), and
    text out/in once more. Fused, features never cross the boundary and
    text crosses once. Per-batch vectorization is identical to the
    separate UDFs (same kernels, bit-identical outputs — pinned by
    tests/test_udfs.py::test_fused_signatures_matches_separate_udfs).
    Safe under column pruning/collapse: Spark extracts one ArrowEvalPython
    node per distinct UDF call, so selecting all three struct fields
    still evaluates the UDF once per row."""
    wide = simhash_size != 64
    sim_field = (StructField("sim_parts", ArrayType(LongType())) if wide
                 else StructField("simhash64", LongType()))
    out_type = StructType([
        StructField("text", StringType()),
        sim_field,
        StructField("signature", ArrayType(IntegerType())),
    ])

    @pandas_udf(out_type)
    def signatures_udf(content: pd.Series) -> pd.DataFrame:
        texts = ([_extract.extract_text(h) for h in content] if from_html
                 else list(content))
        feats = [dict(Counter(t.split())) if isinstance(t, str) and t else {}
                 for t in texts]
        sims = (_simhash.simhash_parts_batch(feats, simhash_size, hash_name)
                if wide else _simhash.simhash64_batch(feats, hash_name))
        sigs = [s.tolist() for s in _minhash.minhash_batch(texts)]
        return pd.DataFrame({"text": texts, sim_field.name: _nullable(sims),
                             "signature": sigs})
    return signatures_udf


@pandas_udf(LongType())
def simhash64_udf(features: pd.Series) -> pd.Series:
    """T3 at f=64 with the production blake2b token hash."""
    return _nullable(_simhash.simhash64_batch(
        list(features), hash_name=DEFAULT.simhash_hash))


@pandas_udf(LongType())
def simhash64_text_udf(text: pd.Series) -> pd.Series:
    """T1+T3 fused for already-normalized text columns (documents.text):
    features = whitespace token counts, then simhash64."""
    feats = [dict(Counter(t.split())) if isinstance(t, str) and t else {}
             for t in text]
    return _nullable(_simhash.simhash64_batch(
        feats, hash_name=DEFAULT.simhash_hash))


@pandas_udf(ArrayType(IntegerType()))
def minhash128_udf(text: pd.Series) -> pd.Series:
    """128-perm MinHash signature over word shingles."""
    return pd.Series([sig.tolist() for sig in _minhash.minhash_batch(list(text))])


@pandas_udf(StringType())
def simhash_b64_udf(simhash64: pd.Series) -> pd.Series:
    """T4: signed int64 -> little-endian 8 bytes -> base64 (reference packing,
    discover.py:71-77 + 180-182, at f=64)."""
    return pd.Series([
        base64.b64encode(struct.pack("<q", int(v))).decode("ascii")
        if pd.notna(v) else None
        for v in simhash64
    ])


def make_simhash_parts_udf(simhash_size: int = 256,
                           hash_name: str = DEFAULT.simhash_hash):
    """Reference-prod config (f=256, conf.yml.example:2) HOT PATH: SimHash at
    any byte-aligned f as array<long> of f/64 little-endian 64-bit words
    (word j = bits [64j, 64j+64) of the reference integer), vectorized per
    Arrow batch like simhash64_udf. Input: {token: weight} features map."""

    @pandas_udf(ArrayType(LongType()))
    def simhash_parts_udf(features: pd.Series) -> pd.Series:
        return pd.Series(_simhash.simhash_parts_batch(
            [dict(f) if f else {} for f in features], simhash_size, hash_name))
    return simhash_parts_udf


def make_parts_b64_udf(simhash_size: int | None = None):
    """T4 at parametric f: 64-bit words -> little-endian bytes -> base64
    (reference packing, discover.py:71-77 + 180-182). With size=None the
    width is taken from the word count (f = 64 * len(parts))."""

    @pandas_udf(StringType())
    def parts_b64_udf(parts: pd.Series) -> pd.Series:
        return pd.Series([
            _simhash.parts_to_b64(list(p), simhash_size or 64 * len(p))
            if p is not None else None
            for p in parts
        ])
    return parts_b64_udf


def make_simhash_bytes_udf(simhash_size: int = 256):
    """Reference-prod config path (f=256, conf.yml.example:2): packed
    little-endian bytes (BinaryType) per discover.py:71-77, blake2b token
    hash. Width-parametric; the pure kernel handles any f <= 512."""
    from pyspark.sql.types import BinaryType

    @pandas_udf(BinaryType())
    def simhash_bytes_udf(features: pd.Series) -> pd.Series:
        out = []
        for feats in features:
            if not feats:
                out.append(None)
                continue
            h = _simhash.calculate_simhash(dict(feats), simhash_size,
                                           _simhash.custom_hash_function)
            out.append(_simhash.pack_simhash_to_bytes(h, simhash_size))
        return pd.Series(out)
    return simhash_bytes_udf


@pandas_udf(StringType())
def surt_key_udf(url: pd.Series) -> pd.Series:
    """F3: SURT canonical grouping key."""
    return pd.Series([_surt_fn(u) if u else "" for u in url])


@pandas_udf(StringType())
def url_fix_udf(url: pd.Series) -> pd.Series:
    """F2: werkzeug-style URL fixing."""
    return pd.Series([_url_fix_fn(u) if u else u for u in url])


@pandas_udf(BooleanType())
def url_is_valid_udf(url: pd.Series) -> pd.Series:
    """F1: reference URL validation semantics."""
    return pd.Series([_url_is_valid_fn(u) for u in url])
