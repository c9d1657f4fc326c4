"""Vectorized Arrow UDF layer over wdd.kernels.

Every UDF here is an Arrow UDF (`pyspark.sql.functions.arrow_udf`): it takes
`pyarrow.Array`s and returns one, so values cross the Python boundary with
their Arrow types. No pandas conversion runs, and an int64 column that holds
a null stays exact on the way in and on the way out (pandas would turn it
into float64 and round every value in that batch).

No per-row Python UDFs anywhere in the engine (input_hint mandate). The hash
kernels batch work per Arrow batch: simhash hashes each distinct token once
per batch, minhash runs one (n_shingles x 128) matrix-min per doc. Cheap
column work (digest, year slicing, bit ops) stays JVM-side in
pyspark.sql.functions — see wdd.operators.

Reference surface covered: T1 extract (discover.py:31-53), T2/T3 simhash
(discover.py:56-68), T4 pack+b64 (discover.py:71-77,180-182), F2 url_fix
(discover.py:191), F3 surt (discover.py:233).
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pyarrow as pa
from pyspark.sql.functions import arrow_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from wdd.config import DEFAULT
from wdd.kernels import anchors as _anchors
from wdd.kernels import extract as _extract
from wdd.kernels import minhash as _minhash
from wdd.kernels import simhash as _simhash
from wdd.kernels.surt import surt as _surt_fn
from wdd.kernels.urls import url_fix as _url_fix_fn, url_is_valid as _url_is_valid_fn


def _bag(text) -> dict:
    """Whitespace token counts; null/non-str/empty text -> empty bag (null
    simhash)."""
    return dict(Counter(text.split())) if isinstance(text, str) and text else {}


def _b64(values: list, pack) -> pa.Array:
    """pack(v) per non-null value; a null stays null."""
    return pa.array([None if v is None else pack(v) for v in values],
                    pa.string())


def make_signatures_udf(simhash_size: int = 64,
                        hash_name: str = DEFAULT.simhash_hash,
                        from_html: bool = True,
                        anchor_window: tuple[int, int] | None = None):
    """T1+T3+MinHash fused in ONE Arrow round: content -> struct(text,
    simhash64|sim_parts, signature[, anchors]). The simhash field is the
    scalar long `simhash64` at f=64 and the array<long> of f/64 words
    `sim_parts` at any other byte-aligned f (the reference's prod f=256,
    conf.yml.example:2); both come from the one batch kernel.

    from_html=True extracts the text from raw html; from_html=False takes
    already-normalized text (a text-only pages table) as the text itself,
    with null text giving an empty feature bag (null simhash).

    anchor_window=(L, q) adds an `anchors` array<long> field: the substring
    anchors of the text (batch_anchor_hashes, L-char windows kept at 1 in q
    positions), so the substring stage needs no second Python round over
    the text. Without it the struct has no such field.

    Token-weight features never cross the process boundary and text crosses
    once; the outputs are bit-identical to the driver-side kernels
    (extract_text, simhash_parts_batch, minhash_signature,
    batch_anchor_hashes — pinned by tests/test_udfs.py). Safe under column
    pruning/collapse: Spark extracts one ArrowEvalPython node per distinct
    UDF call, so selecting every struct field still evaluates the UDF once
    per row."""
    wide = simhash_size != 64
    sim_name = "sim_parts" if wide else "simhash64"
    sim_type = ArrayType(LongType()) if wide else LongType()
    fields = [
        StructField("text", StringType()),
        StructField(sim_name, sim_type),
        StructField("signature", ArrayType(IntegerType())),
    ]
    if anchor_window is not None:
        fields.append(StructField("anchors", ArrayType(LongType())))
    sim_arrow = pa.list_(pa.int64()) if wide else pa.int64()

    @arrow_udf(StructType(fields))
    def signatures_udf(content: pa.Array) -> pa.Array:
        values = content.to_pylist()
        texts = ([_extract.extract_text(h) for h in values] if from_html
                 else values)
        feats = [_bag(t) for t in texts]
        sims = (_simhash.simhash_parts_batch(feats, simhash_size, hash_name)
                if wide else _simhash.simhash64_batch(feats, hash_name))
        # every signature holds DEFAULT.minhash_perms int32s: one flat
        # values buffer plus fixed-stride offsets
        sigs = np.array(_minhash.minhash_batch(texts), np.int32).reshape(-1)
        signature = pa.ListArray.from_arrays(
            pa.array(np.arange(len(texts) + 1, dtype=np.int32)
                     * DEFAULT.minhash_perms), pa.array(sigs))
        arrays = [pa.array(texts, pa.string()), pa.array(sims, sim_arrow),
                  signature]
        if anchor_window is not None:
            arrays.append(pa.array(
                _anchors.batch_anchor_hashes(texts, *anchor_window),
                pa.list_(pa.int64())))
        return pa.StructArray.from_arrays(arrays,
                                          names=[f.name for f in fields])
    return signatures_udf


@arrow_udf(LongType())
def simhash64_text_udf(text: pa.Array) -> pa.Array:
    """T1+T3 fused for already-normalized text columns (documents.text):
    features = whitespace token counts, then simhash64."""
    return pa.array(_simhash.simhash64_batch(
        [_bag(t) for t in text.to_pylist()], hash_name=DEFAULT.simhash_hash),
        pa.int64())


@arrow_udf(StringType())
def simhash_b64_udf(simhash64: pa.Array) -> pa.Array:
    """T4: signed int64 -> little-endian 8 bytes -> base64 (reference packing,
    discover.py:71-77 + 180-182, at f=64); null in, null out."""
    return _b64(simhash64.to_pylist(),
                lambda v: _simhash.parts_to_b64([v], 64))


def make_parts_b64_udf(simhash_size: int | None = None):
    """T4 at parametric f: 64-bit words -> little-endian bytes -> base64
    (reference packing, discover.py:71-77 + 180-182). With size=None the
    width is taken from the word count (f = 64 * len(parts))."""

    @arrow_udf(StringType())
    def parts_b64_udf(parts: pa.Array) -> pa.Array:
        return _b64(parts.to_pylist(), lambda p: _simhash.parts_to_b64(
            p, simhash_size or 64 * len(p)))
    return parts_b64_udf


@arrow_udf(StringType())
def surt_key_udf(url: pa.Array) -> pa.Array:
    """F3: SURT canonical grouping key ("" for a null or empty url)."""
    return pa.array([_surt_fn(u) if u else "" for u in url.to_pylist()],
                    pa.string())


@arrow_udf(StringType())
def url_fix_udf(url: pa.Array) -> pa.Array:
    """F2: werkzeug-style URL fixing (a null or empty url passes through)."""
    return pa.array([_url_fix_fn(u) if u else u for u in url.to_pylist()],
                    pa.string())


@arrow_udf(BooleanType())
def url_is_valid_udf(url: pa.Array) -> pa.Array:
    """F1: reference URL validation semantics."""
    return pa.array([_url_is_valid_fn(u) for u in url.to_pylist()],
                    pa.bool_())
