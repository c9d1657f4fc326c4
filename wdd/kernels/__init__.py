"""Pure-Python / numpy kernels, fixture-pinned to the reference.

No Spark imports here — these are the single source of truth for the hash and
extraction semantics; wdd.udfs wraps them in vectorized Arrow UDFs, and the
parity tests in tests/test_reference_parity.py pin them to the reference's
golden fixtures (reference tests/test_discover.py, tests/test_util.py).
"""

from wdd.kernels.extract import extract_html_features, extract_text
from wdd.kernels.simhash import (
    calculate_simhash,
    custom_hash_function,
    pack_simhash_to_bytes,
    simhash64_batch,
)
from wdd.kernels.minhash import minhash_signature, minhash_batch, shingles
from wdd.kernels.surt import surt
from wdd.kernels.urls import url_fix, url_is_valid

__all__ = [
    "extract_html_features",
    "extract_text",
    "calculate_simhash",
    "custom_hash_function",
    "pack_simhash_to_bytes",
    "simhash64_batch",
    "minhash_signature",
    "minhash_batch",
    "shingles",
    "surt",
    "url_fix",
    "url_is_valid",
]
