"""wdd — a from-scratch PySpark-native near-duplicate detection + clustering engine.

Capability parity target: sk-pathak/wayback-discover-diff (read-only reference
at /root/reference). The reference is a Flask+Celery+Redis service computing a
Charikar SimHash per web capture; this package generalizes that to batch
near-duplicate detection + clustering over columnar tables of
Common-Crawl-style pages (url, warc_ts, html, text, lang), expressed
Spark-first: DataFrame/SQL plans, vectorized Arrow UDFs for the hash
kernels, LSH + Hamming-pigeonhole candidate joins, and iterative hash-min
connected components.

Layout:
  wdd.config     — pinned algorithm configuration (simhash f, minhash perms, LSH bands)
  wdd.kernels    — pure-Python/numpy kernels, fixture-pinned to the reference
  wdd.udfs       — Arrow UDF wrappers over the kernels
  wdd.operators  — DataFrame-level operators (dedup, lsh, pigeonhole, cc, ...)
  wdd.sources    — table IO + deterministic synthetic pages generator
  wdd.pipeline   — end-to-end staged pipeline with checkpoints + metrics
"""

__version__ = "0.1.0"
