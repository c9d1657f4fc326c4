"""Brute-force oracle for the batch pipeline's embedding edge source.

From the reps' embeddings (rep = min page_id of a digest, with that
digest's non-null vector), the oracle pairs every rep with every other on
the driver and keeps the pairs at exact cosine >= cosine_dup_threshold,
scored by the cosine rounded to 6 dp. Its arithmetic is the stage's own:
float vectors widened to double, left-to-right sums, dot / (|a| |b|).

The pipeline's stored edges_embedding stage is sign-LSH candidates plus
that exact re-rank, so it must be a subset of the oracle with equal
scores, and must hold every planted pair: exact vector copies and near
copies at cosine >= 0.99. Every corpus holds a page with a null embedding
and an exact content copy whose embedding is null.
"""
import math
import tempfile
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from hypothesis import HealthCheck, Phase, given, settings, strategies as st
from pyspark.sql import functions as F

from wdd.checkpoint import StageStore
from wdd.config import WddConfig
from wdd.pipeline import run_dedup_pipeline

DIM = 16


def _dot(x, y) -> float:
    acc = 0.0
    for a, b in zip(x, y):
        acc += a * b
    return acc


def _round6(x: float) -> float:
    """Spark's round(x, 6): HALF_UP on the double's decimal string."""
    return float(Decimal(repr(x)).quantize(Decimal("1e-6"), ROUND_HALF_UP))


def oracle(reps: dict[int, list[float]], threshold: float) -> set:
    """(a, b, score) of every rep pair at cosine >= threshold, a < b."""
    ids = sorted(reps)
    norm = {r: math.sqrt(_dot(reps[r], reps[r])) for r in ids}
    out = set()
    for x, a in enumerate(ids):
        for b in ids[x + 1:]:
            cos = _dot(reps[a], reps[b]) / (norm[a] * norm[b])
            if cos >= threshold:
                out.add((a, b, _round6(cos)))
    return out


def _f32(v) -> list[float]:
    return np.asarray(v, dtype=np.float32).tolist()


@st.composite
def corpora(draw):
    """(url, text, embedding, family) rows: base vectors from a seeded
    normal draw, then exact vector copies and near copies (cosine >= 0.99
    to their source) under new text, each in its source's family; an exact
    content copy with a null embedding; and a page with a null embedding."""
    rng = np.random.Generator(np.random.PCG64(draw(st.integers(0, 2**32))))
    vecs = [(_f32(v), f) for f, v in enumerate(
        rng.standard_normal((draw(st.integers(3, 12)), DIM)))]
    for _ in range(draw(st.integers(1, 12))):
        src, family = vecs[draw(st.integers(0, len(vecs) - 1))]
        if draw(st.booleans()):
            noise = rng.standard_normal(DIM)
            noise *= 0.05 * np.linalg.norm(src) / np.linalg.norm(noise)
            near = _f32(np.asarray(src) + noise)
            assert _dot(src, near) / math.sqrt(
                _dot(src, src) * _dot(near, near)) >= 0.99
            vecs.append((near, family))
        else:
            vecs.append((src, family))
    rows = [(f"http://e.example/{i}", f"page {i} words", v, f)
            for i, (v, f) in enumerate(vecs)]
    twin = draw(st.integers(0, len(rows) - 1))
    rows.append(("http://e.example/twin", rows[twin][1], None, rows[twin][3]))
    rows.append(("http://e.example/null", "a page with no vector", None, -1))
    return rows


def _rep_vectors(res, rows) -> tuple[dict, dict]:
    """(rep -> embedding, rep -> family) over the digests with a vector."""
    by_url = {u: (v, f) for u, _, v, f in rows}
    members: dict = {}
    for r in res.simhashes.select("url", "page_id", "digest").collect():
        members.setdefault(r.digest, []).append((r.page_id, *by_url[r.url]))
    vecs, family = {}, {}
    for group in members.values():
        rep = min(p for p, _, _ in group)
        got = {tuple(v) for _, v, _ in group if v is not None}
        assert len(got) <= 1  # one vector per content, as constructed
        if got:
            vecs[rep] = list(got.pop())
            family[rep] = group[0][2]
    return vecs, family


def test_embedding_edges_match_brute_force_oracle(spark):
    # no shrink phase: each step would run one more pipeline
    @settings(max_examples=5, deadline=None, derandomize=True,
              database=None, phases=[Phase.generate],
              suppress_health_check=[HealthCheck.too_slow,
                                     HealthCheck.data_too_large])
    @given(corpora(), st.sampled_from([0.9, 0.7]))
    def check(rows, threshold):
        cfg = WddConfig(cosine_dup_threshold=threshold)
        pages = spark.createDataFrame(
            [r[:3] for r in rows],
            "url string, text string, embedding array<float>",
        ).withColumn("warc_ts", F.to_timestamp(F.lit("2019-01-01")))
        with tempfile.TemporaryDirectory() as root:
            store = StageStore(root, spark)
            res = run_dedup_pipeline(spark, pages, cfg=cfg, store=store)
            try:
                vecs, family = _rep_vectors(res, rows)
                want = oracle(vecs, threshold)
                got = {(r.a, r.b, r.score) for r in
                       store.load("edges_embedding").collect()}
                assert got <= want, got - want
                planted = {e for e in want if family[e[0]] == family[e[1]]}
                assert planted and planted <= got, planted - got
                if threshold == 0.9:
                    assert got == want
            finally:
                res.release()

    check()
