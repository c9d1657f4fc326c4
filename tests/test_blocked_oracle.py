"""Brute-force oracle for the batch pipeline's blocked edge sources.

From the reps' own columns (rep = min page_id of a digest, with the
digest's sim, minhash signature and substring anchors), the oracle pairs
every rep with every other on the driver, in numpy:

  samesim     equal non-null sims: star edges from the group's min rep;
  lsh         non-null-sim reps whose signatures agree on every row of
              some band, kept when the estimate (the share of equal
              signature positions) is >= jaccard_threshold; score = it;
  pigeonhole  distinct non-null sims within Hamming k, each mapped to the
              min rep of its sim; no score;
  substring   reps that share an anchor (a null-sim rep too); score = L.

The pipeline's stored edges_samesim and edges_blocked stages must equal
that row for row. The corpora are small (every key group stays under
band_group_cap, so every group is fully paired) and always hold a null
and an empty page.
"""
import string
import tempfile

import numpy as np
import pytest
from hypothesis import HealthCheck, Phase, given, settings, strategies as st
from pyspark.sql import functions as F

from wdd.checkpoint import StageStore
from wdd.config import WddConfig
from wdd.pipeline import run_dedup_pipeline
from wdd.sources.pages import synth_pages

VOCAB = ("amber basin cedar delta ember fjord glade harbor inlet jetty knoll "
         "lagoon marsh").split()


def _sim_col(cfg: WddConfig) -> str:
    return "simhash64" if cfg.simhash_size == 64 else "sim_parts"


def _reps(res, cfg: WddConfig) -> list[tuple]:
    """(rep, sim, signature, anchors) per digest, collected."""
    rows = (res.pages.groupBy("digest").agg(F.min("page_id").alias("rep"))
            .join(res.signatures.select("digest", _sim_col(cfg), "signature",
                                        "anchors"), "digest")
            .collect())
    return sorted((r.rep, r[_sim_col(cfg)], r.signature, r.anchors)
                  for r in rows)


def _words(sim) -> list[int]:
    """A sim as unsigned 64-bit words (one for f=64)."""
    return [w & (2**64 - 1) for w in (sim if isinstance(sim, list) else [sim])]


def _hamming(x, y) -> int:
    return sum((a ^ b).bit_count() for a, b in zip(_words(x), _words(y)))


def _blocks(sim, cfg: WddConfig) -> list[tuple[int, int]]:
    """(block index, block value) of a sim's pigeonhole blocks."""
    bits = "".join(f"{w:064b}"[::-1] for w in _words(sim))  # LSB first
    width = cfg.simhash_size // cfg.n_blocks
    return [(j, int(bits[j * width:(j + 1) * width], 2))
            for j in range(cfg.n_blocks)]


def _bands(sig, cfg: WddConfig) -> np.ndarray:
    return np.asarray(sig).reshape(cfg.lsh_bands, cfg.lsh_rows)


def oracle(reps: list[tuple], cfg: WddConfig) -> tuple[set, set]:
    """(samesim edges, blocked edges) as sets of (a, b, source, score)."""
    samesim, blocked = set(), set()
    nd = [r for r in reps if r[1] is not None]
    by_sim: dict = {}
    for rep, sim, _, _ in nd:
        by_sim.setdefault(repr(sim), (sim, []))[1].append(rep)
    for _, members in by_sim.values():
        samesim |= {(min(members), m, "samesim", 1.0)
                    for m in members if m != min(members)}

    if nd:
        ids = np.array([r[0] for r in nd], dtype=np.int64)
        sig = np.array([r[2] for r in nd], dtype=np.int64)
        eq = sig[:, None, :] == sig[None, :, :]
        est = eq.mean(axis=-1)
        shared_band = eq.reshape(len(nd), len(nd), cfg.lsh_bands,
                                 cfg.lsh_rows).all(axis=-1).any(axis=-1)
        hit = shared_band & (est >= cfg.jaccard_threshold)
        for i, j in zip(*np.nonzero(np.triu(hit, k=1))):
            a, b = sorted((int(ids[i]), int(ids[j])))
            blocked.add((a, b, "lsh", float(est[i, j])))

    one_per_sim = sorted((min(m), sim) for sim, m in by_sim.values())
    for x, (ra, sa) in enumerate(one_per_sim):
        for rb, sb in one_per_sim[x + 1:]:
            if _hamming(sa, sb) <= cfg.hamming_k:
                blocked.add((ra, rb, "pigeonhole", None))

    anchors = [(r[0], set(r[3] or ())) for r in reps]
    for x, (ra, sa) in enumerate(anchors):
        for rb, sb in anchors[x + 1:]:
            if sa & sb:
                blocked.add((min(ra, rb), max(ra, rb), "substring",
                             float(cfg.min_overlap_chars)))
    return samesim, blocked


def _rows(df) -> set:
    return {(r.a, r.b, r.source, r.score) for r in df.collect()}


def _run_stored(spark, pages, cfg: WddConfig, root: str):
    store = StageStore(root, spark)
    res = run_dedup_pipeline(spark, pages, cfg=cfg, store=store)
    return res, store


@st.composite
def corpora(draw):
    """Text pages: a few base documents over a small vocabulary, then
    near copies (a few words replaced), reorders (same bag, other bytes),
    exact copies and splices (a run of one doc inside another), and a null
    and an empty page."""
    bases = [draw(st.lists(st.sampled_from(VOCAB), min_size=20, max_size=60))
             for _ in range(draw(st.integers(4, 10)))]
    docs = [list(b) for b in bases]
    for _ in range(draw(st.integers(6, 24))):
        kind = draw(st.sampled_from(["edit", "reorder", "exact", "splice"]))
        src = list(draw(st.sampled_from(docs)))
        if kind == "edit":
            for _ in range(draw(st.integers(1, 3))):
                src[draw(st.integers(0, len(src) - 1))] = draw(
                    st.sampled_from(VOCAB + list(string.ascii_lowercase)))
        elif kind == "reorder":
            src = src[::-1]
        elif kind == "splice":
            other = draw(st.sampled_from(bases))
            cut = draw(st.integers(0, len(other)))
            src = other[:cut] + src + other[cut:]
        docs.append(src)
    texts = [" ".join(d) for d in docs] + [None, ""]
    return [(f"http://o.example/{i}", text) for i, text in enumerate(texts)]


# (lsh_bands, lsh_rows, jaccard_threshold): the default banding, and one
# band per signature row with every band-sharing pair kept. Over the small
# vocabulary two unrelated documents share about one 3-shingle, so pairs
# whose signatures agree at a single position, and share a single band,
# are common there.
BANDINGS = [(32, 4, 0.7), (128, 1, 0.0)]


@pytest.mark.parametrize("f", [64, 256])
def test_blocked_edges_equal_brute_force_oracle(spark, f):
    # no shrink phase: each step would run one more pipeline
    @settings(max_examples=5, deadline=None, derandomize=True,
              database=None, phases=[Phase.generate],
              suppress_health_check=[HealthCheck.too_slow,
                                     HealthCheck.data_too_large])
    @given(corpora(), st.sampled_from(BANDINGS), st.sampled_from([3, 7]),
           st.sampled_from([24, 100]))
    def check(rows, banding, k, overlap):
        bands, r, t = banding
        cfg = WddConfig(simhash_size=f, hamming_k=k, n_blocks=k + 1,
                        lsh_bands=bands, lsh_rows=r, jaccard_threshold=t,
                        min_overlap_chars=overlap, anchor_modulus=4)
        pages = spark.createDataFrame(rows, "url string, text string") \
            .withColumn("warc_ts", F.to_timestamp(F.lit("2019-01-01")))
        with tempfile.TemporaryDirectory() as root:
            res, store = _run_stored(spark, pages, cfg, root)
            try:
                reps = _reps(res, cfg)
                assert len(reps) <= cfg.band_group_cap
                want_samesim, want_blocked = oracle(reps, cfg)
                assert _rows(store.load("edges_samesim")) == want_samesim
                assert _rows(store.load("edges_blocked")) == want_blocked
            finally:
                res.release()

    check()


def _shares_key(source: str, x: tuple, y: tuple, cfg: WddConfig) -> bool:
    """Do reps x and y share a key of blocking scheme `source`?"""
    if source == "lsh":
        return bool((_bands(x[2], cfg) == _bands(y[2], cfg)).all(-1).any())
    if source == "pigeonhole":
        return bool(set(_blocks(x[1], cfg)) & set(_blocks(y[1], cfg)))
    return bool(set(x[3] or ()) & set(y[3] or ()))


def _cluster_sets(clusters) -> set:
    by_c: dict = {}
    for r in clusters.select("page_id", "cluster_id").collect():
        by_c.setdefault(r.cluster_id, set()).add(r.page_id)
    return {frozenset(v) for v in by_c.values()}


def test_salted_mega_groups_keep_each_edges_source(spark, sf_dir, tmp_path):
    """With huge_group_rows=2 every key group of three or more reps takes
    the salted two-level star path of pairs_from_groups_scalable. Each
    blocked edge still carries the scheme whose key both its ends share,
    and the clusters equal those of the fully paired run."""
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    pages = pages.limit(150).localCheckpoint(eager=True)
    cfg = WddConfig(huge_group_rows=2)
    res, store = _run_stored(spark, pages, cfg, str(tmp_path / "salted"))
    reps = {r[0]: r for r in _reps(res, cfg)}

    # the salted path is reached: some key group holds more than two reps
    groups: dict = {}
    for rep in reps.values():
        if rep[1] is not None:
            for b, row in enumerate(_bands(rep[2], cfg)):
                groups.setdefault(("lsh", b, tuple(row)), set()).add(rep[0])
        for anchor in rep[3] or ():
            groups.setdefault(("substring", anchor), set()).add(rep[0])
    assert max(len(g) for g in groups.values()) > cfg.huge_group_rows

    edges = _rows(store.load("edges_blocked"))
    assert {e[2] for e in edges} >= {"lsh", "substring"}
    for a, b, source, _ in edges:
        assert _shares_key(source, reps[a], reps[b], cfg), (a, b, source)

    full = run_dedup_pipeline(spark, pages)
    assert _cluster_sets(res.clusters) == _cluster_sets(full.clusters)
    res.release()
    full.release()
