"""Seeded inputs for the benchmark.

Everything a run feeds the program derives from one integer seed: the
documents and embeddings, the row order and file assignment of the pages,
the serving captures, the lookup key mix and the ingest batch boundaries.
The same seed gives the same files.

Pages are not planted here: the seeded `documents` and `embeddings` tables
(the shape of the project's synthetic tables, TESTDATA.md) are written as
parquet and the project's own generator, wdd.sources.pages.synth_pages,
plants the duplicate classes and the truth pairs from them (see
`planted_pages`).

Serving captures follow the reference service's capture shape, as the
project records it (BASELINE.md; SURVEY.md L1, L3):

  * the CDX query collapses on `timestamp:9`, so a url keeps at most one
    capture per 9-digit prefix YYYYMMDDH: three slots a day (hours 0-9,
    10-19, 20-23), at most 1095 captures in a url-year;
  * the hot domain is the reference's motivating skew (twitter.com with
    167k captures a year, collapsed to the cap); its urls are captured in
    every slot and hold about a quarter of the rows, the share the
    corpus's hot.example domain has (FIXTURES.md);
  * year reads are paginated at the reference's 600 snapshots a page
    (number_per_page), so a hot url-year spans two pages.

What no document gives, and is assumed here: 1-30 captures a year on a
cold url, the request mix (REQUEST_MIX) and the ingest batch sizes.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("amber basin cedar delta ember fjord glade harbor inlet jetty knoll "
         "lagoon meadow nectar orchard prairie quarry ridge summit tundra "
         "upland valley willow yarrow zenith brook canyon dune estuary grove"
         ).split()
LANGS = ("en", "en", "en", "de", "es", "fr", "zh")
EMBED_DIM = 64
EPOCH_2019 = datetime(2019, 1, 1, tzinfo=timezone.utc)
# the captures are taken in 2019; the no-capture sentinels use 2018
CAPTURE_YEAR = "2019"
SENTINEL_YEAR = "2018"

# collapse=timestamp:9 slots of a day: (first hour, hours covered)
DAY_SLOTS = ((0, 10), (10, 10), (20, 4))
YEAR_SLOTS = 365 * len(DAY_SLOTS)          # 1095: the url-year cap
PER_PAGE = 600                             # reference number_per_page


def write_documents(rng: np.random.Generator, out_dir: str, n_docs: int,
                    n_vectors: int = 0, doc_id_base: int = 0) -> None:
    """Write documents.parquet (doc_id, text, lang, source, n_chars: 10-100
    tokens of a 30-word vocabulary) and, when n_vectors > 0,
    embeddings.parquet (vec_id, embedding, label) for the first n_vectors
    ids: random unit vectors, so unrelated pairs stay far below the
    pipeline's 0.9 cosine threshold."""
    os.makedirs(out_dir, exist_ok=True)
    lengths = rng.integers(10, 101, n_docs)
    words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_docs)]
    ids = [doc_id_base + i for i in range(n_docs)]
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out_dir}/documents.parquet")
    if n_vectors:
        v = rng.standard_normal((n_vectors, EMBED_DIM)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        pq.write_table(pa.table({
            "vec_id": pa.array(ids[:n_vectors], pa.int64()),
            "embedding": pa.array(v.tolist(), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_vectors), pa.int32()),
        }), f"{out_dir}/embeddings.parquet")


def planted_pages(spark, docs_dir: str, with_embeddings: bool,
                  with_truth: bool):
    """Pages and truth pairs planted by the project's generator over the
    seeded tables in docs_dir, collected to the driver. Returns
    (rows, truth): rows are dicts of the page columns with warc_ts in epoch
    seconds, truth a list of ((url, epoch s), (url, epoch s)) base/variant
    pairs (empty without truth)."""
    from pyspark.sql import functions as F
    from wdd.sources.pages import synth_pages
    pages, truth = synth_pages(spark, docs_dir, with_truth=with_truth,
                               with_embeddings=with_embeddings)
    epoch = F.unix_timestamp
    rows = [r.asDict() for r in pages.select(*[
        epoch(c).alias(c) if c == "warc_ts" else c
        for c in pages.columns]).collect()]
    pairs = [((r.url_a, r.ta), (r.url_b, r.tb)) for r in truth.select(
        "url_a", epoch("ts_a").alias("ta"), "url_b", epoch("ts_b").alias("tb")
    ).collect()] if with_truth else []
    return rows, pairs


def doc_id(url: str) -> int:
    """The document a planted page came from: the last path segment."""
    return int(url.rsplit("/", 1)[1])


def write_pages(rows: list[dict], out_dir: str, rng: np.random.Generator,
                files: int, columns: list[str]) -> None:
    """Write rows as `files` parquet files with a seeded row order and
    seeded file assignment."""
    os.makedirs(out_dir, exist_ok=True)
    order = rng.permutation(len(rows))
    types = {"warc_ts": pa.timestamp("s", tz="UTC"), "html": pa.binary(),
             "embedding": pa.list_(pa.float32())}
    for f, part in enumerate(np.array_split(order, files)):
        pq.write_table(pa.table({
            c: pa.array([rows[i][c] for i in part], types.get(c))
            for c in columns}), f"{out_dir}/part-{f:05d}.parquet")


def ts14(epoch_s: int) -> str:
    return datetime.fromtimestamp(epoch_s, timezone.utc).strftime("%Y%m%d%H%M%S")


def captures(rng: np.random.Generator, hot_urls: int, cold_urls: int,
             cold_max: int) -> list[tuple]:
    """Serving rows (url, epoch seconds, simhash64) of one capture year:
    every collapse slot of the year for a hot.example url, 1..cold_max
    seeded slots for a cold url; one seeded second inside each slot."""
    base = int(EPOCH_2019.timestamp())
    urls = [(f"http://hot.example/cap/{i}", YEAR_SLOTS) for i in range(hot_urls)]
    urls += [(f"http://dom{i % 50}.example/cap/{i}",
              int(rng.integers(1, cold_max + 1))) for i in range(cold_urls)]
    out = []
    for url, k in urls:
        slots = np.sort(rng.choice(YEAR_SLOTS, k, replace=False))
        sims = rng.integers(-2**63, 2**63 - 1, k, dtype=np.int64)
        for slot, sim in zip(slots, sims):
            day, s = divmod(int(slot), len(DAY_SLOTS))
            hour, span = DAY_SLOTS[s]
            t = (base + day * 86400 + hour * 3600
                 + int(rng.integers(span * 3600)))
            out.append((url, t, int(sim)))
    return out


# Request kinds of the serve client and their count in every block of ten
# requests (assumed: the reference publishes no traffic): point reads —
# hits, misses, and (url, year) pairs its discovery pass found empty —
# then paginated year reads and pairwise diff matrices. Each block is
# shuffled by the seed, so even a short run sends every kind.
REQUEST_MIX = (("hit", 3), ("miss", 1), ("sentinel", 1), ("year", 3),
               ("diff", 2))


def lookup_requests(rng: np.random.Generator, captures: dict, sentinels: list,
                    n: int) -> list[tuple]:
    """A seeded request stream for the serve client.

    captures: url -> {ts14: simhash64}; sentinels: [(url, year)], may be
    empty (a sentinel request then becomes a miss). Keys are drawn uniformly
    over captured rows, so the capture skew (hot urls hold about a quarter
    of the rows) carries into the key mix. Requests:
      ("point", url, ts14)                      hit, miss or sentinel year
      ("year", url, year, page, per_page)       paginated range read
      ("diff", url, year)                       pairwise Hamming matrix
    """
    rows = sorted((u, ts) for u, d in captures.items() for ts in d)
    block = [k for k, count in REQUEST_MIX for _ in range(count)]
    kinds = [k for _ in range(-(-n // len(block)))
             for k in rng.permutation(block)][:n]
    out: list[tuple] = []
    for kind in kinds:
        url, ts = rows[rng.integers(len(rows))]
        if kind == "sentinel" and sentinels:
            url, year = sentinels[rng.integers(len(sentinels))]
            out.append(("point", url, f"{year}0{1 + rng.integers(9)}15120000"))
        elif kind in ("miss", "sentinel"):
            if rng.random() < 0.5:
                url = f"http://cold{rng.integers(10**6)}.example/miss"
            t = datetime.strptime(ts, "%Y%m%d%H%M%S") + timedelta(
                seconds=1 + int(rng.integers(59)))
            out.append(("point", url, t.strftime("%Y%m%d%H%M%S")))
        elif kind == "hit":
            out.append(("point", url, ts))
        elif kind == "year":
            year = CAPTURE_YEAR
            if sentinels and rng.random() < 0.2:
                url, year = sentinels[rng.integers(len(sentinels))]
            elif rng.random() < 0.1:
                year = "2017"
            page = [None, 1, 2, 9][rng.integers(4)]
            out.append(("year", url, year, page, PER_PAGE if page else None))
        else:
            out.append(("diff", url, CAPTURE_YEAR))
    return out


def ingest_cuts(rng: np.random.Generator, n_docs: int, batches: int,
                min_docs: int) -> list[int]:
    """Seeded batch sizes: `batches` contiguous document ranges covering
    n_docs, each of at least min_docs documents."""
    spare = n_docs - batches * min_docs
    cuts = np.sort(rng.integers(0, spare + 1, batches - 1))
    sizes = np.diff(np.concatenate([[0], cuts, [spare]])) + min_docs
    return [int(s) for s in sizes]
