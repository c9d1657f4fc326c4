"""Query-serving layer: the reference's read API re-expressed over the
simhash_index table (SURVEY.md §3.2-3.3).

Reference semantics being reproduced (pinned by its tests/test_util.py):
  * timestamp_simhash (util.py:32-46): point lookup by (surt(url), ts14);
    miss falls back to the bare-year sentinel -> NO_CAPTURES, else
    CAPTURE_NOT_FOUND.
  * year_simhash (util.py:49-70): list timestamps under the key, bare-year
    sentinel -> NO_CAPTURES, no match -> NOT_CAPTURED, else paginated
    [[ts, simhash], ...] rows + total via handle_results (util.py:73-97).
  * compress_captures (util.py:117-143): dictionary-encode hashes
    (first-seen order) + nest captures by year/month/day.

Storage model: sentinel rows live in the same table with ts14 = bare year and
simhash_b64 = '-1' (exactly the reference's Redis layout, discover.py:263-269).
The index is bucketed by url hash and sorted by (surt_key, ts14)
(wdd.pipeline.build_simhash_index), so these filters prune to one bucket and
min/max-skip within it; results are tiny API payloads, so collect() here is
the correct boundary between the distributed plan and the serving layer.
"""

from __future__ import annotations

from collections import defaultdict
from math import ceil

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wdd.kernels.surt import surt

NO_CAPTURES = {"status": "error", "message": "NO_CAPTURES"}
CAPTURE_NOT_FOUND = {"status": "error", "message": "CAPTURE_NOT_FOUND"}
NOT_CAPTURED = {"status": "error", "message": "NOT_CAPTURED"}


def timestamp_simhash(index: DataFrame, url: str, timestamp: str) -> dict:
    """Point lookup (S5). Reference util.py:32-46."""
    if url and timestamp:
        key = surt(url)
        rows = (index.where((F.col("surt_key") == key) &
                            F.col("ts14").isin([timestamp, timestamp[:4]]))
                .select("ts14", "simhash_b64").collect())
        by_ts = {r.ts14: r.simhash_b64 for r in rows}
        hit = by_ts.get(timestamp)
        if hit and hit != "-1":
            return {"simhash": hit}
        if by_ts.get(timestamp[:4]):
            return NO_CAPTURES
    return CAPTURE_NOT_FOUND


def year_simhash(index: DataFrame, url: str, year, page: int | None = None,
                 snapshots_per_page: int | None = None):
    """Year range read (S6+S7+L3). Reference util.py:49-70."""
    if not url or not year:
        return NOT_CAPTURED
    key = surt(url)
    # the year-prefix predicate is pushed into the scan (min/max skipping on
    # the sorted ts14 column) instead of collecting every ts under the key
    # and filtering driver-side; the bare-year sentinel row shares the
    # prefix, so sentinel detection still sees it. A key with rows only in
    # OTHER years collects nothing and returns NOT_CAPTURED — same outcome
    # the reference's full-scan-then-filter produces (util.py:49-70).
    rows = (index.where((F.col("surt_key") == key)
                        & F.col("ts14").startswith(str(year)))
            .select("ts14", "simhash_b64")
            .orderBy("ts14")
            .collect())
    if not rows:
        return NOT_CAPTURED
    sentinel = any(r.ts14 == str(year) for r in rows)
    if sentinel:
        return NO_CAPTURES
    matches = [(r.ts14, r.simhash_b64) for r in rows
               if r.ts14[:4] == str(year) and len(r.ts14) == 14]
    if not matches:
        return NOT_CAPTURED
    return handle_results(matches, snapshots_per_page, page)


def handle_results(matches: list[tuple[str, str]],
                   snapshots_per_page: int | None, page: int | None = None):
    """Pagination semantics of reference util.py:73-97 (clamp page, slice,
    prepend ["pages", n])."""
    total = len(matches)
    number_of_pages = None
    if page:
        number_of_pages = ceil(total / snapshots_per_page)
        page = min(page, number_of_pages)
        if number_of_pages > 0:
            matches = matches[(page - 1) * snapshots_per_page:
                              page * snapshots_per_page]
        else:
            number_of_pages = 1
    available = [[ts, sim] for ts, sim in matches]
    if page:
        available.insert(0, ["pages", number_of_pages])
    return [available, total]


def compress_captures(captures: list[list]) -> tuple[list, list]:
    """Dictionary-encode + nest by y/m/d (reference util.py:117-143 parity;
    first-seen hash ids, insertion-ordered nesting)."""
    hashdict: dict[str, int] = {}
    grouped = defaultdict(lambda: defaultdict(lambda: defaultdict(list)))
    for ts, simhash in captures:
        year, month, day, hms = ts[0:4], ts[4:6], ts[6:8], ts[8:]
        hashid = hashdict.get(simhash)
        if hashid is None:
            hashid = len(hashdict)
            hashdict[simhash] = hashid
        grouped[int(year)][int(month)][int(day)].append([hms, hashid])
    new_captures = [
        [y] + [
            [m] + [
                [d] + dc for d, dc in mc.items()
            ] for m, mc in yc.items()
        ] for y, yc in grouped.items()
    ]
    hashes = [h for h, _ in sorted(hashdict.items(), key=lambda x: x[1])]
    return (new_captures, hashes)


def compress_captures_df(index: DataFrame) -> DataFrame:
    """Bulk DataFrame form of A4/A5: per surt_key, nest captures by y/m/d and
    dictionary-encode simhashes with deterministic first-seen ids (A5's
    first-seen order made deterministic by ordering on first capture ts)."""
    first_seen = (
        index.groupBy("surt_key", "simhash_b64")
        .agg(F.min("ts14").alias("first_ts"))
        # tie-break on the hash value itself: two hashes first seen at the
        # same ts14 would otherwise get nondeterministic ids
        .withColumn("hash_id",
                    F.row_number().over(
                        Window.partitionBy("surt_key")
                        .orderBy("first_ts", "simhash_b64")) - 1)
        .select("surt_key", "simhash_b64", "hash_id")
    )
    return (
        index.join(first_seen, ["surt_key", "simhash_b64"])
        .withColumn("year", F.substring("ts14", 1, 4).cast("int"))
        .withColumn("month", F.substring("ts14", 5, 2).cast("int"))
        .withColumn("day", F.substring("ts14", 7, 2).cast("int"))
        .withColumn("hms", F.substring("ts14", 9, 6))
        .groupBy("surt_key", "year", "month", "day")
        .agg(F.sort_array(F.collect_list(F.struct("hms", "hash_id")))
             .alias("captures"))
    )


def capture_diff_matrix(index: DataFrame, url: str, year: str) -> DataFrame:
    """The reference's end purpose — 'discover which captures differ': the
    pairwise Hamming distances between one URL's captures in a year.
    After surt_key+year pruning the capture set is tiny (<= ~1095 by the
    reference's own collapse policy), so the pairwise self-join is bounded.

    Output: (ts_a, ts_b, hamming) with ts_a < ts_b. Handles both simhash
    layouts: scalar long `simhash64` (f=64) and array<long> `sim_parts`
    (the reference's prod f=256 config, conf.yml.example:2)."""
    key = surt(url)
    sim_col = "sim_parts" if "sim_parts" in index.columns else "simhash64"
    caps = (index.where((F.col("surt_key") == key)
                        & (F.substring("ts14", 1, 4) == str(year))
                        & (F.length("ts14") == 14))
            .select("ts14", sim_col))
    a = caps.select(F.col("ts14").alias("ts_a"), F.col(sim_col).alias("_sa"))
    b = caps.select(F.col("ts14").alias("ts_b"), F.col(sim_col).alias("_sb"))
    if sim_col == "sim_parts":
        from wdd.operators.pigeonhole import hamming_parts_col
        ham = hamming_parts_col("_sa", "_sb")
    else:
        ham = F.bit_count(F.col("_sa").bitwiseXOR(F.col("_sb")))
    return (a.join(b, F.col("ts_a") < F.col("ts_b"))
            .select("ts_a", "ts_b", ham.cast("long").alias("hamming")))
