"""North-rule requirements: resumability (checkpointed stages) and
partitioning/parallelism invariance of the results."""
import json

from pyspark.sql import functions as F

from wdd.checkpoint import StageStore
from wdd.pipeline import run_dedup_pipeline
from wdd.sources.pages import synth_pages


def _cluster_sets(clusters):
    """Canonical partition of urls into clusters (ids are run-dependent;
    the grouping is what must be invariant)."""
    rows = clusters.select("url", "warc_ts", "cluster_id").collect()
    by_c = {}
    for r in rows:
        by_c.setdefault(r.cluster_id, set()).add((r.url, str(r.warc_ts)))
    return {frozenset(v) for v in by_c.values()}


def test_stage_store_resume(spark, sf_dir, tmp_path):
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    pages = pages.limit(150).localCheckpoint(eager=True)

    store1 = StageStore(str(tmp_path / "run"), spark)
    res1 = run_dedup_pipeline(spark, pages, store=store1)
    first = _cluster_sets(res1.clusters)

    # every stage has a manifest with rows + config echo
    for stage in ("prep", "signatures", "simhashes", "edges_exact",
                  "edges_blocked",
                  "candidate_pairs", "clusters"):
        assert store1.exists(stage), stage
        m = store1.manifest(stage)
        assert m["rows"] >= 0 and "config" in m and m["wall_ms"] >= 0

    # resume against the same store: must load, not recompute, and agree.
    # Passing a DIFFERENT pages frame proves stages come from the store.
    empty = pages.limit(0)
    store2 = StageStore(str(tmp_path / "run"), spark)
    res2 = run_dedup_pipeline(spark, empty, store=store2)
    assert _cluster_sets(res2.clusters) == first


def test_parallelism_invariance(spark, sf_dir):
    """Same clusters regardless of shuffle width (SURVEY.md §5.5)."""
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    pages = pages.limit(200).localCheckpoint(eager=True)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        res_a = run_dedup_pipeline(spark, pages.repartition(2))
        sets_a = _cluster_sets(res_a.clusters)
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        res_b = run_dedup_pipeline(spark, pages.repartition(9))
        sets_b = _cluster_sets(res_b.clusters)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert sets_a == sets_b


def test_entry_smoke(spark):
    import __spark_entry__ as e
    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert set(df.columns) == {"cluster_id", "n_pages", "rep_url"}
    q, o = e.queries(), e.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) >= 20 and len(o) >= 15
