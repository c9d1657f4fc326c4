"""Stage-tagged Spark jobs: every job a pipeline run submits carries exactly
one tag of that run's stages (RunScope.stage), and the run's stage records
read their Spark cost back from the status store by those tags."""
import json
import threading

import pytest

from wdd.pipeline import run_dedup_pipeline
from wdd.sources.pages import synth_pages


class _Store:
    """The status store's job and stage records, as JSON, after the
    listener bus has caught up."""

    def __init__(self, spark):
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jvm, store = sc._jvm, sc._jsc.sc().statusStore()
        m = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        m.registerModule(
            jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self.jobs = {j["jobId"]: j for j in json.loads(
            m.writeValueAsString(store.jobsList(None)))}
        self.stages = {s["stageId"]: s for s in json.loads(
            m.writeValueAsString(store.stageList(
                None, False, False, sc._gateway.new_array(jvm.double, 0),
                jvm.java.util.ArrayList())))}

    def last_job(self) -> int:
        return max(self.jobs, default=-1)

    def wdd_tags(self, jid: int) -> list[str]:
        return [t for t in self.jobs[jid]["jobTags"] if t.startswith("wdd:")]


def _run(spark, pages):
    """(result, ids of the jobs submitted between the call and its return)"""
    first = _Store(spark).last_job() + 1
    res = run_dedup_pipeline(spark, pages)
    after = _Store(spark)
    return res, [j for j in after.jobs if j >= first]


@pytest.fixture(scope="module")
def tagged_run(spark, sf_dir):
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    res, jids = _run(spark, pages)
    yield res, jids
    res.release()


def test_every_job_of_a_run_carries_one_stage_tag(tagged_run, spark):
    res, jids = tagged_run
    assert jids, "the run submitted no Spark job"
    store = _Store(spark)
    tags = set(res.scope.tags.values())
    for jid in jids:
        got = store.wdd_tags(jid)
        assert len(got) == 1 and got[0] in tags, (jid, got)
    assert all("," not in t for t in tags)
    assert {"prep", "signatures", "clusters"} <= set(res.scope.tags)


def test_stage_costs_sum_to_the_tagged_jobs_totals(tagged_run, spark):
    res, _ = tagged_run
    res.clusters.write.format("noop").mode("overwrite").save()
    res.metrics.harvest()
    store = _Store(spark)
    tags = set(res.scope.tags.values())
    jobs = [j for j in store.jobs
            if set(store.wdd_tags(j)) & tags]
    stage_ids = {s for j in jobs for s in store.jobs[j]["stageIds"]}
    task_s = sum(store.stages[s]["executorRunTime"]
                 for s in stage_ids if s in store.stages) / 1000.0
    recs = res.metrics.records
    assert sum(r.jobs for r in recs) == len(jobs) > 0
    assert sum(r.task_s for r in recs) == pytest.approx(task_s, abs=1e-6)
    assert task_s > 0
    by_stage = {r.stage: r for r in recs}
    assert by_stage["signatures"].jobs > 0    # the UDF sizing aggregate
    assert by_stage["clusters"].rows_out > 0


def test_tags_are_removed_after_the_run(tagged_run, spark):
    first = _Store(spark).last_job() + 1
    spark.range(7).count()
    t = threading.Thread(target=lambda: spark.range(11).count())
    t.start()
    t.join()
    store = _Store(spark)
    new = [j for j in store.jobs if j >= first]
    assert new
    assert all(not store.wdd_tags(j) for j in new)
    assert not [t for t in spark.sparkContext.getJobTags()
                if t.startswith("wdd:")]


def test_interleaved_runs_get_disjoint_tags(spark, sf_dir):
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    small = pages.limit(120)
    first = _Store(spark).last_job() + 1
    out = {}

    def run(key):
        out[key] = run_dedup_pipeline(spark, small)

    threads = [threading.Thread(target=run, args=(k,)) for k in "ab"]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    a, b = set(out["a"].scope.tags.values()), set(out["b"].scope.tags.values())
    assert a and b and not a & b
    store = _Store(spark)
    for jid in (j for j in store.jobs if j >= first):
        got = store.wdd_tags(jid)
        assert len(got) == 1 and got[0] in a | b, (jid, got)
    for res in out.values():
        res.release()


def test_eager_stages_was_removed(spark, sf_dir):
    pages, _ = synth_pages(spark, sf_dir, with_truth=False)
    with pytest.raises(ValueError, match="removed"):
        run_dedup_pipeline(spark, pages, eager_stages=True)
