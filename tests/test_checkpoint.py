"""StageStore manifests: the row count comes from the parquet footers and
agrees with the stored data, and only a manifest moved into place whole
marks a stage as written."""
import json

import pytest
from pyspark.sql import functions as F

from wdd.checkpoint import StageStore


@pytest.fixture()
def frame(spark):
    return (spark.range(37).repartition(4)
            .select(F.col("id"), (F.col("id") % 3).alias("bucket"),
                    F.concat(F.lit("p"), F.col("id")).alias("name")))


def _rows(df):
    return sorted(tuple(r)
                  for r in df.select("id", "bucket", "name").collect())


@pytest.mark.parametrize("partition_by", [None, ["bucket"]])
def test_manifest_rows_match_stored_rows(spark, tmp_path, frame,
                                         partition_by):
    store = StageStore(tmp_path / "store", spark)
    out = store.materialize("s", frame, partition_by)
    m = store.manifest("s")
    assert m["rows"] == store.load("s").count() == 37
    assert m["written_files"] >= 1
    assert _rows(out) == _rows(frame)
    # resume: the manifest is present, so the stored rows come back
    again = StageStore(tmp_path / "store", spark).materialize(
        "s", frame.limit(0), partition_by)
    assert _rows(again) == _rows(frame)


def test_crash_mid_manifest_dump_leaves_stage_unwritten(spark, tmp_path,
                                                       frame, monkeypatch):
    """A crash mid-dump leaves only a truncated temp manifest: the stage
    does not exist, and the next materialize writes it."""
    from wdd import checkpoint

    def crash(obj, f, **kw):
        f.write(json.dumps(obj)[:20])
        raise OSError("disk full")

    store = StageStore(tmp_path / "store", spark)
    with monkeypatch.context() as m:
        m.setattr(checkpoint.json, "dump", crash)
        with pytest.raises(OSError, match="disk full"):
            store.materialize("s", frame)
    d = tmp_path / "store" / "s"
    assert (d / "_manifest.tmp").exists()
    assert not store.exists("s")
    store.materialize("s", frame)
    assert store.exists("s")
    assert json.loads((d / "_manifest.json").read_text())["rows"] == 37
    assert store.load("s").count() == 37


@pytest.mark.parametrize("partition_by", [None, ["bucket"]])
def test_stage_stored_with_other_columns_is_written_again(
        spark, tmp_path, frame, partition_by):
    """A stored stage whose columns differ from the frame's (written by
    code whose stage had another shape) is not resumed: the stage is
    written again from the frame, and the next call resumes it."""
    store = StageStore(tmp_path / "store", spark)
    store.materialize("s", frame.drop("name"), partition_by)
    out = store.materialize("s", frame, partition_by)
    assert _rows(out) == _rows(frame)
    assert store.manifest("s")["rows"] == 37
    again = store.materialize("s", frame.limit(0), partition_by)
    assert _rows(again) == _rows(frame)


def test_failed_rewrite_of_other_columns_leaves_stage_unwritten(
        spark, tmp_path, frame):
    """A stored stage with other columns is unlinked before it is written
    again: when that rewrite fails mid-write, the stage does not exist (the
    old manifest does not vouch for a half-overwritten directory), and the
    next materialize writes it whole."""
    store = StageStore(tmp_path / "store", spark)
    store.materialize("s", frame.drop("name"))
    boom = frame.withColumn(
        "name", F.when(F.col("id") == 17, F.raise_error(F.lit("boom")))
        .otherwise(F.col("name")))
    with pytest.raises(Exception, match="boom"):
        store.materialize("s", boom)
    assert not store.exists("s")
    out = store.materialize("s", frame)
    assert store.manifest("s")["rows"] == 37
    assert _rows(out) == _rows(frame)
