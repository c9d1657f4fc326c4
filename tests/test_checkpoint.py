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
