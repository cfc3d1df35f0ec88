"""Tiering a layout-free log table adopts the staged hot files: hard links
into ``data/s{N}/`` plus one commit, with no Spark job. Tables that need a
layout, or files staged under another schema, keep the rewrite."""

from __future__ import annotations

import datetime
import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluss_iceberg_spark.lake.table import LakeCatalog

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("v", T.StringType()),
    ]
)
JAN = datetime.datetime(2024, 1, 15)
MAR = datetime.datetime(2024, 3, 15)


def _batch(spark, lo, hi, ts):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        (F.lit(ts).cast("timestamp") + F.expr("make_interval(0,0,0,0,0,0,id)"))
        .alias("ts"),
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("v"),
    )


def _staged_log_table(spark, path, **kw):
    t = LakeCatalog(spark, str(path)).create_table("log_t", SCHEMA, **kw)
    t.write_hot_batch(_batch(spark, 0, 10, JAN), batch_id=1)
    t.write_hot_batch(_batch(spark, 10, 20, MAR), batch_id=2)
    return t


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _jobs_during(spark, fn):
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None))
    out = fn()
    return out, len(set(st.getJobIdsForGroup(None)) - before)


def _linked_from_hot(t, relpath) -> bool:
    st = os.stat(os.path.join(t.path, relpath))
    hot = os.path.join(t.path, "hot")
    return any(
        os.path.samestat(st, os.stat(os.path.join(d, f)))
        for d, _, fs in os.walk(hot)
        for f in fs
        if f.endswith(".parquet")
    )


def test_tier_runs_no_spark_job(spark, tmp_path):
    t = _staged_log_table(spark, tmp_path)
    snap, jobs = _jobs_during(spark, t.tier)
    assert jobs == 0
    assert snap.operation == "tier" and snap.hot_watermark == 2
    assert snap.total_rows == 20


def test_adopted_files_and_watermark_in_one_commit(spark, tmp_path):
    t = _staged_log_table(spark, tmp_path)
    before = _rows(t.union_read())
    versions = t.snapshot_versions()
    snap = t.tier()
    assert t.snapshot_versions() == versions + [snap.snapshot_id]
    with open(t._meta(f"v{snap.snapshot_id}.json")) as f:
        raw = json.load(f)
    # the committed snapshot lists exactly the linked hot files, under the
    # new snapshot's data dir, next to the advanced watermark
    assert raw["hot_watermark"] == 2
    assert raw["summary"]["tiered_batches"] == [1, 2]
    assert raw["files"] and all(
        f.startswith(f"data/s{snap.snapshot_id}/") and _linked_from_hot(t, f)
        for f in raw["files"]
    )
    assert _rows(t.union_read()) == before
    assert _rows(t.read()) == before
    assert t.read_hot().count() == 0


def test_adopted_timestamp_column_has_stats_and_prunes(spark, tmp_path):
    t = _staged_log_table(spark, tmp_path)
    snap = t.tier()
    for f in snap.files:
        lo, hi = snap.file_meta[f]["stats"]["ts"]
        assert lo is not None and hi is not None
    where = [("ts", ">=", datetime.datetime(2024, 3, 1))]
    kept = t.plan_scan(where)
    assert kept and len(kept) < len(snap.files)
    assert all(os.path.basename(f).startswith("batch2-") for f in kept)
    assert sorted(r.k for r in t.read(where=where).collect()) == list(range(10, 20))


@pytest.mark.parametrize(
    "kw",
    [
        {"properties": {"write.sort-order": "k"}},
        {"properties": {"write.clustered-by": "ts"}},
        {"partition_by": ["days(ts)"]},
    ],
    ids=["sort-order", "clustered-by", "partitioned"],
)
def test_layout_tables_rewrite(spark, tmp_path, kw):
    t = _staged_log_table(spark, tmp_path, **kw)
    before = _rows(t.union_read())
    snap = t.tier()
    new = [f for f in snap.files if f.startswith(f"data/s{snap.snapshot_id}/")]
    assert new and not any(_linked_from_hot(t, f) for f in new)
    assert _rows(t.read()) == before


def test_schema_change_after_staging_rewrites(spark, tmp_path):
    t = _staged_log_table(spark, tmp_path)
    t.add_column("extra", T.IntegerType())
    snap = t.tier()
    assert not any(_linked_from_hot(t, f) for f in snap.files)
    rows = t.read().collect()
    assert len(rows) == 20 and all(r.extra is None for r in rows)


def test_crash_between_link_and_commit(spark, tmp_path, monkeypatch):
    t = _staged_log_table(spark, tmp_path)
    want = _rows(t.union_read())

    def crash(*a, **k):
        raise RuntimeError("crash before the snapshot write")

    def tier_crashing():
        with monkeypatch.context() as m:
            m.setattr(t, "_commit", crash)
            with pytest.raises(RuntimeError, match="crash"):
                t.tier()

    tier_crashing()
    # the links are invisible debris: the watermark did not move
    assert t.snapshot() is None
    assert _rows(t.union_read()) == want
    debris = t.remove_orphan_files()
    assert debris and all(f.startswith("data/") for f in debris)
    assert t.remove_orphan_files() == []
    # the hot copies survive the sweep
    assert _rows(t.read_hot()) == want

    tier_crashing()
    snap = t.tier()  # the retry clears the same dir's debris
    assert snap.hot_watermark == 2
    assert _rows(t.read()) == want
    assert _rows(t.union_read()) == want
    assert t.remove_orphan_files() == []
