"""merge() of driver-local inputs (optimized plan = LocalRelation) takes its
touched buckets and ambiguity guard on the driver. It must leave exactly
the table state the Spark path leaves for the same rows."""

from __future__ import annotations

import tempfile
from decimal import Decimal as D

import pytest
from pyspark.sql import types as T

from fluss_iceberg_spark.lake.table import LakeCatalog, _is_driver_local

ONE_KEY = T.StructType(
    [
        T.StructField("k", T.StringType()),
        T.StructField("amt", T.DecimalType(15, 2)),
    ]
)
TWO_KEYS = T.StructType(
    [
        T.StructField("a", T.IntegerType()),
        T.StructField("b", T.StringType()),
        T.StructField("v", T.LongType()),
    ]
)

# (schema, pk, base rows, update rows, delete keys or None)
CASES = {
    "null-key": (
        ONE_KEY, ["k"],
        [("x", D("1.00")), (None, D("2.00")), ("y", D("3.00"))],
        [(None, D("9.50")), ("z", D("4.00"))],
        None,
    ),
    "two-column-pk": (
        TWO_KEYS, ["a", "b"],
        [(1, "p", 10), (1, None, 11), (2, "p", 12), (3, "q", 13)],
        [(1, None, 21), (2, "q", 22)],
        None,
    ),
    "duplicate-keys": (
        ONE_KEY, ["k"],
        [("x", D("1.00")), ("y", D("3.00"))],
        [("x", D("5.00")), ("x", D("5.00")), ("w", D("6.00")), ("w", D("6.00"))],
        None,
    ),
    "touched-and-untouched-buckets": (
        ONE_KEY, ["k"],
        [(f"key{i}", D(i)) for i in range(40)],
        [("key7", D("70.00"))],
        None,
    ),
    "deletes": (
        TWO_KEYS, ["a", "b"],
        [(1, "p", 10), (1, None, 11), (2, "p", 12), (3, "q", 13)],
        [(2, "p", 32), (4, "r", 34)],
        [(1, None), (3, "q"), (9, "absent")],
    ),
    "empty-table": (
        ONE_KEY, ["k"],
        [],
        [("x", D("1.00")), (None, D("2.00"))],
        None,
    ),
}


def _local(spark, rows, schema):
    df = spark.createDataFrame(spark.createDataFrame(rows, schema).toArrow(), schema)
    assert _is_driver_local(df)
    return df


def _distributed(spark, rows, schema):
    df = spark.createDataFrame(rows, schema)
    assert not _is_driver_local(df)
    return df


def _apply(spark, warehouse, case, make):
    schema, pk, base, upd, dels = CASES[case]
    t = LakeCatalog(spark, warehouse).create_table(
        "t", schema, primary_key=pk, n_buckets=8
    )
    if base:
        t.merge(_distributed(spark, base, schema))
    key_schema = T.StructType([schema[k] for k in pk])
    snap = t.merge(
        make(spark, upd, schema),
        None if dels is None else make(spark, dels, key_schema),
    )
    kept = len(set(snap.files) & set(t.snapshot(snap.parent_id).files)) if base else 0
    return (
        sorted(map(tuple, t.read().collect()), key=repr),
        snap.total_rows,
        sorted(snap.summary["touched_buckets"]),
        kept,
    )


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_merge_equals_spark_merge(spark, case):
    with tempfile.TemporaryDirectory() as d1, tempfile.TemporaryDirectory() as d2:
        local = _apply(spark, d1, case, _local)
        dist = _apply(spark, d2, case, _distributed)
    assert local == dist
    if case == "touched-and-untouched-buckets":
        assert local[2] == dist[2] and len(local[2]) == 1 and local[3] > 0


@pytest.mark.parametrize("make", [_local, _distributed], ids=["local", "spark"])
def test_key_in_updates_and_deletes_is_rejected(spark, make):
    with tempfile.TemporaryDirectory() as d:
        t = LakeCatalog(spark, d).create_table(
            "t", TWO_KEYS, primary_key=["a", "b"], n_buckets=4
        )
        t.merge(_distributed(spark, [(1, None, 1)], TWO_KEYS))
        key_schema = T.StructType([TWO_KEYS["a"], TWO_KEYS["b"]])
        with pytest.raises(ValueError, match="both updates and deletes"):
            t.merge(
                make(spark, [(1, None, 2)], TWO_KEYS),
                make(spark, [(1, None)], key_schema),
            )
