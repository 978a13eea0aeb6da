"""Tests for keyed dedup (A5/A6) and merge upsert (A7/A8/J3)."""

from __future__ import annotations

from pyspark.sql import Row

from smart_fraud_detection_data_pipeline_spark.operators.dedup import (
    dedup_keep_last,
    union_slices,
)
from smart_fraud_detection_data_pipeline_spark.operators.merge import merge_upsert


def test_dedup_keep_last_survivor(spark):
    df = spark.createDataFrame(
        [
            Row(k=1, v="old", batch=1),
            Row(k=1, v="new", batch=2),
            Row(k=2, v="only", batch=1),
            Row(k=3, v="a", batch=5),
            Row(k=3, v="b", batch=4),
        ]
    )
    out = {r.k: r.v for r in dedup_keep_last(df, ["k"], ["batch"]).collect()}
    assert out == {1: "new", 2: "only", 3: "a"}

    first = {r.k: r.v for r in dedup_keep_last(df, ["k"], ["batch"], keep="first").collect()}
    assert first == {1: "old", 2: "only", 3: "b"}


def test_union_slices_by_name(spark):
    a = spark.createDataFrame([Row(x=1, y="a")])
    b = spark.createDataFrame([Row(y="b", x=2)])  # reordered columns
    out = union_slices(a, b).orderBy("x").collect()
    assert [(r.x, r.y) for r in out] == [(1, "a"), (2, "b")]


def test_merge_upsert_semantics(spark):
    target = spark.createDataFrame(
        [Row(k=1, v=10.0, n=1), Row(k=2, v=20.0, n=2), Row(k=3, v=30.0, n=3)]
    )
    source = spark.createDataFrame(
        [Row(k=2, v=99.0, n=9), Row(k=4, v=40.0, n=4)]
    )
    out = {r.k: (r.v, r.n) for r in merge_upsert(target, source, ["k"]).collect()}
    assert out == {
        1: (10.0, 1),  # untouched target row survives
        2: (99.0, 9),  # matched → source wins
        3: (30.0, 3),
        4: (40.0, 4),  # source-only → inserted
    }


def test_merge_upsert_null_key_source_wins(spark):
    """eqNullSafe admits NULL keys: a source row with a NULL key must
    UPDATE the matching NULL-key target row (source wins), not be
    misclassified as unmatched (VERDICT r1 / ADVICE: merge.py match flag).
    """
    target = spark.createDataFrame(
        [Row(k=None, v=1.0, n=1), Row(k=2, v=20.0, n=2)],
        "k int, v double, n int",
    )
    source = spark.createDataFrame(
        [Row(k=None, v=99.0, n=9), Row(k=3, v=30.0, n=3)],
        "k int, v double, n int",
    )
    out = {r.k: (r.v, r.n) for r in merge_upsert(target, source, ["k"]).collect()}
    assert out == {
        None: (99.0, 9),  # null-safe match → source wins
        2: (20.0, 2),
        3: (30.0, 3),
    }
    # the internal marker column must not leak into the output schema
    assert "__src" not in merge_upsert(target, source, ["k"]).columns


def test_merge_upsert_dedups_source_keep_last(spark):
    target = spark.createDataFrame([Row(k=1, v=1.0, b=0)])
    source = spark.createDataFrame(
        [Row(k=1, v=5.0, b=1), Row(k=1, v=7.0, b=2)]
    )
    out = merge_upsert(target, source, ["k"], order_by=["b"]).collect()
    assert len(out) == 1 and out[0].v == 7.0 and out[0].b == 2


def test_merge_upsert_partitioned_null_partition_rows_survive(spark):
    """NULL partition values must be routed like any other value — plain
    isin() three-valued logic would silently drop them from BOTH the
    touched and untouched branches (review r2)."""
    from smart_fraud_detection_data_pipeline_spark.operators.merge import (
        merge_upsert_partitioned,
    )

    target = spark.createDataFrame(
        [("a", 1, 10.0), ("b", 2, 20.0), (None, 3, 30.0), (None, 4, 40.0)],
        "part string, k long, v double",
    )
    # source touches partition 'a' only: NULL-partition target rows pass through
    source = spark.createDataFrame([("a", 1, 11.0)], "part string, k long, v double")
    got = {
        (r.part, r.k): r.v
        for r in merge_upsert_partitioned(target, source, ["part", "k"], "part").collect()
    }
    assert got == {("a", 1): 11.0, ("b", 2): 20.0, (None, 3): 30.0, (None, 4): 40.0}

    # source with a NULL partition: the NULL partition is "touched" and merges
    source2 = spark.createDataFrame(
        [(None, 3, 33.0), (None, 5, 50.0)], "part string, k long, v double"
    )
    got2 = {
        (r.part, r.k): r.v
        for r in merge_upsert_partitioned(target, source2, ["part", "k"], "part").collect()
    }
    assert got2 == {
        ("a", 1): 10.0,
        ("b", 2): 20.0,
        (None, 3): 33.0,  # updated
        (None, 4): 40.0,  # kept
        (None, 5): 50.0,  # inserted
    }


def test_merge_upsert_rejects_reserved_marker_column(spark):
    import pytest

    from smart_fraud_detection_data_pipeline_spark.operators.merge import merge_upsert

    df = spark.createDataFrame([(1, 1)], "k long, __src long")
    with pytest.raises(ValueError, match="__src"):
        merge_upsert(df, df, ["k"])


def test_merge_upsert_delete_tombstones(spark):
    """WHEN MATCHED AND flag THEN DELETE (round 8): a flagged source
    row deletes its matched target row; a flagged row with no match
    inserts nothing; a NULL flag means 'not a tombstone' (plain
    upsert); the flag column never reaches the output."""
    target = spark.createDataFrame(
        [Row(k=1, v=10.0), Row(k=2, v=20.0), Row(k=3, v=30.0), Row(k=None, v=0.0)],
        "k int, v double",
    )
    source = spark.createDataFrame(
        [
            Row(k=2, v=99.0, is_del=True),    # matched tombstone -> deleted
            Row(k=3, v=33.0, is_del=None),    # NULL flag -> updates
            Row(k=4, v=44.0, is_del=True),    # unmatched tombstone -> no-op
            Row(k=5, v=55.0, is_del=False),   # unmatched -> inserted
            Row(k=None, v=9.0, is_del=True),  # NULL-KEY tombstone: eqNullSafe
                                              # match -> deletes the NULL row
        ],
        "k int, v double, is_del boolean",
    )
    merged = merge_upsert(target, source, ["k"], delete_col="is_del")
    assert merged.columns == ["k", "v"]
    out = {r.k: r.v for r in merged.collect()}
    assert out == {1: 10.0, 3: 33.0, 5: 55.0}

