"""Tests for constraint checking and parquet compaction."""

from __future__ import annotations

import glob
import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from smart_fraud_detection_data_pipeline_spark.operators.quality import compact_parquet, constraint_report


def test_constraint_report_counts(spark):
    df = spark.createDataFrame(
        [Row(x=1, s="a"), Row(x=-1, s="b"), Row(x=2, s=None), Row(x=None, s="a")]
    )
    out = {
        r.rule: (r.n_rows, r.n_violations)
        for r in constraint_report(
            df,
            {
                "x_positive": F.col("x") > 0,  # -1 and null x violate
                "s_not_null": F.col("s").isNotNull(),
                "always_ok": F.lit(True),
            },
        ).collect()
    }
    assert out == {
        "x_positive": (4, 2),  # null predicate counts as violation
        "s_not_null": (4, 1),
        "always_ok": (4, 0),
    }


def test_compact_parquet_reduces_files_preserves_rows(spark, tmp_path):
    p = str(tmp_path / "frag")
    # fragment: 20 tiny files
    for i in range(20):
        spark.range(i * 10, (i + 1) * 10).coalesce(1).write.mode("append").parquet(p)
    before_files = len(glob.glob(os.path.join(p, "*.parquet")))
    assert before_files >= 20
    before = spark.read.parquet(p)
    before_sum = before.agg(F.sum("id")).collect()[0][0]

    n = compact_parquet(spark, p, target_file_mb=256)
    after_files = len(glob.glob(os.path.join(p, "*.parquet")))
    after = spark.read.parquet(p)
    assert n == 1 and after_files == 1
    assert after.count() == 200
    assert after.agg(F.sum("id")).collect()[0][0] == before_sum
    assert not os.path.exists(p + "__old") and not os.path.exists(p + "__staged")


def test_compact_parquet_sizes_from_data_files_only(spark, tmp_path):
    """The rewrite budget counts only files Spark reads: a stale 3 MB
    `_temporary/` part left by a crashed writer must not raise a 1 MB
    target above one file."""
    p = str(tmp_path / "stale")
    spark.range(100).coalesce(1).write.parquet(p)
    os.makedirs(os.path.join(p, "_temporary", "0"))
    with open(os.path.join(p, "_temporary", "0", "part-0.parquet"), "wb") as fh:
        fh.write(b"\0" * (3 * 1024 * 1024))
    assert compact_parquet(spark, p, target_file_mb=1) == 1
    assert spark.read.parquet(p).count() == 100


def test_schema_evolution_merge(spark, tmp_path):
    """Source-side schema evolution: later files add a column; mergeSchema
    reads both generations with typed nulls for the missing column."""
    p = str(tmp_path / "evolve")
    spark.createDataFrame([Row(k=1, v=1.0)]).write.mode("append").parquet(p)
    spark.createDataFrame([Row(k=2, v=2.0, extra="new")]).write.mode("append").parquet(p)
    merged = spark.read.option("mergeSchema", "true").parquet(p)
    assert set(merged.columns) == {"k", "v", "extra"}
    rows = {r.k: r.extra for r in merged.collect()}
    assert rows == {1: None, 2: "new"}


def test_compact_parquet_recovers_from_crashed_swap(spark, tmp_path):
    """A crash between the two swap renames leaves data stranded in
    <path>__old with <path> missing; the next run must restore and
    complete (ADVICE r1: recover from a leftover __old on entry)."""
    path = str(tmp_path / "data")
    spark.range(100).repartition(4).write.parquet(path)
    os.rename(path, path + "__old")  # simulate mid-swap crash
    assert not os.path.exists(path)
    compact_parquet(spark, path, target_file_mb=1024, min_files=1)
    assert spark.read.parquet(path).count() == 100
    assert not os.path.exists(path + "__old")

    # and a leftover __old AFTER a completed swap is just cleaned up
    spark.range(7).write.parquet(path + "__old")
    compact_parquet(spark, path, target_file_mb=1024, min_files=1)
    assert spark.read.parquet(path).count() == 100
    assert not os.path.exists(path + "__old")


def test_observed_constraints_batch(spark):
    """Batch path: counters ride the job (no second scan); NULL predicate
    counts as a violation."""
    from smart_fraud_detection_data_pipeline_spark.operators.quality import (
        observed_constraints,
    )

    from smart_fraud_detection_data_pipeline_spark.operators.quality import (
        collect_observed,
    )

    df = spark.createDataFrame(
        [(1, 10.0), (2, -1.0), (3, None), (4, 7.0)], "id long, v double"
    )
    observed, name = observed_constraints(
        df, {"v_nonneg": F.col("v") >= 0, "id_pos": F.col("id") > 0}
    )
    got = collect_observed(observed, name)
    assert got["n_rows"] == 4
    assert got["v_nonneg_violations"] == 2  # -1.0 and the NULL
    assert got["id_pos_violations"] == 0


def test_observed_constraints_streaming_progress(spark, tmp_path):
    """Streaming path: each micro-batch's progress event carries the
    same counters under observedMetrics — quality monitoring with zero
    extra source reads."""
    from smart_fraud_detection_data_pipeline_spark.operators.quality import (
        observed_constraints,
    )

    d = str(tmp_path / "in")
    spark.createDataFrame(
        [(1, 10.0), (2, -3.0), (3, 5.0)], "id long, v double"
    ).coalesce(1).write.parquet(d)
    stream = spark.readStream.schema(spark.read.parquet(d).schema).parquet(d)
    observed, name = observed_constraints(stream, {"v_nonneg": F.col("v") >= 0})
    q = (
        observed.writeStream.format("noop")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(60)
    metrics = [
        p.observedMetrics[name]
        for p in q.recentProgress
        if name in (p.observedMetrics or {})
    ]
    assert metrics, "no progress event carried the observation"
    assert metrics[0]["n_rows"] == 3
    assert metrics[0]["v_nonneg_violations"] == 1
