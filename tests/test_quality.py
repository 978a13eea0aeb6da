"""Tests for constraint checking and the crash-safe directory swap."""

from __future__ import annotations

import glob
import os

from pyspark.sql import Row
from pyspark.sql import functions as F

from smart_fraud_detection_data_pipeline_spark.operators import loaders as L
from smart_fraud_detection_data_pipeline_spark.operators.quality import (
    constraint_report,
    recover_swap,
    swap_write,
)


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


def test_compact_parquet_sizes_from_data_files_only(spark, tmp_path):
    """The compaction budget (loaders.compact_dataset) counts only files
    Spark reads: a stale 3 MB `_temporary/` part left by a crashed writer
    must not raise a 1 MB target above one file."""
    src, dst = str(tmp_path / "stale"), str(tmp_path / "out")
    spark.range(100).coalesce(1).write.parquet(src)
    os.makedirs(os.path.join(src, "_temporary", "0"))
    with open(os.path.join(src, "_temporary", "0", "part-0.parquet"), "wb") as fh:
        fh.write(b"\0" * (3 * 1024 * 1024))
    assert L.compact_dataset(spark, src, dst, target_bytes=1024 * 1024) == 1
    assert spark.read.parquet(dst).count() == 100


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


def test_recover_swap_converges_after_a_crashed_swap(spark, tmp_path):
    """A crash between swap_write's two renames leaves the data stranded
    in <path>__old with <path> missing: recover_swap restores it. A
    leftover __old next to a completed swap is dropped (ADVICE r1:
    recover from a leftover __old on entry)."""
    path = str(tmp_path / "data")
    spark.range(100).repartition(4).write.parquet(path)
    os.rename(path, path + "__old")  # simulate mid-swap crash
    recover_swap(path)
    assert spark.read.parquet(path).count() == 100
    assert not os.path.exists(path + "__old")

    swap_write(spark.read.parquet(path).coalesce(1), path)
    assert spark.read.parquet(path).count() == 100
    assert len(glob.glob(os.path.join(path, "*.parquet"))) == 1
    spark.range(7).write.parquet(path + "__old")  # cleanup died after the swap
    recover_swap(path)
    assert spark.read.parquet(path).count() == 100
    assert not os.path.exists(path + "__old") and not os.path.exists(path + "__staged")


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
