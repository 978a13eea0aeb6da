"""The scheduler-facing CLI (`python -m ....run`) — the engine's stand-in
for the reference's Airflow DAG (load_to_snowflake.py:19-53). Jobs run
in-process against the shared session (main() owns its own session and
stops it, so tests call the job functions directly); the argparse
surface and exit-code contract are pinned via a subprocess that fails
before any JVM spins up.
"""

from __future__ import annotations

import argparse
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from smart_fraud_detection_data_pipeline_spark import run as R

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _args(sf_dir, warehouse, since=None):
    return argparse.Namespace(sf_dir=sf_dir, warehouse=str(warehouse), since=since)


@pytest.fixture(scope="module")
def warehouse(spark, sf_dir, tmp_path_factory):
    w = tmp_path_factory.mktemp("whs")
    R.job_ingest(spark, _args(sf_dir, w))
    return w


def test_ingest_writes_partitioned_prefix(spark, warehouse):
    p = R._processed_path(str(warehouse))
    assert os.path.exists(p)
    # Hive layout on the fraud partition columns (S7/F3)
    assert any(d.startswith("payment_method=") for d in os.listdir(p))
    n = spark.read.parquet(p).count()
    assert n == 1000  # sf0.001 events


def test_warehouse_load_merges_and_is_idempotent(spark, sf_dir, warehouse):
    R.job_warehouse_load(spark, _args(sf_dir, warehouse))
    mart = R._mart_path(str(warehouse), "fraud_records")
    first = spark.read.parquet(mart)
    n1 = first.count()
    assert n1 == first.select("transaction_id").distinct().count()
    # MERGE idempotency: the reference's daily full-prefix rescan re-runs
    # must not grow the mart.
    R.job_warehouse_load(spark, _args(sf_dir, warehouse))
    assert spark.read.parquet(mart).count() == n1


def test_warehouse_load_recovers_mid_swap_crash(spark, sf_dir, warehouse, tmp_path):
    """A crash between the swap's two renames leaves the mart only at
    `<mart>__old`; the next load restores that snapshot and merges
    into it (a probe row only the stranded snapshot holds survives)."""
    from pyspark.sql.types import StringType

    w = tmp_path / "w"
    os.makedirs(w / "processed")
    os.symlink(R._processed_path(str(warehouse)), R._processed_path(str(w)))
    R.job_warehouse_load(spark, _args(sf_dir, w))
    mart = R._mart_path(str(w), "fraud_records")
    snap = spark.read.parquet(mart)
    n1 = snap.count()
    tid = F.col("transaction_id")
    if isinstance(snap.schema["transaction_id"].dataType, StringType):
        probe_id = F.concat(tid, F.lit("-probe"))
    else:
        probe_id = tid + 1
    probe = snap.orderBy(tid.desc()).limit(1).withColumn("transaction_id", probe_id)
    snap.unionByName(probe).write.parquet(mart + "__old")
    shutil.rmtree(mart)  # the crash: old snapshot renamed away, new not yet in
    R.job_warehouse_load(spark, _args(sf_dir, w))
    assert not os.path.exists(mart + "__old")
    after = spark.read.parquet(mart)
    assert after.count() == n1 + 1
    assert after.select("transaction_id").distinct().count() == n1 + 1


def test_trend_jobs_write_keyed_marts(spark, sf_dir, warehouse):
    R.job_user_spend_trends(spark, _args(sf_dir, warehouse))
    R.job_category_trends(spark, _args(sf_dir, warehouse))
    ut = spark.read.parquet(R._mart_path(str(warehouse), "user_spend_trends"))
    ct = spark.read.parquet(R._mart_path(str(warehouse), "category_trends"))
    assert ut.count() == ut.select("user_id", "window_start").distinct().count()
    assert {"category", "window_start", "total_sales"} <= set(ct.columns)


def test_since_prunes_partitions(spark, sf_dir, warehouse):
    """--since compiles to a partition-column predicate: the pruned scan
    must equal a post-hoc filter of the full scan, and the predicate
    must reference only partition columns (prunable at listing time)."""
    full = spark.read.parquet(R._processed_path(str(warehouse)))
    since = "2024-01-15"  # events span 2024-01-01..01-30 — mid-range splits
    pruned = R._read_processed(spark, str(warehouse), since)
    want = full.where(
        F.make_date("tx_year", "tx_month", "tx_day") >= F.lit(since).cast("date")
    ).count()
    assert pruned.count() == want
    assert 0 < pruned.count() < full.count()


def test_missing_prefix_exits_2(spark, sf_dir, tmp_path):
    with pytest.raises(SystemExit) as e:
        R.job_warehouse_load(spark, _args(sf_dir, tmp_path / "empty"))
    assert e.value.code == 2


def test_cli_usage_error_exit_code():
    """Bad --since fails argparse (exit 2) before any Spark startup."""
    proc = subprocess.run(
        [sys.executable, "-m", "smart_fraud_detection_data_pipeline_spark.run",
         "--job", "all", "--warehouse", "/tmp/x", "--since", "not-a-date"],
        cwd=REPO, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode == 2
    assert "--since must be YYYY-MM-DD" in proc.stderr
