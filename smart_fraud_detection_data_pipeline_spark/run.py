"""Scheduler-facing CLI: the engine's replacement for the reference's
Airflow DAG (`src/airflow/dags/load_to_snowflake.py:19-53` — daily, 3
parallel BashOperator loaders → dummy "complete").

Where the reference schedules three single-threaded pandas loader
scripts, each job here is ONE Spark batch plan; a cron line (or any
scheduler's bash task) replaces the DAG:

    # daily at 02:00 — same topology as the reference DAG, one process
    # per loader if you want the DAG's parallelism:
    0 2 * * * python -m smart_fraud_detection_data_pipeline_spark.run \
        --job all --sf-dir /data/current --warehouse /warehouse

Jobs (mirroring the DAG's three task_ids plus the ingest that the
reference's streaming job performs upstream):

- ``ingest``            enrich raw events against the user/product dims
                        and (re)write the partitioned processed prefix
                        `<warehouse>/processed/fraud_records` — the
                        batch stand-in for the streaming sink (S7).
- ``warehouse_load``    processed prefix → keep-last dedup per
                        transaction → MERGE into
                        `<warehouse>/marts/fraud_records` (EP3;
                        load_fraud_records…py:103-287 semantics).
- ``user_spend_trends`` per-user 1-minute trend → MERGE into
                        `<warehouse>/marts/user_spend_trends` keyed
                        (user_id, window_start).
- ``category_trends``   same per category.
- ``all``               the three loader jobs in sequence (the DAG runs
                        them in parallel processes; from cron, launch
                        three `--job` invocations to reproduce that).

``--since YYYY-MM-DD`` makes the loaders incremental: the processed
scan is filtered on the (tx_year, tx_month, tx_day) partition columns,
a predicate Spark turns into partition pruning, so a daily run reads
days, not history. Without it each run is the reference's documented
full-prefix rescan (idempotent via MERGE, just wasteful — SURVEY §3
EP3). Exit codes: 0 success, 1 job failure, 2 usage/missing input.

Mart writes are snapshot-swap: merge output lands in a temp sibling,
then two renames swap it in (operators.quality.swap_write; a leftover
``__old`` is recovered by quality.recover_swap on the next run). On a lakehouse
table format the swap would be the format's atomic metadata commit
instead (operators/merge.py:147).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_fraud_detection_data_pipeline_spark.operators.quality import (
    recover_swap,
    swap_write,
)
from smart_fraud_detection_data_pipeline_spark.sources.tables import (
    dataset_files,
    parquet_num_rows,
    read_parquet,
)


def _log(msg: str) -> None:
    print(f"[run +{time.strftime('%Y-%m-%d %H:%M:%S')}] {msg}", flush=True)


def _processed_path(warehouse: str) -> str:
    return os.path.join(warehouse, "processed", "fraud_records")


def _mart_path(warehouse: str, table: str) -> str:
    return os.path.join(warehouse, "marts", table)


def _since_predicate(since: str):
    """(tx_year, tx_month, tx_day) >= since as a partition-prunable
    predicate (every term touches only partition columns, so the scan
    lists matching directories instead of reading footers)."""
    y, m, d = (int(x) for x in since.split("-"))
    ty, tm, td = F.col("tx_year"), F.col("tx_month"), F.col("tx_day")
    return (ty > y) | (
        (ty == y) & ((tm > m) | ((tm == m) & (td >= d)))
    )


def _read_mart(spark: SparkSession, path: str, like: DataFrame) -> DataFrame:
    """Current mart snapshot, or an empty frame with the source's schema
    on first run (so the merge is a plain insert)."""
    recover_swap(path)
    if os.path.exists(path):
        return read_parquet(spark, path)
    return spark.createDataFrame([], like.schema)


def _log_mart(job: str, path: str) -> None:
    """The post-swap mart size, summed from the parquet footers."""
    _log(f"{job}: mart {path} now {parquet_num_rows(path)} rows")


def _read_processed(spark: SparkSession, warehouse: str, since: str | None) -> DataFrame:
    path = _processed_path(warehouse)
    # a sink whose partitioned appends all had zero rows leaves only
    # _SUCCESS behind: no data file, so the same as no prefix
    if not dataset_files(spark, path):
        _log(f"ERROR: processed prefix {path} holds no data — run --job ingest "
             "(or point the streaming sink at it) first")
        raise SystemExit(2)
    df = read_parquet(spark, path)
    if since:
        df = df.where(_since_predicate(since))
    return df


# ---------------------------------------------------------------------------
# Jobs
# ---------------------------------------------------------------------------

def job_ingest(spark: SparkSession, args) -> None:
    """Batch enrichment → partitioned processed prefix (the streaming
    sink's layout, S7/F3), dynamic-partition-overwritten so re-runs are
    idempotent per partition."""
    from smart_fraud_detection_data_pipeline_spark.operators.enrich import (
        enrich_transactions,
    )
    from smart_fraud_detection_data_pipeline_spark.queries import (
        _products_dim,
        _transactions,
        _users_dim,
    )
    from smart_fraud_detection_data_pipeline_spark.streaming.sinks import (
        FRAUD_PARTITIONS,
    )

    tx = _transactions(spark, args.sf_dir)
    if args.since:
        tx = tx.where(
            F.col("timestamp") >= F.lit(args.since).cast("timestamp_ntz")
        )
    enriched = enrich_transactions(
        tx, _users_dim(spark, args.sf_dir), _products_dim(spark, args.sf_dir)
    )
    path = _processed_path(args.warehouse)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    (
        enriched.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*FRAUD_PARTITIONS)
        .parquet(path)
    )
    _log(f"ingest: wrote processed prefix {path}")


def job_warehouse_load(spark: SparkSession, args) -> None:
    """EP3: processed prefix → keep-last dedup → MERGE into the fraud
    records mart (the reference's read_processed_parquet + MERGE,
    load_fraud_records…py:103-287, as one Spark plan)."""
    from smart_fraud_detection_data_pipeline_spark.operators.dedup import (
        dedup_keep_last,
    )
    from smart_fraud_detection_data_pipeline_spark.operators.merge import merge_upsert

    src = _read_processed(spark, args.warehouse, args.since)
    src = dedup_keep_last(src, ["transaction_id"], ["timestamp"])
    path = _mart_path(args.warehouse, "fraud_records")
    target = _read_mart(spark, path, src)
    merged = merge_upsert(target, src.select(*target.columns), ["transaction_id"])
    swap_write(merged, path)
    _log_mart("warehouse_load", path)


def _trend_job(spark: SparkSession, args, *, table: str) -> None:
    from smart_fraud_detection_data_pipeline_spark.operators.merge import merge_upsert
    from smart_fraud_detection_data_pipeline_spark.operators.trends import (
        category_trends,
        user_spend_trends,
    )

    src = _read_processed(spark, args.warehouse, args.since)
    if table == "user_spend_trends":
        trend, keys = user_spend_trends(src), ["user_id", "window_start"]
    else:
        trend, keys = category_trends(src), ["category", "window_start"]
    path = _mart_path(args.warehouse, table)
    target = _read_mart(spark, path, trend)
    merged = merge_upsert(target, trend.select(*target.columns), keys)
    swap_write(merged, path)
    _log_mart(table, path)


def job_user_spend_trends(spark: SparkSession, args) -> None:
    _trend_job(spark, args, table="user_spend_trends")


def job_category_trends(spark: SparkSession, args) -> None:
    _trend_job(spark, args, table="category_trends")


JOBS = {
    "ingest": job_ingest,
    "warehouse_load": job_warehouse_load,
    "user_spend_trends": job_user_spend_trends,
    "category_trends": job_category_trends,
}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(
        prog="python -m smart_fraud_detection_data_pipeline_spark.run",
        description="Cron-able batch jobs replacing the reference's Airflow DAG.",
    )
    p.add_argument("--job", required=True, choices=[*JOBS, "all"],
                   help="'all' runs the three loader jobs in sequence")
    p.add_argument("--sf-dir", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001"),
        help="source table directory (ingest job only)")
    p.add_argument("--warehouse", required=True,
                   help="warehouse root (processed prefix + marts live under it)")
    p.add_argument("--since", default=None, metavar="YYYY-MM-DD",
                   help="incremental mode: only load partitions >= this date")
    p.add_argument("--master", default=None,
                   help="Spark master (default local[$SPARK_GRAFT_CPUS or usable cores])")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    args = p.parse_args(argv)

    if args.since:
        try:
            y, m, d = (int(x) for x in args.since.split("-"))
            assert 1 <= m <= 12 and 1 <= d <= 31
        except (ValueError, AssertionError):
            p.error(f"--since must be YYYY-MM-DD, got {args.since!r}")  # exit 2

    from smart_fraud_detection_data_pipeline_spark import get_spark

    spark = get_spark(
        f"sfdp-run-{args.job}",
        master=args.master,
        shuffle_partitions=args.shuffle_partitions,
    )
    jobs = ["warehouse_load", "user_spend_trends", "category_trends"] \
        if args.job == "all" else [args.job]
    try:
        for name in jobs:
            _log(f"starting {name}")
            JOBS[name](spark, args)
        _log("complete")
        return 0
    except SystemExit as e:
        return int(e.code or 0)
    except Exception as e:  # scheduler-facing: fail loudly, nonzero
        _log(f"FAILED {args.job}: {type(e).__name__}: {e}")
        return 1
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
