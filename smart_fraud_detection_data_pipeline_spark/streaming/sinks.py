"""Streaming sinks: partitioned parquet, foreachBatch handlers, CSV ingest.

Reference parity:
- S7  partitioned parquet sink: append, partitionBy(payment_method,
      tx_year, tx_month, tx_day) (spark.py:229-232)
- S8  unpartitioned parquet sinks for the trend tables (spark.py:242-252)
- S9/ST6 foreachBatch handlers with an empty-batch guard (spark.py:209-254;
      the reference uses count()>0 — we use isEmpty(), which stops at the
      first row instead of scanning the batch twice)
- S10 one checkpoint dir per query (spark.py:273-285)
- S4  the Kafka-consumer micro-batch CSV sink: Hive-style
      year=/month=/day= layout keyed on PROCESSING date (consumer.py:
      111-129 — processing-time, not event-time, is the reference
      semantic there)

Scale notes: sinks partition by low-cardinality columns so file counts
stay sane; the fraud sink's 4-level layout gives partition pruning on
the read side (payment_method + date are the loaders' scan keys). At
100 TB, pair with maxRecordsPerFile and AQE coalescing to keep output
files near the HDFS-friendly 128 MB-1 GB band.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from smart_fraud_detection_data_pipeline_spark.sources.tables import read_parquet

FRAUD_PARTITIONS = ("payment_method", "tx_year", "tx_month", "tx_day")


def parquet_batch_sink(
    path: str, partitions: tuple[str, ...] | None = FRAUD_PARTITIONS
) -> Callable[[DataFrame, int], None]:
    """S9 handler: append parquet per micro-batch (spark.py:209-232).

    The empty-batch guard exists because a zero-row PARTITIONED write
    leaves a directory with no readable footers (schema inference then
    fails — adversarial-sweep rule), so the partitioned path keeps an
    isEmpty() probe (limit-1, replacing the reference's count()>0 which
    executed the batch plan twice in full).

    The UNPARTITIONED path writes unconditionally: a zero-row append
    writes a schema-bearing metadata-only parquet file that reads back
    fine, and in foreachBatch EVERY action re-executes the incremental
    batch plan — for a stateful query (stream-stream join state scans,
    window-agg state commits) the probe alone cost as much as the write
    (r14 measured: the probe job on a 4-batch outer interval join ran
    the full 19-task plan per batch, ~45% of the query's executor
    time). One execution per batch is the §4/§5 fix that transfers to
    production foreachBatch pipelines unchanged.
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if partitions:
            if batch_df.isEmpty():
                return
            batch_df.write.mode("append").partitionBy(*partitions).parquet(path)
        else:
            batch_df.write.mode("append").parquet(path)

    return handle


def reemit_parquet_sink(path: str) -> Callable[[DataFrame, int], None]:
    """ST4 faithful sink: append the COMPLETE result table every trigger,
    stamped with the micro-batch id.

    This reproduces the reference's write-amplification contract
    (complete output mode + append parquet, spark.py:276-286): each
    trigger re-emits every (key, window) row, and downstream consumers
    are expected to dedup keep-last — operators.dedup.dedup_keep_last
    on batch_id, exactly like the loaders' drop_duplicates(keep='last').
    """
    from pyspark.sql import functions as F

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # No empty-batch probe: the write is unpartitioned (a zero-row
        # append is readable — see parquet_batch_sink) and in COMPLETE
        # mode the probe executed the ENTIRE result-table aggregation a
        # second time per trigger. An empty emission appends no rows, so
        # keep-last/last-batch readers are unaffected.
        batch_df.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(path)

    return handle


def read_or_empty(
    spark, path: str, like: DataFrame, *, with_batch_id: bool = False
) -> DataFrame:
    """Read a foreachBatch parquet output dir, or return an empty frame
    with `like`'s schema when NO batch ever wrote (the empty-batch guard
    means a query whose every micro-batch was empty leaves no directory
    behind — a plain read then dies with PATH_NOT_FOUND, found by the
    adversarial sweep). `like` is the streaming frame the sink consumed,
    so schemas match the non-empty case exactly. `with_batch_id` adds
    the long column `reemit_parquet_sink` stamps, so readers of that
    sink get an identical schema in the empty case too."""
    import os

    if not os.path.exists(path):
        schema = like.schema
        if with_batch_id:
            from pyspark.sql.types import LongType

            schema = schema.add("batch_id", LongType())
        return spark.createDataFrame([], schema)
    return read_parquet(spark, path)


def start_foreach_batch(
    df: DataFrame,
    handler: Callable[[DataFrame, int], None],
    checkpoint: str,
    *,
    output_mode: str = "append",
    available_now: bool = True,
    query_name: str | None = None,
) -> StreamingQuery:
    """S9/S10: foreachBatch writeStream with a checkpoint dir.

    available_now=True processes all pending input then stops — bounded
    runs for tests/backfills; pass False for a continuous query.
    """
    writer: DataStreamWriter = (
        df.writeStream.outputMode(output_mode)
        .foreachBatch(handler)
        .option("checkpointLocation", checkpoint)
    )
    if query_name:
        writer = writer.queryName(query_name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def await_or_raise(q: StreamingQuery, timeout_sec: float | None = None) -> None:
    """Wait for an available-now query to drain; FAIL LOUDLY on timeout.

    A bare ``q.awaitTermination(300)`` silently returns False when the
    query is still running, and the caller then reads PARTIAL output as
    if it were the full result — observed on a 512x-scaled fuzz fixture
    where both stream-stream interval joins hit the cap (their inherent
    output there is 1.03e9 pairs) and truncated without any signal. A
    bounded wait is still wanted (hang protection on the shared bench
    session), so: stop the query and raise instead of returning, and
    let the timeout be sized to the deployment via
    SPARK_GRAFT_STREAM_TIMEOUT (seconds, default 300).
    """
    import os

    if timeout_sec is None:
        timeout_sec = float(os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT", "300"))
    if not q.awaitTermination(timeout_sec):
        name = q.name or q.id
        q.stop()
        raise TimeoutError(
            f"streaming query {name!r} still running after {timeout_sec:g}s; "
            "refusing to read partial output (raise SPARK_GRAFT_STREAM_TIMEOUT "
            "if the input legitimately needs longer)"
        )


def csv_ingest_sink(
    df: DataFrame,
    path: str,
    checkpoint: str,
    *,
    trigger_seconds: int | None = 60,
    available_now: bool = False,
) -> StreamingQuery:
    """S4: micro-batch CSV files under year=/month=/day= (processing date).

    The reference's consumer flushes every 100 rows or 60 s to
    raw/<topic>/year=Y/month=M/day=D/batch_*.csv; in Structured
    Streaming the flush cadence IS the trigger, and the directory layout
    is partitionBy on processing-date columns.
    """
    from pyspark.sql import functions as F

    dated = (
        df.withColumn("year", F.year(F.current_date()))
        .withColumn("month", F.month(F.current_date()))
        .withColumn("day", F.dayofmonth(F.current_date()))
    )
    from smart_fraud_detection_data_pipeline_spark.sources.tables import (
        CSV_TS_WRITE_FORMAT,
    )

    writer = (
        dated.writeStream.format("csv")
        .option("header", "true")
        # 6-digit fractions: Spark's default CSV timestamp format drops
        # microseconds, which would break round-trips through the S5
        # streaming CSV scan (sources.tables.stream_csv_table).
        .option("timestampFormat", CSV_TS_WRITE_FORMAT)
        .option("timestampNTZFormat", CSV_TS_WRITE_FORMAT)
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .partitionBy("year", "month", "day")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()
