"""Streaming sinks: partitioned parquet, foreachBatch handlers, CSV ingest.

Reference parity:
- S7  partitioned parquet sink: append, partitionBy(payment_method,
      tx_year, tx_month, tx_day) (spark.py:229-232)
- S8  unpartitioned parquet sinks for the trend tables (spark.py:242-252)
- S9/ST6 foreachBatch handlers (spark.py:209-254). The reference guards
      each write with count()>0, which executes the batch twice; here every
      batch is written unconditionally, once, and the empty-output guard
      sits on the read side (`read_or_empty`)
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

from smart_fraud_detection_data_pipeline_spark.sources.tables import dataset_files, read_parquet

FRAUD_PARTITIONS = ("payment_method", "tx_year", "tx_month", "tx_day")


def parquet_batch_sink(
    path: str, partitions: tuple[str, ...] | None = FRAUD_PARTITIONS
) -> Callable[[DataFrame, int], None]:
    """S9 handler: append parquet per micro-batch (spark.py:209-232).

    Every batch is written unconditionally, so each micro-batch executes
    once. In foreachBatch EVERY action re-executes the incremental batch
    plan: an emptiness probe before the write re-planned the batch,
    rebuilt the fraud stream's dimension broadcasts and decoded up to
    4,096 rows of it again (a 12,000-row trigger reported 16,096 input
    rows), and on a stateful query it re-ran the state scans. A zero-row
    UNPARTITIONED append writes a schema-bearing footer-only file; a
    zero-row PARTITIONED append writes no data file at all, only
    ``_SUCCESS``, which a plain read cannot infer a schema from. Readers
    of this sink therefore go through `read_or_empty` (or treat a prefix
    with no data files as missing, as ``run._read_processed`` does).
    """

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("append").partitionBy(*(partitions or ())).parquet(path)

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
    with `like`'s schema when it holds no data file: a query that never
    ran a batch leaves no directory (a plain read dies with
    PATH_NOT_FOUND, found by the adversarial sweep), and one whose
    partitioned appends all had zero rows leaves only ``_SUCCESS`` (a
    plain read dies with UNABLE_TO_INFER_SCHEMA). `like` is the
    streaming frame the sink consumed, so schemas match the non-empty
    case exactly. `with_batch_id` adds the long column
    `reemit_parquet_sink` stamps, so readers of that sink get an
    identical schema in the empty case too."""
    if not dataset_files(spark, path):
        schema = like.schema
        if with_batch_id:
            from pyspark.sql.types import LongType

            schema = schema.add("batch_id", LongType())
        return spark.createDataFrame([], schema)
    return read_parquet(spark, path)


#: State-store partitions of every stateful stream (aggregation,
#: dropDuplicates, stream-stream join, session window, grouped-map
#: state). Each partition is one store instance that every trigger
#: loads and commits, with its checksum files, in its own task, which
#: also deserializes the Hadoop conf and generates its projections. At
#: the data sizes this engine is tested and benchmarked on that fixed
#: cost per partition outweighs the rows, so the count is sized to
#: state, not to cores. A/B on a 4-core host:
#:
#: - the perfbench ``stream`` workload (run_pipeline, 4 x 12,000 rows),
#:   CPU seconds of one drain: 8 partitions 42.2 s (n=1), 4 (the old
#:   per-core default) median 41.5 s (n=9), 2 34.4 s (n=4), 1 31.1 s
#:   (n=5). The RocksDB provider with changelog checkpointing bought
#:   nothing: 42.0 s (n=1) at 4 partitions, and over 3 alternating
#:   pairs at 4 partitions a median 3.12 s CPU per trigger, the same
#:   as the default HDFS-backed store.
#: - the 9 stateful catalog queries, 2 warm rounds each after a cold
#:   one; row counts identical at every count:
#:
#:   ==== ======== ========= ========= =========== ===========
#:   sf   metric   1         2         4           8 (old)
#:   ==== ======== ========= ========= =========== ===========
#:   0.01 CPU (s)  50.4-58.4 56.8-66.7 79.1-90.0   122.5-123.7
#:   0.01 wall (s) 30.5-39.4 28.9-32.3 34.6-41.5   46.2-52.0
#:   0.1  CPU (s)  74.0-80.6 81.1-87.8 108.9-114.1 150.9-160.6
#:   0.1  wall (s) 41.5-44.9 37.2-38.6 41.1-41.8   55.8-60.1
#:   ==== ======== ========= ========= =========== ===========
#:
#: A stream clones its session when it starts and records the count in
#: its checkpoint's offsets log; a restart reuses the recorded count
#: whatever the session says. A deployment whose keyspace outgrows one
#: partition raises this constant and starts on a fresh checkpoint.
STATE_PARTITIONS = 1


def start_foreach_batch(
    df: DataFrame,
    handler: Callable[[DataFrame, int], None],
    checkpoint: str,
    *,
    output_mode: str = "append",
    available_now: bool = True,
    query_name: str | None = None,
    stateful: bool = False,
) -> StreamingQuery:
    """S9/S10: foreachBatch writeStream with a checkpoint dir.

    available_now=True processes all pending input then stops — bounded
    runs for tests/backfills; pass False for a continuous query.

    A ``stateful`` query starts with spark.sql.shuffle.partitions set to
    STATE_PARTITIONS. The stream takes its own copy of the session conf
    when it starts, so the session's value is restored right after
    ``start()`` and batch queries keep the session default.
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
    if not stateful:
        return writer.start()
    conf = df.sparkSession.conf
    saved = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.shuffle.partitions", str(STATE_PARTITIONS))
    try:
        return writer.start()
    finally:
        conf.set("spark.sql.shuffle.partitions", saved)


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
