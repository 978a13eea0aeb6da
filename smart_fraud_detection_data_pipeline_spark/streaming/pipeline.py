"""The streaming fraud pipeline: EP1 of the reference, Spark-first.

Reference parity (spark.py:100-294): a watermarked transaction stream is
enriched against static dimensions (stream-static joins are stateless),
fraud/enrichment rows land in partitioned parquet via foreachBatch, and
two 1-minute tumbling aggregations maintain trend tables. The reference
runs the aggregations in COMPLETE output mode into append-only parquet
— every trigger re-emits the whole result table, and the warehouse
loaders dedup keep-last (ST4+A6+A8, the pipeline's defining end-to-end
contract). This module offers both semantics:

- mode="faithful": complete mode + re-emit sink + batch_id stamp; reads
  of the output MUST go through `read_trends_deduped` (the loader
  contract). State and output grow with the number of windows ever seen
  — faithful to the reference, wrong at 100 TB.
- mode="idiomatic": append mode + watermark; each window is emitted
  exactly once, when the watermark passes it. Bounded state, no dedup
  needed downstream — the semantics the reference *intended*.

Multi-query orchestration (ST7/ST8): `run_pipeline` starts all three
queries; `PipelineQueries.await_all` blocks on each in turn and
re-raises the first query failure (awaitTermination surfaces it) —
the idiomatic form of the reference's 10-second exception-polling loop
(spark.py:289-294).
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from smart_fraud_detection_data_pipeline_spark.operators.dedup import dedup_keep_last
from smart_fraud_detection_data_pipeline_spark.operators.enrich import enrich_transactions
from smart_fraud_detection_data_pipeline_spark.operators.trends import windowed_trends
from smart_fraud_detection_data_pipeline_spark.sources.tables import read_parquet
from smart_fraud_detection_data_pipeline_spark.streaming import sinks

WATERMARK_DELAY = "15 minutes"  # spark.py:137


def _watermarked(df: DataFrame) -> DataFrame:
    """Apply the event-time watermark (ST1). Watermarks require tz-aware
    TIMESTAMP; the engine's NTZ event time is cast wall-clock-preserving
    (sessions run UTC — session.py)."""
    return df.withColumn("timestamp", F.col("timestamp").cast("timestamp")).withWatermark(
        "timestamp", WATERMARK_DELAY
    )


@dataclass
class PipelineQueries:
    fraud: StreamingQuery
    user_trends: StreamingQuery
    category_trends: StreamingQuery

    def all(self) -> list[StreamingQuery]:
        return [self.fraud, self.user_trends, self.category_trends]

    def await_all(self, timeout_sec: float | None = None) -> None:
        for q in self.all():
            q.awaitTermination(timeout_sec)

    def stop_all(self) -> None:
        for q in self.all():
            if q.isActive:
                q.stop()


def enriched_stream(
    transactions: DataFrame, users: DataFrame, products: DataFrame
) -> DataFrame:
    """Watermarked, dimension-enriched transaction stream (spark.py:126-168).

    The watermark is applied to the stream before join+agg exactly as the
    reference does; the stream-static joins themselves are stateless, so
    the watermark only governs the downstream windowed aggregations.
    """
    return enrich_transactions(_watermarked(transactions), users, products)


def trend_stream(
    transactions: DataFrame, key_col: str, sum_alias: str, *, exact: bool = False
) -> DataFrame:
    """Streaming windowed trend (A1/A2). approx mode by default — HLL
    sketches are the right distinct-count at unbounded scale; COUNT
    DISTINCT in streaming would keep full id sets in state."""
    return windowed_trends(
        _watermarked(transactions),
        key_col=key_col,
        sum_alias=sum_alias,
        exact=exact,
    )


def run_pipeline(
    spark: SparkSession,
    transactions: DataFrame,
    users: DataFrame,
    products: DataFrame,
    out_dir: str,
    *,
    mode: str = "idiomatic",
    available_now: bool = True,
) -> PipelineQueries:
    """Start the three streaming queries (fraud + two trends).

    ``transactions`` must be a STREAMING DataFrame in the reference
    transaction shape. Outputs land under out_dir/{fraud_records,
    user_spend_trends,category_trends}; checkpoints under
    out_dir/checkpoints/<name> (S10). The two trend aggregations keep
    their state in sinks.STATE_PARTITIONS store partitions, in both
    modes.
    """
    if mode not in ("idiomatic", "faithful"):
        raise ValueError(f"unknown mode: {mode}")

    def ckpt(name: str) -> str:
        return os.path.join(out_dir, "checkpoints", name)

    enriched = enriched_stream(transactions, users, products)
    fraud_q = sinks.start_foreach_batch(
        enriched,
        sinks.parquet_batch_sink(os.path.join(out_dir, "fraud_records")),
        ckpt("fraud_records"),
        output_mode="append",
        available_now=available_now,
        query_name="fraud_records",
    )

    user_t = trend_stream(transactions, "user_id", "total_spent")
    cat_tx = transactions.join(
        F.broadcast(
            products.withColumnRenamed("name", "product_name").select(
                "product_id", "category"
            )
        ),
        "product_id",
        "left_outer",
    )
    cat_t = trend_stream(cat_tx, "category", "total_sales")

    if mode == "faithful":
        # ST4: complete mode + append parquet → write amplification;
        # consumers dedup keep-last on batch_id (read_trends_deduped).
        sink, output_mode = sinks.reemit_parquet_sink, "complete"
    else:
        # Append + watermark: each window emitted exactly once after the
        # watermark passes window end; bounded state.
        sink, output_mode = partial(sinks.parquet_batch_sink, partitions=None), "append"
    trend_qs = [
        sinks.start_foreach_batch(
            trends,
            sink(os.path.join(out_dir, name)),
            ckpt(name),
            output_mode=output_mode,
            available_now=available_now,
            query_name=name,
            stateful=True,
        )
        for name, trends in (("user_spend_trends", user_t), ("category_trends", cat_t))
    ]
    return PipelineQueries(fraud_q, *trend_qs)


def read_trends_deduped(spark: SparkSession, path: str, key_cols: list[str]) -> DataFrame:
    """The loader contract (A5+A6): read every re-emitted slice, keep the
    last row per key by batch_id (mirrors drop_duplicates(keep='last'),
    load_fraud_records...py:154-157)."""
    return dedup_keep_last(
        read_parquet(spark, path), key_cols, ["batch_id"]
    ).drop("batch_id")
