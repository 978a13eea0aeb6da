"""Measure the stream-stream join `bucket_seconds` hot-key split
(VERDICT r8 #6; streaming/joins.py).

Spark's stream-stream join hashes state on the EQUALITY keys only: a
hot user's buffered rows all live in one shuffle partition's state
store, and every arriving row of that user iterates the user's ENTIRE
buffered opposite-side state (the time-range condition bounds
retention, not lookup). Cost per micro-batch is |hot probes| × |hot
state| — quadratic in the hot key — inside a single task.

`interval_join_streaming(bucket_seconds=N)` adds floor(event_time/N)
to the equality keys: each probe then iterates one bucket's occupancy
and the hot key's state spreads across (key, bucket) partitions.

Certification here is bucketed-vs-unbucketed BIT-EQUALITY (row count +
order-insensitive md5 digest) plus wall time, at a hot-key size where
per-key quadratic scanning dominates; the oracle-gate twin runs the
same helper (unbucketed) inside stream_stream_join at default scales,
and tests/test_streaming.py pins bucketed == unbucketed on a boundary
fixture.

Fixture: `hot_n` events on ONE user spread over `span_days` (so each
10-minute window holds a bounded follow count and the pair OUTPUT
stays linear — window occupancy ~ hot_n/span; the quadratic cost under
measurement is the state SCAN, which bucketing removes), plus a tail
over 50 ordinary users. Two time-ordered files → two micro-batches, so
cross-batch state is exercised.

Usage: python tools/stream_hotkey_bench.py [--hot N] [--tail N]
                                           [--bucket SECONDS] [--reps K]
Prints one JSON line with timings (min over reps) and the verdict.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smart_fraud_detection_data_pipeline_spark.session import get_spark
from smart_fraud_detection_data_pipeline_spark.sources.tables import parquet_schema
from smart_fraud_detection_data_pipeline_spark.streaming import sinks as SK
from smart_fraud_detection_data_pipeline_spark.streaming.joins import (
    interval_join_streaming,
)

EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]


def build_fixture(
    path: str, hot_n: int, tail_n: int, span_days: float, seed: int = 909
) -> None:
    """Two time-ordered data files plus two far-future SENTINEL files
    (one row per join side each, unmatchable negative ids): outer joins
    emit null rows only at watermark eviction, so the fixture must
    advance event time past every horizon (queries._staged_events
    outer=True pattern). Inner runs are unaffected — sentinels match nothing and
    the read-back strips err_id < 0."""
    rng = np.random.default_rng(seed)
    n = hot_n + tail_n
    user = np.empty(n, dtype="int64")
    user[:hot_n] = 1
    user[hot_n:] = rng.integers(2, 52, tail_n)
    base = np.datetime64("2024-01-01", "us")
    offs = (rng.random(n) * span_days * 86_400e6).astype("int64")
    ts = base + offs.astype("timedelta64[us]")
    # ~10% errors keeps the probe side a strict subset of state
    etypes = rng.choice(
        EVENT_TYPES, size=n, p=[0.225, 0.225, 0.10, 0.225, 0.225]
    )
    table = pa.table(
        {
            "event_id": pa.array(np.arange(n, dtype="int64") + 1),
            "user_id": pa.array(user),
            "ts": pa.array(ts, type=pa.timestamp("us")),
            "value": pa.array(rng.uniform(-50.0, 500.0, n), type=pa.float64()),
            "event_type": pa.array(etypes, type=pa.string()),
        }
    )
    # two TIME-ORDERED files so join pairs straddle the batch boundary
    order = np.argsort(table["ts"].to_numpy())
    table = table.take(pa.array(order))
    cut = n // 2
    os.makedirs(path, exist_ok=True)
    pq.write_table(table.slice(0, cut), os.path.join(path, "part-0.parquet"))
    pq.write_table(table.slice(cut), os.path.join(path, "part-1.parquet"))
    max_ts = table["ts"].to_numpy().max()
    for i, days in enumerate((1, 2)):
        sts = max_ts + np.timedelta64(days * 86_400_000_000, "us")
        sent = pa.table(
            {
                "event_id": pa.array([-1 - 2 * i, -2 - 2 * i], type=pa.int64()),
                "user_id": pa.array([-1, -2], type=pa.int64()),
                "ts": pa.array([sts, sts], type=pa.timestamp("us")),
                "value": pa.array([0.0, 0.0], type=pa.float64()),
                "event_type": pa.array(["error", "view"], type=pa.string()),
            }
        )
        pq.write_table(sent, os.path.join(path, f"part-{2 + i}.parquet"))


def run_join(
    spark, src: str, out_root: str, bucket_seconds: int | None,
    how: str = "inner",
) -> DataFrame:
    schema = parquet_schema(src)

    def reader():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )

    errors = (
        reader()
        .where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            "user_id",
            F.col("ts").cast("timestamp").alias("err_time"),
        )
        .withWatermark("err_time", "15 minutes")
    )
    follows = (
        reader()
        .select(
            F.col("event_id").alias("follow_id"),
            F.col("user_id").alias("f_user"),
            F.col("ts").cast("timestamp").alias("f_time"),
        )
        .withWatermark("f_time", "15 minutes")
    )
    pairs = interval_join_streaming(
        errors,
        follows,
        left_key="user_id",
        right_key="f_user",
        left_time="err_time",
        right_time="f_time",
        window_seconds=600,
        how=how,
        bucket_seconds=bucket_seconds,
    ).select("err_id", "follow_id")
    tag = f"{how}_b{bucket_seconds or 0}"
    q = SK.start_foreach_batch(
        pairs,
        SK.parquet_batch_sink(os.path.join(out_root, f"out_{tag}"), partitions=None),
        os.path.join(out_root, f"ckpt_{tag}"),
        output_mode="append",
        available_now=True,
        query_name=f"stream_hotkey_{tag}",
    )
    SK.await_or_raise(q)
    return SK.read_or_empty(
        spark, os.path.join(out_root, f"out_{tag}"), pairs
    ).where(F.col("err_id") >= 0)  # strip sentinel emissions


def digest(df: DataFrame) -> tuple[int, str]:
    cols = [F.coalesce(F.col(c).cast("string"), F.lit("∅")) for c in df.columns]
    h = F.conv(F.substring(F.md5(F.concat_ws("\x1f", *cols)), 1, 15), 16, 10)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(h.cast("decimal(38,0)")).alias("d"),
    ).first()
    return int(row["n"]), str(row["d"])


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--hot", type=int, default=300_000)
    ap.add_argument("--tail", type=int, default=100_000)
    ap.add_argument("--span-days", type=float, default=300.0)
    ap.add_argument("--bucket", type=int, default=600)
    ap.add_argument("--reps", type=int, default=1)
    ap.add_argument("--how", default="inner", choices=["inner", "leftOuter"])
    ap.add_argument("--keep", action="store_true")
    args = ap.parse_args()

    path = f"/tmp/sf_ss_hotkey_s_{args.hot}_{args.tail}"
    if not os.path.exists(os.path.join(path, "part-0.parquet")):
        build_fixture(path, args.hot, args.tail, args.span_days)
    spark = get_spark("stream_hotkey_bench")

    results = {}
    for label, bucket in (("unbucketed", None), ("bucketed", args.bucket)):
        best, nd = float("inf"), None
        for rep in range(args.reps):
            out_root = f"{path}/run_{label}_{rep}"
            shutil.rmtree(out_root, ignore_errors=True)
            t0 = time.monotonic()
            out = run_join(spark, path, out_root, bucket, how=args.how)
            nd = digest(out)  # forces the read-back; the stream already ran
            best = min(best, time.monotonic() - t0)
        results[label] = (best, nd)

    (t0s, nd0), (t1s, nd1) = results["unbucketed"], results["bucketed"]
    equal = nd0 == nd1
    print(
        json.dumps(
            {
                "how": args.how,
                "hot_rows": args.hot,
                "tail_rows": args.tail,
                "span_days": args.span_days,
                "bucket_seconds": args.bucket,
                "rows": nd0[0],
                "bit_identical": equal,
                "unbucketed_sec": round(t0s, 2),
                "bucketed_sec": round(t1s, 2),
                "speedup": round(t0s / t1s, 2),
            }
        )
    )
    if not args.keep:
        shutil.rmtree(path, ignore_errors=True)
    return 0 if equal else 1


if __name__ == "__main__":
    raise SystemExit(main())
