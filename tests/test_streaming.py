"""Structured Streaming tests: stream/batch equivalence, the faithful
complete-mode re-emission contract (ST4+A6), watermark late-data
semantics, ingest sink layout, and the seeded generator (S1)."""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from smart_fraud_detection_data_pipeline_spark.operators.enrich import enrich_transactions
from smart_fraud_detection_data_pipeline_spark.operators.trends import windowed_trends
from smart_fraud_detection_data_pipeline_spark.sources import tables
from smart_fraud_detection_data_pipeline_spark.sources.generator import (
    COUNTRIES,
    PAYMENT_METHODS,
    synthetic_transactions,
)
from smart_fraud_detection_data_pipeline_spark.streaming import pipeline as P


def _dims(spark):
    users = spark.range(1, 1501).select(
        F.col("id").cast("int").alias("user_id"),
        F.concat(F.lit("U"), F.col("id")).alias("name"),
        F.element_at(
            F.array(*[F.lit(c) for c in COUNTRIES]), (F.col("id") % 4 + 1).cast("int")
        ).alias("country"),
    )
    products = spark.range(1, 401).select(
        F.col("id").cast("int").alias("product_id"),
        F.concat(F.lit("P"), F.col("id")).alias("name"),
        F.element_at(
            F.array(F.lit("Books"), F.lit("Toys"), F.lit("Electronics")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("category"),
        (F.lit(100.0) + F.col("id")).alias("base_price"),
        F.concat(F.lit("Sup"), F.col("id") % 5).alias("supplier"),
        F.element_at(
            F.array(*[F.lit(c) for c in COUNTRIES]), (F.col("id") % 3 + 1).cast("int")
        ).alias("country"),
        (F.col("id") % 2 == 0).alias("in_stock"),
        (F.col("id") % 50).cast("double").alias("discount"),
    )
    return users, products


@pytest.fixture(scope="module")
def staged_stream_dir(spark, tmp_path_factory):
    """Transactions written as two time-ordered file groups so availableNow
    + maxFilesPerTrigger produces multiple micro-batches."""
    d = str(tmp_path_factory.mktemp("txstream"))
    tx = synthetic_transactions(spark, 6000).cache()  # 2 rows/s → 50 min span
    cut = F.lit("2024-01-01 00:30:00").cast("timestamp_ntz")
    tx.where(F.col("timestamp") < cut).coalesce(1).write.mode("append").parquet(d)
    tx.where(F.col("timestamp") >= cut).coalesce(1).write.mode("append").parquet(d)
    return d


def _stream(spark, d, files_per_trigger=1):
    schema = spark.read.parquet(d).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", str(files_per_trigger))
        .parquet(d)
    )


def test_stream_batch_equivalence_enrichment(spark, staged_stream_dir, tmp_path):
    users, products = _dims(spark)
    out = str(tmp_path / "out")
    qs = P.run_pipeline(
        spark, _stream(spark, staged_stream_dir), users, products, out, mode="faithful"
    )
    qs.await_all(120)

    got = spark.read.parquet(os.path.join(out, "fraud_records"))
    batch_tx = spark.read.parquet(staged_stream_dir)
    want = enrich_transactions(batch_tx, users, products)
    assert got.count() == want.count() == 6000
    # value-level spot check: fraud_score histograms identical
    g = {r.fraud_score: r["count"] for r in got.groupBy("fraud_score").count().collect()}
    w = {r.fraud_score: r["count"] for r in want.groupBy("fraud_score").count().collect()}
    assert g == w
    # partition layout (S7): payment_method=... dirs exist
    assert any(
        p.startswith("payment_method=") for p in os.listdir(os.path.join(out, "fraud_records"))
    )


def test_faithful_mode_reemits_then_dedups_to_batch_result(
    spark, staged_stream_dir, tmp_path
):
    """The ST4+A6 contract: complete-mode re-emission duplicates windows
    across triggers; keep-last dedup restores exactly the batch answer."""
    users, products = _dims(spark)
    out = str(tmp_path / "out")
    qs = P.run_pipeline(
        spark, _stream(spark, staged_stream_dir), users, products, out, mode="faithful"
    )
    qs.await_all(120)

    raw = spark.read.parquet(os.path.join(out, "user_spend_trends"))
    assert raw.select("batch_id").distinct().count() >= 2  # ≥2 triggers fired
    # write amplification really happened: duplicates per (key, window)
    assert raw.count() > raw.select("user_id", "window_start").distinct().count()

    deduped = P.read_trends_deduped(
        spark, os.path.join(out, "user_spend_trends"), ["user_id", "window_start"]
    )
    batch_tx = spark.read.parquet(staged_stream_dir)
    want = windowed_trends(
        batch_tx, key_col="user_id", sum_alias="total_spent", exact=False
    )
    assert deduped.count() == want.count()
    # exact value equality on the money column (decimal-sum is associative)
    diff = (
        deduped.select("user_id", "window_start", "total_spent")
        .exceptAll(want.select("user_id", "window_start", "total_spent"))
        .count()
    )
    assert diff == 0


def test_idiomatic_append_mode_emits_closed_windows_only(
    spark, staged_stream_dir, tmp_path
):
    users, products = _dims(spark)
    out = str(tmp_path / "out")
    qs = P.run_pipeline(
        spark, _stream(spark, staged_stream_dir), users, products, out, mode="idiomatic"
    )
    qs.await_all(120)

    path = os.path.join(out, "user_spend_trends")
    got = spark.read.parquet(path)
    batch_tx = spark.read.parquet(staged_stream_dir)
    want = windowed_trends(batch_tx, key_col="user_id", sum_alias="total_spent", exact=False)
    # append mode: emitted windows are exactly right (subset of batch),
    # and every emitted window closed before the final watermark
    assert 0 < got.count() <= want.count()
    diff = got.drop("batch_id").exceptAll(want).count()
    assert diff == 0
    max_ts = batch_tx.agg(F.max("timestamp")).collect()[0][0]
    for r in got.select("window_end").distinct().collect():
        assert r.window_end <= (max_ts.strftime("%Y-%m-%d %H:%M:%S"))


def test_watermark_drops_late_rows_in_append_mode(spark, tmp_path):
    """A row older than watermark delay arriving in a later batch must not
    resurrect or alter an already-closed window."""
    d = str(tmp_path / "in")
    out = str(tmp_path / "out")
    users, products = _dims(spark)
    tx = synthetic_transactions(spark, 6000).cache()
    early = tx.where(F.col("timestamp") < F.lit("2024-01-01 00:30:00").cast("timestamp_ntz"))
    late_probe = tx.limit(1).withColumn(
        "timestamp", F.lit("2023-12-31 10:00:00").cast("timestamp_ntz")
    )  # hours older than any watermark
    advance = tx.where(
        F.col("timestamp") >= F.lit("2024-01-01 00:30:00").cast("timestamp_ntz")
    )
    early.coalesce(1).write.mode("append").parquet(d)
    advance.coalesce(1).write.mode("append").parquet(d)
    late_probe.coalesce(1).write.mode("append").parquet(d)

    qs = P.run_pipeline(spark, _stream(spark, d), users, products, out, mode="idiomatic")
    qs.await_all(120)
    got = spark.read.parquet(os.path.join(out, "user_spend_trends"))
    assert got.where(F.col("window_start") < "2024-01-01 00:00:00").count() == 0


def test_csv_ingest_sink_layout(spark, tmp_path):
    from smart_fraud_detection_data_pipeline_spark.streaming.sinks import csv_ingest_sink

    d = str(tmp_path / "in")
    synthetic_transactions(spark, 50).coalesce(1).write.parquet(d)
    schema = spark.read.parquet(d).schema
    stream = spark.readStream.schema(schema).parquet(d)
    q = csv_ingest_sink(
        stream,
        str(tmp_path / "raw"),
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(60)
    back = spark.read.option("header", "true").csv(
        str(tmp_path / "raw"), recursiveFileLookup=False
    )
    # Hive-style processing-date partitions (year=/month=/day=) + all rows
    assert {"year", "month", "day"} <= set(back.columns)
    assert back.count() == 50


def test_stream_table_stages_under_scratch_root(spark, sf_dir):
    """stream_table's symlink dir is staged under the one atexit-cleaned
    scratch root, not left behind in the system tempdir per call."""
    root = os.path.dirname(tables.scratch_dir("probe_"))
    staged = []
    for _ in range(2):
        df = tables.stream_table(spark, sf_dir, "events")
        plan = df._jdf.queryExecution().analyzed().toString()
        staged += re.findall(r"FileSource\[([^\]]*)\]", plan)
    assert len(staged) == 2
    assert [os.path.dirname(d) for d in staged] == [root, root]


def test_generator_deterministic_and_in_domain(spark):
    a = synthetic_transactions(spark, 500)
    b = synthetic_transactions(spark, 500)
    assert a.exceptAll(b).count() == 0  # same seed → same rows
    rows = a.collect()
    assert all(r.transaction_id.startswith("T") for r in rows)
    assert all(1 <= r.user_id <= 2000 for r in rows)
    assert all(1 <= r.product_id <= 500 for r in rows)
    assert all(r.payment_method in PAYMENT_METHODS for r in rows)
    assert all(r.country in COUNTRIES for r in rows)
    assert all(10 <= r.amount <= 5000 for r in rows)
    # producer cadence: 2 rows/s from the base timestamp
    ts = sorted(r.timestamp for r in rows)
    assert (ts[-1] - ts[0]).total_seconds() == pytest.approx(249, abs=1)


def test_stateful_running_totals_match_batch(spark, staged_stream_dir, tmp_path):
    """applyInPandasWithState: per-user running totals accumulated across
    micro-batches must equal a batch groupBy exactly (integer-cents
    state — no float drift)."""
    from smart_fraud_detection_data_pipeline_spark.operators.dedup import dedup_keep_last
    from smart_fraud_detection_data_pipeline_spark.streaming.stateful import user_running_totals

    from smart_fraud_detection_data_pipeline_spark.streaming import sinks as SK

    out_path = str(tmp_path / "totals")
    stream = _stream(spark, staged_stream_dir)
    q = SK.start_foreach_batch(
        user_running_totals(stream),
        SK.reemit_parquet_sink(out_path),
        str(tmp_path / "ckpt"),
        output_mode="update",
        available_now=True,
        query_name="running_totals",
    )
    q.awaitTermination(120)

    emissions = spark.read.parquet(out_path)
    assert emissions.count() > 0
    final = dedup_keep_last(emissions, ["user_id"], ["n_events"]).drop("batch_id")

    batch = spark.read.parquet(staged_stream_dir)
    want = batch.groupBy("user_id").agg(
        F.sum(F.round(F.col("amount") * 100).cast("long")).alias("want_cents"),
        F.count(F.lit(1)).alias("want_n"),
    )
    joined = final.join(want, "user_id")
    assert joined.count() == want.count()
    bad = joined.where(
        (F.col("total_cents") != F.col("want_cents"))
        | (F.col("n_events") != F.col("want_n"))
    ).count()
    assert bad == 0


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """S10: a restarted query resumes from checkpointed offsets — new
    files are processed exactly once, nothing is reprocessed."""
    from smart_fraud_detection_data_pipeline_spark.streaming import sinks as SK

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    tx = synthetic_transactions(spark, 600).cache()
    first_half = tx.where(F.col("transaction_id").substr(2, 7).cast("long") % 2 == 0)
    second_half = tx.subtract(first_half)

    first_half.coalesce(1).write.mode("append").parquet(src)
    schema = spark.read.parquet(src).schema

    def run_once():
        stream = spark.readStream.schema(schema).parquet(src)
        q = SK.start_foreach_batch(
            stream.select("transaction_id", "user_id", "amount"),
            SK.parquet_batch_sink(out, partitions=None),
            ckpt,
            available_now=True,
        )
        q.awaitTermination(60)

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 == first_half.count()

    # second run with the SAME checkpoint: only the new file is processed
    second_half.coalesce(1).write.mode("append").parquet(src)
    run_once()
    result = spark.read.parquet(out)
    assert result.count() == 600  # no duplicates from re-processing
    assert result.select("transaction_id").distinct().count() == result.count()


def test_drop_duplicates_within_watermark_across_batches(spark, tmp_path):
    """At-least-once replay: rows re-delivered in a LATER micro-batch
    must be emitted exactly once. Covers both absorption paths — keyed
    state (replay within the watermark horizon) and late-drop (replay
    behind it)."""
    from smart_fraud_detection_data_pipeline_spark.streaming import sinks as SK

    d = str(tmp_path / "in")
    out = str(tmp_path / "out")
    rows = [
        (i, f"2024-01-01 00:{i:02d}:00") for i in range(50)
    ]  # 50 min of event time — well past the 15-min watermark
    ev = spark.createDataFrame(rows, "event_id bigint, ts_str string").select(
        "event_id", F.col("ts_str").cast("timestamp_ntz").alias("ts")
    )
    ev.coalesce(1).write.mode("append").parquet(d)
    # replay: the freshest rows (within watermark) AND the oldest (behind it)
    ev.where((F.col("event_id") >= 45) | (F.col("event_id") < 5)).coalesce(
        1
    ).write.mode("append").parquet(d)

    deduped = (
        spark.readStream.schema(spark.read.parquet(d).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(d)
        .withColumn("event_time", F.col("ts").cast("timestamp"))
        .withWatermark("event_time", "15 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "ts")
    )
    q = SK.start_foreach_batch(
        deduped,
        SK.parquet_batch_sink(os.path.join(out, "data"), partitions=None),
        os.path.join(out, "ckpt"),
        output_mode="append",
        available_now=True,
        query_name="dedup_within_watermark_test",
    )
    q.awaitTermination(120)
    got = spark.read.parquet(os.path.join(out, "data"))
    assert got.count() == 50  # every row exactly once
    assert got.select("event_id").distinct().count() == 50


def test_transform_with_state_builds_typed_streaming_plan(spark, staged_stream_dir):
    """Construction-level pin for the Spark 4 stateful API (always runs,
    protobuf or not): the TransformWithStateInPySpark operator lands in
    the plan with the declared output schema, on a streaming frame."""
    from smart_fraud_detection_data_pipeline_spark.streaming.stateful import (
        user_running_totals_tws,
    )

    out = user_running_totals_tws(_stream(spark, staged_stream_dir))
    assert out.isStreaming
    assert (
        out.schema.simpleString()
        == "struct<user_id:bigint,total_cents:bigint,n_events:bigint>"
    )
    assert "TransformWithStateInPySpark" in out._jdf.queryExecution().logical().toString()


def test_transform_with_state_matches_legacy_and_batch(
    spark, staged_stream_dir, tmp_path
):
    """transformWithStateInPandas (the Spark 4 stateful API) must produce
    the SAME final per-user totals as both the applyInPandasWithState
    twin and a plain batch groupBy — the migration is semantics-
    preserving."""
    from smart_fraud_detection_data_pipeline_spark.operators.dedup import dedup_keep_last
    from smart_fraud_detection_data_pipeline_spark.streaming import sinks as SK
    from smart_fraud_detection_data_pipeline_spark.streaming.stateful import (
        have_tws_runtime,
        user_running_totals_tws,
    )

    if not have_tws_runtime():
        pytest.skip("protobuf runtime absent: transformWithState cannot execute here")

    out_path = str(tmp_path / "totals_tws")
    stream = _stream(spark, staged_stream_dir)
    # transformWithState requires a column-family-capable state store;
    # HDFSBackedStateStoreProvider hard-rejects it, so run under RocksDB
    # (the production backend anyway — see the provider test below).
    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        q = SK.start_foreach_batch(
            user_running_totals_tws(stream),
            SK.reemit_parquet_sink(out_path),
            str(tmp_path / "ckpt_tws"),
            output_mode="update",
            available_now=True,
            query_name="running_totals_tws",
        )
        q.awaitTermination(120)
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)

    emissions = spark.read.parquet(out_path)
    assert emissions.count() > 0
    final = dedup_keep_last(emissions, ["user_id"], ["n_events"]).drop("batch_id")

    batch = spark.read.parquet(staged_stream_dir)
    want = batch.groupBy("user_id").agg(
        F.sum(F.round(F.col("amount") * 100).cast("long")).alias("want_cents"),
        F.count(F.lit(1)).alias("want_n"),
    )
    joined = final.join(want, "user_id")
    assert joined.count() == want.count()
    bad = joined.where(
        (F.col("total_cents") != F.col("want_cents"))
        | (F.col("n_events") != F.col("want_n"))
    ).count()
    assert bad == 0


def test_stream_stream_join_pairs_across_batches(spark, tmp_path):
    """A join pair whose two sides arrive in DIFFERENT micro-batches must
    still match — the left row waits in watermark-bounded state."""
    from smart_fraud_detection_data_pipeline_spark.streaming import sinks as SK

    d = str(tmp_path / "in")
    out = str(tmp_path / "out")
    f1 = [(1, 100, "2024-01-01 00:00:00", "error"),
          (2, 100, "2024-01-01 00:02:00", "click"),
          (3, 200, "2024-01-01 00:20:00", "error")]
    # batch 2: follow-ups for BOTH errors — one whose error came a batch earlier
    f2 = [(4, 100, "2024-01-01 00:04:00", "view"),
          (5, 200, "2024-01-01 00:22:00", "view"),
          (6, 200, "2024-01-01 00:59:00", "view")]  # outside the 10-min window
    schema = "event_id bigint, user_id bigint, ts_str string, event_type string"
    for batch in (f1, f2):
        spark.createDataFrame(batch, schema).select(
            "event_id", "user_id",
            F.col("ts_str").cast("timestamp_ntz").alias("ts"), "event_type",
        ).coalesce(1).write.mode("append").parquet(d)

    def reader():
        return (
            spark.readStream.schema(spark.read.parquet(d).schema)
            .option("maxFilesPerTrigger", "1").parquet(d)
        )

    errors = (
        reader().where(F.col("event_type") == "error")
        .select(F.col("event_id").alias("err_id"), "user_id",
                F.col("ts").cast("timestamp").alias("err_time"))
        .withWatermark("err_time", "15 minutes")
    )
    follows = (
        reader()
        .select(F.col("event_id").alias("follow_id"),
                F.col("user_id").alias("f_user"),
                F.col("ts").cast("timestamp").alias("f_time"))
        .withWatermark("f_time", "15 minutes")
    )
    pairs = errors.join(
        follows,
        (F.col("user_id") == F.col("f_user"))
        & (F.col("f_time") > F.col("err_time"))
        & (F.col("f_time") <= F.col("err_time") + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select("err_id", "follow_id")
    q = SK.start_foreach_batch(
        pairs,
        SK.parquet_batch_sink(os.path.join(out, "data"), partitions=None),
        os.path.join(out, "ckpt"),
        output_mode="append", available_now=True,
        query_name="ss_join_test",
    )
    q.awaitTermination(120)
    got = {(r.err_id, r.follow_id)
           for r in spark.read.parquet(os.path.join(out, "data")).collect()}
    # (1,2) same batch; (1,4) and (3,5) cross the batch boundary; (3,6) out of window
    assert got == {(1, 2), (1, 4), (3, 5)}


def test_stream_stream_join_bucketed_bit_identical(spark, tmp_path):
    """The hot-key state split (streaming/joins.py bucket_seconds) must
    be BIT-IDENTICAL to the plain join — inner AND leftOuter (round
    10) — including the adversarial geometry: pairs exactly ON a
    bucket boundary, pairs spanning one, a window exactly equal to the
    bucket, duplicate timestamps on the hot key, a cross-batch pair,
    an error with NO follow-ups (the true null-extension), and an
    error whose matches all live in its SECOND probed bucket (the case
    a naive bucketed outer would double-emit as both a match and a
    null row — err 5 here). rightOuter + bucket_seconds must reject."""
    import pytest as _pytest

    from smart_fraud_detection_data_pipeline_spark.streaming import sinks as SK
    from smart_fraud_detection_data_pipeline_spark.streaming.joins import (
        interval_join_streaming,
    )

    d = str(tmp_path / "in")
    # hot user 7: errors at 00:00:00 and 09:59:30 (straddles the 600 s
    # bucket edge at 00:10:00), follows at +600 s exactly (inclusive
    # upper bound ON the boundary), +1 s, duplicates, and one outside
    f1 = [(1, 7, "2024-01-01 00:00:00", "error"),
          (2, 7, "2024-01-01 00:10:00", "view"),    # == err1 + 600 s, next bucket
          (3, 7, "2024-01-01 00:00:01", "view"),
          (4, 7, "2024-01-01 00:00:01", "view"),    # duplicate ts
          (5, 7, "2024-01-01 09:59:30", "error"),
          (10, 9, "2024-01-01 05:00:00", "error")]  # never matched -> null row
    f2 = [(6, 7, "2024-01-01 10:00:30", "view"),    # cross-batch, spans bucket
          (7, 7, "2024-01-01 10:09:30", "view"),    # == err5 + 600 s
          (8, 7, "2024-01-01 10:09:31", "view"),    # 601 s — out of window
          (9, 8, "2024-01-01 10:09:31", "view")]    # other user
    # two sentinel files (one per join side each) advance the watermark
    # past every horizon and trigger the eviction batch — the outer
    # queries' _staged_events(outer=True) pattern
    s1 = [(-1, -1, "2024-01-02 00:00:00", "error"),
          (-2, -2, "2024-01-02 00:00:00", "view")]
    s2 = [(-3, -1, "2024-01-03 00:00:00", "error"),
          (-4, -2, "2024-01-03 00:00:00", "view")]
    schema = "event_id bigint, user_id bigint, ts_str string, event_type string"
    for batch in (f1, f2, s1, s2):
        spark.createDataFrame(batch, schema).select(
            "event_id", "user_id",
            F.col("ts_str").cast("timestamp_ntz").alias("ts"), "event_type",
        ).coalesce(1).write.mode("append").parquet(d)

    def run(bucket_seconds, tag, how="inner"):
        def reader():
            return (
                spark.readStream.schema(spark.read.parquet(d).schema)
                .option("maxFilesPerTrigger", "1").parquet(d)
            )

        errors = (
            reader().where(F.col("event_type") == "error")
            .select(F.col("event_id").alias("err_id"), "user_id",
                    F.col("ts").cast("timestamp").alias("err_time"))
            .withWatermark("err_time", "15 minutes")
        )
        follows = (
            reader()
            .select(F.col("event_id").alias("follow_id"),
                    F.col("user_id").alias("f_user"),
                    F.col("ts").cast("timestamp").alias("f_time"))
            .withWatermark("f_time", "15 minutes")
        )
        pairs = interval_join_streaming(
            errors, follows,
            left_key="user_id", right_key="f_user",
            left_time="err_time", right_time="f_time",
            window_seconds=600, how=how, bucket_seconds=bucket_seconds,
        ).select("err_id", "follow_id")
        out = str(tmp_path / f"out_{tag}")
        q = SK.start_foreach_batch(
            pairs,
            SK.parquet_batch_sink(os.path.join(out, "data"), partitions=None),
            os.path.join(out, "ckpt"),
            output_mode="append", available_now=True,
            query_name=f"ss_join_bucketed_{tag}",
        )
        SK.await_or_raise(q)
        rows = [
            (r.err_id, r.follow_id)
            for r in spark.read.parquet(os.path.join(out, "data")).collect()
            # strip the sentinels' own emissions (either side may be a
            # NULL extension under the outer flavors)
            if (r.err_id is None or r.err_id >= 0)
            and (r.follow_id is None or r.follow_id >= 0)
        ]
        key = lambda t: tuple(-1 if v is None else v for v in t)  # noqa: E731
        return sorted(rows, key=key), len(rows)

    plain_rows, plain_n = run(None, "plain")
    bucketed_rows, bucketed_n = run(600, "b600")
    assert plain_rows == [(1, 2), (1, 3), (1, 4), (5, 6), (5, 7)]
    # bit-identical INCLUDING multiplicity (no pair emitted twice from
    # two probe buckets)
    assert bucketed_rows == plain_rows and bucketed_n == plain_n

    outer_plain, outer_plain_n = run(None, "oplain", how="leftOuter")
    outer_bucketed, outer_bucketed_n = run(600, "ob600", how="leftOuter")
    # err 10 null-extends; err 1 and 5 must NOT (err 5's matches are
    # both in its second probed bucket — the naive double-emission trap)
    assert outer_plain == [(1, 2), (1, 3), (1, 4), (5, 6), (5, 7), (10, None)]
    assert outer_bucketed == outer_plain and outer_bucketed_n == outer_plain_n
    # a NON-DIVISOR bucket (450 s under the 600 s window: 3 probed
    # buckets, uneven coverage) must stay bit-identical too
    outer_450, outer_450_n = run(450, "ob450", how="leftOuter")
    assert outer_450 == outer_plain and outer_450_n == outer_plain_n

    # rightOuter (round 11): the probe explode copies only the LEFT
    # side, so the per-copy join is bit-identical with no consolidation
    # — unmatched rights (601-s row 8, other-user row 9, the error rows
    # riding the follows stream) null-extend exactly once, matched ones
    # never
    r_plain, r_plain_n = run(None, "rplain", how="rightOuter")
    r_bucketed, r_bucketed_n = run(600, "rb600", how="rightOuter")
    assert (None, 8) in r_plain and (None, 9) in r_plain
    assert r_bucketed == r_plain and r_bucketed_n == r_plain_n
    # fullOuter (round 11): leftOuter consolidation ∪ rightOuter
    # null-extensions — both sides' unmatched rows exactly once
    f_plain, f_plain_n = run(None, "fplain", how="fullOuter")
    f_bucketed, f_bucketed_n = run(450, "fb450", how="fullOuter")
    assert (10, None) in f_plain and (None, 8) in f_plain
    assert f_bucketed == f_plain and f_bucketed_n == f_plain_n

    with _pytest.raises(ValueError, match="composes with"):
        interval_join_streaming(
            spark.read.parquet(d), spark.read.parquet(d),
            left_key="user_id", right_key="user_id",
            left_time="ts", right_time="ts",
            how="leftSemi", bucket_seconds=600,
        )


def test_stream_stream_bucketed_leftouter_duplicate_left_raises(spark, tmp_path):
    """VERDICT r10 #5: the leftOuter bucket hatch's consolidation stage
    groups by the full left row, so true duplicate left rows would
    silently merge into ONE null-extension. A unique unmatched left row
    consolidates exactly n_probe+1 copies; the stage now asserts that
    count and fails fast on merged duplicates instead."""
    import pytest as _pytest

    from smart_fraud_detection_data_pipeline_spark.streaming import sinks as SK
    from smart_fraud_detection_data_pipeline_spark.streaming.joins import (
        interval_join_streaming,
    )

    d = str(tmp_path / "in")
    schema = "event_id bigint, user_id bigint, ts_str string, event_type string"
    # two IDENTICAL unmatched error rows — the silent-merge case
    f1 = [(1, 9, "2024-01-01 00:00:00", "error"),
          (1, 9, "2024-01-01 00:00:00", "error")]
    s1 = [(-1, -1, "2024-01-02 00:00:00", "error"),
          (-2, -2, "2024-01-02 00:00:00", "view")]
    s2 = [(-3, -1, "2024-01-03 00:00:00", "error"),
          (-4, -2, "2024-01-03 00:00:00", "view")]
    for batch in (f1, s1, s2):
        spark.createDataFrame(batch, schema).select(
            "event_id", "user_id",
            F.col("ts_str").cast("timestamp_ntz").alias("ts"), "event_type",
        ).coalesce(1).write.mode("append").parquet(d)

    def reader():
        return (
            spark.readStream.schema(spark.read.parquet(d).schema)
            .option("maxFilesPerTrigger", "1").parquet(d)
        )

    errors = (
        reader().where(F.col("event_type") == "error")
        .select(F.col("event_id").alias("err_id"), "user_id",
                F.col("ts").cast("timestamp").alias("err_time"))
        .withWatermark("err_time", "15 minutes")
    )
    follows = (
        reader()
        .select(F.col("event_id").alias("follow_id"),
                F.col("user_id").alias("f_user"),
                F.col("ts").cast("timestamp").alias("f_time"))
        .withWatermark("f_time", "15 minutes")
    )
    pairs = interval_join_streaming(
        errors, follows,
        left_key="user_id", right_key="f_user",
        left_time="err_time", right_time="f_time",
        window_seconds=600, how="leftOuter", bucket_seconds=600,
    ).select("err_id", "follow_id")
    out = str(tmp_path / "out")
    q = SK.start_foreach_batch(
        pairs,
        SK.parquet_batch_sink(os.path.join(out, "data"), partitions=None),
        os.path.join(out, "ckpt"),
        output_mode="append", available_now=True,
        query_name="ss_join_dup_left",
    )
    with _pytest.raises(Exception, match="duplicate left rows"):
        SK.await_or_raise(q)


def test_rocksdb_state_store_provider_runs_stateful_agg(spark, tmp_path):
    """The production state backend: HDFSBackedStateStoreProvider keeps
    every key in executor heap — at 100 TB of keyed state that is an
    OOM, and RocksDB (on-disk, incremental-checkpoint) is the provider
    a real deployment runs. Pin that the engine's stateful operators
    work unchanged under it: same windowed aggregate, same results as
    the batch answer; only the session conf differs."""
    from smart_fraud_detection_data_pipeline_spark.streaming import sinks as SK

    d = str(tmp_path / "in")
    out = str(tmp_path / "out")
    rows = [(i, f"2024-01-01 00:{i:02d}:00", float(i)) for i in range(40)]
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts_str string, value double"
    ).select("event_id", F.col("ts_str").cast("timestamp_ntz").alias("ts"), "value")
    ev.where(F.col("event_id") < 20).coalesce(1).write.mode("append").parquet(d)
    ev.where(F.col("event_id") >= 20).coalesce(1).write.mode("append").parquet(d)

    provider_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(provider_key, None)
    spark.conf.set(
        provider_key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        agg = (
            spark.readStream.schema(spark.read.parquet(d).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(d)
            .withColumn("event_time", F.col("ts").cast("timestamp"))
            .withWatermark("event_time", "15 minutes")
            .groupBy(F.window("event_time", "10 minutes"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .select(F.col("window.start").alias("w_start"), "n", "total")
        )
        q = SK.start_foreach_batch(
            agg,
            SK.parquet_batch_sink(os.path.join(out, "data"), partitions=None),
            os.path.join(out, "ckpt"),
            output_mode="append",
            available_now=True,
            query_name="rocksdb_state_test",
        )
        q.awaitTermination(120)
    finally:
        if old is None:
            spark.conf.unset(provider_key)
        else:
            spark.conf.set(provider_key, old)

    got = {
        r.w_start: (r.n, r.total)
        for r in spark.read.parquet(os.path.join(out, "data")).collect()
    }
    batch = {
        r.w_start: (r.n, r.total)
        for r in (
            spark.read.parquet(d)
            .groupBy(F.window(F.col("ts").cast("timestamp"), "10 minutes"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("total"))
            .select(F.col("window.start").alias("w_start"), "n", "total")
            # append emits only windows whose END <= the final watermark
            # (max event 00:39 - 15 min = 00:24 -> the first two windows)
            .where(F.col("w_start") < F.lit("2024-01-01 00:20:00").cast("timestamp"))
        ).collect()
    }
    assert got == batch and len(got) == 2


def _shuffle_partitions_in_offsets(checkpoint):
    """The shuffle-partition count a stream recorded in its first
    offsets-log entry: the count its state is partitioned by for the
    life of the checkpoint."""
    import json

    with open(os.path.join(checkpoint, "offsets", "0"), encoding="utf-8") as fh:
        return json.loads(fh.read().splitlines()[1])["conf"]["spark.sql.shuffle.partitions"]


def _input_rows(q):
    return [p.numInputRows for p in q.recentProgress]


def _staged_file_rows(spark, src):
    """Rows of each staged file, oldest first: the order a file stream
    with maxFilesPerTrigger=1 takes them in."""
    files = sorted(tables.dataset_files(spark, src), key=lambda f: (f[1], f[0]))
    return [tables.parquet_num_rows(f) for f, _, _ in files]


@pytest.mark.parametrize("mode", ["idiomatic", "faithful"])
def test_pipeline_trends_pin_state_partitions_and_run_each_batch_once(
    spark, staged_stream_dir, tmp_path, mode
):
    """Both trend aggregations record STATE_PARTITIONS in their
    checkpoint while the session keeps its own count, and the fraud
    sink executes each micro-batch once: every trigger reads exactly
    the rows of its staged file."""
    from smart_fraud_detection_data_pipeline_spark.streaming import sinks as SK

    users, products = _dims(spark)
    out = str(tmp_path / "out")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert before != str(SK.STATE_PARTITIONS)
    qs = P.run_pipeline(
        spark, _stream(spark, staged_stream_dir), users, products, out, mode=mode
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    for q in qs.all():
        SK.await_or_raise(q, 120)
    for name in ("user_spend_trends", "category_trends"):
        ckpt = os.path.join(out, "checkpoints", name)
        assert _shuffle_partitions_in_offsets(ckpt) == str(SK.STATE_PARTITIONS)
    rows = _staged_file_rows(spark, staged_stream_dir)
    assert len(rows) == 2 and sum(rows) == 6000
    assert _input_rows(qs.fraud) == rows


def test_stateful_drain_pins_state_partitions(spark, tmp_path, monkeypatch):
    """A stateful catalog drain records STATE_PARTITIONS in its
    checkpoint and leaves the session's count as it was."""
    from smart_fraud_detection_data_pipeline_spark import queries as Q
    from smart_fraud_detection_data_pipeline_spark.streaming import sinks as SK

    d = str(tmp_path / "in")
    for lo in (0, 30):
        spark.range(lo, lo + 30, 1, 1).select(
            (F.col("id") % 7).alias("k"), F.col("id").alias("v")
        ).write.mode("append").parquet(d)
    started, real_start = [], SK.start_foreach_batch

    def start(*args, **kw):
        started.append((args[2], kw.get("stateful")))
        return real_start(*args, **kw)

    monkeypatch.setattr(Q.SK, "start_foreach_batch", start)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    got = Q._drain(
        spark, Q._stream_files(spark, d).dropDuplicates(["k"]), "drain_state_test", stateful=True
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    assert sorted(r.k for r in got.collect()) == list(range(7))
    [(ckpt, stateful)] = started
    assert stateful and _shuffle_partitions_in_offsets(ckpt) == str(SK.STATE_PARTITIONS)


def test_dedup_streaming_compaction_reads_each_batch_once(spark, sf_dir, monkeypatch):
    """The compaction stream routes its probe on the batch id, so each
    trigger reads exactly the rows of its staged file, once."""
    from smart_fraud_detection_data_pipeline_spark import queries as Q
    from smart_fraud_detection_data_pipeline_spark.streaming import sinks as SK

    started, real_start = [], SK.start_foreach_batch

    def start(*args, **kw):
        started.append(real_start(*args, **kw))
        return started[-1]

    monkeypatch.setattr(Q.SK, "start_foreach_batch", start)
    Q.q_dedup_streaming_compaction(spark, sf_dir).collect()
    [q] = started
    src = q.recentProgress[0].sources[0].description
    src = re.search(r"FileStreamSource\[(.*)\]", src).group(1)
    rows = _staged_file_rows(spark, src)
    assert len(rows) == 2 and sum(rows) > 0
    assert _input_rows(q) == rows


def test_fraud_sink_reads_back_after_zero_row_first_file(spark, tmp_path):
    """A zero-row partitioned append leaves only _SUCCESS behind. The
    fraud output then reads back through read_or_empty as an empty frame
    with the streaming frame's schema, and, once a later file brings
    rows, as exactly those rows."""
    from smart_fraud_detection_data_pipeline_spark.streaming import sinks as SK

    users, products = _dims(spark)
    d, out = str(tmp_path / "in"), str(tmp_path / "out")
    tx = synthetic_transactions(spark, 600)
    tx.limit(0).coalesce(1).write.mode("append").parquet(d)
    fraud = os.path.join(out, "fraud_records")

    def drain():
        stream = _stream(spark, d)
        qs = P.run_pipeline(spark, stream, users, products, out)
        for q in qs.all():
            SK.await_or_raise(q, 120)
        like = P.enriched_stream(stream, users, products)
        return qs.fraud, like, SK.read_or_empty(spark, fraud, like)

    q, like, got = drain()
    assert _input_rows(q) == [0]
    assert os.path.isdir(fraud) and tables.dataset_files(spark, fraud) == []
    assert got.count() == 0 and got.schema == like.schema

    tx.coalesce(1).write.mode("append").parquet(d)
    q, like, got = drain()
    assert _input_rows(q) == [600]
    assert got.count() == 600
    assert sorted(got.columns) == sorted(like.columns)
