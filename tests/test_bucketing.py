"""Bucketed co-located join: the write-once-shuffle-never contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from smart_fraud_detection_data_pipeline_spark.operators.bucketing import write_bucketed
from smart_fraud_detection_data_pipeline_spark.plans import explain as X


@pytest.fixture()
def bucket_db(spark, tmp_path):
    spark.sql(f"CREATE DATABASE IF NOT EXISTS bdb LOCATION '{tmp_path}/warehouse'")
    yield "bdb"
    spark.sql("DROP DATABASE IF EXISTS bdb CASCADE")


def test_bucketed_join_is_shuffle_free(spark, bucket_db):
    facts = spark.range(10000).select(
        (F.col("id") % 500).alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    dims = spark.range(500).select(
        F.col("id").alias("k"), F.concat(F.lit("n"), F.col("id")).alias("name")
    )
    write_bucketed(facts, "bdb.facts", bucket_col="k", num_buckets=8)
    write_bucketed(dims, "bdb.dims", bucket_col="k", num_buckets=8)

    # force the non-broadcast path so bucketing (not broadcast) is what
    # removes the exchanges
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("bdb.facts").join(spark.table("bdb.dims"), "k")
        c = X.plan_counts(joined)
        assert c["exchange"] == 0  # both sides read pre-bucketed
        assert joined.count() == 10000
        # same join WITHOUT bucketing pays two exchanges
        plain = facts.join(dims, "k")
        assert X.plan_counts(plain)["exchange"] >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "64MB")


def test_bucketed_aggregation_is_shuffle_free(spark, bucket_db):
    facts = spark.range(10000).select(
        (F.col("id") % 500).alias("k"), (F.col("id") % 97).cast("double").alias("v")
    )
    write_bucketed(facts, "bdb.agg_facts", bucket_col="k", num_buckets=8)
    agg = spark.table("bdb.agg_facts").groupBy("k").agg(F.sum("v").alias("s"))
    assert X.plan_counts(agg)["exchange"] == 0
    assert agg.count() == 500
