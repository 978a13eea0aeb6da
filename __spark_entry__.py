"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in the ``smart_fraud_detection_data_pipeline_spark`` package;
the query/oracle catalog is ``smart_fraud_detection_data_pipeline_spark.queries``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from smart_fraud_detection_data_pipeline_spark.queries import registry  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (fraud enrichment) on /root/testdata/sf0.001."""
    from smart_fraud_detection_data_pipeline_spark.queries import q_fraud_enrich

    return q_fraud_enrich(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return {spec.name: spec.spark_fn for spec in registry()}


def oracle_sql() -> dict[str, str]:
    """DuckDB twin for every query (QuerySpec.oracle is required)."""
    return {spec.name: spec.oracle for spec in registry()}
