"""Every registered query must match its DuckDB oracle exactly at sf0.001.

This is a fast local version of the driver's sf0.01 correctness gate
(tools/oracle_check.py is the standalone runner).
"""

from __future__ import annotations

import duckdb
import pytest

import __spark_entry__ as entrymod
from smart_fraud_detection_data_pipeline_spark import TABLES
from tools.oracle_check import compare

_QUERIES = entrymod.queries()
_ORACLES = entrymod.oracle_sql()


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(_QUERIES))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    sdf = _QUERIES[name](spark, sf_dir).toPandas()
    odf = duck.sql(_ORACLES[name]).df()
    problems = compare(sdf, odf)
    assert not problems, problems


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) >= 10
