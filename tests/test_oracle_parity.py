"""Every registered query must match its DuckDB oracle exactly at sf0.001,
and, at sf0.001, its fingerprint must be the one the certification ledger
holds.

One catalog pass: each query runs once, through the registry runner as
tools/oracle_check.py (the standalone sf0.01 replica of the driver's
correctness gate) runs it, and the runner fingerprints it off the clock.
A fingerprint mismatch means the ledger is stale: run
``python tools/certify.py`` and commit the ledger.
"""

from __future__ import annotations

import json

import duckdb
import pytest

import __spark_entry__ as entrymod
from smart_fraud_detection_data_pipeline_spark import TABLES
from smart_fraud_detection_data_pipeline_spark.queries import LEDGER
from tools import certify, runner
from tools.oracle_check import compare

_SPECS = {s.name: s for s in runner.select()}
with open(LEDGER, encoding="utf-8") as _fh:
    _LEDGER = json.load(_fh)["queries"]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(_SPECS))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    [(spec, rec, sdf)] = runner.run(spark, sf_dir, [_SPECS[name]], collect=True)
    assert rec["error"] is None, rec["error"]
    problems = compare(sdf, duck.sql(spec.oracle).df())
    assert not problems, problems
    if sf_dir == certify.SF_DIR:
        assert rec["fp"] == _LEDGER.get(name, {}).get("fp"), "stale ledger: run tools/certify.py"


def test_driver_maps_hold_every_registered_query():
    assert entrymod.queries() == {n: s.spark_fn for n, s in _SPECS.items()}
    assert entrymod.oracle_sql() == {n: s.oracle for n, s in _SPECS.items()}


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert len(df.schema.fields) >= 10
