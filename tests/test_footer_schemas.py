"""Footer-derived schemas and row counts (sources.tables).

Parity: for every fixture table and for engine-written prefixes and
marts, the footer schema equals what Spark infers and the footer row
count equals count(). Pins: building a frame over parquet launches no
Spark job. Staleness: the footer cache never answers for a file that
was rewritten in place.
"""

from __future__ import annotations

import argparse
import glob
import itertools
import os
import subprocess
import sys
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from smart_fraud_detection_data_pipeline_spark import run as R
from smart_fraud_detection_data_pipeline_spark.operators.loaders import compact_dataset
from smart_fraud_detection_data_pipeline_spark.queries import _table_count, registry
from smart_fraud_detection_data_pipeline_spark.sources import tables
from smart_fraud_detection_data_pipeline_spark.sources.tables import (
    dataset_files,
    load_table,
    parquet_num_rows,
    parquet_schema,
    read_parquet,
    stream_table,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_GROUPS = itertools.count()


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` launches, counted through its job group."""
    sc = spark.sparkContext
    group = f"footer-pin-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed by the listener bus; drain it first
    sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="module")
def fixture_dirs(sf_dir, tmp_path_factory):
    """The test scale factor and its sf0.01 sibling, the adversarial and
    all-empty fixtures, and one table of every footer type the mapping
    covers."""
    base = tmp_path_factory.mktemp("footer_fixtures")
    tool = os.path.join(REPO, "tools", "make_adversarial_fixtures.py")
    adv, empty = str(base / "adversarial"), str(base / "empty")
    subprocess.run([sys.executable, tool, adv], check=True, capture_output=True)
    subprocess.run([sys.executable, tool, empty, "--empty"], check=True, capture_output=True)
    ts = [1_700_000_000_123_456]
    mapped = pa.table({
        "nul": pa.array([None], pa.null()),
        "b": pa.array([True], pa.bool_()),
        "i8": pa.array([1], pa.int8()),
        "i16": pa.array([1], pa.int16()),
        "u8": pa.array([1], pa.uint8()),
        "u16": pa.array([1], pa.uint16()),
        "u32": pa.array([1], pa.uint32()),
        "u64": pa.array([2**64 - 1], pa.uint64()),
        "f32": pa.array([1.5], pa.float32()),
        "bin": pa.array([b"x"], pa.binary()),
        "lbin": pa.array([b"x"], pa.large_binary()),
        "fbin": pa.array([b"xy"], pa.binary(2)),
        "lstr": pa.array(["x"], pa.large_string()),
        "cat": pa.array(["a"]).dictionary_encode(),
        "d": pa.array([19000], pa.date32()),
        "d64": pa.array([19000 * 86_400_000], pa.date64()),
        "dec": pa.array([Decimal("1.25")], pa.decimal128(10, 2)),
        "dec256": pa.array([Decimal("1.25")], pa.decimal256(20, 2)),
        "ns": pa.array([ts[0] * 1000], pa.timestamp("ns")),
        "ns_utc": pa.array([ts[0] * 1000], pa.timestamp("ns", tz="UTC")),
        "us_utc": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "ms": pa.array([ts[0] // 1000], pa.timestamp("ms")),
        "dur": pa.array([5], pa.duration("us")),
        "llist": pa.array([[1, 2]], pa.large_list(pa.int64())),
        "flist": pa.array([[1, 2]], pa.list_(pa.int64(), 2)),
        "st": pa.array([{"x": 1, "y": ["a"]}],
                       pa.struct([("x", pa.uint16()), ("y", pa.list_(pa.string()))])),
        "mp": pa.array([[("k", 1)]], pa.map_(pa.string(), pa.int32())),
    })
    os.makedirs(base / "mapped")
    pq.write_table(mapped, str(base / "mapped" / "types.parquet"))
    # Spark reads INT96 as a timestamp; pyarrow calls it timestamp[ns]
    pq.write_table(
        pa.table({"i96": pa.array(ts, pa.timestamp("us")), "n": pa.array([1], pa.int64())}),
        str(base / "mapped" / "int96.parquet"),
        use_deprecated_int96_timestamps=True,
    )
    sf001 = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    dirs = [sf_dir] + ([sf001] if os.path.isdir(sf001) and sf001 != sf_dir else [])
    return dirs + [adv, empty, str(base / "mapped")]


@pytest.fixture(scope="module")
def warehouse(spark, sf_dir, tmp_path_factory):
    """An engine-written partitioned processed prefix and one mart."""
    w = str(tmp_path_factory.mktemp("footer_whs"))
    args = argparse.Namespace(sf_dir=sf_dir, warehouse=w, since=None)
    R.JOBS["ingest"](spark, args)
    R.JOBS["warehouse_load"](spark, args)
    return w


def _assert_parity(spark, path):
    inferred = spark.read.parquet(path)
    assert read_parquet(spark, path).schema == inferred.schema, path
    assert parquet_num_rows(path) == inferred.count(), path


def test_fixture_tables_match_inference(spark, fixture_dirs):
    paths = [p for d in fixture_dirs for p in sorted(glob.glob(os.path.join(d, "*.parquet")))]
    assert len(paths) >= 31
    for p in paths:
        assert parquet_schema(p) == spark.read.parquet(p).schema, p
        _assert_parity(spark, p)


def test_partitioned_prefix_matches_inference(spark, warehouse):
    path = R._processed_path(warehouse)
    _assert_parity(spark, path)
    # the footer schema holds the data columns only; Spark appends the
    # partition columns it discovers, in the same order as inference
    data = [f.name for f in parquet_schema(path)]
    inferred = spark.read.parquet(path).columns
    assert inferred[: len(data)] == data and len(inferred) > len(data)


def test_mart_matches_inference(spark, warehouse):
    path = R._mart_path(warehouse, "fraud_records")
    assert parquet_schema(path) == spark.read.parquet(path).schema
    _assert_parity(spark, path)


def test_spark_written_nested_schema_is_nullable(spark, tmp_path):
    # Spark's footer schema keeps non-nullable fields; a read does not
    path = str(tmp_path / "nested")
    spark.sql(
        "SELECT id, array(id) AS arr, map('k', id) AS m, named_struct('x', id) AS st "
        "FROM range(3)"
    ).write.parquet(path)
    assert parquet_schema(path) == spark.read.parquet(path).schema
    _assert_parity(spark, path)


@pytest.mark.parametrize(
    "column, type_name",
    [
        # Spark rejects each of these too (PARQUET_TYPE_ILLEGAL or
        # DECIMAL_PRECISION_EXCEEDS_MAX_PRECISION)
        (pa.array([1], pa.time64("us")), "time64"),
        (pa.array([np.float16(1)], pa.float16()), "halffloat"),
        (pa.array([Decimal("1.5")], pa.decimal256(40, 1)), "decimal256"),
    ],
)
def test_unmapped_type_raises(tmp_path, column, type_name):
    path = str(tmp_path / "u.parquet")
    pq.write_table(pa.table({"u": column}), path)
    with pytest.raises(TypeError, match=rf"u\.parquet column u: parquet type {type_name}"):
        parquet_schema(path)


def test_file_uri_reads_footer_and_compacts(spark, tmp_path):
    # file:// URIs take the footer path; other schemes go to Spark
    src, dst = tmp_path / "src", tmp_path / "dst"
    spark.range(100).selectExpr("id", "id % 3 AS k").repartition(4).write.partitionBy(
        "k"
    ).parquet(str(src))
    uri = src.as_uri()
    assert len(dataset_files(spark, uri)) == len(dataset_files(spark, str(src))) >= 3
    assert _jobs(spark, lambda: read_parquet(spark, uri)) == 0
    assert read_parquet(spark, uri).schema == spark.read.parquet(uri).schema
    assert compact_dataset(spark, uri, dst.as_uri()) == 1
    assert len(dataset_files(spark, str(dst))) == 1
    assert parquet_num_rows(str(dst)) == 100


def test_other_schemes_list_through_hadoop_and_infer(spark, tmp_path, monkeypatch):
    # hdfs:// and s3a:// have no local footers: the listing goes through
    # the Hadoop FileSystem and the read through Spark's inference.
    # Treating file:// as remote drives those branches on a local dir.
    src = tmp_path / "src"
    spark.range(50).selectExpr("id", "id % 2 AS k").write.partitionBy("k").parquet(str(src))
    (src / "k=0" / "_junk").write_bytes(b"x")
    local = [(os.path.relpath(f, src), n) for f, _, n in dataset_files(spark, str(src))]
    monkeypatch.setattr(tables, "_local", lambda path: None)
    remote = dataset_files(spark, src.as_uri())
    assert [(os.path.relpath(f[len("file:"):], src), n) for f, _, n in remote] == local
    assert _jobs(spark, lambda: read_parquet(spark, src.as_uri())) >= 1
    assert read_parquet(spark, src.as_uri()).count() == 50
    with pytest.raises(ValueError, match="local paths only"):
        parquet_schema(src.as_uri())


def test_dataset_files_keeps_partition_dirs_and_skips_copying(spark, tmp_path):
    # Spark's file index reads `_k=v` directories and skips `x._COPYING_`
    spark.range(4).selectExpr("id", "id % 2 AS _k").write.partitionBy("_k").parquet(
        str(tmp_path / "t")
    )
    (tmp_path / "t" / "_k=0" / "part-x.parquet._COPYING_").write_bytes(b"x")
    files = dataset_files(spark, str(tmp_path / "t"))
    assert len(files) >= 2 and all("=" in f and "_COPYING_" not in f for f, _, _ in files)
    assert parquet_num_rows(str(tmp_path / "t")) == spark.read.parquet(str(tmp_path / "t")).count()


# -- no Spark job while building frames over parquet --------------------------

def test_job_counter_sees_inference(spark, sf_dir):
    # positive control: a bare read runs Spark's schema-inference job
    path = os.path.join(sf_dir, "nation.parquet")
    assert _jobs(spark, lambda: spark.read.parquet(path)) >= 1


def test_table_reads_launch_no_job(spark, sf_dir):
    assert _jobs(spark, lambda: load_table(spark, sf_dir, "events")) == 0
    assert _jobs(spark, lambda: stream_table(spark, sf_dir, "events")) == 0
    path = os.path.join(sf_dir, "customer.parquet")
    assert _jobs(spark, lambda: read_parquet(spark, path)) == 0


def test_loader_read_and_log_launch_no_job(spark, warehouse):
    src = R._read_processed(spark, warehouse, None)
    assert _jobs(spark, lambda: R._read_processed(spark, warehouse, "2024-01-02")) == 0
    path = R._mart_path(warehouse, "fraud_records")
    assert _jobs(spark, lambda: R._read_mart(spark, path, src)) == 0
    assert _jobs(spark, lambda: R._log_mart("warehouse_load", path)) == 0


@pytest.mark.parametrize(
    "name", ["customers_no_big_order", "nation_trade_volume", "returned_item_losses"]
)
def test_query_build_launches_no_job(spark, sf_dir, name):
    spec = next(s for s in registry() if s.name == name)
    assert _jobs(spark, lambda: spec.spark_fn(spark, sf_dir)) == 0


# -- the footer cache follows the files ---------------------------------------

def test_rewritten_nanos_table_is_reread(spark, tmp_path):
    ts = [1_700_000_000_123_456, 1_700_000_060_000_001]
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"ts": pa.array([t * 1000 for t in ts], pa.timestamp("ns"))}), path)
    first = load_table(spark, str(tmp_path), "t").collect()
    pq.write_table(pa.table({"ts": pa.array(ts, pa.timestamp("us"))}), path)
    again = load_table(spark, str(tmp_path), "t")
    assert again.schema["ts"].dataType.typeName() == "timestamp_ntz"
    assert again.collect() == first


def test_rewritten_table_count_is_fresh(spark, tmp_path):
    path = str(tmp_path / "part.parquet")
    pq.write_table(pa.table({"p_partkey": pa.array(range(3), pa.int64())}), path)
    assert _table_count(spark, str(tmp_path), "part") == 3
    pq.write_table(pa.table({"p_partkey": pa.array(range(7), pa.int64())}), path)
    assert _table_count(spark, str(tmp_path), "part") == 7
