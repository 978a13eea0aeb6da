"""Batch + streaming table sources over the testdata star schema.

Reference parity: S5 (streaming CSV scan, spark.py:102-106), S6 (batch
CSV dimension scans, spark.py:109-120), S11-S13 (the pandas/boto3
object-listing + partition-recovery path of the loaders,
load_fraud_records...py:107-141 — all of which is built into Spark's
file index / partition discovery).

Footers: on a local path every parquet schema and row count comes from
the file footer, read on the driver with pyarrow as the reference reads
it with pandas (``read_parquet``, ``parquet_schema``,
``parquet_num_rows``). Spark is handed the schema, so building a frame
over parquet launches no schema-inference job, and a row count launches
no count job. Other filesystems (hdfs://, s3a://) keep Spark's own
inference. ``dataset_files`` is the one data-file listing for both.

Scale notes: parquet scans get predicate pushdown + column pruning from
Catalyst for free as long as callers express filters/selects on the
DataFrame (never collect-then-filter). At 100 TB the reading knobs that
matter are ``spark.sql.files.maxPartitionBytes`` (set in session.py) and
partition-pruning via Hive-style directory layout, which
``sinks.parquet_batch_sink`` produces.
"""

from __future__ import annotations

import atexit
import json
import os
import shutil
import tempfile
from functools import lru_cache
from typing import NamedTuple
from urllib.parse import urlparse

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from smart_fraud_detection_data_pipeline_spark import TABLES

#: CSV timestamp formats (shared with streaming.sinks.csv_ingest_sink).
#: Write pins 6-digit fractions so microseconds survive the text hop
#: (Spark's default CSV format truncates to millis); read makes the
#: fraction optional so hand-written or reference-produced CSVs without
#: sub-seconds still parse.
CSV_TS_WRITE_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
CSV_TS_READ_FORMAT = "yyyy-MM-dd HH:mm:ss[.SSSSSS]"


def _csv_options(header: bool) -> dict[str, str]:
    return {
        "header": "true" if header else "false",
        # By-POSITION schema application, ignoring header names — the
        # reference semantic: its producer emits `transaction_time` but
        # the hand-written StructType names the field `timestamp`
        # (transaction_producer.py:21 vs spark.py:74) and Spark maps by
        # position when an explicit schema is given.
        "enforceSchema": "true",
        "timestampFormat": CSV_TS_READ_FORMAT,
        "timestampNTZFormat": CSV_TS_READ_FORMAT,
    }


_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """A fresh scratch dir under one atexit-cleaned root: streaming
    sources, sinks and checkpoints need real directories, but repeated
    catalog runs must not leak a tempdir per invocation (ADVICE r1)."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="sfdp_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _ensure_ts_confs(spark: SparkSession) -> None:
    """Runtime confs every source path needs, set in ONE place.

    The caller may hand us a vanilla session (the verify driver does).
    Both are runtime-settable SQL confs. UTC matters because
    date_format/year/month render timestamps in the session timezone and
    the oracle renders them naively; nanosAsLong makes TIMESTAMP(NANOS)
    parquet columns readable (Spark has no nanosecond type).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


#: Footer key under which Spark stores the schema of a frame it wrote.
_SPARK_ROW_METADATA = b"org.apache.spark.sql.parquet.row.metadata"

#: Footer types with one fixed Spark type on the parquet read path.
_ARROW_TO_SPARK = {
    pa.null(): "integer",  # parquet INT32 with the UNKNOWN annotation
    pa.bool_(): "boolean",
    pa.int8(): "byte",
    pa.int16(): "short",
    pa.int32(): "integer",
    pa.int64(): "long",
    pa.uint8(): "short",
    pa.uint16(): "integer",
    pa.uint32(): "long",
    pa.uint64(): "decimal(20,0)",
    pa.float32(): "float",
    pa.float64(): "double",
    pa.string(): "string",
    pa.large_string(): "string",
    pa.binary(): "binary",
    pa.large_binary(): "binary",
    pa.date32(): "date",
    pa.date64(): "date",
}


class _Footer(NamedTuple):
    schema_json: str  # Spark data schema as read: every field nullable
    nano_cols: tuple[str, ...]  # TIMESTAMP(NANOS) columns, read as long
    num_rows: int


def _hidden(name: str) -> bool:
    """Spark's file-index rule: `_x` (but not a `k=v` dir), `.x` and
    in-flight `x._COPYING_` names hold no data."""
    return (
        name.startswith(".")
        or (name.startswith("_") and "=" not in name)
        or name.endswith("._COPYING_")
    )


def _local(path: str) -> str | None:
    """The local filesystem path behind ``path`` (no scheme, or a
    ``file:`` URI), or None for any other filesystem."""
    u = urlparse(path)
    if not u.scheme:
        return path
    if u.scheme == "file" and u.netloc in ("", "localhost"):
        return u.path
    return None


def _local_files(path: str) -> list[tuple[str, int, int]]:
    if os.path.isfile(path):
        st = os.stat(path)
        return [(path, st.st_mtime_ns, st.st_size)]
    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not _hidden(d)]
        for f in files:
            if not _hidden(f):
                st = os.stat(os.path.join(root, f))
                out.append((os.path.join(root, f), st.st_mtime_ns, st.st_size))
    return sorted(out)


def dataset_files(spark: SparkSession, path: str) -> list[tuple[str, int, int]]:
    """(file, mtime_ns, size) of every data file Spark reads under
    ``path``, in sorted order, skipping `_SUCCESS`, `_temporary/` and
    other hidden names at every level as Spark's file index does. Local
    paths (no scheme, or ``file:``) are listed directly; any other
    scheme (hdfs://, s3a://) through the Hadoop FileSystem of
    ``spark``'s session."""
    local = _local(path)
    if local is not None:
        return _local_files(local)
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    base = fs.makeQualified(jpath).toUri().getPath()
    out = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        st = it.next()
        rel = st.getPath().toUri().getPath()
        if rel.startswith(base):
            rel = rel[len(base):]
        if not any(_hidden(seg) for seg in rel.split("/") if seg):
            out.append(
                (st.getPath().toString(), st.getModificationTime() * 1_000_000, st.getLen())
            )
    return sorted(out)


def _footer_files(path: str) -> list[tuple[str, int, int]]:
    local = _local(path)
    if local is None:
        raise ValueError(f"{path}: parquet footers are read from local paths only")
    return _local_files(local)


def _spark_type(arrow_type, where: str):
    """The Spark type (JSON form) Spark reads a non-Spark footer type as."""
    if arrow_type in _ARROW_TO_SPARK:
        return _ARROW_TO_SPARK[arrow_type]
    if pa.types.is_dictionary(arrow_type):  # pandas categoricals
        return _spark_type(arrow_type.value_type, where)
    if pa.types.is_timestamp(arrow_type):
        if arrow_type.unit == "ns":
            return "long"  # spark.sql.legacy.parquet.nanosAsLong
        return "timestamp" if arrow_type.tz else "timestamp_ntz"
    if pa.types.is_duration(arrow_type):  # plain INT64 in the file
        return "long"
    if pa.types.is_fixed_size_binary(arrow_type):
        return "binary"
    if pa.types.is_decimal(arrow_type) and arrow_type.precision <= 38:
        return f"decimal({arrow_type.precision},{arrow_type.scale})"
    if (
        pa.types.is_list(arrow_type)
        or pa.types.is_large_list(arrow_type)
        or pa.types.is_fixed_size_list(arrow_type)
    ):
        return {
            "type": "array",
            "elementType": _spark_type(arrow_type.value_type, where),
            "containsNull": True,
        }
    if pa.types.is_map(arrow_type):
        return {
            "type": "map",
            "keyType": _spark_type(arrow_type.key_type, where),
            "valueType": _spark_type(arrow_type.item_type, where),
            "valueContainsNull": True,
        }
    if pa.types.is_struct(arrow_type):
        return _struct([arrow_type.field(i) for i in range(arrow_type.num_fields)], where)
    raise TypeError(f"{where}: parquet type {arrow_type} has no Spark mapping")


def _struct(fields, where: str, int96=frozenset()) -> dict:
    return {
        "type": "struct",
        "fields": [
            {
                "name": f.name,
                "type": "timestamp" if f.name in int96
                else _spark_type(f.type, f"{where} column {f.name}"),
                "nullable": True,
                "metadata": {},
            }
            for f in fields
        ],
    }


def _as_nullable(j):
    """DataType.asNullable on a schema's JSON form: Spark reads every
    parquet field, array element and map value as nullable."""
    if isinstance(j, list):
        return [_as_nullable(x) for x in j]
    if not isinstance(j, dict):
        return j
    return {
        k: True if k in ("nullable", "containsNull", "valueContainsNull") else _as_nullable(v)
        for k, v in j.items()
    }


@lru_cache(maxsize=4096)
def _footer(file: str, mtime_ns: int, size: int) -> _Footer:
    """One parquet footer. The key is the file's identity, so a file
    rewritten in place or a path with files added never gets an old
    answer."""
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(file)
    md = pf.metadata
    spark_json = (md.metadata or {}).get(_SPARK_ROW_METADATA)
    if spark_json is not None:
        schema = _as_nullable(json.loads(spark_json))
        return _Footer(json.dumps(schema), (), md.num_rows)
    # pyarrow reports INT96 as timestamp[ns]; Spark reads it as a
    # timestamp. Only top-level INT96 columns are mapped.
    int96 = set()
    for i in range(md.num_columns):
        col = md.schema.column(i)
        if col.physical_type == "INT96":
            if "." in col.path:
                raise TypeError(f"{file} column {col.path}: nested INT96 has no Spark mapping")
            int96.add(col.path)
    fields = list(pf.schema_arrow)
    nano = tuple(
        f.name for f in fields
        if f.name not in int96 and pa.types.is_timestamp(f.type) and f.type.unit == "ns"
    )
    schema = _struct(fields, file, frozenset(int96))
    return _Footer(json.dumps(schema), nano, md.num_rows)


def _first_footer(path: str) -> _Footer:
    # Spark without mergeSchema also infers from a single footer.
    files = _footer_files(path)
    if not files:
        raise FileNotFoundError(f"no parquet data files under {path}")
    return _footer(*files[0])


def parquet_schema(path: str) -> StructType:
    """The data schema ``spark.read.parquet(path)`` infers, from one
    footer read on the driver instead of a Spark job. Partition columns
    are not in it: Spark still discovers them from the directory names,
    with the same types and column order. ``path`` must be local."""
    return StructType.fromJson(json.loads(_first_footer(path).schema_json))


def parquet_num_rows(path: str) -> int:
    """``spark.read.parquet(path).count()``, summed from the footers of
    the local ``path``."""
    return sum(_footer(*f).num_rows for f in _footer_files(path))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """The package's one parquet batch read. On a local path the schema
    comes from the footer, so building the frame launches no Spark job;
    on any other filesystem Spark infers it."""
    if _local(path) is None:
        return spark.read.parquet(path)
    return spark.read.schema(parquet_schema(path)).parquet(path)


def _ntz_timestamps(df: DataFrame, nano_cols) -> DataFrame:
    """Surface every timestamp as TIMESTAMP_NTZ.

    Nanos columns (read as long) become micros by integer division: ts
    is ~1.7e18 nanos, beyond double's 2^53, so `div` stays in long
    arithmetic (lossless here — the data carries micro precision).
    Naive (NTZ) timestamps end-to-end: the source data is naive UTC and
    the DuckDB oracle is naive — keeping Spark's tz-aware TimestampType
    would make the same wall-clock instant a different Arrow type. Under
    the UTC session tz the cast is wall-clock-preserving.
    """
    for c in nano_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    for f in df.schema.fields:
        if f.dataType.typeName() == "timestamp":
            df = df.withColumn(f.name, F.col(f.name).cast("timestamp_ntz"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Batch-read one testdata table (columnar parquet, schema from footer)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    _ensure_ts_confs(spark)
    return _ntz_timestamps(read_parquet(spark, path), _first_footer(path).nano_cols)


def load_csv_table(spark: SparkSession, path: str, schema, *, header: bool = True) -> DataFrame:
    """S6 as the reference writes it: batch CSV scan with an explicit
    hand-written schema applied by position (spark.py:109-120).

    Timestamp columns are cast to TIMESTAMP_NTZ after the read so CSV-
    and parquet-backed pipelines produce identical types end-to-end.
    """
    _ensure_ts_confs(spark)
    reader = spark.read.format("csv").schema(schema).options(**_csv_options(header))
    return _ntz_timestamps(reader.load(path), ())


def stream_csv_table(
    spark: SparkSession,
    path: str,
    schema,
    *,
    header: bool = True,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """S5: streaming CSV scan with explicit schema (spark.py:102-106).

    Reads the year=/month=/day= layout `csv_ingest_sink` produces when
    `schema` includes the partition columns; point it at a leaf
    directory otherwise. Timestamps are cast to NTZ as in the batch
    path — including the same UTC session-tz self-set, so TimestampType
    schemas parse identically under a vanilla (non-UTC) driver session.
    """
    _ensure_ts_confs(spark)
    reader = spark.readStream.format("csv").schema(schema).options(**_csv_options(header))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return _ntz_timestamps(reader.load(path), ())


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    """Batch-read several testdata tables; returns {name: DataFrame}."""
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_temp_views(spark: SparkSession, sf_dir: str, names=TABLES) -> None:
    """Register each table as a temp view so spark.sql() queries run on them."""
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def stream_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming read of a testdata table (file source ≙ S5).

    Structured Streaming file sources need an explicit schema; it comes
    from the table's footer, read on the driver.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    _ensure_ts_confs(spark)
    schema, nano_cols = parquet_schema(path), _first_footer(path).nano_cols
    # The file stream source only accepts directories; testdata tables are
    # single files, so stage a symlink inside a scratch directory.
    if os.path.isfile(path):
        d = scratch_dir(f"stream_{name}_")
        os.symlink(path, os.path.join(d, f"{name}.parquet"))
        path = d
    reader = spark.readStream.schema(schema).format("parquet")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    # Same timestamp normalization as load_table, so callers see identical
    # types whether the table is stored as TIMESTAMP(NANOS) (legacy long
    # read) or TIMESTAMP(MICROS): everything surfaces as TIMESTAMP_NTZ.
    return _ntz_timestamps(reader.load(path), nano_cols)
