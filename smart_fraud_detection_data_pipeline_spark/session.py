"""SparkSession construction with scale-aware defaults.

The reference hand-configures executors (2g/2 cores, spark.py:42-43) and
leaves everything else at defaults. We instead lean on the knobs that
matter at 100 TB: AQE (runtime re-planning, skew-join splitting, shuffle
coalescing), UTC session timezone (the reference's producer emits naive
UTC ISO strings — transaction_producer.py:21), Arrow for any Pandas UDF
exchange, and an explicit shuffle-partition count sized to the local test
harness (on a real cluster this is overridden per-job or left to AQE's
``spark.sql.adaptive.coalescePartitions.initialPartitionNum``).

One partition per core is the BATCH default only. AQE does not run in
stateful streams, whose shuffle-partition count is the state-store
partition count, fixed by the checkpoint: streams take it from
``streaming.sinks.STATE_PARTITIONS`` (``start_foreach_batch``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Defaults applied to every session we build. Callers can override any
#: of these via ``extra_conf``. All are public Spark conf keys.
DEFAULT_CONF: dict[str, str] = {
    # Determinism: naive timestamps in the test parquet are UTC.
    "spark.sql.session.timeZone": "UTC",
    # Adaptive query execution: coalesce post-shuffle partitions, split
    # skewed join partitions, convert to broadcast at runtime. This is
    # the single most important scale knob — at 100 TB the static
    # shuffle.partitions number is always wrong for some stage.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas_udf / mapInPandas exchange (similarity + multimodal ops).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Dimension tables (customer/part/supplier/nation/region) are tiny
    # relative to facts; make sure they broadcast rather than shuffle.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Input split sizing: big enough that sf0.1 doesn't explode into
    # thousands of tiny tasks, small enough to parallelize a 100 TB scan.
    "spark.sql.files.maxPartitionBytes": "128MB",
    # Local-mode UI is dead weight in tests/bench.
    "spark.ui.enabled": "false",
    # The testdata writes TIMESTAMP(NANOS) parquet, which Spark rejects by
    # default; read as long nanos and convert (sources.tables) — the data
    # carries only microsecond precision, so the conversion is lossless.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def _default_driver_memory() -> str | None:
    """Size the local-mode JVM heap to the host instead of Spark's 1g
    default. local[n] runs driver AND all n executor threads in one JVM:
    at 1g, 32 concurrent tasks share <400 MB of execution memory, which
    OOMed a 64x-scaled fuzz fixture (3.2 M lineitem) in a hash-aggregate
    stage while the host had 128 GiB idle. RAM/8 clamped to [2g, 16g] is
    conservative for a shared box and override-able via
    SPARK_GRAFT_DRIVER_MEM; on a real cluster the submit config wins
    (this only applies when WE launch the JVM — getOrCreate against an
    existing session ignores it)."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    except (OSError, StopIteration, ValueError, IndexError):
        return None
    gb = max(2, min(16, kb // (8 * 1024 * 1024)))
    return f"{gb}g"


def _memory_spec_mib(spec: str) -> int | None:
    """Parse a JVM memory spec ('4g', '4096m', '4096k', bare bytes) to
    MiB, or None if unrecognized. maxResultSize sizing must accept every
    suffix spark.driver.memory accepts: an override like
    SPARK_GRAFT_DRIVER_MEM=4096m previously skipped the ceiling bump
    entirely and silently kept Spark's 1 GiB default — the exact
    collect-abort failure the sizing exists to prevent."""
    spec = spec.strip().lower()
    scale = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    suffix = spec[-1:]
    try:
        if suffix in scale:
            return int(int(spec[:-1]) * scale[suffix])
        return int(spec) // (1024 * 1024)  # bare bytes
    except ValueError:
        return None


def s3a_conf(
    endpoint: str | None = None,
    access_key: str | None = None,
    secret_key: str | None = None,
    *,
    path_style: bool = True,
    ssl: bool | None = None,
) -> dict[str, str]:
    """Spark conf for an S3-compatible object store (MinIO/S3), mirroring
    the reference's hand-wired Hadoop config (`src/spark/jobs/spark.py:47-57`:
    endpoint, access/secret key, path-style access, SSL toggle, S3A impl,
    simple-credentials provider) as a flag-gated helper — pass the result
    as ``get_spark(extra_conf=s3a_conf(...))``.

    Differences from the reference, deliberate:
    - conf goes through ``spark.hadoop.*`` session config (declarative,
      survives ``getOrCreate``, no private ``_jsc`` access) instead of
      mutating the live ``hadoopConfiguration()``;
    - credentials default from the standard ``AWS_*`` env vars, never
      hard-coded (the reference inlines MinIO creds at module scope);
    - endpoint comes from ``S3_ENDPOINT_URL``/``AWS_ENDPOINT_URL`` when
      not given; SSL defaults from the endpoint scheme.

    Pure config construction — no network, no JARs loaded here. On a real
    cluster the ``hadoop-aws`` package must be on the classpath
    (spark.jars.packages or a bundled distribution); this helper only
    emits conf keys, so it is safe to unit-test offline.
    """
    endpoint = endpoint or os.environ.get("S3_ENDPOINT_URL") or os.environ.get(
        "AWS_ENDPOINT_URL"
    )
    access_key = access_key or os.environ.get("AWS_ACCESS_KEY_ID")
    secret_key = secret_key or os.environ.get("AWS_SECRET_ACCESS_KEY")
    conf = {
        "spark.hadoop.fs.s3a.impl": "org.apache.hadoop.fs.s3a.S3AFileSystem",
        "spark.hadoop.fs.s3a.path.style.access": str(path_style).lower(),
    }
    if endpoint:
        conf["spark.hadoop.fs.s3a.endpoint"] = endpoint
        if ssl is None:
            # Only an explicit https:// scheme turns SSL on; a bare
            # host:port (MinIO style) or http:// defaults to false —
            # matching the reference's explicit false for MinIO. Without
            # an endpoint the key is omitted and Hadoop's default
            # (SSL on) applies, which is right for real AWS S3.
            ssl = endpoint.startswith("https://")
    if ssl is not None:
        conf["spark.hadoop.fs.s3a.connection.ssl.enabled"] = str(ssl).lower()
    if bool(access_key) != bool(secret_key):
        raise ValueError(
            "s3a_conf: access_key and secret_key must be provided together "
            "(got exactly one; check AWS_ACCESS_KEY_ID/AWS_SECRET_ACCESS_KEY)"
        )
    if access_key and secret_key:
        conf["spark.hadoop.fs.s3a.access.key"] = access_key
        conf["spark.hadoop.fs.s3a.secret.key"] = secret_key
        conf["spark.hadoop.fs.s3a.aws.credentials.provider"] = (
            "org.apache.hadoop.fs.s3a.SimpleAWSCredentialsProvider"
        )
    return conf


def get_spark(
    app_name: str = "smart_fraud_detection_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no active session exists; on a real cluster pass ``None`` with a
    pre-set master or spark-submit config.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        # SPARK_GRAFT_MASTER lets the harness swap the whole topology —
        # e.g. local-cluster[2,4,4096] to exercise real closure
        # serialization and shuffle-network paths that local[n]'s shared
        # JVM never touches.
        master = os.environ.get("SPARK_GRAFT_MASTER")
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = builder.master(master)

    conf = dict(DEFAULT_CONF)
    if shuffle_partitions is None:
        # Local harness: one partition per core is the sweet spot for
        # sf<=0.1. On a cluster, AQE coalescing makes the initial number
        # mostly irrelevant as long as it is high enough.
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if master.startswith("local"):
        mem = _default_driver_memory()
        if mem is not None:
            conf.setdefault("spark.driver.memory", mem)
        # Collected-result ceiling sized WITH the heap: Spark's 1 GiB
        # spark.driver.maxResultSize default aborts any collect of a
        # large distributed result long before the heap is at risk —
        # fuzz seed 8665 (--scale 64) produced a stream-stream join
        # whose verification collect serialized 1.03 GiB and died at
        # the default while 15 GiB of heap sat idle. Half the local
        # heap (min 2g) keeps the real OOM guard while letting the
        # harness hash what the engine can compute. Override via
        # SPARK_GRAFT_MAX_RESULT_SIZE.
        mrs = os.environ.get("SPARK_GRAFT_MAX_RESULT_SIZE")
        if mrs is None and mem is not None:
            mib = _memory_spec_mib(mem)
            if mib is not None:
                mrs = f"{max(2048, mib // 2)}m"
        if mrs is not None:
            conf.setdefault("spark.driver.maxResultSize", mrs)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
