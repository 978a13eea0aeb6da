"""Query catalog: every implemented operator as a (Spark, oracle-SQL) pair.

This is the engine's correctness surface. Each entry maps a SURVEY.md §2
operator (or an extension operator) onto the driver's testdata star
schema (TESTDATA.md / FIXTURES.md §B) twice: once as an idiomatic
PySpark DataFrame program, once as ANSI SQL for the DuckDB oracle. The
driver executes both at sf=0.01 and compares row counts, schemas and
order-insensitive value hashes — so every computed column is aliased
identically on both sides, every float aggregate uses the exact-decimal
pattern (functions.numeric), and every CASE/cast is written to produce
bit-identical doubles in both engines.

Testdata mapping (FIXTURES.md §B): events ↦ transactions
(event_id↦transaction_id, ts↦timestamp, value↦amount,
event_type↦payment_method/category analog), customer ↦ users
(c_nationkey↦user country), part+supplier ↦ products
(p_type↦category, p_retailprice↦base_price, p_size↦discount%,
s_nationkey↦product country). events carries no product FK, so a
deterministic one is derived: product_id = event_id % |part|,
supplier of a part = p_partkey % |supplier| — same derivation in both
engines.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from smart_fraud_detection_data_pipeline_spark.functions.numeric import exact_sum_double
from smart_fraud_detection_data_pipeline_spark.operators import enrich as E
from smart_fraud_detection_data_pipeline_spark.operators import trends as T
from smart_fraud_detection_data_pipeline_spark.operators.dedup import dedup_keep_last, union_slices
from smart_fraud_detection_data_pipeline_spark.operators.merge import (
    merge_upsert,
    merge_upsert_partitioned,
)
from smart_fraud_detection_data_pipeline_spark.sources.tables import (
    dataset_files,
    load_table,
    parquet_num_rows,
    parquet_schema,
    read_parquet,
    scratch_dir,
)
from smart_fraud_detection_data_pipeline_spark.streaming import sinks as SK


@dataclass(frozen=True)
class QuerySpec:
    """One catalog query: a Spark body and its DuckDB twin. registry()
    places it by its fingerprint (tools/runner.py) in the ledger."""

    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str  # DuckDB SQL twin; every query has one
    # Optional untimed fixture staging (harness code, not operator work):
    # the registry runner (tools/runner.py) calls prepare before starting
    # the clock so streaming numbers measure streaming, not tempdir
    # writes (VERDICT r1 #3/#6); its oracle path skips prepare, as the
    # driver does.
    # The query body MUST also work without it (the driver never calls
    # prepare) — bodies route through the same memoized helpers.
    prepare: Callable[[SparkSession, str], None] | None = None


_REGISTRY: list[QuerySpec] = []


def _register(name: str, oracle: str, prepare=None):
    def deco(fn):
        _REGISTRY.append(QuerySpec(name, fn, oracle, prepare))
        return fn

    return deco


def _stream_files(spark: SparkSession, src: str) -> DataFrame:
    """Streaming read of a staged parquet directory, one file per
    micro-batch: each staged file is its own trigger, so the stateful
    queries see real multi-batch arrival, not a single-batch alias."""
    return (
        spark.readStream.schema(parquet_schema(src))
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )


def _drain(
    spark: SparkSession,
    stream: DataFrame,
    name: str,
    *,
    output_mode: str = "append",
    stateful: bool = False,
    transform: Callable[[DataFrame, int], DataFrame] | None = None,
    out_schema: str | None = None,
) -> DataFrame:
    """Run the bounded streaming query ``stream`` to completion and read
    its output back as a batch frame: the one path by which every
    catalog streaming query meets its batch oracle. It is the reference
    streaming job's shape (S9/S10): a foreachBatch parquet sink, one
    checkpoint dir per query, an availableNow trigger, and a wait that
    fails loudly instead of reading partial output.

    Append mode writes each row once. Complete and update modes re-emit
    rows, so their sink stamps every row with its batch_id, and the
    read-back keeps that column for the caller's keep-last or
    last-batch-only step.

    A ``stateful`` query keeps its state in sinks.STATE_PARTITIONS
    store partitions (``start_foreach_batch(stateful=True)``, the one
    place the count is set); batch queries keep the session default.

    ``transform`` maps each micro-batch, with its batch id, before it is
    written (the probe queries, which look every batch up in a persisted
    index); its output schema ``out_schema`` types the read-back when no
    batch wrote anything. It must not run an action on the batch: every
    action executes the micro-batch again."""
    tmp = scratch_dir(f"{name}_")
    out = os.path.join(tmp, "out")
    reemit = output_mode != "append"
    write = (
        SK.reemit_parquet_sink(out) if reemit else SK.parquet_batch_sink(out, partitions=None)
    )
    handler = write if transform is None else lambda batch, i: write(transform(batch, i), i)
    SK.await_or_raise(
        SK.start_foreach_batch(
            stream, handler, os.path.join(tmp, "ckpt"),
            output_mode=output_mode, query_name=name, stateful=stateful,
        )
    )
    like = stream if transform is None else spark.createDataFrame([], out_schema)
    return SK.read_or_empty(spark, out, like, with_batch_id=reemit)


#: The certification ledger: {"absorbed_round": the last driver round read
#: into it, "queries": registered name -> {"fp": the query's fingerprint
#: (tools/runner.py) in this tree, "certified": {"round", "fp"} of its last
#: driver pass, or null}}. tools/certify.py writes it.
LEDGER = os.path.join(os.path.dirname(os.path.abspath(__file__)), "certified.json")


def registry() -> list[QuerySpec]:
    """Every query once, in the order the driver's correctness run (which
    checks registry()[:50]) should certify them: first the names whose
    fingerprint differs from their certified one or that have no ledger
    entry, then the oldest certified round; ties keep registration order.
    Reads only the ledger."""
    with open(LEDGER, encoding="utf-8") as fh:
        ledger = json.load(fh)["queries"]

    def key(spec: QuerySpec) -> tuple[bool, int]:
        entry = ledger.get(spec.name) or {}
        cert = entry.get("certified") or {}
        return cert.get("fp") is not None and cert["fp"] == entry.get("fp"), cert.get("round", 0)

    return sorted(_REGISTRY, key=key)


# ---------------------------------------------------------------------------
# Shared testdata→reference-shape adapters
# ---------------------------------------------------------------------------

def _table_count(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Dimension row count (used to derive synthetic FKs), summed from
    the parquet footers: no Spark job on any query construction."""
    return parquet_num_rows(os.path.join(sf_dir, f"{name}.parquet"))


def _transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as the reference's transaction stream shape (FIXTURES §B)."""
    ev = load_table(spark, sf_dir, "events")
    n_part = _table_count(spark, sf_dir, "part")
    return ev.select(
        F.col("event_id").alias("transaction_id"),
        F.col("user_id"),
        F.pmod(F.col("event_id"), F.lit(n_part)).alias("product_id"),
        F.col("value").alias("amount"),
        F.col("event_type").alias("payment_method"),
        F.col("ts").alias("timestamp"),
    )


def _users_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer as the users dimension (c_nationkey plays `country`)."""
    return load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("country"),
    )


def _products_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """part ⨝ supplier as the products dimension; supplier's nation plays
    the product `country`, p_size plays the discount percentage."""
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    n_supp = _table_count(spark, sf_dir, "supplier")
    return (
        part.join(
            F.broadcast(supp),
            F.pmod(F.col("p_partkey"), F.lit(n_supp)) == F.col("s_suppkey"),
            "left_outer",
        )
        .select(
            F.col("p_partkey").alias("product_id"),
            F.col("p_name").alias("name"),
            F.col("p_type").alias("category"),
            F.col("p_retailprice").alias("base_price"),
            F.col("s_nationkey").alias("country"),
            F.col("p_size").cast("double").alias("discount"),
        )
    )


# Oracle CTE fragments mirroring the adapters (DuckDB SQL).
_SQL_TX = """
tx AS (
  SELECT event_id AS transaction_id,
         user_id,
         event_id % (SELECT count(*) FROM part) AS product_id,
         value AS amount,
         event_type AS payment_method,
         CAST(ts AS TIMESTAMP) AS "timestamp"
  FROM events
)"""

_SQL_USERS = """
u AS (
  SELECT c_custkey AS user_id, c_name AS user_name, c_nationkey AS user_country
  FROM customer
)"""

_SQL_PRODUCTS = """
p AS (
  SELECT p_partkey AS product_id, p_name AS product_name, p_type AS category,
         p_retailprice AS base_price, s_nationkey AS product_country,
         CAST(p_size AS DOUBLE) AS discount
  FROM part LEFT JOIN supplier
    ON s_suppkey = p_partkey % (SELECT count(*) FROM supplier)
)"""


# ---------------------------------------------------------------------------
# Flagship: fraud enrichment (S6, P1-P6, J1/J2, F3-F5 — spark.py:126-168)
# ---------------------------------------------------------------------------

_SQL_FRAUD_ENRICH = f"""
WITH {_SQL_TX}, {_SQL_USERS}, {_SQL_PRODUCTS}
SELECT t.transaction_id, t.user_id, t.product_id, t.amount, t.payment_method,
       t."timestamp",
       u.user_name, u.user_country,
       p.product_name, p.category, p.base_price, p.discount, p.product_country,
       CASE WHEN u.user_country <> p.product_country THEN 1 ELSE 0 END AS country_mismatch,
       CASE WHEN t.amount > 500 THEN 1 ELSE 0 END AS high_value_flag,
       CAST((CASE WHEN u.user_country <> p.product_country THEN 1 ELSE 0 END) * 0.5
            + (CASE WHEN t.amount > 500 THEN 1 ELSE 0 END) * 0.5 AS DOUBLE) AS fraud_score,
       CASE WHEN p.base_price IS NOT NULL AND p.discount IS NOT NULL
            THEN p.base_price - p.base_price * p.discount / 100 END AS discounted_price,
       CAST(year(t."timestamp") AS INTEGER) AS tx_year,
       CAST(month(t."timestamp") AS INTEGER) AS tx_month,
       CAST(day(t."timestamp") AS INTEGER) AS tx_day
FROM tx t
LEFT JOIN u ON t.user_id = u.user_id
LEFT JOIN p ON t.product_id = p.product_id
"""


@_register("fraud_enrich", _SQL_FRAUD_ENRICH)
def q_fraud_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: two broadcast left joins + rule-score columns, zero shuffles."""
    out = E.enrich_transactions(
        _transactions(spark, sf_dir),
        _users_dim(spark, sf_dir),
        _products_dim(spark, sf_dir),
    )
    return out.select(
        "transaction_id",
        "user_id",
        "product_id",
        "amount",
        "payment_method",
        "timestamp",
        "user_name",
        "user_country",
        "product_name",
        "category",
        "base_price",
        "discount",
        "product_country",
        "country_mismatch",
        "high_value_flag",
        "fraud_score",
        "discounted_price",
        "tx_year",
        "tx_month",
        "tx_day",
    )


# ---------------------------------------------------------------------------
# Windowed trends (A1-A3, F1/F2, ST2 — spark.py:171-200)
# ---------------------------------------------------------------------------

#: Engine semantic, pinned by the adversarial-fixture sweep: time-
#: windowed aggregation requires an event time. Spark's window()/
#: session_window() silently exclude NULL-ts rows (exactly what a
#: streaming watermark would do), while a bare GROUP BY date_trunc
#: would keep a NULL window group — so every windowed oracle filters
#: ts IS NOT NULL explicitly.
_SQL_TRENDS = """
SELECT {key_out},
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS {sum_alias},
       COUNT(DISTINCT event_id) AS num_transactions,
       strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(date_trunc('minute', ts) + INTERVAL 1 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_end
FROM events
WHERE ts IS NOT NULL
GROUP BY {key_in}, date_trunc('minute', ts)
"""


@_register(
    "user_spend_trends",
    _SQL_TRENDS.format(key_out="user_id", key_in="user_id", sum_alias="total_spent"),
)
def q_user_spend_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 with exact distinct counts (oracle-checkable twin of the HLL query)."""
    return T.user_spend_trends(_transactions(spark, sf_dir), exact=True)


@_register(
    "category_trends",
    _SQL_TRENDS.format(
        key_out="event_type AS category", key_in="event_type", sum_alias="total_sales"
    ),
)
def q_category_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: event_type plays the product category (FIXTURES §B)."""
    tx = _transactions(spark, sf_dir).withColumnRenamed("payment_method", "category")
    return T.category_trends(tx, exact=True)


@_register(
    "user_spend_trends_approx",
    _SQL_TRENDS.format(
        key_out="user_id", key_in="user_id", sum_alias="total_spent"
    ).rstrip()
    .replace(
        "COUNT(DISTINCT event_id) AS num_transactions",
        "COUNT(DISTINCT event_id) AS num_transactions,\n"
        "       TRUE AS within_cap,\n       TRUE AS sketch_calibrated",
    ),
)
def q_user_spend_trends_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 faithful mode: approx_count_distinct (HyperLogLog++, rsd 0.05),
    SELF-CHECKING (VERDICT r6 #2, pattern from the KMeans recall gate):
    the sketch estimate itself is not cross-engine hashable, so the
    query computes BOTH counts in one grouped pass and certifies the
    sketch against the exact side with TWO booleans the oracle asserts
    TRUE. A single per-row 3σ band is the WRONG contract — fuzz seed
    2311 (--scale 16) proved it: with 1510 groups, one landing outside
    3σ is the expected Gaussian tail (Spark's HLL++ has no sparse mode,
    so even a 24-distinct group carries register noise), and any
    per-row bound tight enough to be informative fails on some fixture
    by construction. So:

    - ``within_cap`` (per row): |approx − exact| ≤ max(8, 50% of
      exact) — a ~10σ hard cap. Sub-Gaussian register noise cannot
      reach it (small n: linear-counting σ ≈ √(n²/2m) ≈ 0.75 at n=24,
      m=512; large n: 10 × rsd); only an implementation bug can.
    - ``sketch_calibrated`` (dataset-level, same value on every row):
      the number of groups outside the 3σ band max(2, 15% of exact) is
      ≤ max(2, 1% of groups). Keeps the 3σ signal (a mis-sized sketch
      fails instantly) while tolerating the statistically guaranteed
      stragglers. HLL++ is hash-deterministic per dataset, so neither
      boolean can flake between runs on the same fixture.

    The 1-exchange/no-expand HLL plan story (the 100 TB reason for A3)
    stays pinned on the OPERATOR in tests/test_plans.py::
    test_trends_shuffle_budget — this registry entry deliberately pays
    the expand-distinct twice to carry its own correctness gate.
    """
    from smart_fraud_detection_data_pipeline_spark.functions.timeutil import (
        minute_window,
        stringify_window,
    )

    tx = _transactions(spark, sf_dir)
    agg = tx.groupBy(minute_window(F.col("timestamp"), "1 minute"), F.col("user_id")).agg(
        exact_sum_double("amount").alias("total_spent"),
        F.count_distinct(F.col("transaction_id")).alias("num_transactions"),
        F.approx_count_distinct(F.col("transaction_id")).alias("approx_n"),
    )
    out = stringify_window(agg)
    err = F.abs(F.col("approx_n") - F.col("num_transactions"))
    band_3s = F.greatest(F.lit(2.0), F.col("num_transactions") * F.lit(0.15))
    cap = F.greatest(F.lit(8.0), F.col("num_transactions") * F.lit(0.5))
    rows = out.select(
        "user_id",
        "total_spent",
        "num_transactions",
        "window_start",
        "window_end",
        (err <= cap).alias("within_cap"),
        (err > band_3s).cast("bigint").alias("__outlier"),
    )
    # rows feeds BOTH the calibration agg and the final select across a
    # crossJoin; without materializing, the whole HLL groupBy executes
    # twice (materialize-reused-branches invariant — ADVICE r7).
    # localCheckpoint so the block frees with the returned frame instead
    # of accumulating on the shared session (ADVICE r8).
    rows = rows.localCheckpoint()
    calib = rows.agg(
        (
            F.coalesce(F.sum("__outlier"), F.lit(0))
            <= F.greatest(F.lit(2.0), F.count(F.lit(1)) * F.lit(0.01))
        ).alias("sketch_calibrated")
    )
    return rows.drop("__outlier").crossJoin(F.broadcast(calib))


# ---------------------------------------------------------------------------
# Dedup + upsert (A5/A6/A7/A8/J3 — the warehouse entry point, natively)
# ---------------------------------------------------------------------------

@_register(
    "dedup_keep_last",
    """
WITH unioned AS (
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value, 1 AS batch_id FROM events
  UNION ALL
  SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, value * 2 AS value, 2 AS batch_id
  FROM events WHERE event_id % 3 = 0
), ranked AS (
  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY batch_id DESC) AS rn
  FROM unioned
)
SELECT event_id, ts, user_id, value, batch_id FROM ranked WHERE rn = 1
""",
)
def q_dedup_keep_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5+A6: union of two overlapping load slices, keep-last per key.

    Models the reference's complete-mode re-emission → loader dedup
    contract (ST4 + load_fraud_records...py:154-157): batch 2 re-emits a
    third of the keys with updated values; exactly the batch-2 row must
    survive.
    """
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id", "value")
    batch1 = ev.withColumn("batch_id", F.lit(1))
    batch2 = (
        ev.where(F.col("event_id") % 3 == 0)
        .withColumn("value", F.col("value") * 2)
        .withColumn("batch_id", F.lit(2))
    )
    return dedup_keep_last(union_slices(batch1, batch2), ["event_id"], ["batch_id"])


@_register(
    "merge_upsert",
    """
WITH t AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
         COUNT(*) AS num_orders
  FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01' GROUP BY o_custkey
  UNION ALL
  SELECT CAST(NULL AS BIGINT), 1.0e0, CAST(1 AS BIGINT)
), s AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
         COUNT(*) AS num_orders, 1 AS __src
  FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01' GROUP BY o_custkey
  UNION ALL
  SELECT CAST(NULL AS BIGINT), 99.0e0, CAST(9 AS BIGINT), 1
)
SELECT CASE WHEN s.__src IS NOT NULL THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
       CASE WHEN s.__src IS NOT NULL THEN s.total_price ELSE t.total_price END AS total_price,
       CASE WHEN s.__src IS NOT NULL THEN s.num_orders ELSE t.num_orders END AS num_orders
FROM t FULL OUTER JOIN s ON t.o_custkey IS NOT DISTINCT FROM s.o_custkey
""",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/J3: keyed upsert — new-period per-customer totals overwrite the
    old snapshot, unmatched old rows survive (MERGE semantics as a pure
    DataFrame transform; see operators.merge for the scale notes).

    A synthetic NULL-key row is injected into both sides so the oracle
    exercises the eqNullSafe match path: the source's NULL-key values
    must win (VERDICT r1 "What's wrong" #1)."""
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01").cast("timestamp_ntz")

    def totals(df):
        return df.groupBy("o_custkey").agg(
            exact_sum_double("o_totalprice").alias("total_price"),
            F.count(F.lit(1)).alias("num_orders"),
        )

    def with_null_key(df, price: float, n: int):
        null_row = spark.createDataFrame(
            [(None, price, n)], "o_custkey bigint, total_price double, num_orders bigint"
        )
        return df.unionByName(null_row)

    target = with_null_key(totals(orders.where(F.col("o_orderdate") < cutoff)), 1.0, 1)
    source = with_null_key(totals(orders.where(F.col("o_orderdate") >= cutoff)), 99.0, 9)
    return merge_upsert(target, source, ["o_custkey"])


@_register(
    "merge_upsert_delete",
    """
WITH t AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
         COUNT(*) AS num_orders
  FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01' GROUP BY o_custkey
  UNION ALL
  SELECT CAST(NULL AS BIGINT), 1.0e0, CAST(1 AS BIGINT)
), s AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
         COUNT(*) AS num_orders,
         COALESCE(o_custkey % 7 = 0, FALSE) AS is_del, 1 AS __src
  FROM orders WHERE o_orderdate >= TIMESTAMP '1999-01-01' GROUP BY o_custkey
  UNION ALL
  SELECT CAST(NULL AS BIGINT), 99.0e0, CAST(9 AS BIGINT), FALSE, 1
)
SELECT CASE WHEN s.__src IS NOT NULL THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
       CASE WHEN s.__src IS NOT NULL THEN s.total_price ELSE t.total_price END AS total_price,
       CASE WHEN s.__src IS NOT NULL THEN s.num_orders ELSE t.num_orders END AS num_orders
FROM t FULL OUTER JOIN s ON t.o_custkey IS NOT DISTINCT FROM s.o_custkey
WHERE NOT (s.__src IS NOT NULL AND s.is_del)
""",
)
def q_merge_upsert_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tombstone-driven MERGE verb (VERDICT r7 #9 — ``WHEN MATCHED
    AND flag THEN DELETE``): the new-period source carries a boolean
    tombstone (every 7th customer key — `%` is dividend-signed on BOTH
    engines per the routing rule, and the COALESCE fence routes a NULL
    key's flag to FALSE deterministically). Flagged matched keys are
    DELETED from the snapshot, flagged source-only keys insert nothing
    (standard MERGE no-op), everything else upserts exactly as
    merge_upsert — whose NULL-key eqNullSafe coverage this query keeps
    (the injected NULL-key source row is a non-tombstone and must still
    win). Oracle: the same full-outer-join CASE projection with the
    tombstone anti-filter — the anti-join form of the verb."""
    orders = load_table(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01").cast("timestamp_ntz")

    def totals(df):
        return df.groupBy("o_custkey").agg(
            exact_sum_double("o_totalprice").alias("total_price"),
            F.count(F.lit(1)).alias("num_orders"),
        )

    target = totals(orders.where(F.col("o_orderdate") < cutoff)).unionByName(
        spark.createDataFrame(
            [(None, 1.0, 1)],
            "o_custkey bigint, total_price double, num_orders bigint",
        )
    )
    source = (
        totals(orders.where(F.col("o_orderdate") >= cutoff))
        .withColumn(
            "is_del",
            F.coalesce(F.col("o_custkey") % 7 == 0, F.lit(False)),
        )
        .unionByName(
            spark.createDataFrame(
                [(None, 99.0, 9, False)],
                "o_custkey bigint, total_price double, num_orders bigint, "
                "is_del boolean",
            )
        )
    )
    return merge_upsert(target, source, ["o_custkey"], delete_col="is_del")


# ---------------------------------------------------------------------------
# Relational coverage: scan/filter pushdown, agg, join, top-k
# ---------------------------------------------------------------------------

_SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
"""


@_register("pricing_summary", _SQL_PRICING_SUMMARY)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped scan+filter+agg: exercises predicate pushdown,
    column pruning, partial aggregation, exact-decimal money math."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.where(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_register(
    "top_customers",
    """
SELECT c.c_custkey, c.c_name,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
       COUNT(*) AS num_orders
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_name
ORDER BY total_spent DESC, c_custkey
LIMIT 10
""",
)
def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + agg + global top-k. The ORDER BY ... LIMIT compiles to
    TakeOrderedAndProject — per-partition top-k then a k-row merge on the
    driver, no global sort shuffle (the plan that survives 100 TB)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            exact_sum_double("o_totalprice").alias("total_spent"),
            F.count(F.lit(1)).alias("num_orders"),
        )
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey"))
        .limit(10)
    )


@_register(
    "scan_filter_project",
    """
SELECT l_orderkey, l_partkey, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_returnflag = 'N' AND l_quantity > 25
""",
)
def q_scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6/P-filters: projection+predicates that must reach the parquet scan
    (PushedFilters + 4-column ReadSchema — verified in tests/plans)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
            & (F.col("l_returnflag") == "N")
            & (F.col("l_quantity") > 25)
        )
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
    )


@_register(
    "customers_no_big_order",
    """
SELECT c_custkey, c_name
FROM customer
WHERE NOT EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000
)
""",
)
def q_customers_no_big_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (beyond-reference join coverage): customers with no
    order above 300k. The filter lands on the probe side pre-join."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@_register(
    "customers_with_big_order",
    """
SELECT c_custkey, c_name, c_acctbal
FROM customer
WHERE EXISTS (
  SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000
)
""",
)
def q_customers_with_big_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (beyond-reference join coverage)."""
    cust = load_table(spark, sf_dir, "customer")
    big = load_table(spark, sf_dir, "orders").where(F.col("o_totalprice") > 300000)
    return cust.join(big, cust.c_custkey == big.o_custkey, "left_semi").select(
        "c_custkey", "c_name", "c_acctbal"
    )


# ---------------------------------------------------------------------------
# Extension: text deduplication (exact / n-gram Jaccard / MinHash-LSH / SimHash)
# ---------------------------------------------------------------------------

from smart_fraud_detection_data_pipeline_spark.operators import textdedup as TD  # noqa: E402
from smart_fraud_detection_data_pipeline_spark.operators import textstats as TS  # noqa: E402
from smart_fraud_detection_data_pipeline_spark.operators import similarity as SIM  # noqa: E402
from smart_fraud_detection_data_pipeline_spark.operators import multimodal as MM  # noqa: E402
from smart_fraud_detection_data_pipeline_spark.operators import datasets as DS  # noqa: E402
from smart_fraud_detection_data_pipeline_spark.operators.skew import spread_input  # noqa: E402

# The documents table has no exact duplicates, so the exact-dedup query
# re-emits every 5th document under a shifted id — modeling a re-crawled
# slice — in BOTH engines.
_SQL_DOCS_WITH_DUPS = """
all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
)"""


def _docs_with_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup_slice = docs.where(F.col("doc_id") % 5 == 0).withColumn(
        "doc_id", F.col("doc_id") + 1000000
    )
    return docs.unionByName(dup_slice)


@_register(
    "doc_dedup_exact",
    f"""
WITH {_SQL_DOCS_WITH_DUPS}
SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS text_hash,
       COUNT(*) AS n_docs,
       MIN(doc_id) AS canonical_id
FROM all_docs
GROUP BY 1
""",
)
def q_doc_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by md5 of normalized text (hash-groupBy)."""
    return TD.exact_dup_groups(_docs_with_dups(spark, sf_dir))


# The text oracles' entry: one NULL-fenced `toks` CTE, the twin of the
# Spark side's textdedup._text_entry. The fence is EXPLICIT: without
# it, NULL docs only dropped because DuckDB 1.0.0's list_distinct
# strips the NULL gram that array_to_string(NULL-slice) produces —
# emergent behavior that flips in DuckDB >= 1.1 (NULLs kept), where
# the surviving NULL shingle would, among other things, poison the
# capped variant's `shingle NOT IN (SELECT ... FROM hot)` into an
# all-NULL filter (round-9 forward-compat audit; provably inert at
# 1.0.0).
_SQL_TOKS = """
toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
  WHERE text IS NOT NULL
)"""


def _grams_sql(n: int, *, starts: bool = False) -> str:
    """Every word n-gram of the token list `t` (twin of
    textdedup._gram_list): one per start position
    1..max(len(t) - (n-1), 1), so a doc shorter than n yields its whole
    token list as one gram. ``starts`` returns the start positions."""
    seq = f"generate_series(1, greatest(len(t) - {n - 1}, 1))"
    if starts:
        return seq
    return f"list_transform({seq}, i -> array_to_string(t[i:i + {n - 1}], ' '))"


def _jaccard_ctes_sql(sh: str, tag: str = "") -> str:
    """inter<tag>/jacc<tag>: exact Jaccard of every doc pair sharing a
    shingle of the (doc_id, shingle) CTE ``sh``, id_a < id_b, over the
    full set sizes of `sizes`."""
    return f"""inter{tag} AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM {sh} a JOIN {sh} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jacc{tag} AS (
  SELECT id_a, id_b, n_inter / (sa.n + sb.n - n_inter) AS jaccard
  FROM inter{tag}
  JOIN sizes sa ON id_a = sa.doc_id
  JOIN sizes sb ON id_b = sb.doc_id
)"""


# Shared SQL for word-3-gram shingling + exact Jaccard pairs.
_SQL_SHINGLE_CTES = f"""{_SQL_TOKS},
sh AS (
  SELECT doc_id, unnest(list_distinct({_grams_sql(3)})) AS shingle
  FROM toks
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
{_jaccard_ctes_sql("sh")}"""


@_register(
    "doc_ngram_jaccard",
    f"""
WITH {_SQL_SHINGLE_CTES}
SELECT id_a, id_b, jaccard FROM jacc WHERE jaccard >= 0.5
""",
)
def q_doc_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs word-3-gram Jaccard ≥ 0.5 via inverted shingle index."""
    return TD.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )


_NGRAM_MAX_DF = 5


@_register(
    "doc_ngram_jaccard_capped",
    f"""
WITH {_SQL_SHINGLE_CTES},
hot AS (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > {_NGRAM_MAX_DF}
),
shc AS (
  SELECT doc_id, shingle FROM sh
  WHERE shingle NOT IN (SELECT shingle FROM hot)
),
{_jaccard_ctes_sql("shc", "_c")}
SELECT id_a, id_b, jaccard FROM jacc_c WHERE jaccard >= 0.5
""",
)
def q_doc_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale-safe exact-Jaccard variant: shingles whose document
    frequency exceeds max_df are cut from the inverted index BEFORE pair
    generation, bounding per-shingle fan-out at C(max_df, 2) — the cut
    that keeps a stopword shingle from exploding into C(df, 2) pairs at
    100 TB (VERDICT r1 "What's wrong" #2). Deterministic underestimate:
    intersections count only rare shingles while set sizes stay full, so
    the oracle mirrors it exactly (at sf0.1 the cut drops generated
    pairs 1.27M → 18.5k, measured)."""
    return TD.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"),
        threshold=0.5,
        max_df=_NGRAM_MAX_DF,
    )


def _minhash_bucket_ctes(num_perm: int, bands: int) -> str:
    """The sigs/banded/buckets CTE block shared by the one-shot and
    incremental MinHash oracles (ONE builder — shared-branch rule): the
    salted-md5 signatures, band hashes, and the exploded (doc, band,
    key) bucket table, generated from the same constants as the Spark
    side's _salted_band_buckets."""
    rows = num_perm // bands
    sig_exprs = ",\n         ".join(
        f"min(md5('p{i}|' || shingle)) AS sig_{i}" for i in range(num_perm)
    )
    band_exprs = ",\n         ".join(
        "md5(" + " || '|' || ".join(f"sig_{b * rows + r}" for r in range(rows)) + f") AS band_{b}"
        for b in range(bands)
    )
    bucket_union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band, band_{b} AS key FROM banded" for b in range(bands)
    )
    return f"""sigs AS (
  SELECT doc_id,
         {sig_exprs}
  FROM sh GROUP BY doc_id
),
banded AS (
  SELECT doc_id,
         {band_exprs}
  FROM sigs
),
buckets AS (
{bucket_union}
)"""


def _minhash_sql(num_perm: int, bands: int, threshold: float) -> str:
    """DuckDB twin of minhash_lsh_pairs, generated from the same constants."""
    return f"""
WITH {_SQL_SHINGLE_CTES},
{_minhash_bucket_ctes(num_perm, bands)},
candidates AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM buckets a JOIN buckets b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b, j.jaccard
FROM candidates c JOIN jacc j ON c.id_a = j.id_a AND c.id_b = j.id_b
WHERE j.jaccard >= {threshold}
"""


@_register(
    "doc_minhash_lsh",
    _minhash_sql(TD.DEFAULT_PERMS, TD.DEFAULT_BANDS, 0.5),
)
def q_doc_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs (banded candidates, exact verification).

    md5-salted min-hashing makes the signatures engine-portable, so the
    oracle reproduces candidate generation AND verification exactly.
    """
    return TD.minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), threshold=0.5
    )


def _minhash_probe_sql(
    num_perm: int, bands: int, threshold: float, *probes: tuple[str, str, str]
) -> str:
    """The one builder of the incremental MinHash oracles: the SAME
    shingle and sigs/banded/buckets CTEs as the one-shot oracle, then
    per probe ``(tag, delta_pred, other_pred)`` a `<tag>_delta` batch
    (non-NULL text) and its `<tag>_dups` — a delta doc is rejected iff
    an LSH candidate ``o`` passing ``other_pred`` verifies at exact
    Jaccard >= threshold, dup_of the smallest such id — and one output
    row per delta doc, the probes UNION ALL'd. `jacc` holds every
    ordered pair once (id_a < id_b), so candidate pairs look up via
    least/greatest."""
    ctes = ",\n".join(
        f"""{tag}_delta AS (
  SELECT doc_id FROM documents
  WHERE {delta_pred} AND text IS NOT NULL
),
{tag}_dups AS (
  SELECT c.id_d, MIN(c.id_o) AS dup_of
  FROM (
    SELECT DISTINCT d.doc_id AS id_d, o.doc_id AS id_o
    FROM buckets d
    JOIN {tag}_delta dd ON d.doc_id = dd.doc_id
    JOIN buckets o ON o.band = d.band AND o.key = d.key AND o.doc_id <> d.doc_id
    WHERE {other_pred}
  ) c
  JOIN jacc j ON j.id_a = least(c.id_d, c.id_o)
             AND j.id_b = greatest(c.id_d, c.id_o)
  WHERE j.jaccard >= {threshold}
  GROUP BY c.id_d
)"""
        for tag, delta_pred, other_pred in probes
    )
    selects = "\nUNION ALL\n".join(
        f"""SELECT dd.doc_id, d.dup_of, d.dup_of IS NULL AS keep
FROM {tag}_delta dd LEFT JOIN {tag}_dups d ON d.id_d = dd.doc_id"""
        for tag, _, _ in probes
    )
    return f"""
WITH {_SQL_SHINGLE_CTES},
{_minhash_bucket_ctes(num_perm, bands)},
{ctes}
{selects}
"""


def _minhash_incremental_sql(
    num_perm: int, bands: int, threshold: float, within_delta: bool = True
) -> str:
    """Oracle twin of doc_dedup_incremental (+ its streaming variant):
    the delta (doc_id % 5 = 0, null-safely FALSE for NULL ids) probes
    the base docs and (within_delta) the lower-id delta docs."""
    other_pred = "NOT COALESCE(o.doc_id % 5 = 0, FALSE)"
    if within_delta:
        other_pred += " OR o.doc_id < d.doc_id"
    return _minhash_probe_sql(
        num_perm, bands, threshold,
        ("delta", "COALESCE(doc_id % 5 = 0, FALSE)", other_pred),
    )


@_register(
    "doc_dedup_incremental",
    _minhash_incremental_sql(TD.DEFAULT_PERMS, TD.DEFAULT_BANDS, 0.5),
)
def q_doc_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot incremental dedup: the 20% of documents with
    doc_id % 5 = 0 arrive as a DELTA batch and are admitted/rejected
    against the MinHash index of the other 80% (plus earlier delta
    docs) — the production flow where the corpus is indexed ONCE and
    every incoming batch costs O(delta), never a corpus re-pair. The
    split predicate is null-safe on both engines (NULL doc_id routes
    to base; NULL-safe-routing rule)."""
    docs = load_table(spark, sf_dir, "documents")
    is_delta = F.coalesce((F.col("doc_id") % 5) == 0, F.lit(False))
    return TD.incremental_minhash_dedup(
        docs.where(~is_delta), docs.where(is_delta), threshold=0.5
    )


def _minhash_compaction_sql(num_perm: int, bands: int, threshold: float) -> str:
    """Oracle twin of doc_dedup_index_compaction, with the index side
    restricted to NON-RETRACTED base docs. The probe batch is the delta
    (doc_id % 5 = 0) plus the retracted docs themselves (base docs with
    doc_id % 3 = 0) re-submitted; a probe doc is rejected iff an LSH
    candidate that is a SURVIVING base doc or a lower-id probe doc
    verifies — i.e. the tombstoned entries must be invisible. All split
    predicates are %-based and COALESCE-fenced (NULL-safe-routing rule,
    both engines)."""
    is_delta = "COALESCE({t}.doc_id % 5 = 0, FALSE)"
    is_del = "(NOT COALESCE({t}.doc_id % 5 = 0, FALSE) AND COALESCE({t}.doc_id % 3 = 0, FALSE))"
    probe_pred = f"({is_delta} OR {is_del})"
    survivor_pred = (
        "(NOT COALESCE({t}.doc_id % 5 = 0, FALSE)"
        " AND NOT COALESCE({t}.doc_id % 3 = 0, FALSE))"
    )
    return _minhash_probe_sql(
        num_perm, bands, threshold,
        (
            "probe",
            probe_pred.format(t="documents"),
            f"{survivor_pred.format(t='o')}\n"
            f"       OR ({probe_pred.format(t='o')} AND o.doc_id < d.doc_id)",
        ),
    )


@_register(
    "doc_dedup_index_compaction",
    _minhash_compaction_sql(TD.DEFAULT_PERMS, TD.DEFAULT_BANDS, 0.5),
)
def q_doc_dedup_index_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance for incremental dedup (VERDICT r8 #4): the
    corpus index is built over the base (doc_id % 5 <> 0), a tombstone
    batch retracts the base docs with doc_id % 3 = 0
    (minhash_index_compact — anti-join removal, the
    merge_upsert(delete_col=) verb for the index), and then the delta
    PLUS the retracted texts themselves are probed against the
    compacted index. Every decision the probe emits proves forgetting:
    a retracted doc re-submitted is admitted as novel unless a
    SURVIVING doc (or a lower-id probe mate) still matches it, and a
    delta doc whose only near-dup was retracted flips from rejected to
    admitted. Work per batch stays O(probe): compaction itself is one
    tombstone-keyed anti-join, never a corpus re-pair."""
    docs = load_table(spark, sf_dir, "documents")
    is_delta = F.coalesce((F.col("doc_id") % 5) == 0, F.lit(False))
    is_del = ~is_delta & F.coalesce((F.col("doc_id") % 3) == 0, F.lit(False))
    index = TD.minhash_index(docs.where(~is_delta))
    compacted = TD.minhash_index_compact(index, docs.where(is_del))
    return TD.incremental_minhash_dedup(
        None, docs.where(is_delta | is_del), threshold=0.5, index=compacted
    )


def _minhash_stream_compaction_sql(
    num_perm: int, bands: int, threshold: float
) -> str:
    """Oracle twin of dedup_streaming_compaction: TWO probes — the first
    delta half (doc_id % 10 = 0) against the FULL base index, the second
    half against the COMPACTED index (base minus the doc_id % 3 = 0
    tombstones), both base-only (within_delta=False). All split
    predicates %-based and COALESCE-fenced (NULL-safe-routing rule)."""
    is_delta = "COALESCE(doc_id % 5 = 0, FALSE)"
    base = "NOT COALESCE(o.doc_id % 5 = 0, FALSE)"
    return _minhash_probe_sql(
        num_perm, bands, threshold,
        ("h1", f"{is_delta} AND COALESCE(doc_id % 10 = 0, FALSE)", base),
        (
            "h2",
            f"{is_delta} AND NOT COALESCE(doc_id % 10 = 0, FALSE)",
            f"{base} AND NOT COALESCE(o.doc_id % 3 = 0, FALSE)",
        ),
    )


def _minhash_stream(spark: SparkSession, sf_dir: str, name: str, *, compact: bool) -> DataFrame:
    """Shared body of the two minhash ingest streams: persist the corpus
    index once (the production shape), stage the delta documents
    (doc_id % 5 = 0) as TWO files so availableNow takes two
    micro-batches, and probe every micro-batch against the re-read index
    inside foreachBatch, base-only (within_delta=False), so the appended
    output is independent of where the micro-batch boundary falls.
    ``compact`` adds the tombstone batch: the base docs with
    doc_id % 3 = 0 are compacted out of the read-back index, and the
    second delta half probes that snapshot."""
    docs = load_table(spark, sf_dir, "documents")
    is_delta = F.coalesce((F.col("doc_id") % 5) == 0, F.lit(False))
    delta = docs.where(is_delta)
    out_schema = "doc_id bigint, dup_of bigint, keep boolean"
    if delta.isEmpty():
        # nothing arrives: a zero-row staged write would leave a dir
        # that fails schema inference (empty-fixture sweep rule)
        return spark.createDataFrame([], out_schema)
    tmp = scratch_dir(f"{name}_src_")

    def persist_index(index, tag):
        buckets, sets = index
        if sets.isEmpty():
            # all-delta corner: nothing to persist (a zero-row write
            # leaves a footer-less dir that fails schema inference) —
            # probe against the empty in-memory frames instead
            return index
        bpath, spath = os.path.join(tmp, f"{tag}_b"), os.path.join(tmp, f"{tag}_s")
        # natural parallelism: the old coalesce(1) collapsed the minhash
        # reduce stage into ONE task (r14 measured 2.1s+0.8s single-task
        # index writes); file count of a scratch index is irrelevant, and
        # a production index write sizes files via maxRecordsPerFile.
        buckets.write.parquet(bpath)
        sets.write.parquet(spath)
        return (read_parquet(spark, bpath), read_parquet(spark, spath))

    index = persist_index(TD.minhash_index(docs.where(~is_delta)), "full")
    if compact:
        # the tombstone batch compacts the READ-BACK snapshot and
        # persists the result — the index version the post-compaction
        # batches see
        is_del = ~is_delta & F.coalesce((F.col("doc_id") % 3) == 0, F.lit(False))
        compacted = persist_index(TD.minhash_index_compact(index, docs.where(is_del)), "compacted")
    dsrc = os.path.join(tmp, "delta_src")
    half = F.coalesce((F.col("doc_id") % 10) == 0, F.lit(False))
    delta.where(half).coalesce(1).write.mode("append").parquet(dsrc)
    # the stream takes staged files oldest first: date the first half a
    # second back so it is batch 0 however close the two writes land
    for f, mtime_ns, _ in dataset_files(spark, dsrc):
        os.utime(f, ns=(mtime_ns - 10**9,) * 2)
    delta.where(~half).coalesce(1).write.mode("append").parquet(dsrc)

    def probe(batch, batch_id):
        # with compaction, batch 1 (the second half) probes the
        # compacted snapshot; routing on the id, not on the batch's
        # content, keeps each micro-batch to one execution
        return TD.incremental_minhash_dedup(
            None,
            batch,
            threshold=0.5,
            index=compacted if compact and batch_id > 0 else index,
            within_delta=False,
        )

    return _drain(
        spark, _stream_files(spark, dsrc), name, transform=probe, out_schema=out_schema
    )


@_register(
    "dedup_streaming_compaction",
    _minhash_stream_compaction_sql(TD.DEFAULT_PERMS, TD.DEFAULT_BANDS, 0.5),
)
def q_dedup_streaming_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction DURING a streaming ingest flow (round 10, VERDICT r9
    #6): the corpus index is persisted once, the delta arrives as two
    micro-batches, and BETWEEN them a tombstone batch retracts the
    base docs with doc_id % 3 = 0 (minhash_index_compact applied to
    the read-back index, its output persisted as the new snapshot —
    exactly how a production table swaps index versions). The first
    batch probes the full index; the second probes the compacted one,
    so a second-half doc whose only near-dup was retracted flips from
    rejected to admitted mid-stream — the flip the hash gate certifies
    (plus a constructed-fixture flip test in tests/test_textops.py).
    Batch→index routing is decided by batch id (each staged file is
    one %-rule half, and the first half is dated older so it is always
    batch 0), which leaves each micro-batch one execution; within each
    probe within_delta=False keeps the output independent of
    micro-batch boundaries."""
    return _minhash_stream(spark, sf_dir, "dedup_streaming_compaction", compact=True)


@_register(
    "dedup_incremental_streaming",
    _minhash_incremental_sql(TD.DEFAULT_PERMS, TD.DEFAULT_BANDS, 0.5, within_delta=False),
)
def q_dedup_incremental_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The incremental-dedup ingest flow through Structured Streaming:
    the corpus index is persisted ONCE to parquet (the production
    shape), then delta documents arrive as a 2-file stream and every
    micro-batch is probed against the re-read index inside foreachBatch
    — the same candidate-bounded batch operator, base-only rejection
    (within_delta=False) so the appended output is independent of where
    the micro-batch boundary falls and equals one batch probe of the
    full delta. At 100 TB the index read is a bucketed table and each
    batch costs O(batch); nothing ever re-pairs the corpus."""
    return _minhash_stream(spark, sf_dir, "dedup_incremental_streaming", compact=False)


def _simhash_sql_cte() -> str:
    """Per-doc token-hash list + 60-bit SimHash in pure SQL: the hex→int
    conversion Spark does with conv() becomes an integer fold over md5
    hex digits (verified bit-identical), and each of the 60 vote/bit
    terms is generated from the same SIMHASH_BITS constant."""
    bit_terms = "\n       + ".join(
        f"(CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN h // {1 << b} % 2 = 1 "
        f"THEN 1 ELSE -1 END)) > 0 THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
        for b in range(TD.SIMHASH_BITS)
    )
    return f"""
hashes AS (
  SELECT doc_id,
         list_transform(string_split_regex(trim(text), '\\s+'),
           t -> list_reduce(
                  list_transform(generate_series(1, 15),
                    i -> CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT)),
                  (acc, d) -> acc * 16 + d)) AS hs
  FROM documents
  WHERE text IS NOT NULL
),
sims AS (
  SELECT doc_id,
       {bit_terms} AS simhash
  FROM hashes
)"""


def _simhash_pairs_sql() -> str:
    """Oracle twin of simhash_pairs: signatures from _simhash_sql_cte,
    paired through a fixed 4-chunk banding."""
    chunk_union = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, simhash, {c} AS chunk, simhash // {1 << (c * 15)} % {1 << 15} AS key FROM sims"
        for c in range(4)
    )
    return f"""
WITH {_simhash_sql_cte()},
chunked AS (
{chunk_union}
),
candidates AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.simhash AS sim_a, b.simhash AS sim_b
  FROM chunked a JOIN chunked b
    ON a.chunk = b.chunk AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(sim_a, sim_b)) AS INTEGER) AS hamming
FROM candidates
WHERE bit_count(xor(sim_a, sim_b)) <= 3
"""


@_register("doc_simhash", f"WITH {_simhash_sql_cte()}\nSELECT doc_id, simhash FROM sims")
def q_doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (map-only projection). FULL hash
    gate: the oracle recomputes the hex→int conversion as an integer
    fold over md5 hex digits (see _simhash_sql_cte).
    NULL text is excluded on both engines (absent content has no
    signature — adversarial-sweep rule, same as the pair ops)."""
    docs = load_table(spark, sf_dir, "documents")
    return TD._text_entry(docs, "text", "doc_id", tokenize=False).select(
        "doc_id", TD.simhash(F.col("text")).alias("simhash")
    )


@_register("doc_simhash_pairs", _simhash_pairs_sql())
def q_doc_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs with hamming ≤ 3 via pigeonhole chunk
    join. FULL hash gate: the oracle (_simhash_pairs_sql)
    recomputes signatures via the SQL hex fold and pairs them with its
    own fixed 4-chunk banding — legitimate because banding is pure
    candidate generation and the exact hamming filter decides."""
    return TD.simhash_pairs(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Extension: text analysis (token stats, quality, language ID, fingerprint)
# ---------------------------------------------------------------------------

def _lang_sql() -> str:
    """CASE-chain twin of textstats.lang_id, from the same stopword lists."""
    langs = list(TS.LANG_STOPWORDS)
    score_defs = ",\n  ".join(
        "len(list_filter(string_split_regex(lower(text), '\\s+'), "
        "t -> list_contains([{words}], t))) AS s_{lang}".format(
            lang=lang,
            words=", ".join(f"'{w}'" for w in TS.LANG_STOPWORDS[lang]),
        )
        for lang in langs
    )
    cases = "\n       ".join(
        "WHEN s_{l} > 0 AND {ge} THEN '{l}'".format(
            l=lang,
            ge=" AND ".join(f"s_{lang} >= s_{o}" for o in langs if o != lang),
        )
        for lang in langs
    )
    return score_defs, cases


_LANG_SCORES, _LANG_CASES = _lang_sql()

#: The language-ID CJK short-circuit (twin of textstats.lang_id's
#: has_cjk), built ONCE for every oracle that embeds the CASE chain —
#: the branch was hand-omitted from one of its three copies until a
#: fuzz seed produced a CJK doc (CLAUDE.md fuzz-sweep rule). Final-form
#: SQL; `_CJK_WHEN_FMT` is the brace-doubled variant for templates that
#: still pass through str.format().
_CJK_WHEN = (
    "CASE WHEN length(regexp_replace(text,"
    " '[^\\x{4e00}-\\x{9fff}]', '', 'g')) > 0 THEN 'zh'"
)
_CJK_WHEN_FMT = _CJK_WHEN.replace("{", "{{").replace("}", "}}")

_SQL_PROFILE = f"""
WITH scored AS (
  SELECT doc_id, text,
  {_LANG_SCORES}
  FROM documents
)
SELECT doc_id,
       CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
       CAST(len(regexp_extract_all(text, '{TS.TOKEN_PATTERN}')) AS INTEGER) AS n_wordpieces,
       CAST(CASE WHEN length(text) > 0
            THEN (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                 / CAST(length(text) AS DOUBLE)
            ELSE 0.0e0 END AS DOUBLE) AS punct_ratio,
       CAST(CASE WHEN len(string_split_regex(trim(text), '\\s+')) > 0
            THEN len(list_filter(string_split_regex(trim(text), '\\s+'),
                     t -> list_contains([{{all_stops}}], t)))
                 / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
            ELSE 0.0e0 END AS DOUBLE) AS stopword_ratio,
       {_CJK_WHEN_FMT}
       {_LANG_CASES}
       ELSE 'unknown' END AS lang_pred,
       list_min(list_transform(
         generate_series(1, greatest(length(text) - 7, 1)),
         i -> md5(substr(text, i, 8)))) AS fingerprint
FROM scored
"""


def _profile_sql() -> str:
    all_stops = sorted({w for ws in TS.LANG_STOPWORDS.values() for w in ws})
    return _SQL_PROFILE.format(all_stops=", ".join(f"'{w}'" for w in all_stops))


@_register("doc_profile", _profile_sql())
def q_doc_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis profile: token counts, punct/stopword ratios,
    language-ID heuristic, rolling-hash fingerprint — one scan, no shuffle."""
    return TS.text_profile(load_table(spark, sf_dir, "documents")).drop(
        "quality_score"
    )


def _md5_bucket_sql(id_expr: str, mod: int) -> str:
    """The md5-prefix hash bucket as SQL text — the hex fold replaces
    Spark's conv(), which DuckDB lacks. ONE builder for every bucket
    consumer (split_assign's 0-99 buckets, temperature_mix's 0-999999
    acceptance buckets) so the digit fold can never drift between
    oracles (shared-branch rule)."""
    return (
        "CAST(list_sum(list_transform(generate_series(1, 8),\n"
        "              i -> (strpos('0123456789abcdef',\n"
        f"                           substr(md5(CAST({id_expr} AS VARCHAR)), i, 1)) - 1)\n"
        f"                   * power(16.0e0, 8 - i))) AS BIGINT) % {mod}"
    )


@_register(
    "doc_split_assign",
    f"""
SELECT doc_id,
       {_md5_bucket_sql('doc_id', 100)} AS bucket,
       CASE WHEN {_md5_bucket_sql('doc_id', 100)} < 80 THEN 'train'
            WHEN {_md5_bucket_sql('doc_id', 100)} < 90 THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def q_doc_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: hash-bucket split (no
    RNG) so a re-run on a grown corpus never moves an old document
    between splits. Map-only — zero shuffles at any scale. The oracle
    folds the same md5 prefix digit-by-digit (the hex fold replaces
    Spark's conv(), which DuckDB lacks)."""
    docs = load_table(spark, sf_dir, "documents")
    return DS.split_assign(docs).select("doc_id", "bucket", "split")


@_register(
    "doc_mix_temperature",
    f"""
WITH counts AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source
),
wts AS (
  SELECT source, n,
         floor(pow(CAST(n AS DOUBLE), 0.5e0) * 1e6 + 0.5e0) / 1e6 AS w
  FROM counts
),
tot AS (
  SELECT CAST(SUM(CAST(w AS DECIMAL(28,6))) AS DOUBLE) AS tw,
         CAST(SUM(n) AS DOUBLE) AS tn
  FROM wts
),
rates AS (
  SELECT source,
         CAST(floor(least(1.0e0, (0.5e0 * tn) * (w / tw) / CAST(n AS DOUBLE))
                    * 1e6 + 0.5e0) AS BIGINT) AS mix_thr
  FROM wts CROSS JOIN tot
)
SELECT d.doc_id, d.source, r.mix_thr,
       COALESCE({_md5_bucket_sql('d.doc_id', 1000000)} < r.mix_thr, FALSE) AS kept
FROM documents d LEFT JOIN rates r ON d.source IS NOT DISTINCT FROM r.source
""",
)
def q_doc_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted source mixing (alpha=0.5, target half the
    corpus): the corpus-assembly step that upsamples small sources
    toward n^alpha shares, realized as deterministic per-source
    md5-bucket subsampling — no RNG, bit-identical keep set across
    engines (quantized pow, DECIMAL weight sum, integer acceptance
    test). The rate table is a broadcast dim; the corpus never
    shuffles. NULL source is its own stratum (null-safe join on both
    sides — routing rule)."""
    docs = load_table(spark, sf_dir, "documents")
    return DS.temperature_mix(docs, alpha=0.5, frac=0.5)


@_register(
    "doc_mix_token_budget",
    """
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(COALESCE(SUM(n_tokens) OVER (
                PARTITION BY source ORDER BY doc_id NULLS FIRST
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS BIGINT) AS cum_before
  FROM d
)
SELECT doc_id, source, n_tokens, cum_before,
       cum_before < CASE WHEN source IS NOT DISTINCT FROM 'src0'
                         THEN 400 ELSE 800 END AS kept
FROM c
""",
)
def q_doc_mix_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget source mixing (round 8) — the quota form of corpus
    composition ("x tokens from source s", as public LLM-data mixers
    specify) beside the rate form (doc_mix_temperature): each source
    contributes documents in deterministic doc_id order until its
    budget fills; the straddling doc is kept (pack_sequences' fill
    convention), src0 runs at a tighter override to exercise
    per-source budgets. One shuffle (hash partition on source), exact
    int64 cumulative sums, integer keep decision — nothing float-
    ranked. ORDER BY doc_id NULLS FIRST pinned on both engines (window
    rule); NULL source is its own stratum (projected column, safe as a
    DuckDB partition key per the user_event_transitions precedent);
    NULL-text docs are excluded on entry (they have no token count and
    would ride the quota for free)."""
    from smart_fraud_detection_data_pipeline_spark.operators import datasets as DS2

    docs = load_table(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    counted = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("bigint").alias("n_tokens"),
    )
    return DS2.budget_mix(
        counted, budget=800, budgets={"src0": 400}
    )


#: Shared BM25 oracle fragments (the fuzz-sweep shared-branch rule):
#: the tokenize/tf/dl CTEs plus the %97-sampled query set `q` under an
#: entry filter (the twin of similarity._bm25_tokens and
#: _bm25_query_set), the exact/pruned prefix that adds corpus stats and
#: document frequencies, and the floor-quantized int64 micro-unit
#: score expression with the tf/dl operand slots as placeholders.
_BM25_DOCS_CTES = """docs AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t
  FROM documents WHERE {entry}
),
toks AS (SELECT doc_id, unnest(t) AS tok FROM docs),
tf AS (SELECT doc_id, tok, COUNT(*) AS f FROM toks GROUP BY doc_id, tok),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY doc_id),
q AS (
  SELECT doc_id AS query_id, unnest(list_distinct(t[1:5])) AS tok
  FROM docs WHERE doc_id % 97 = 0
)"""

_BM25_CTE_PREFIX = _BM25_DOCS_CTES.format(entry="text IS NOT NULL") + """,
stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS n_toks FROM dl),
dft AS (SELECT tok, COUNT(*) AS dft FROM tf GROUP BY tok)"""

_BM25_S_MICRO = """CAST(floor(
           (floor(ln(((s.n_docs - dft.dft + 0.5e0) / (dft.dft + 0.5e0)) + 1.0e0)
                  * 1e6 + 0.5e0) / 1e6)
           * ((CAST({f} AS DOUBLE) * (1.2e0 + 1.0e0))
              / (CAST({f} AS DOUBLE)
                 + 1.2e0 * ((1.0e0 - 0.75e0)
                            + 0.75e0 * (CAST({dl} AS DOUBLE)
                                        / (CAST(s.n_toks AS DOUBLE)
                                           / CAST(s.n_docs AS DOUBLE))))))
           * 1e6 + 0.5e0) AS BIGINT)"""


def _bm25_oracle_sql(k: int = 10) -> str:
    return f"""
WITH {_BM25_CTE_PREFIX},
terms AS (
  SELECT q.query_id, tf.doc_id,
         {_BM25_S_MICRO.format(f="tf.f", dl="dl.dl")} AS s_micro
  FROM q
  JOIN tf ON q.tok = tf.tok
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN dft ON q.tok = dft.tok
  CROSS JOIN stats s
),
scores AS (
  SELECT query_id, doc_id, CAST(SUM(s_micro) AS BIGINT) AS sm
  FROM terms GROUP BY query_id, doc_id
),
ranked AS (
  SELECT query_id, doc_id, sm,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sm DESC, doc_id NULLS FIRST) AS rank
  FROM scores
)
SELECT query_id, doc_id, CAST(sm AS DOUBLE) / 1e6 AS bm25,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= {k}
"""


def _bm25_certified_sql(k: int, *, champions: str, impacts: str, ub: str) -> str:
    """The certified top-k tail of both champion-list oracles — the
    twin of similarity._bm25_certified_topk: candidates from the
    ``champions`` (tok, doc_id) lists of the query's terms, rescored
    exactly from the ``impacts`` (tok, doc_id, s) stream, ranked
    (sm DESC, doc_id NULLS FIRST), and the lossless certificate as pure
    integer comparisons against the ``ub`` (tok, ub) bounds. Its first
    branch counts rank-(m+1) ROWS (n_ub = 0 ⇔ no posting dropped for
    any query term), never ub_total == 0 — a dropped posting can
    floor-quantize to impact 0 and still belong to the exact top-k via
    tie-breaks (ADVICE r12 soundness fix)."""
    return f""",
cand AS (SELECT DISTINCT q.query_id, c.doc_id
         FROM q JOIN {champions} c ON q.tok = c.tok),
resc AS (
  SELECT c.query_id, c.doc_id, CAST(SUM(i.s) AS BIGINT) AS sm
  FROM cand c
  JOIN q ON q.query_id = c.query_id
  JOIN {impacts} i ON i.tok = q.tok AND i.doc_id = c.doc_id
  GROUP BY c.query_id, c.doc_id
),
ubq AS (
  SELECT q.query_id, CAST(COALESCE(SUM(u.ub), 0) AS BIGINT) AS ub_total,
         CAST(COUNT(u.ub) AS BIGINT) AS n_ub
  FROM q LEFT JOIN {ub} u ON q.tok = u.tok
  GROUP BY q.query_id
),
rq AS (
  SELECT query_id, doc_id, sm,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY sm DESC, doc_id NULLS FIRST) AS rank
  FROM resc
),
qstats AS (
  SELECT query_id, COUNT(*) AS n_cand,
         MAX(CASE WHEN rank = {k} THEN sm END) AS kth
  FROM rq GROUP BY query_id
)
SELECT rq.query_id, rq.doc_id, CAST(rq.sm AS DOUBLE) / 1e6 AS bm25,
       CAST(rq.rank AS BIGINT) AS rank,
       COALESCE(u.n_ub = 0
                OR (s.n_cand >= {k} AND s.kth > u.ub_total),
                FALSE) AS lossless_set_ok
FROM rq
JOIN qstats s USING (query_id)
JOIN ubq u USING (query_id)
WHERE rq.rank <= {k}
"""


def _bm25_pruned_oracle_sql(k: int = 10, m: int = 24) -> str:
    """Oracle twin of operators/similarity.bm25_topk_pruned: the impact
    index is query-independent (tf restricted to the query vocabulary,
    same values), the per-term top-m champion cut pins (value DESC,
    doc_id NULLS FIRST) and its rank-(m+1) row is the dropped-posting
    bound; the rest is `_bm25_certified_sql` — the oracle recomputes
    the PRUNED algorithm itself (the vocab_cms_counts pattern)."""
    return f"""
WITH {_BM25_CTE_PREFIX},
impacts AS (
  SELECT tf.tok, tf.doc_id,
         {_BM25_S_MICRO.format(f="tf.f", dl="dl.dl")} AS s
  FROM tf
  JOIN (SELECT DISTINCT tok FROM q) qv ON tf.tok = qv.tok
  JOIN dl ON tf.doc_id = dl.doc_id
  JOIN dft ON tf.tok = dft.tok
  CROSS JOIN stats s
),
ranked_t AS (
  SELECT tok, doc_id, s,
         row_number() OVER (PARTITION BY tok
                            ORDER BY s DESC, doc_id NULLS FIRST) AS rn
  FROM impacts
),
kept AS (SELECT tok, doc_id FROM ranked_t WHERE rn <= {m}),
ub AS (SELECT tok, s AS ub FROM ranked_t WHERE rn = {m} + 1)""" + _bm25_certified_sql(
        k, champions="kept", impacts="impacts", ub="ub"
    )


def _bm25_query_set(docs: DataFrame) -> DataFrame:
    """The BM25 gate's query set — every 97th non-NULL-text document's
    first five distinct tokens as (query_id, terms); pure arithmetic on
    the table, so the oracle's `q` CTE (_BM25_DOCS_CTES) derives the
    identical queries."""
    base = docs.where(F.col("text").isNotNull())
    return base.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("query_id"),
        F.array_distinct(
            F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 5)
        ).alias("terms"),
    )


@_register("doc_bm25_topk", _bm25_oracle_sql())
def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical top-10 retrieval (round 8): every 97th document's
    first five distinct tokens play the query set (pure arithmetic on
    the table, so the oracle derives identical queries); the corpus is
    scored with the Lucene-practical BM25 (k1=1.2, b=0.75) and ranked
    per query. Full hash gate: ln() is micro-quantized on output
    (transcendental rule), per-term scores floor-quantize to int64
    micro-units and SUM exactly (order-free), ranking orders by the
    integer score with doc_id NULLS FIRST tie-break, and both engines
    evaluate the SAME double parse tree over exact ints and pinned
    literals. See operators/similarity.bm25_topk for the candidate-
    bounded scale shape (query-vocab-restricted dft, broadcast query
    side, xxhash64 exchange keys)."""
    from smart_fraud_detection_data_pipeline_spark.operators.similarity import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(docs, _bm25_query_set(docs), k=10)


_BM25_PRUNE_M = 192


@_register("doc_bm25_topk_pruned", _bm25_pruned_oracle_sql(m=_BM25_PRUNE_M))
def q_doc_bm25_topk_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Champion-list pruned BM25 with exact candidate rescoring
    (round 12, VERDICT r11 #2): same `_bm25_query_set` and k as exact
    doc_bm25_topk, but candidates come from each term's top-192
    impact-ordered champion list, are rescored exactly, and every
    query carries a provable lossless certificate computed from the
    pruned data alone — certificate TRUE means the output IS the exact
    top-k (set, order, and scores; see
    operators/similarity.bm25_topk_pruned). At the gate fixture's
    degenerate 31-token vocabulary m=192 certifies every sf0.01 query
    while pruning ~half of each champion list. Full hash gate: the
    oracle recomputes the pruned algorithm itself — impact index,
    champion cut, rank-(m+1) bounds, exact rescore, certificate —
    through the SAME SQL builder fragments as the exact gate;
    certificate ⇒ top-k-equality against exact bm25_topk is pinned in
    tests. Scale: per-query work is bounded by m×|terms| — shuffle ∝
    queries, flat in the corpus (the exact tier's x10 audit measured
    shuffle ∝ queries × corpus)."""
    from smart_fraud_detection_data_pipeline_spark.operators.similarity import bm25_topk_pruned

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk_pruned(docs, _bm25_query_set(docs), k=10, m=_BM25_PRUNE_M)


_BM25_INDEX_M = 400


def _bm25_rank_pool_sql(name: str, pool: str, dft: str, stats: str) -> str:
    """CTE ``name`` (tok, doc_id, f, dl, rn): the ``pool`` postings
    scored under the ``dft``/``stats`` CTEs and ranked per term
    (impact DESC, doc_id NULLS FIRST) — the twin of
    similarity._bm25_rank_pool, used for the base cut and the delta
    re-cut."""
    return f"""{name}_imp AS (
  SELECT p.tok, p.doc_id, p.f, p.dl,
         {_BM25_S_MICRO.format(f="p.f", dl="p.dl")} AS s
  FROM {pool} p JOIN {dft} dft ON p.tok = dft.tok CROSS JOIN {stats} s
),
{name} AS (
  SELECT tok, doc_id, f, dl,
         row_number() OVER (PARTITION BY tok
                            ORDER BY s DESC, doc_id NULLS FIRST) AS rn
  FROM {name}_imp
)"""


def _bm25_indexed_oracle_sql(k: int = 10, m: int = _BM25_INDEX_M) -> str:
    """Oracle twin of the persisted champion-list index lifecycle
    (operators/similarity.bm25_index_build → bm25_index_update →
    bm25_topk_indexed), restricted to the query vocabulary — valid
    because per-term champion cuts are independent and the output only
    consults the query's terms. The oracle recomputes the WHOLE
    algorithm: base champion lists under BASE stats, the affected-term
    re-cut under FULL stats, the monotone (fmax, dlmin) dropped-bound
    merge, and the exact rescore + certificate of
    `_bm25_certified_sql` over the stored-bound ``ubr``. Entry rule:
    NULL text/id excluded (index contract, unlike the exact tier's
    merged NULL-id pseudo-doc); base/delta routing is dividend-signed
    `%` wrapped in COALESCE (modular-routing rule) and the shared-term
    membership tests are EXISTS, never IN (oracle routing rule)."""
    s = _BM25_S_MICRO
    docs = _BM25_DOCS_CTES.format(entry="text IS NOT NULL AND doc_id IS NOT NULL")
    return f"""
WITH {docs},
qv AS (SELECT DISTINCT tok FROM q),
tfq AS (SELECT tf.* FROM tf
        WHERE EXISTS (SELECT 1 FROM qv WHERE qv.tok = tf.tok)),
post AS (SELECT tfq.tok, tfq.doc_id, tfq.f, dl.dl
         FROM tfq JOIN dl ON tfq.doc_id = dl.doc_id),
post_b AS (SELECT * FROM post WHERE COALESCE(doc_id % 5 <> 0, FALSE)),
post_d AS (SELECT * FROM post WHERE COALESCE(doc_id % 5 = 0, FALSE)),
stats_b AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS n_toks
            FROM dl WHERE COALESCE(doc_id % 5 <> 0, FALSE)),
stats_f AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS n_toks
            FROM dl),
dft_b AS (SELECT tok, COUNT(*) AS dft FROM tfq
          WHERE COALESCE(doc_id % 5 <> 0, FALSE) GROUP BY tok),
dft_f AS (SELECT tok, COUNT(*) AS dft FROM tfq GROUP BY tok),
{_bm25_rank_pool_sql("rb", "post_b", "dft_b", "stats_b")},
champ_b AS (SELECT tok, doc_id, f, dl FROM rb WHERE rn <= {m}),
drop_b AS (SELECT tok, MAX(f) AS fmax, MIN(dl) AS dlmin
           FROM rb WHERE rn > {m} GROUP BY tok),
dvoc AS (SELECT DISTINCT tok FROM post_d),
pool AS (
  SELECT c.tok, c.doc_id, c.f, c.dl FROM champ_b c
  WHERE EXISTS (SELECT 1 FROM dvoc WHERE dvoc.tok = c.tok)
  UNION ALL
  SELECT tok, doc_id, f, dl FROM post_d
),
{_bm25_rank_pool_sql("rm", "pool", "dft_f", "stats_f")},
champ2 AS (
  SELECT c.tok, c.doc_id FROM champ_b c
  WHERE NOT EXISTS (SELECT 1 FROM dvoc WHERE dvoc.tok = c.tok)
  UNION ALL
  SELECT tok, doc_id FROM rm WHERE rn <= {m}
),
evict AS (SELECT tok, MAX(f) AS fmax, MIN(dl) AS dlmin
          FROM rm WHERE rn > {m} GROUP BY tok),
drop2 AS (
  SELECT tok, MAX(fmax) AS fmax, MIN(dlmin) AS dlmin FROM (
    SELECT * FROM drop_b UNION ALL SELECT * FROM evict
  ) u GROUP BY tok
),
imp_full AS (
  SELECT p.tok, p.doc_id,
         {s.format(f="p.f", dl="p.dl")} AS s
  FROM post p JOIN dft_f dft ON p.tok = dft.tok CROSS JOIN stats_f s
),
ubr AS (
  SELECT d.tok, {s.format(f="d.fmax", dl="d.dlmin")} AS ub
  FROM drop2 d JOIN dft_f dft ON d.tok = dft.tok CROSS JOIN stats_f s
)""" + _bm25_certified_sql(k, champions="champ2", impacts="imp_full", ub="ubr")


@_register("doc_bm25_index_incremental", _bm25_indexed_oracle_sql())
def q_doc_bm25_index_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted champion-list BM25 index, full lifecycle under ONE
    hash gate (round 13, VERDICT r12 #1): build the index on the base
    slice (doc_id % 5 != 0, null-safe routing), fold in the delta
    slice with the O(delta) incremental update (affected-term re-cut
    under updated stats, monotone dropped-bound merge, postings
    append), then answer the standard `_bm25_query_set` from the
    stored artifact — candidates from champions, EXACT rescore from
    stored postings, certificate from the stored (fmax, dlmin)
    bounds. m=400 sits between the fixture's per-term base lists
    (~312 at sf0.01 — nothing dropped, n_ub=0 certifies and the
    output provably equals exact) and the sf0.1 lists (~3.9k — every
    term cuts, the conservative bound refuses honestly), so BOTH
    certificate branches face the gate across environments. The
    oracle recomputes the whole lifecycle (see
    _bm25_indexed_oracle_sql); certified-equality vs exact bm25_topk
    and the parquet round-trip are pinned in
    tests/test_similarity_multimodal.py."""
    from smart_fraud_detection_data_pipeline_spark.operators.similarity import (
        bm25_index_build,
        bm25_index_update,
        bm25_topk_indexed,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(F.coalesce(F.col("doc_id") % 5 != 0, F.lit(False)))
    delta = docs.where(F.coalesce(F.col("doc_id") % 5 == 0, F.lit(False)))
    index = bm25_index_build(base, m=_BM25_INDEX_M)
    index = bm25_index_update(index, delta)
    return bm25_topk_indexed(index, _bm25_query_set(docs), k=10)


_PACK_BUDGET = 512
_PACK_SHARDS = 8


@_register(
    "doc_pack_sequences",
    f"""
WITH toks AS (
  SELECT doc_id, doc_id % {_PACK_SHARDS} AS shard,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tokens
  FROM documents
), c AS (
  SELECT doc_id, shard, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM toks
)
SELECT doc_id, shard, n_tokens,
       CAST(floor(cum_before / {_PACK_BUDGET}.0e0) AS BIGINT) AS bin_id,
       CAST(row_number() OVER (
              PARTITION BY shard, CAST(floor(cum_before / {_PACK_BUDGET}.0e0) AS BIGINT)
              ORDER BY doc_id) AS BIGINT) AS seq_pos
FROM c
""",
)
def q_doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for the trainer: documents poured shard-by-shard
    into {budget}-token bins (streaming fill; a straddling document
    joins the earlier bin). The only shuffle is the hash partition on
    `shard` — packing parallelizes across shards, no global sort
    anywhere, so the plan survives any corpus size."""
    docs = load_table(spark, sf_dir, "documents").withColumn(
        "n_tokens", TS.token_count(F.col("text")).cast("bigint")
    )
    return DS.pack_sequences(
        docs, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    ).select("doc_id", "shard", "n_tokens", "bin_id", "seq_pos")


@_register(
    "lang_id_confusion",
    f"""
WITH scored AS (
  SELECT lang, {{lang_scores}},
         {_CJK_WHEN_FMT}
         {{lang_cases}}
         ELSE 'unknown' END AS lang_pred
  FROM documents
)
SELECT lang, lang_pred, COUNT(*) AS n_docs
FROM scored GROUP BY lang, lang_pred
""".format(lang_scores=_LANG_SCORES, lang_cases=_LANG_CASES),
)
def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-quality audit as a query: the language-ID heuristic's
    confusion matrix against the corpus's ground-truth `lang` labels —
    one map-only scoring pass plus a tiny two-key aggregate. The shape
    every heuristic/model in a data pipeline should ship with: its
    accuracy is a QUERY, re-checked on every corpus, not a one-off
    notebook number."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    scored = docs.select(
        "lang", "text", TS.tokens(F.lower(t)).alias("__ltoks")
    ).select(
        "lang", "text",
        *[
            c.alias(f"__s_{lang}")
            for lang, c in TS.lang_scores(t, ltoks=F.col("__ltoks")).items()
        ],
    )
    scores = {lang: F.col(f"__s_{lang}") for lang in TS.LANG_STOPWORDS}
    return (
        scored.select("lang", TS.lang_id(t, scores=scores).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@_register(
    "time_layout_scan",
    """
SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
WHERE ts >= TIMESTAMP '2024-01-10' AND ts < TIMESTAMP '2024-01-11'
""",
)
def q_time_layout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered layout round-trip: events rewritten via
    write_time_layout (repartitionByRange on ts → each file a disjoint
    ts interval), then a one-day window scanned back. Values must
    survive the rewrite exactly; the layout's point is that this scan's
    parquet min/max stats skip every out-of-window file (file-level
    disjointness pinned in tests/test_loaders.py)."""
    import os

    from smart_fraud_detection_data_pipeline_spark.operators.loaders import (
        write_time_layout,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    path = os.path.join(scratch_dir("time_layout_"), "events_bytime")
    write_time_layout(ev, path, ts_col="ts", n_ranges=16)
    lo = F.lit("2024-01-10").cast("timestamp_ntz")
    hi = F.lit("2024-01-11").cast("timestamp_ntz")
    return read_parquet(spark, path).where((F.col("ts") >= lo) & (F.col("ts") < hi))


@_register(
    "observed_quality",
    """
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN value IS NOT NULL AND value >= 0 THEN 0 ELSE 1 END) AS BIGINT)
         AS value_nonneg_violations,
       CAST(SUM(CASE WHEN user_id IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT)
         AS user_present_violations
FROM events
""",
)
def q_observed_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """observe()-based quality counters: the metrics ride the events
    scan (no second pass), surfaced as a 1-row agg over the SAME
    observation-attached plan — the caller's collect is the only
    action (the r4 collect_observed-then-createDataFrame shape ran an
    extra metrics job and regressed 2.0x). Observation readback and
    the streaming progress-event path stay pinned in
    tests/test_quality.py."""
    from smart_fraud_detection_data_pipeline_spark.operators.quality import (
        observed_report,
    )

    ev = load_table(spark, sf_dir, "events")
    return observed_report(
        ev,
        {
            "value_nonneg": F.col("value").isNotNull() & (F.col("value") >= 0),
            "user_present": F.col("user_id").isNotNull(),
        },
    )


_TREND_EPOCH_US = 1704067200000000  # 2024-01-01 00:00:00 UTC in micros


@_register(
    "user_value_trend",
    f"""
WITH terms AS (
  SELECT user_id,
         CAST((epoch_us(CAST(ts AS TIMESTAMP)) - {_TREND_EPOCH_US}) // 1000000 AS DECIMAL(20,0)) AS x,
         CAST(value AS DECIMAL(18,2)) AS y
  FROM events
), sums AS (
  SELECT user_id, COUNT(*) AS n_events,
         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         CAST(SUM(x * y) AS DOUBLE) AS sxy, CAST(SUM(x * x) AS DOUBLE) AS sxx
  FROM terms GROUP BY user_id
)
SELECT user_id, n_events,
       CASE WHEN n_events * sxx - sx * sx = 0.0e0 THEN NULL
            ELSE (n_events * sxy - sx * sy) / (n_events * sxx - sx * sx)
                 * 86400.0e0 END AS slope_per_day
FROM sums
""",
)
def q_user_value_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregate family: per-user OLS slope of value over
    time (is this user's spend trending up?). regr_slope exists in both
    engines but accumulates float moments in partition order — not
    reproducible under re-partitioning. Instead the four moment sums
    run EXACT (whole-second integer x, 2-dp decimal y — every sum stays
    under 2^53, so even the decimal-to-double conversion is exact), and
    only the final closed-form arithmetic — written token-identically on
    both sides — happens in double: bit-identical
    slopes at any parallelism, the same trick as the engine's money
    sums. One shuffle, map-side partial aggregation."""
    ev = load_table(spark, sf_dir, "events")
    x = (
        (F.unix_micros(F.col("ts").cast("timestamp")) - F.lit(_TREND_EPOCH_US))
        / F.lit(1000000)
    ).cast("long").cast("decimal(20,0)")
    y = F.col("value").cast("decimal(18,2)")
    sums = (
        ev.select("user_id", x.alias("x"), y.alias("y"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("x").cast("double").alias("sx"),
            F.sum("y").cast("double").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        )
    )
    denom = F.col("n_events") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (
        (F.col("n_events") * F.col("sxy") - F.col("sx") * F.col("sy"))
        / denom
        * F.lit(86400.0)
    )
    return sums.select(
        "user_id",
        "n_events",
        F.when(denom == 0.0, F.lit(None).cast("double"))
        .otherwise(slope)
        .alias("slope_per_day"),
    )


@_register(
    "user_value_ewma",
    """
SELECT user_id,
       list_reduce(list(value ORDER BY ts NULLS FIRST, event_id),
                   (acc, x) -> 0.3e0 * x + 0.7e0 * acc) AS ewma
FROM events GROUP BY user_id
""",
)
def q_user_value_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential recurrence as a higher-order fold: per-user
    exponentially weighted moving average of value in event order.
    EWMA's s_i = alpha*v_i + (1-alpha)*s_{i-1} cannot be expressed with
    frame-based window aggregates, and reaching for a Python UDF would
    leave the JVM — instead collect_list + array_sort(struct) +
    F.aggregate runs the fold inside Catalyst. Both engines fold the
    identically-ordered list left-to-right with first-element init, so
    the doubles are bit-identical (the cosine-fold precedent). Per-key
    state is the user's event list — bounded by events-per-user, the
    same bound any sequential per-key model pays."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "value"))
        ).alias("evs")
    )
    vals = F.transform(F.col("evs"), lambda s: s["value"])
    ewma = F.aggregate(
        F.slice(vals, 2, F.greatest(F.size(vals) - 1, F.lit(0))),
        F.element_at(vals, 1),
        lambda acc, x: F.lit(0.3) * x + F.lit(0.7) * acc,
    )
    return agg.select("user_id", ewma.alias("ewma"))


_VOCAB_TOP_K = 100


@_register(
    "vocab_top_ngrams",
    f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS t FROM documents
),
grams AS (
  SELECT unnest({_grams_sql(2)}) AS ngram
  FROM toks
),
counted AS (
  SELECT ngram, COUNT(*) AS n_occurrences FROM grams GROUP BY ngram
)
SELECT ngram, n_occurrences FROM counted
ORDER BY n_occurrences DESC, ngram
LIMIT {_VOCAB_TOP_K}
""",
)
def q_vocab_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary building: top-k word bigrams by occurrence
    (every occurrence counts — unlike dedup shingling, which is
    per-document distinct). Partial aggregation absorbs the Zipf head
    map-side, ONE shuffle on the ngram, and the top-k compiles to
    TakeOrderedAndProject — per-partition heaps, never a global sort.
    Ties broken by the ngram itself so the cut is deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    # Staged split: the bigram lambda slices the token array per element
    # — an inline split would re-tokenize once per bigram (see shingles).
    staged = docs.select(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("__toks")
    )
    # array_join keeps the gram of a NULL-text doc NULL, as the
    # unfenced oracle does (the default concat_ws would make it '')
    grams = TD._gram_list(F.col("__toks"), 2, lambda i, w: F.array_join(w, " "))
    return (
        staged.select(F.explode(grams).alias("ngram"))
        .groupBy("ngram")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "ngram")
        .limit(_VOCAB_TOP_K)
    )


_HH_INV = 64  # heavy-hitter threshold: tokens with count > N/64


@_register(
    "vocab_heavy_hitters",
    f"""
WITH toks AS (
  SELECT string_split_regex(trim(lower(text)), '\\s+') AS t
  FROM documents WHERE text IS NOT NULL
),
tok AS (SELECT unnest(t) AS token FROM toks),
tot AS (SELECT COUNT(*) AS n FROM tok)
SELECT token, COUNT(*) AS n_occurrences
FROM tok, tot
GROUP BY token, tot.n
HAVING COUNT(*) * {_HH_INV} > tot.n
""",
)
def q_vocab_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact corpus heavy hitters (every token above 1/{inv} of total
    occurrences) via the Misra-Gries two-pass plan: a map-only k-slot
    summary per partition, then an exact recount of ONLY the candidate
    set — the corpus-wide shuffle keys on at most k x #partitions
    distinct tokens instead of the full vocabulary (the Zipf tail never
    reaches an exchange; operators/vocab.heavy_hitter_tokens,
    plan-pinned). Output is provably exact and partition-independent
    (MG keeps every token above N/(k+1); the integer cross-multiply
    threshold sits above that), so the oracle is a plain GROUP BY ...
    HAVING over the same tokenization — a full hash gate, unlike the
    sketch family's contract-style checks."""
    from smart_fraud_detection_data_pipeline_spark.operators.vocab import (
        heavy_hitter_tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    return heavy_hitter_tokens(docs, inv_threshold=_HH_INV)


_CMS_DEPTH, _CMS_WIDTH = 4, 1024
_CMS_BUCKET = _md5_bucket_sql(
    "'cms' || CAST(rs.r AS VARCHAR) || ':' || token", _CMS_WIDTH
)


@_register(
    "vocab_cms_counts",
    f"""
WITH toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
  FROM documents WHERE text IS NOT NULL
),
rs AS (SELECT unnest(generate_series(0, {_CMS_DEPTH - 1})) AS r),
sketch AS (
  SELECT rs.r AS r, {_CMS_BUCKET} AS bucket, COUNT(*) AS cnt
  FROM toks CROSS JOIN rs
  GROUP BY 1, 2
),
probe AS (SELECT DISTINCT token FROM toks WHERE doc_id % 97 = 0),
exact AS (
  SELECT token, COUNT(*) AS exact_count FROM toks
  WHERE token IN (SELECT token FROM probe) GROUP BY token
),
pb AS (
  SELECT token, rs.r AS r, {_CMS_BUCKET} AS bucket
  FROM probe CROSS JOIN rs
),
est AS (
  SELECT pb.token, MIN(s.cnt) AS est_count
  FROM pb JOIN sketch s ON s.r = pb.r AND s.bucket = pb.bucket
  GROUP BY pb.token
)
SELECT est.token,
       CAST(est.est_count AS BIGINT) AS est_count,
       CAST(exact.exact_count AS BIGINT) AS exact_count,
       est.est_count >= exact.exact_count AS overcount_ok
FROM est JOIN exact ON exact.token = est.token
""",
)
def q_vocab_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch token-frequency estimates (round 11): a
    4×1024 row-salted-md5 counter grid built in one partial-aggregated
    pass (exchange ≤ depth×width keys at ANY corpus size — the
    mergeable point-query sketch for unbounded vocabularies), probed
    for every 97th document's distinct tokens with the exact recount
    attached. overcount_ok pins CMS's hard one-sided guarantee. The
    bucket function is deterministic md5 (no RNG state), so unlike
    HLL the oracle recomputes the SKETCH itself — a full hash gate
    with zero probabilistic tiers (operators/vocab.cms_token_estimates)."""
    from smart_fraud_detection_data_pipeline_spark.operators.vocab import (
        cms_token_estimates,
    )

    docs = load_table(spark, sf_dir, "documents")
    return cms_token_estimates(
        docs, depth=_CMS_DEPTH, width=_CMS_WIDTH, probe_mod=97
    )


_BPE_MERGES = 8


def _bpe_stage_ctes(n_merges: int) -> str:
    """The learned-BPE CTE chain shared by the doc_bpe_merges and
    doc_bpe_tokenize oracles (ONE builder — the shared-branch rule):
    word-vocab build, then per stage pair extraction from the
    sentinel-framed symbol string, the (SUM(cnt) DESC, l, r) argmax,
    and a scalar-subquery replace() applying the winning merge —
    DuckDB's replace scans left-to-right non-overlapping exactly like
    Spark's, which is the BPE greedy order (probed identical on the
    overlap and adjacent-pair cases). A stage with no pairs left
    propagates the vocab unchanged and contributes no merge row,
    mirroring the Spark loop's break. Integer counts and
    binary-collated strings only — no floats anywhere."""
    u = "chr(31)"
    parts = [f"""
WITH words AS (
  SELECT t.word AS word
  FROM documents, LATERAL unnest(string_split_regex(trim(text), '\\s+')) AS t(word)
  WHERE text IS NOT NULL AND t.word <> '' AND NOT contains(t.word, {u})
),
vocab0 AS MATERIALIZED (
  SELECT {u} || array_to_string(list_transform(
           generate_series(1, length(word)), i -> word[i]), {u} || {u}) || {u} AS seq,
         COUNT(*) AS cnt
  FROM words GROUP BY word
)"""]
    for n in range(n_merges):
        parts.append(f""",
pairs{n} AS MATERIALIZED (
  SELECT syms[i] AS l, syms[i + 1] AS r, cnt
  FROM (SELECT string_split(substring(seq, 2, length(seq) - 2), {u} || {u}) AS syms, cnt
        FROM vocab{n}),
       LATERAL unnest(generate_series(1, len(syms) - 1)) AS t(i)
),
best{n} AS MATERIALIZED (
  SELECT l, r, CAST(SUM(cnt) AS BIGINT) AS total
  FROM pairs{n} GROUP BY l, r
  ORDER BY total DESC, l, r LIMIT 1
),
vocab{n + 1} AS MATERIALIZED (
  SELECT CASE WHEN (SELECT count(*) FROM best{n}) = 0 THEN seq
         ELSE replace(seq,
                      {u} || (SELECT l FROM best{n}) || {u} || {u} || (SELECT r FROM best{n}) || {u},
                      {u} || (SELECT l FROM best{n}) || (SELECT r FROM best{n}) || {u})
         END AS seq, cnt
  FROM vocab{n}
)""")
    return "".join(parts)


def _bpe_oracle_sql(n_merges: int = _BPE_MERGES) -> str:
    """Oracle twin of doc_bpe_merges: the shared stage chain, emitting
    one row per non-empty stage argmax."""
    union = "\nUNION ALL\n".join(
        f"SELECT CAST({n} AS INTEGER) AS rank, l AS \"left\", r AS \"right\","
        f" total AS pair_count FROM best{n}"
        for n in range(n_merges)
    )
    return _bpe_stage_ctes(n_merges) + "\n" + union


def _bpe_apply_oracle_sql(n_merges: int = _BPE_MERGES) -> str:
    """Oracle twin of doc_bpe_tokenize: recompute the learned merges
    via the shared stage chain, then re-tokenize every document — frame
    each word, chain the n_merges scalar-subquery replaces in rank
    order (patterns never span the chr(30) word joiner), and emit the
    same integer stats + md5 token-stream digest."""
    u = "chr(31)"
    parts = [f""",
docw AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     w -> w <> '' AND NOT contains(w, {u})) AS ws
  FROM documents WHERE text IS NOT NULL
),
d0 AS (
  SELECT doc_id,
         len(ws) AS n_words,
         CAST(list_sum(list_transform(ws, w -> length(w))) AS BIGINT) AS n_chars,
         array_to_string(list_transform(ws, w ->
           {u} || array_to_string(list_transform(
             generate_series(1, length(w)), i -> w[i]), {u} || {u}) || {u}
         ), chr(30)) AS seq
  FROM docw WHERE len(ws) > 0
)"""]
    for n in range(n_merges):
        parts.append(f""",
d{n + 1} AS (
  SELECT doc_id, n_words, n_chars,
         CASE WHEN (SELECT count(*) FROM best{n}) = 0 THEN seq
         ELSE replace(seq,
                      {u} || (SELECT l FROM best{n}) || {u} || {u} || (SELECT r FROM best{n}) || {u},
                      {u} || (SELECT l FROM best{n}) || (SELECT r FROM best{n}) || {u})
         END AS seq
  FROM d{n})""")
    return (
        _bpe_stage_ctes(n_merges)
        + "".join(parts)
        + f"""
SELECT doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST((length(seq) - length(replace(seq, {u}, ''))) // 2 AS BIGINT)
         AS n_tokens,
       n_chars,
       md5(seq) AS token_digest
FROM d{n_merges}
"""
    )


@_register("doc_bpe_tokenize", _bpe_apply_oracle_sql())
def q_doc_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the corpus-learned BPE merges back to the corpus — the
    tokenizer's INFERENCE half (round 9b), completing the train/apply
    pair with doc_bpe_merges: learn the 8-merge table (bounded 1-row
    collects), then tokenize every document with the merges embedded
    as chained replace literals and emit per-doc token counts plus an
    md5 digest of the full framed token stream in word order. The
    oracle re-learns the merges through the SAME shared CTE chain and
    re-tokenizes in SQL, so a merge-order swap, a cross-word boundary
    leak, or a framing off-by-one flips the digest. Zero floats; docs
    with no valid words vanish on both engines."""
    from smart_fraud_detection_data_pipeline_spark.operators.vocab import (
        bpe_apply,
        bpe_merge_list,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_merge_list(docs, n_merges=_BPE_MERGES)
    return bpe_apply(docs, merges)


@_register("doc_bpe_merges", _bpe_oracle_sql())
def q_doc_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn the first 8 BPE merges from the corpus (round 9): the
    actual tokenizer-training algorithm (Sennrich et al., arXiv
    1508.07909) as a distributed operator — word-vocab built in ONE
    corpus scan, then 8 iterations of exact most-frequent-adjacent-pair
    selection (count DESC, lexicographic tie-break) and greedy
    left-to-right merge application via sentinel-framed string
    replaces. Fully deterministic integers/strings, so the oracle
    recomputes every learned merge from the table through generated
    chained CTE stages — the tokenizer-learning twin of the
    vocab_heavy_hitters gate, upgrading textstats' BPE-ish regex
    APPROXIMATION to the real learned artifact. See
    operators/vocab.bpe_learn_merges for the 100 TB shape."""
    from smart_fraud_detection_data_pipeline_spark.operators.vocab import (
        bpe_learn_merges,
    )

    docs = load_table(spark, sf_dir, "documents")
    return bpe_learn_merges(docs, n_merges=_BPE_MERGES)


def _bpe_vocab_oracle_sql(n_merges: int = _BPE_MERGES) -> str:
    """Oracle twin of doc_bpe_vocab: re-learn the merges through the
    shared stage chain, then split the FINAL vocab stage back into
    symbols and sum word counts per token."""
    u = "chr(31)"
    return (
        _bpe_stage_ctes(n_merges)
        + f"""
SELECT t.tok AS token, CAST(SUM(cnt) AS BIGINT) AS n_occurrences
FROM (SELECT string_split(substring(seq, 2, length(seq) - 2), {u} || {u}) AS syms,
             cnt
      FROM vocab{n_merges}),
     LATERAL unnest(syms) AS t(tok)
GROUP BY t.tok
"""
    )


@_register("doc_bpe_vocab", _bpe_vocab_oracle_sql())
def q_doc_bpe_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned tokenizer's VOCABULARY table (round 10): token →
    corpus occurrence count after the 8 learned merges — the third
    artifact of the BPE family (merges = training, tokenize = apply,
    vocab = what ships to the embedding layer). Runs the resident
    learner, then one vocab-sized aggregation; the oracle re-learns
    every merge through the shared CTE chain and re-splits the final
    vocab stage, so a wrong merge, a framing leak, or a count drift
    flips the hash. Zero floats. See operators/vocab.bpe_vocabulary."""
    from smart_fraud_detection_data_pipeline_spark.operators.vocab import (
        bpe_merge_list,
        bpe_vocabulary,
    )

    docs = load_table(spark, sf_dir, "documents")
    merges = bpe_merge_list(docs, n_merges=_BPE_MERGES)
    return bpe_vocabulary(docs, merges)


@_register(
    "value_winsorized",
    """
WITH p AS (
  SELECT event_type,
         floor(quantile_cont(value, 0.05) * 1000000.0e0 + 0.5e0)
           / 1000000.0e0 AS p05,
         floor(quantile_cont(value, 0.95) * 1000000.0e0 + 0.5e0)
           / 1000000.0e0 AS p95
  FROM events GROUP BY event_type
)
SELECT event_id, e.event_type, value,
       least(greatest(value, p05), p95) AS value_winsorized
FROM events e JOIN p ON e.event_type = p.event_type
""",
)
def q_value_winsorized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier clamping for training features: winsorize `value` at the
    per-type exact p05/p95. The percentile pass is one shuffle on the
    (tiny-cardinality) type key; the clamp itself joins the 5-row
    threshold table back BROADCAST — the fact stream never reshuffles.
    Percentile interpolation is NOT ulp-stable across engines at every
    index fraction (the round-11 x10 sweep put 9,920 of 1M clamped
    rows one ulp apart after sf0.01/sf0.1 passed clean), so the
    thresholds are 6-dp floor-quantized on both sides BEFORE the clamp
    — the clamped output is then either the raw 2-dp value or the
    quantized threshold, engine-exact either way."""
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    ev = load_table(spark, sf_dir, "events")
    pcts = ev.groupBy("event_type").agg(
        q6(F.percentile("value", 0.05)).alias("p05"),
        q6(F.percentile("value", 0.95)).alias("p95"),
    )
    return (
        ev.join(F.broadcast(pcts), "event_type")
        .select(
            "event_id",
            "event_type",
            "value",
            F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95")).alias(
                "value_winsorized"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Extension: embedding similarity search
# ---------------------------------------------------------------------------

def _cos_sql(a: str, b: str) -> str:
    """The float cosine of two DOUBLE[] expressions, 6-dp rounded, NULL
    on a zero norm — the ONE oracle twin of similarity.cosine (same
    left-to-right list_sum folds)."""
    return f"""round(CASE WHEN sqrt(list_sum(list_transform({a}, x -> x*x))) > 0
                     AND sqrt(list_sum(list_transform({b}, x -> x*x))) > 0
               THEN list_sum(list_transform(list_zip({a}, {b}), z -> z[1]*z[2]))
                    / (sqrt(list_sum(list_transform({a}, x -> x*x)))
                       * sqrt(list_sum(list_transform({b}, x -> x*x))))
               END, 6)"""


def _rank_cut_sql(
    name: str, src: str, score: str, k: int, order: str = "DESC NULLS LAST"
) -> str:
    """The `name` CTE: the per-query top-k cut of (query_id, vec_id,
    ``score``) rows of `src` — ``score`` in ``order`` with the vec_id
    tie-break, INTEGER rank <= k. The ONE oracle twin of
    similarity._ranked_topk."""
    return f"""{name} AS (
  SELECT * FROM (
    SELECT query_id, vec_id, {score},
           CAST(row_number() OVER (
             PARTITION BY query_id ORDER BY {score} {order}, vec_id
           ) AS INTEGER) AS rank
    FROM {src}
  ) WHERE rank <= {k}
)"""


def _ann_query_set(emb: DataFrame, bound: int = 5) -> DataFrame:
    """The vector gates' query set: the vec_id < ``bound`` embeddings
    as (query_id, embedding) — the query CTE of every embed_* oracle."""
    return emb.where(F.col("vec_id") < bound).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


_SQL_COSINE_TOPK = f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5
),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
      WHERE vec_id IS NOT NULL),
scored AS (
  SELECT query_id, vec_id, {_cos_sql("qv", "cv")} AS cosine_sim
  FROM c CROSS JOIN q
),
{_rank_cut_sql("ranked", "scored", "cosine_sim", 10)}
SELECT * FROM ranked
"""


@_register("embed_cosine_topk", _SQL_COSINE_TOPK)
def q_embed_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for 5 query vectors (exact ANN baseline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.cosine_topk(emb, _ann_query_set(emb), k=10)


def _srp_oracle_sql(n_planes: int = 4, k: int = 10, dim: int = 64) -> str:
    """Oracle twin of srp_ann_topk, generated from the SAME deterministic
    hyperplanes (embedded as literals) — bucket assignment, hamming-1
    multiprobe, candidate scoring and ranking all reproduced in SQL."""
    from smart_fraud_detection_data_pipeline_spark.operators.similarity import srp_planes

    planes = srp_planes(dim, n_planes)

    def lit(plane):
        return "[" + ",".join(f"{v:.1f}" for v in plane) + "]::DOUBLE[]"

    def bucket_expr(vcol):
        terms = [
            f"(CASE WHEN list_sum(list_transform(list_zip({vcol}, {lit(p)}), z -> z[1]*z[2])) >= 0"
            f" THEN {1 << i} ELSE 0 END)"
            for i, p in enumerate(planes)
        ]
        return " + ".join(terms)

    probes = ", ".join(["bucket"] + [f"xor(bucket, {1 << p})" for p in range(n_planes)])
    return f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings
  WHERE vec_id < 5 AND embedding IS NOT NULL
),
c AS (SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
      WHERE embedding IS NOT NULL AND vec_id IS NOT NULL),
cb AS (SELECT vec_id, cv, {bucket_expr('cv')} AS bucket FROM c),
qb AS (SELECT query_id, qv, {bucket_expr('qv')} AS bucket FROM q),
probes AS (
  SELECT query_id, qv, unnest([{probes}]) AS bucket FROM qb
),
scored AS (
  SELECT p.query_id, cb.vec_id, {_cos_sql("p.qv", "cb.cv")} AS cosine_sim
  FROM cb JOIN probes p USING (bucket)
),
{_rank_cut_sql("ranked", "scored", "cosine_sim", k)}
SELECT * FROM ranked
"""


@_register("embed_srp_ann", _srp_oracle_sql())
def q_embed_srp_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRP-LSH approximate top-10 (bucketed candidates only — the 100 TB
    path; recall vs the exact baseline is asserted in tests)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return SIM.srp_ann_topk(emb, _ann_query_set(emb), k=10, n_planes=4)


# ---------------------------------------------------------------------------
# Extension: multimodal column plumbing
# ---------------------------------------------------------------------------

@_register(
    "multimodal_meta",
    """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
       'txt' AS format
FROM documents
""",
)
def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + typed metadata struct (schema plumbing check)."""
    docs = load_table(spark, sf_dir, "documents")
    mm = MM.attach_binary_payload(docs)
    return mm.select(
        "doc_id",
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.format").alias("format"),
    )


# BYTE-exact oracle for the Arrow-UDF byte features: the utf-8 payload
# surfaces in SQL as its hex encoding (hex(encode(text))), and each byte
# is reconstructed by nibble arithmetic — so the oracle holds on ANY
# corpus, not just ASCII (the old codepoint formulation silently
# predicated correctness on an ASCII-only corpus; the adversarial
# fixtures' unicode documents falsified it).
_HEX_BYTE = (
    "(strpos('0123456789ABCDEF', substr(hx, 2*j + 1, 1)) - 1) * 16"
    " + strpos('0123456789ABCDEF', substr(hx, 2*j + 2, 1)) - 1"
)


@_register(
    "multimodal_byte_features",
    f"""
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS INTEGER) AS n
  FROM documents
  WHERE text IS NOT NULL
),
bs AS (
  SELECT doc_id, n,
         list_transform(generate_series(0, n - 1), j -> {_HEX_BYTE}) AS bytes
  FROM b
)
SELECT doc_id,
       CAST(n AS BIGINT) AS n_bytes,
       CASE WHEN n > 0
            THEN CAST(list_sum(bytes) AS DOUBLE) / n ELSE 0.0e0 END AS byte_mean,
       CAST(len(list_distinct(bytes)) AS DOUBLE) / 256.0e0 AS byte_entropy_proxy,
       'txt' AS format
FROM bs
""",
)
def q_multimodal_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (the decode
    itself is a deterministic stub; plumbing is the real product)."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.extract_byte_features(MM.attach_binary_payload(docs))


@_register(
    "multimodal_image_decode",
    """
WITH d AS (
  SELECT doc_id, 1 + doc_id % 13 AS w, 1 + doc_id % 7 AS h
  FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0
),
ch AS (
  SELECT doc_id, w, h, (doc_id * 31 + k) % 256 AS r
  FROM d, LATERAL unnest(generate_series(0, w * h - 1)) AS t(k)
)
SELECT doc_id,
       CAST(w AS INTEGER) AS img_w,
       CAST(h AS INTEGER) AS img_h,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM((r + 85) % 256) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM((r + 170) % 256) AS DOUBLE) / (w * h) AS mean_b,
       CASE WHEN doc_id % 3 = 0 THEN 'bmp'
            WHEN doc_id % 3 = 1 THEN 'ppm'
            WHEN (doc_id // 3) % 3 = 2 THEN 'gif'
            ELSE 'png' END AS fmt
FROM ch GROUP BY doc_id, w, h
""",
)
def q_multimodal_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode under the hash gate (VERDICT r6 #4; PNG leg
    r8 per VERDICT r7 #5; palette-PNG + GIF legs r9 per VERDICT r8
    #3): synthesize a deterministic BMP / PPM / compressed image per
    document round-robin on doc_id % 3 — widths 1..13 so every BMP
    row-padding residue occurs, heights 1..7 so the PNG encoder's
    row%5 filter cycle exercises ALL FIVE scanline filters; the
    compressed leg rotates by (doc_id // 3) % 3 across truecolor PNG,
    PALETTE PNG and GIF, so the PLTE index lookup and the GIF LZW
    decompressor (variable-width codes, early-change width sync,
    KwKwK case) sit under the same gate — decoded features are
    encoding-invariant; only the fmt label distinguishes gif in the
    oracle — then parse the bytes with the pure-Python decoders (BMP
    headers, bottom-up rows, BGR order, 4-byte padding; PNG chunk
    CRCs, zlib inflate, Sub/Up/Average/Paeth unfilter, palette
    lookup; GIF color tables, sub-blocks, LZW) and emit dimensions +
    per-channel pixel means. The oracle recomputes the DECODED
    features from the pixel arithmetic alone (no parsing), so any
    parser bug — wrong stride, swapped channels, off-by-one offset,
    bad predictor, wrong palette entry, broken LZW width sync —
    shifts a mean and fails the hash. Channel means are exact int-sum
    / int-count IEEE divisions on both engines; no quantization
    needed. The doc_id >= 0 fixture contract the %-arithmetic assumes
    is ENFORCED in code (ADVICE r8): filtered here with the matching
    oracle WHERE (which also keeps the // division Python-portable),
    and synthesize_images raises on a negative id rather than
    silently diverging."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & (F.col("doc_id") >= 0)
    )
    return MM.decode_image_features(MM.synthesize_images(docs))


@_register(
    "multimodal_audio_decode",
    """
WITH d AS (
  SELECT doc_id,
         CASE doc_id % 3 WHEN 0 THEN 8000 WHEN 1 THEN 16000
              ELSE 44100 END AS rate,
         1 + doc_id % 2 AS ch,
         1 + doc_id % 480 AS n
  FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0
),
s AS (
  SELECT doc_id, rate, ch, n, k,
         (doc_id * 7919 + k * 104729) % 65536 - 32768 AS v
  FROM d, LATERAL unnest(generate_series(0, n * ch - 1)) AS t(k)
)
SELECT doc_id,
       CAST(rate AS INTEGER) AS sample_rate,
       CAST(ch AS INTEGER) AS n_channels,
       CAST(n AS BIGINT) AS n_frames,
       CAST(n * 1000 AS DOUBLE) / rate AS duration_ms,
       CAST(SUM(CASE WHEN k % ch = 0 THEN v END) AS DOUBLE) / n AS mean_ch0,
       CASE WHEN ch = 2
            THEN CAST(SUM(CASE WHEN k % ch = 1 THEN v END) AS DOUBLE) / n
            END AS mean_ch1,
       'wav' AS fmt
FROM s GROUP BY doc_id, rate, ch, n
""",
)
def q_multimodal_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode under the hash gate (round 9 — the audio twin
    of multimodal_image_decode): synthesize a deterministic PCM16 WAV
    per document — rate 8/16/44.1 kHz by doc_id % 3, mono/stereo by
    doc_id % 2, 1..480 frames, flat-index samples
    s(k) = ((doc_id*7919 + k*104729) % 65536) - 32768 interleaved —
    then parse the bytes with the pure-Python RIFF reader (chunk walk
    with word alignment, fmt validation, interleaved frame unpack) and
    emit rate/channels/frames/duration plus per-channel sample means.
    The oracle recomputes the DECODED features from the arithmetic
    alone, so a wrong stride, channel swap, header off-by-one or
    alignment bug shifts a mean and fails the hash. All emitted floats
    are exact int/int IEEE divisions (sample sums are tiny vs 2^53) —
    no quantization needed. Same doc_id >= 0 fixture contract as the
    image gate; MP3/OGG/FLAC stay honest NotImplementedError stubs."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & (F.col("doc_id") >= 0)
    )
    return MM.decode_audio_features(MM.synthesize_audio(docs))


@_register(
    "multimodal_video_frames",
    """
WITH d AS (
  SELECT doc_id, 1 + doc_id % 13 AS w, 1 + doc_id % 7 AS h,
         1 + doc_id % 5 AS nf
  FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0
),
fr AS (
  SELECT doc_id, w, h, f
  FROM d, LATERAL unnest(generate_series(0, nf - 1)) AS t(f)
  WHERE f % 2 = 0
),
ch AS (
  SELECT doc_id, w, h, f, (doc_id * 31 + f * 97 + k) % 256 AS r
  FROM fr, LATERAL unnest(generate_series(0, w * h - 1)) AS t2(k)
)
SELECT doc_id,
       CAST(f AS INTEGER) AS frame_idx,
       CAST(w AS INTEGER) AS img_w,
       CAST(h AS INTEGER) AS img_h,
       CAST(SUM(r) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM((r + 85) % 256) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM((r + 170) % 256) AS DOUBLE) / (w * h) AS mean_b,
       'gif' AS fmt
FROM ch GROUP BY doc_id, w, h, f
""",
)
def q_multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame sampling under the hash gate (round 9 — the
    video leg of the codec family): synthesize a deterministic
    ANIMATED GIF per document (1 + doc_id % 5 full-canvas frames,
    per-frame LOCAL color tables, graphic-control extensions, frame-f
    pixels r = (doc_id·31 + f·97 + k) % 256), parse it with the
    multi-frame decoder — container walk, GCE skip, local palettes,
    one LZW stream per frame — and emit per-channel means for every
    2nd frame (the sample-frames-then-featurize op every training
    pipeline runs on video). The oracle recomputes the decoded
    per-frame features AND the sampling predicate from the id
    arithmetic alone, so a frame-indexing bug, palette mix-up between
    frames, or sampling off-by-one fails the hash. Exact int/int IEEE
    divisions; doc_id >= 0 contract as the other media gates.
    Partial-canvas frames (disposal composition) and interlace remain
    honest NotImplementedError boundaries."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & (F.col("doc_id") >= 0)
    )
    return MM.sample_video_frames(MM.synthesize_video(docs), every=2)


@_register(
    "multimodal_jpeg_decode",
    """
WITH d AS (
  SELECT doc_id, 1 + doc_id % 23 AS w, 1 + doc_id % 11 AS h
  FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0
),
blk AS (
  SELECT doc_id, w, h,
         (doc_id * 31 + (by * ((w + 7) // 8) + bx) * 29) % 256 AS r0,
         LEAST(8, w - 8 * bx) * LEAST(8, h - 8 * by) AS cnt
  FROM d,
  LATERAL unnest(generate_series(0, (w + 7) // 8 - 1)) AS tx(bx),
  LATERAL unnest(generate_series(0, (h + 7) // 8 - 1)) AS ty(by)
),
rgb AS (
  SELECT doc_id, w, h, cnt, r0,
         (r0 + 85) % 256 AS g0, (r0 + 170) % 256 AS b0
  FROM blk
),
ycc AS (
  -- encoder fixed point, mirrored from _jpeg_rgb_to_ycc
  SELECT doc_id, w, h, cnt,
         FLOOR((77 * r0 + 150 * g0 + 29 * b0 + 128) / 256.0) AS y,
         GREATEST(0, LEAST(255,
           128 + FLOOR((-43 * r0 - 85 * g0 + 128 * b0 + 128) / 256.0))) AS cb,
         GREATEST(0, LEAST(255,
           128 + FLOOR((128 * r0 - 107 * g0 - 21 * b0 + 128) / 256.0))) AS cr
  FROM rgb
),
px AS (
  -- DC-quant-8 roundtrip is lossless, so decoded Y/Cb/Cr equal the
  -- encoder outputs; decoder fixed point mirrored from _jpeg_ycc_to_rgb
  SELECT doc_id, w, h, cnt,
    CASE WHEN doc_id % 2 = 0 THEN y
         ELSE GREATEST(0, LEAST(255,
           y + FLOOR((91881 * (cr - 128) + 32768) / 65536.0))) END AS pr,
    CASE WHEN doc_id % 2 = 0 THEN y
         ELSE GREATEST(0, LEAST(255,
           y + FLOOR((-22554 * (cb - 128) - 46802 * (cr - 128) + 32768)
                     / 65536.0))) END AS pg,
    CASE WHEN doc_id % 2 = 0 THEN y
         ELSE GREATEST(0, LEAST(255,
           y + FLOOR((116130 * (cb - 128) + 32768) / 65536.0))) END AS pb
  FROM ycc
)
SELECT doc_id,
       CAST(w AS INTEGER) AS img_w,
       CAST(h AS INTEGER) AS img_h,
       CAST(SUM(pr * cnt) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(pg * cnt) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(pb * cnt) AS DOUBLE) / (w * h) AS mean_b,
       'jpeg' AS fmt
FROM px GROUP BY doc_id, w, h
""",
)
def q_multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode under the full hash gate (round 9b —
    closes the codec family's last honest image stub): synthesize a
    deterministic JPEG per document — a mosaic of FLAT 8x8 tiles whose
    colors vary per block, grayscale vs 4:4:4 color by doc_id % 2, a
    2-MCU restart interval on doc_id % 3 == 0 — then parse the
    bitstream with the pure-Python baseline decoder: marker walk,
    DQT/DHT (Annex K tables), canonical Huffman DC/AC decode with
    EXTEND and DC prediction, RSTn resync with predictor reset, 0xFF00
    unstuffing, dequant, float64 IDCT, fixed-point YCbCr->RGB, and
    edge-padding crop. Flat tiles + a DC quant step of 8 make the
    lossy pipeline EXACT (DC = 8*(v-128) has no rounding hazard and a
    DC-only IDCT is integral), so the oracle recomputes the decoded
    channel means from id arithmetic plus the two fixed-point color
    transforms mirrored verbatim — a bug anywhere (wrong Huffman bump,
    zigzag slot, predictor reset, stuffing skip, clamp order) shifts a
    mean and fails the hash. The non-flat AC path (runs, ZRL, EOB over
    real coefficients) is conformance-pinned against the JVM's
    javax.imageio codec in both directions in
    tests/test_similarity_multimodal.py. Exact int/int IEEE divisions;
    doc_id >= 0 contract as the other media gates; progressive/
    arithmetic/subsampled JPEG remain honest NotImplementedError
    boundaries (multimodal.py decode_jpeg)."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & (F.col("doc_id") >= 0)
    )
    return MM.decode_image_features(MM.synthesize_jpegs(docs))


@_register(
    "multimodal_jpeg420_decode",
    """
WITH d AS (
  SELECT doc_id, 1 + doc_id % 37 AS w, 1 + doc_id % 19 AS h
  FROM documents WHERE doc_id IS NOT NULL AND doc_id >= 0
),
blk AS (
  SELECT doc_id, w, h,
         (doc_id * 31 + (by * ((w + 15) // 16) + bx) * 29) % 256 AS r0,
         LEAST(16, w - 16 * bx) * LEAST(16, h - 16 * by) AS cnt
  FROM d,
  LATERAL unnest(generate_series(0, (w + 15) // 16 - 1)) AS tx(bx),
  LATERAL unnest(generate_series(0, (h + 15) // 16 - 1)) AS ty(by)
),
rgb AS (
  SELECT doc_id, w, h, cnt, r0,
         (r0 + 85) % 256 AS g0, (r0 + 170) % 256 AS b0
  FROM blk
),
ycc AS (
  SELECT doc_id, w, h, cnt,
         FLOOR((77 * r0 + 150 * g0 + 29 * b0 + 128) / 256.0) AS y,
         GREATEST(0, LEAST(255,
           128 + FLOOR((-43 * r0 - 85 * g0 + 128 * b0 + 128) / 256.0))) AS cb,
         GREATEST(0, LEAST(255,
           128 + FLOOR((128 * r0 - 107 * g0 - 21 * b0 + 128) / 256.0))) AS cr
  FROM rgb
),
px AS (
  SELECT doc_id, w, h, cnt,
    GREATEST(0, LEAST(255,
      y + FLOOR((91881 * (cr - 128) + 32768) / 65536.0))) AS pr,
    GREATEST(0, LEAST(255,
      y + FLOOR((-22554 * (cb - 128) - 46802 * (cr - 128) + 32768)
                / 65536.0))) AS pg,
    GREATEST(0, LEAST(255,
      y + FLOOR((116130 * (cb - 128) + 32768) / 65536.0))) AS pb
  FROM ycc
)
SELECT doc_id,
       CAST(w AS INTEGER) AS img_w,
       CAST(h AS INTEGER) AS img_h,
       CAST(SUM(pr * cnt) AS DOUBLE) / (w * h) AS mean_r,
       CAST(SUM(pg * cnt) AS DOUBLE) / (w * h) AS mean_g,
       CAST(SUM(pb * cnt) AS DOUBLE) / (w * h) AS mean_b,
       'jpeg' AS fmt
FROM px GROUP BY doc_id, w, h
""",
)
def q_multimodal_jpeg420_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chroma-SUBSAMPLED (4:2:0) JPEG decode under the full hash gate —
    the sampling-factor geometry javax.imageio writes by default for
    color, so this leg is what makes the decoder real-world-complete:
    interleaved MCUs of four Y blocks + Cb + Cr, per-component DC
    predictors across the 6-block MCU, sampling-factor parse,
    2x2 box-replication upsampling, and edge MCUs where only part of
    the 16x16 footprint is visible. Fixtures are mosaics of flat
    16x16 tiles, so the encoder's 2x2 chroma mean and the decoder's
    replication upsampling are BOTH exact and the oracle recomputes
    decoded means from id arithmetic + the fixed-point color
    transforms (same contract as multimodal_jpeg_decode; the
    gradient-input upsampling behavior is conformance-pinned against
    javax.imageio in tests). Restart interval 2 on a third of ids —
    RSTn resync now lands mid-image at 6-blocks-per-MCU strides."""
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull() & (F.col("doc_id") >= 0)
    )
    return MM.decode_image_features(MM.synthesize_jpegs(docs, subsampling="420"))


# ---------------------------------------------------------------------------
# Streaming parity: the Structured Streaming path must equal the batch oracle
# ---------------------------------------------------------------------------

# stream output == batch output, so the oracle SQL is shared verbatim
@_register("fraud_enrich_streaming", _SQL_FRAUD_ENRICH)
def q_fraud_enrich_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship enrichment executed through Structured Streaming
    (file source → watermark → stream-static broadcast joins →
    foreachBatch parquet, availableNow trigger, checkpointed), then read
    back as a batch DataFrame. Hash-compared against the SAME oracle SQL
    as the batch query — stream/batch equivalence is part of the
    correctness gate, not just a unit test."""
    from smart_fraud_detection_data_pipeline_spark.sources.tables import stream_table

    raw = stream_table(spark, sf_dir, "events")
    n_part = _table_count(spark, sf_dir, "part")
    # stream_table already surfaces ts as TIMESTAMP_NTZ; the only cast is
    # NTZ→TIMESTAMP at the watermark boundary (wall-clock-preserving under
    # the UTC session tz), undone in out_cols below.
    tx = raw.select(
        F.col("event_id").alias("transaction_id"),
        F.col("user_id"),
        F.pmod(F.col("event_id"), F.lit(n_part)).alias("product_id"),
        F.col("value").alias("amount"),
        F.col("event_type").alias("payment_method"),
        F.col("ts").cast("timestamp").alias("timestamp"),
    ).withWatermark("timestamp", "15 minutes")
    enriched = E.enrich_transactions(
        tx, _users_dim(spark, sf_dir), _products_dim(spark, sf_dir), with_date_parts=True
    )
    out_cols = [
        "transaction_id", "user_id", "product_id", "amount", "payment_method",
        F.col("timestamp").cast("timestamp_ntz").alias("timestamp"),
        "user_name", "user_country", "product_name", "category", "base_price",
        "discount", "product_country", "country_mismatch", "high_value_flag",
        "fraud_score", "discounted_price", "tx_year", "tx_month", "tx_day",
    ]
    return _drain(spark, enriched.select(*out_cols), "fraud_enrich_streaming")



_DUP_SRC: dict[str, str] = {}


def _staged_dup_source(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as two micro-batch files where the SECOND re-emits a
    quarter of the first's rows verbatim — the at-least-once delivery a
    streaming dedup operator exists to absorb. Memoized per sf_dir;
    bench runs it untimed via QuerySpec.prepare."""
    if sf_dir not in _DUP_SRC:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "value"
        )
        src = scratch_dir("dedup_stream_src_")
        ev.coalesce(1).write.mode("append").parquet(src)
        ev.where(F.col("event_id") % 4 == 0).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        _DUP_SRC[sf_dir] = src
    return _DUP_SRC[sf_dir]


@_register(
    "dedup_streaming",
    """
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
""",
    prepare=lambda spark, sf_dir: _staged_dup_source(spark, sf_dir),
)
def q_dedup_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact streaming dedup via dropDuplicatesWithinWatermark: replayed
    rows arriving in a later micro-batch are absorbed by keyed state
    (or, once the watermark has passed them, dropped as late — either
    way emitted exactly once), so the appended output equals the
    duplicate-free batch table. State is bounded by the watermark
    horizon — unlike dropDuplicates, which would keep every key forever;
    THE streaming-dedup contract for at-least-once sources at scale."""
    deduped = (
        _stream_files(spark, _staged_dup_source(spark, sf_dir))
        # NTZ→TIMESTAMP only at the watermark boundary (engine contract)
        .withColumn("event_time", F.col("ts").cast("timestamp"))
        .withWatermark("event_time", "15 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "ts", "value")
    )
    return _drain(spark, deduped, "dedup_streaming", stateful=True)


@_register(
    "synthetic_transactions",
    """
SELECT CAST(10000 AS BIGINT) AS n_rows,
       TRUE AS ids_unique,
       TRUE AS user_ids_in_domain,
       TRUE AS product_ids_in_domain,
       TRUE AS stores_in_domain,
       TRUE AS amounts_in_range,
       TRUE AS payments_in_domain,
       TRUE AS countries_in_domain,
       TRUE AS ts_cadence_ok
""",
)
def q_synthetic_transactions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: the seeded distributed transaction generator (spark.range +
    seeded rand, reference transaction_producer.py:12-22 domains),
    CONTRACT-GATED (the self-check pattern): the generator's random
    VALUES depend on Spark's per-partition RNG (not SQL-reproducible,
    and partitioning-dependent across local[4]/local[32]/local-cluster),
    but its domain contract is partition-independent — id uniqueness,
    user 1-2000, product 1-500, stores S1-S5, amount [10,5000] at 2 dp,
    the reference payment/country vocabularies, and the 2-rows/s
    cadence spanning exactly [BASE_TS, BASE_TS+4999s] for 10000 rows.
    The query aggregates the generated frame to ONE row of those
    booleans; the oracle asserts the constants, so a generator edit
    that breaks any reference domain flips the hash gate."""
    from smart_fraud_detection_data_pipeline_spark.sources.generator import (
        BASE_TS,
        COUNTRIES,
        PAYMENT_METHODS,
        ROWS_PER_SECOND,
        synthetic_transactions,
    )

    n = 10000
    tx = synthetic_transactions(spark, n)
    base = F.lit(BASE_TS).cast("timestamp_ntz")
    last = F.timestamp_seconds(
        F.unix_timestamp(base) + F.lit((n - 1) // ROWS_PER_SECOND)
    ).cast("timestamp_ntz")
    return tx.agg(
        F.count(F.lit(1)).alias("n_rows"),
        (F.count_distinct("transaction_id") == F.count(F.lit(1))).alias("ids_unique"),
        F.bool_and(
            (F.col("user_id") >= 1) & (F.col("user_id") <= 2000)
        ).alias("user_ids_in_domain"),
        F.bool_and(
            (F.col("product_id") >= 1) & (F.col("product_id") <= 500)
        ).alias("product_ids_in_domain"),
        F.bool_and(
            F.col("store_id").isin([f"S{i}" for i in range(1, 6)])
        ).alias("stores_in_domain"),
        F.bool_and(
            (F.col("amount") >= 10.0) & (F.col("amount") <= 5000.0)
        ).alias("amounts_in_range"),
        F.bool_and(
            F.col("payment_method").isin(list(PAYMENT_METHODS))
        ).alias("payments_in_domain"),
        F.bool_and(F.col("country").isin(list(COUNTRIES))).alias(
            "countries_in_domain"
        ),
        ((F.min("timestamp") == base) & (F.max("timestamp") == last)).alias(
            "ts_cadence_ok"
        ),
    )


# ---------------------------------------------------------------------------
# Warehouse entry point (EP3): S7 partitioned sink → S11-S13 scan → A6 → A8
# ---------------------------------------------------------------------------

@_register("warehouse_load", _SQL_FRAUD_ENRICH)
def q_warehouse_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The loader pipeline end-to-end, Spark-native: the enriched fraud
    table is written twice to a Hive-partitioned prefix (modeling
    re-emitted micro-batches, S7), scanned back with typed partition
    discovery (S11-S13), deduped keep-last by load sequence (A6), and
    column-ordered for the warehouse (P7). Result must equal the batch
    enrichment — so it shares fraud_enrich's oracle SQL verbatim."""
    from smart_fraud_detection_data_pipeline_spark.operators import loaders as L
    from smart_fraud_detection_data_pipeline_spark.streaming.sinks import FRAUD_PARTITIONS

    cols = [
        "transaction_id", "user_id", "product_id", "amount", "payment_method",
        "timestamp", "user_name", "user_country", "product_name", "category",
        "base_price", "discount", "product_country", "country_mismatch",
        "high_value_flag", "fraud_score", "discounted_price",
        "tx_year", "tx_month", "tx_day",
    ]
    from pyspark.storagelevel import StorageLevel

    # Cache the enriched table: both load slices derive from it, and
    # without materialization the union write re-runs the enrichment
    # once per slice.
    enriched = q_fraud_enrich(spark, sf_dir).persist(StorageLevel.MEMORY_AND_DISK)
    # raw-scan probe: enrichment is row-preserving, so emptiness is
    # equivalent and the guard skips the broadcast-build limit-1 job
    if load_table(spark, sf_dir, "events").isEmpty():
        # empty-partition day: a partitioned write of zero rows leaves a
        # directory with no data files, and partition discovery then
        # cannot infer a schema — short-circuit with the loader's output
        # shape (empty-fixture sweep rule)
        enriched.unpersist()
        return enriched.select(*cols).limit(0)
    tmp = scratch_dir("warehouse_")
    first = enriched.withColumn("load_seq", F.lit(1))
    reemit = enriched.where(F.col("transaction_id") % 4 == 0).withColumn(
        "load_seq", F.lit(2)
    )
    # ONE write job for both load slices (r14; two sequential jobs paid
    # the shuffle+commit setup twice), keyed on the partition columns
    # PLUS a deterministic 8-way salt: the bare 4-column repartition
    # let AQE coalesce the write stage to 2 tasks (measured 2.4s of
    # serialized writing — guide §2.5's too-few-distinct-keys case),
    # while (dirs × 8) keys spread the write and still bound the files
    # per Hive dir at 8 (production file sizing would come from
    # maxRecordsPerFile on top). xxhash64, never rand: retried tasks
    # must reproduce the same row→partition assignment.
    first.unionByName(reemit).repartition(
        *FRAUD_PARTITIONS,
        F.pmod(F.xxhash64("transaction_id", "load_seq"), F.lit(8)),
    ).write.mode("append").partitionBy(*FRAUD_PARTITIONS).parquet(tmp)
    # The one union write (the cache's only consumer) has materialized —
    # release the cache NOW; the returned frame reads the written parquet, so
    # nothing downstream needs it (shared-session leak rule, ADVICE r3).
    enriched.unpersist()
    loaded = L.warehouse_load(
        spark,
        tmp,
        target=None,
        keys=["transaction_id", "timestamp"],
        order_by=["load_seq"],
        columns=cols,
    )
    return loaded



@_register(
    "warehouse_load_incremental",
    """
WITH t AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month, o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
         COUNT(*) AS num_orders
  FROM orders GROUP BY 1, 2
), s AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month, o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
         COUNT(*) AS num_orders, 1 AS __src
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '2001-06-01' AND o_orderkey % 3 = 0
  GROUP BY 1, 2
),
untouched AS (
  -- NULL-safe anti/semi routing (IS NOT DISTINCT FROM, not IN): a NULL
  -- order_month partition exists in t whenever o_orderdate has NULLs,
  -- and three-valued NOT IN would silently drop it from BOTH branches
  -- where the Spark operator keeps it untouched (fuzz-sweep rule,
  -- seed 101 — the oracle-side twin of CLAUDE.md's isin() rule).
  SELECT * FROM t WHERE NOT EXISTS
    (SELECT 1 FROM s WHERE s.order_month IS NOT DISTINCT FROM t.order_month)
),
touched AS (
  SELECT * FROM t WHERE EXISTS
    (SELECT 1 FROM s WHERE s.order_month IS NOT DISTINCT FROM t.order_month)
),
merged AS (
  SELECT CASE WHEN s.__src IS NOT NULL THEN s.order_month ELSE t.order_month END AS order_month,
         CASE WHEN s.__src IS NOT NULL THEN s.o_custkey ELSE t.o_custkey END AS o_custkey,
         CASE WHEN s.__src IS NOT NULL THEN s.total_price ELSE t.total_price END AS total_price,
         CASE WHEN s.__src IS NOT NULL THEN s.num_orders ELSE t.num_orders END AS num_orders
  FROM touched t FULL OUTER JOIN s
    ON t.order_month IS NOT DISTINCT FROM s.order_month
   AND t.o_custkey IS NOT DISTINCT FROM s.o_custkey
)
SELECT * FROM untouched UNION ALL SELECT * FROM merged
""",
)
def q_warehouse_load_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-scoped incremental MERGE (VERDICT r1 next #5): a monthly
    per-customer snapshot is upserted with a restatement of only the
    last months (every third order), via merge_upsert_partitioned — the
    full-outer merge join touches ONLY the restated partitions; all
    earlier months pass through without entering the join. On a
    partitioned parquet/lakehouse target the `isin` partition filter
    becomes real partition pruning, so merge cost scales with the
    source, not the target (pruning pinned in tests/test_plans.py).

    Matched (order_month, o_custkey) rows must take the restated
    (smaller) totals; target rows in touched months whose customers
    have no %3 orders must survive unchanged.
    """
    orders = load_table(spark, sf_dir, "orders")
    month = F.date_trunc("month", F.col("o_orderdate")).alias("order_month")

    def totals(df):
        return (
            df.select(month, "o_custkey", "o_totalprice")
            .groupBy("order_month", "o_custkey")
            .agg(
                exact_sum_double("o_totalprice").alias("total_price"),
                F.count(F.lit(1)).alias("num_orders"),
            )
        )

    target = totals(orders)
    source = totals(
        orders.where(
            (F.col("o_orderdate") >= F.lit("2001-06-01").cast("timestamp_ntz"))
            & (F.col("o_orderkey") % 3 == 0)
        )
    )
    return merge_upsert_partitioned(
        target, source, ["order_month", "o_custkey"], "order_month"
    )


_COMPACT_SRC: dict[str, tuple[str, str]] = {}


def _staged_small_files(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Stage events as a 32-small-file parquet dataset (the shape a
    micro-batch ingest leaves behind) plus an empty dst dir. Memoized
    per sf_dir; bench runs it untimed via QuerySpec.prepare."""
    if sf_dir not in _COMPACT_SRC:
        src, dst = scratch_dir("compact_src_"), scratch_dir("compact_dst_")
        load_table(spark, sf_dir, "events").repartition(32).write.mode(
            "overwrite"
        ).parquet(src)
        _COMPACT_SRC[sf_dir] = (src, dst)
    return _COMPACT_SRC[sf_dir]


@_register(
    "warehouse_compaction",
    """
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type, value,
       TRUE AS compaction_ok
FROM events
""",
    prepare=lambda spark, sf_dir: _staged_small_files(spark, sf_dir),
)
def q_warehouse_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction (lakehouse OPTIMIZE): 32 micro-batch-shaped
    files rewritten to the byte-budget file count via coalesce — a
    NARROW rewrite, no exchange (operators/loaders.compact_dataset).
    Row content must survive byte-for-byte (hash-checked against the
    original table) and the output file count must meet the budget
    (`compaction_ok` contract column — the oracle cannot list files, so
    it asserts the Spark-computed boolean TRUE, the sketch/Bloom
    self-check pattern). ts is cast to TIMESTAMP on the oracle side
    because the parquet round-trip (write + read-back) re-types the
    NTZ column the same way the streaming sinks do."""
    from smart_fraud_detection_data_pipeline_spark.operators.loaders import compact_dataset

    src, dst = _staged_small_files(spark, sf_dir)
    n_budget = compact_dataset(spark, src, dst)
    n_after = len(dataset_files(spark, dst))
    return read_parquet(spark, dst).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.lit(bool(n_after <= n_budget)).alias("compaction_ok"),
    )


_EVOLVE_SRC: dict[str, str] = {}


def _staged_evolving_schema(spark: SparkSession, sf_dir: str) -> str:
    """Stage events as two parquet files with EVOLVED schemas: the first
    written before `event_type` existed (the column is absent from the
    file footer, not null-valued), the second with it. Routing is
    NULL-safe (COALESCE(pred, FALSE) — CLAUDE.md modular-routing rule)
    so NULL event_ids land deterministically in the v2 file on both
    engines. Memoized per sf_dir."""
    if sf_dir not in _EVOLVE_SRC:
        ev = load_table(spark, sf_dir, "events")
        is_v1 = F.coalesce(F.col("event_id") % 2 == 0, F.lit(False))
        src = scratch_dir("evolve_src_")
        ev.where(is_v1).select("event_id", "user_id", "ts", "value").coalesce(
            1
        ).write.mode("append").parquet(src)
        ev.where(~is_v1).select(
            "event_id", "user_id", "ts", "value", "event_type"
        ).coalesce(1).write.mode("append").parquet(src)
        _EVOLVE_SRC[sf_dir] = src
    return _EVOLVE_SRC[sf_dir]


@_register(
    "schema_evolution_scan",
    """
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value,
       CASE WHEN COALESCE(event_id % 2 = 0, FALSE) THEN NULL
            ELSE event_type END AS event_type
FROM events
""",
    prepare=lambda spark, sf_dir: _staged_evolving_schema(spark, sf_dir),
)
def q_schema_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: a dataset whose early files PREDATE a
    column must scan as one frame with the union schema, old files
    null-filled — `mergeSchema` reconciles the footers at planning
    time, so the scan stays a plain parquet scan (no per-row work, no
    shuffle; files that lack the column read it as constant-NULL).
    This is the add-column half of lakehouse schema evolution; the
    oracle reconstructs the same frame from the original table by
    nulling event_type exactly where the v1 writer dropped it. Width
    changes only — type changes across files are a rewrite, not a scan
    option, in both Spark and the reference's warehouse."""
    src = _staged_evolving_schema(spark, sf_dir)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(src)
        .select("event_id", "user_id", "ts", "value", "event_type")
    )


@_register("sql_pricing_summary", _SQL_PRICING_SUMMARY)
def q_sql_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL frontend surface: the engine registers the testdata tables
    as views and executes the SAME dialect-portable SQL text the oracle
    runs — DataFrame API and spark.sql() are two doors to one Catalyst."""
    from smart_fraud_detection_data_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf_dir, names=("lineitem",))
    return spark.sql(_SQL_PRICING_SUMMARY)


# ---------------------------------------------------------------------------
# Coverage beyond the reference: JSON, rollup, analytic windows, sliding and
# session windows, salted aggregation (skew). Each oracle-checked.
# ---------------------------------------------------------------------------

@_register(
    "events_json_props",
    """
WITH x AS (
  SELECT event_type,
         CASE WHEN json_valid(props)
              THEN TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) END AS d
  FROM events
)
SELECT event_type,
       CAST(SUM(CASE WHEN d = floor(d) THEN TRY_CAST(d AS INTEGER) END)
            AS BIGINT) AS sum_k,
       COUNT(*) AS n_events
FROM x GROUP BY event_type
""",
)
def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction (F13 family): parse the props JSON column
    JVM-side (get_json_object — no Python in the loop) and aggregate.
    Malformed/empty/NULL props extract as NULL (get_json_object's
    behavior); DuckDB's json_extract_string THROWS on malformed text,
    so the oracle needs the explicit json_valid guard
    (adversarial-sweep rule). k is interpreted by the EXACT-INTEGER
    rule (fuzz-sweep rule, seed 101 + review): extract as text, try-
    cast to DOUBLE, keep only values equal to their floor, and try-cast
    the result to the target width. Direct TRY_CAST of the text to INT
    is NOT portable — DuckDB rounds '3.5' to 4 where Spark yields NULL —
    and ANSI CAST throws on 'notint' in both engines. Under this rule
    (verified by execution on both engines): ints and int-valued
    strings/floats ('3', '\"3\"', '3.0', '1e2') → the int; fractional,
    boolean, non-numeric, object/array k → NULL; int-range overflow →
    NULL (both try_casts)."""
    ev = load_table(spark, sf_dir, "events")
    d = F.get_json_object("props", "$.k").try_cast("double")
    return (
        ev.select(
            "event_type",
            F.when(d == F.floor(d), d.try_cast("int")).alias("k"),
        )
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count(F.lit(1)).alias("n_events"))
    )


@_register(
    "orders_rollup",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       COUNT(*) AS n_orders
FROM orders
GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
HAVING COUNT(*) > 0
""",
)
def q_orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (beyond-reference agg coverage): grand
    total + per-status + per-(status,priority) in one pass (Expand).
    The HAVING pins an engine difference on EMPTY input only: ANSI (and
    DuckDB) emit a count-0 grand-total row over zero rows, Spark's
    grouping-sets Expand emits nothing; COUNT(*)=0 is impossible for
    any real group, so the guard is inert on non-empty data
    (empty-fixture sweep rule)."""
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            exact_sum_double("o_totalprice").alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@_register(
    "customer_order_seq",
    """
SELECT o_custkey, o_orderkey,
       CAST(row_number() OVER w AS INTEGER) AS order_seq,
       lag(o_totalprice) OVER w AS prev_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey)
""",
)
def q_customer_order_seq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window functions (SURVEY §2.5 — absent in the reference
    but required for keep-last dedup): row_number + lag over a
    per-customer event-time ordering, ties broken by key. NULL order
    dates sort FIRST explicitly on both engines (Spark's ASC default;
    DuckDB's is NULLS LAST — adversarial-sweep rule)."""
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc_nulls_first(), "o_orderkey"
    )
    return load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).alias("order_seq"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
    )


@_register(
    "sliding_window_trends",
    """
WITH buckets AS (
  SELECT date_trunc('minute', CAST(ts AS TIMESTAMP)) AS w_start, value
  FROM events WHERE ts IS NOT NULL
  UNION ALL
  SELECT date_trunc('minute', CAST(ts AS TIMESTAMP)) - INTERVAL 1 MINUTE, value
  FROM events WHERE ts IS NOT NULL
)
SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(w_start + INTERVAL 2 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_end,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       COUNT(*) AS n_events
FROM buckets
GROUP BY w_start
""",
)
def q_sliding_window_trends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) windows: 2-minute windows every 1 minute — each
    event lands in two windows (the oracle materializes both buckets)."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy(F.window("ts", "2 minutes", "1 minute")).agg(
        exact_sum_double("value").alias("total_value"),
        F.count(F.lit(1)).alias("n_events"),
    )
    from smart_fraud_detection_data_pipeline_spark.functions.timeutil import stringify_window

    return stringify_window(agg).select(
        "window_start", "window_end", "total_value", "n_events"
    )


def _session_rollup(events: DataFrame) -> DataFrame:
    """Per-user 5-minute-gap sessions as (user_id, session_start,
    n_events, total_value) — the body shared by session_windows and the
    stream session_windows_streaming drains."""
    agg = events.groupBy(F.session_window("ts", "5 minutes"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        exact_sum_double("value").alias("total_value"),
    )
    return agg.select(
        "user_id",
        F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias(
            "session_start"
        ),
        "n_events",
        "total_value",
    )


#: Gaps-and-islands session oracle shared by session_windows and
#: session_windows_streaming (the streaming drain must equal the batch
#: answer).
_SQL_SESSION_WINDOWS = """
WITH o AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL 5 MINUTE
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WHERE ts IS NOT NULL
),
s AS (
  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM o
)
SELECT user_id,
       strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM s
GROUP BY user_id, sess_id
"""


@_register("session_windows", _SQL_SESSION_WINDOWS)
def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (5-minute inactivity gap) — the stateful windowing
    the reference lacks entirely. Spark: F.session_window (merging state
    windows); oracle: gaps-and-islands via lag + running sum."""
    return _session_rollup(load_table(spark, sf_dir, "events"))


@_register(
    "salted_category_totals",
    """
SELECT event_type,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
""",
)
def q_salted_category_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated aggregation: two-stage salted sum/count must equal
    the plain GROUP BY bit-for-bit (decimal accumulation is associative)
    — the oracle IS the unsalted query."""
    from smart_fraud_detection_data_pipeline_spark.operators.skew import salted_sum_count

    ev = load_table(spark, sf_dir, "events")
    return salted_sum_count(
        ev,
        "event_type",
        "value",
        salt_from=F.col("event_id"),
        sum_alias="total_value",
        count_alias="n_events",
    )


@_register(
    "embed_cosine_dups",
    f"""
WITH base AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_cos_sql("a.v", "b.v")} AS cosine_sim
  FROM base a JOIN base b ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine_sim FROM pairs WHERE cosine_sim >= 0.4
""",
)
def q_embed_cosine_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by label (the dedup-family
    member for embedding columns: comparisons stay within blocks, so
    cost is Σ block² not n²)."""
    from smart_fraud_detection_data_pipeline_spark.operators.similarity import cosine_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_dup_pairs(emb, threshold=0.4, block_col="label")


# ---------------------------------------------------------------------------
# Temporal joins (as-of / interval) and streaming windowed-agg parity
# ---------------------------------------------------------------------------

_SQL_ASOF_LAST_PURCHASE = """
WITH e AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events
),
p AS (
  SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS purchase_ts,
         value AS purchase_value
  FROM events WHERE event_type = 'purchase'
),
j AS (
  SELECT e.event_id, e.user_id, e.ts, p.purchase_id, p.purchase_ts, p.purchase_value,
         row_number() OVER (
           PARTITION BY e.event_id
           ORDER BY p.purchase_ts DESC NULLS LAST, p.purchase_id DESC NULLS LAST
         ) AS rn
  FROM e LEFT JOIN p
    ON p.user_id = e.user_id AND p.purchase_ts <= e.ts
)
SELECT event_id, user_id, ts, purchase_id AS last_purchase_id,
       purchase_ts AS last_purchase_ts, purchase_value AS last_purchase_value
FROM j WHERE rn = 1
"""


def _asof_last_purchase(
    spark: SparkSession, sf_dir: str, bucket_seconds: int | None
) -> DataFrame:
    """Every event paired with the same user's most recent purchase
    at-or-before it — the body of asof_last_purchase and its bucketed
    twin, which differ only in ``bucket_seconds``."""
    from smart_fraud_detection_data_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts", "value")
    purchases = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    out = asof_join(
        ev,
        purchases,
        on=["user_id"],
        left_key="event_id",
        left_ts="ts",
        right_ts="purchase_ts",
        tie_break="purchase_id",
        bucket_seconds=bucket_seconds,
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("purchase_id").alias("last_purchase_id"),
        F.col("purchase_ts").alias("last_purchase_ts"),
        F.col("purchase_value").alias("last_purchase_value"),
    )


@_register("asof_last_purchase", _SQL_ASOF_LAST_PURCHASE)
def q_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (backward) join: every event paired with the same user's most
    recent purchase at-or-before it — the canonical 'state as of event
    time' feature join the reference cannot express."""
    return _asof_last_purchase(spark, sf_dir, bucket_seconds=None)


@_register("asof_last_purchase_bucketed", _SQL_ASOF_LAST_PURCHASE)
def q_asof_last_purchase_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """asof_last_purchase through the opt-in ``bucket_seconds`` hot-key
    time-split (VERDICT r6 #1: the bucketed code path must face the hash
    gate, not only unit tests). Same body (`_asof_last_purchase`) and
    oracle constant as the unbucketed twin — the split is REQUIRED to be
    bit-identical. 6-hour buckets over the
    ~30-day events span ≈ 120 buckets: most buckets hold no purchase for
    a given user, so the cross-bucket carry pass does real work at
    sf0.01 and on every fuzz seed (incl. `--hotkey` fixtures)."""
    return _asof_last_purchase(spark, sf_dir, bucket_seconds=6 * 3600)


_SQL_ERROR_BURST_WINDOW = """
WITH e AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
)
SELECT a.event_id,
       COUNT(b.event_id) AS n_follow,
       CAST(SUM(CASE WHEN b.event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_follow_errors
FROM (SELECT * FROM e WHERE event_type = 'error') a
LEFT JOIN e b
  ON b.user_id = a.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
GROUP BY a.event_id
"""


def _error_burst_window(
    spark: SparkSession, sf_dir: str, bucket_seconds: int | None
) -> DataFrame:
    """Per error event, the same user's follow-up counts in the next 10
    minutes — the body of error_burst_window and its bucketed twin,
    which differ only in ``bucket_seconds``."""
    from smart_fraud_detection_data_pipeline_spark.operators.asof import interval_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    errors = ev.where(F.col("event_type") == "error").select(
        F.col("event_id"), F.col("user_id"), F.col("ts")
    )
    follows = ev.select(
        F.col("user_id"),
        F.col("event_id").alias("f_id"),
        F.col("ts").alias("f_ts"),
        F.col("event_type").alias("f_type"),
    )
    pairs = interval_join(
        errors, follows, on=["user_id"], left_ts="ts", right_ts="f_ts",
        lower="0 seconds", upper="10 minutes", bucket_seconds=bucket_seconds,
    )
    counts = pairs.groupBy("event_id").agg(
        F.count("f_id").alias("n_follow"),
        F.sum(F.when(F.col("f_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_follow_errors"),
    )
    # left semantics: errors with zero followers keep a zero-count row
    return (
        errors.select("event_id")
        .join(counts, "event_id", "left")
        .fillna(0, ["n_follow", "n_follow_errors"])
    )


@_register("error_burst_window", _SQL_ERROR_BURST_WINDOW)
def q_error_burst_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: per error event, the same user's activity in
    the following 10 minutes — equi-key join bounds the fan-out, the
    range predicate trims inside each key group."""
    return _error_burst_window(spark, sf_dir, bucket_seconds=None)


@_register("error_burst_window_bucketed", _SQL_ERROR_BURST_WINDOW)
def q_error_burst_window_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """error_burst_window through the opt-in interval_join
    ``bucket_seconds`` hot-key split (round 7, twin of the as-of
    bucketed gate): joins on (user, 10-minute time bucket) — each error
    probes the 2 buckets its window can touch, each follower lands in
    exactly one — so per-task fan-out is bounded by per-(key, bucket)
    products instead of |L_k|×|R_k| per key. Same body
    (`_error_burst_window`) and oracle constant as the default plan;
    output is required to be bit-identical."""
    return _error_burst_window(spark, sf_dir, bucket_seconds=600)



@_register(
    "user_spend_trends_streaming",
    """
SELECT user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
       COUNT(*) AS n_events,
       strftime(date_trunc('minute', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(date_trunc('minute', ts) + INTERVAL 1 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_end
FROM events
WHERE ts IS NOT NULL
GROUP BY user_id, date_trunc('minute', ts)
""",
)
def q_user_spend_trends_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 through Structured Streaming: the tumbling-window aggregation
    runs in faithful mode (complete output re-emitted per trigger,
    batch_id-stamped append parquet), then the loader-contract keep-last
    dedup recovers the final table — which must hash-match a plain batch
    GROUP BY oracle. The full ST4+A6 contract inside the correctness
    gate. Uses count(*) (not distinct) — exact and streamable."""
    from smart_fraud_detection_data_pipeline_spark.operators.dedup import dedup_keep_last
    from smart_fraud_detection_data_pipeline_spark.sources.tables import stream_table
    from smart_fraud_detection_data_pipeline_spark.functions.numeric import exact_sum_double
    from smart_fraud_detection_data_pipeline_spark.functions.timeutil import stringify_window

    raw = stream_table(spark, sf_dir, "events")
    # stream_table already surfaces ts as TIMESTAMP_NTZ; NTZ→TIMESTAMP only
    # at the watermark boundary (stringify_window renders the window bounds
    # as strings under the UTC session tz, so no re-cast needed downstream).
    tx = raw.select(
        F.col("user_id"),
        F.col("value").alias("amount"),
        F.col("ts").cast("timestamp").alias("timestamp"),
    ).withWatermark("timestamp", "15 minutes")
    agg = tx.groupBy(F.window("timestamp", "1 minute"), "user_id").agg(
        exact_sum_double("amount").alias("total_spent"),
        F.count(F.lit(1)).alias("n_events"),
    )
    out = stringify_window(agg).select(
        "user_id", "total_spent", "n_events", "window_start", "window_end"
    )
    raw_out = _drain(
        spark, out, "user_spend_trends_streaming", output_mode="complete", stateful=True
    )
    return dedup_keep_last(
        raw_out, ["user_id", "window_start"], ["batch_id"]
    ).drop("batch_id")



@_register(
    "value_quantiles",
    """
SELECT event_type,
       floor(quantile_cont(value, 0.5) * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS p50,
       floor(quantile_cont(value, 0.9) * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS p90,
       floor(quantile_cont(value, 0.99) * 1000000.0e0 + 0.5e0) / 1000000.0e0 AS p99
FROM events
GROUP BY event_type
""",
)
def q_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per key (sort-based agg — the only
    sort-heavy aggregate in the catalog; the approx_percentile sketch is
    the 100 TB path when exactness isn't contractual). Interpolation is
    lo + (hi - lo)·frac on both engines but NOT ulp-stable at every
    index fraction: the round-11 x10 sweep caught p99 off by one ulp
    (230.53 vs 230.53000000000003) at 1M rows after sf0.01 AND sf0.1
    both passed clean — so the outputs are 6-dp floor-quantized on both
    sides (the transcendental rule applied to interpolation)."""
    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            q6(F.percentile("value", 0.5)).alias("p50"),
            q6(F.percentile("value", 0.9)).alias("p90"),
            q6(F.percentile("value", 0.99)).alias("p99"),
        )
    )


@_register(
    "doc_tfidf",
    """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
),
df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY token
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT tf.doc_id, tf.token, tf.tf,
       CAST(tf.tf AS DOUBLE) *
       (floor((ln((CAST((SELECT n_docs FROM n) AS DOUBLE) + 1.0e0)
               / (CAST(doc_freq AS DOUBLE) + 1.0e0)) + 1.0e0)
              * 1000000.0e0 + 0.5e0) / 1000000.0e0) AS tfidf
FROM tf JOIN df USING (token)
""",
)
def q_doc_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF features (tokenize → TF per doc → smoothed IDF join)
    in long form (doc_id, token, tf, tfidf) — the CountVectorizer/IDF
    capability as pure relational ops. Two shuffles: TF groupBy and the
    DF groupBy, then a broadcast of the (small) vocabulary.

    The idf is quantized to 6 dp (floor(x*1e6+0.5)/1e6 — floor is the
    engine-exact form; round() disagrees between BigDecimal half-up and
    binary half-away at representation boundaries) BEFORE the tf
    multiply: ln() is libm-vs-JVM 1-ulp territory (first seen at sf0.1
    — 3847/700k rows off in the last ulp), and quantizing the one
    transcendental collapses both engines onto the same double in every
    case where the 1-ulp divergence does not itself straddle a k+0.5
    quantization boundary. That residual straddle risk is real but
    unobserved (clean at sf0.01 AND sf0.1); parity here is measured,
    not guaranteed — which is exactly why CLAUDE.md mandates the sf0.1
    gate for any new transcendental-producing query."""
    docs = load_table(spark, sf_dir, "documents")
    n_docs = _table_count(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim("text"), "\\s+")).alias("token")
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = toks.groupBy("token").agg(
        F.count_distinct("doc_id").alias("doc_freq")
    )
    idf = (
        F.log((F.lit(float(n_docs)) + F.lit(1.0)) / (F.col("doc_freq").cast("double") + F.lit(1.0)))
        + F.lit(1.0)
    )
    # floor() is exact on both engines; ln() is not (see oracle SQL note).
    idf_q = F.floor(idf * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)
    return tf.join(F.broadcast(dfreq), "token").select(
        "doc_id",
        "token",
        "tf",
        (F.col("tf").cast("double") * idf_q).alias("tfidf"),
    )


@_register(
    "value_quantiles_approx",
    """
SELECT event_type, COUNT(value) AS n_values,
       TRUE AS p50_ok, TRUE AS p90_ok, TRUE AS p99_ok
FROM events GROUP BY event_type
""",
)
def q_value_quantiles_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile twin of value_quantiles: the sketch path that
    replaces the sort-based exact percentile at 100 TB (single pass,
    mergeable state, bounded memory). SELF-CHECKING (VERDICT r6 #2):
    the sketch VALUE is engine-local, but its rank-error contract is
    checkable with exact integer arithmetic — approx_percentile(p,
    acc=10000) must return a dataset element whose 1-based rank range
    [count(<v)+1, count(<=v)] intersects [p·m − m/10000 − 1,
    p·m + m/10000 + 1] (±1 absorbs the rank-definition boundary; m =
    non-NULL count). The query joins the per-group sketch results back
    (broadcast, null-safe on the group key so a NULL event_type group
    survives — see CLAUDE.md NULL-safe-routing rule) and recounts; the
    oracle asserts TRUE per group, so a sketch outside its guarantee
    flips the hash gate. All-NULL groups: approx returns NULL, which is
    what the check then requires."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    sk = ev.groupBy("event_type").agg(
        F.approx_percentile("value", 0.5, 10000).alias("p50"),
        F.approx_percentile("value", 0.9, 10000).alias("p90"),
        F.approx_percentile("value", 0.99, 10000).alias("p99"),
        F.count("value").alias("m"),
    )
    j = ev.alias("e").join(
        F.broadcast(sk).alias("s"),
        F.col("e.event_type").eqNullSafe(F.col("s.event_type")),
    )
    aggs = [
        F.first(f"s.{c}").alias(c) for c in ("m", "p50", "p90", "p99")
    ]
    for p in ("p50", "p90", "p99"):
        aggs.append(
            F.sum(F.when(F.col("e.value") < F.col(f"s.{p}"), 1).otherwise(0)).alias(f"lo_{p}")
        )
        aggs.append(
            F.sum(F.when(F.col("e.value") <= F.col(f"s.{p}"), 1).otherwise(0)).alias(f"hi_{p}")
        )
    g = j.groupBy(F.col("s.event_type").alias("event_type")).agg(*aggs)

    def _ok(p: float, col: str) -> Column:
        target = F.lit(p) * F.col("m")
        tol = F.col("m") / F.lit(10000.0) + F.lit(1.0)
        in_window = (
            (F.col(f"lo_{col}") + F.lit(1) <= target + tol)
            & (F.col(f"hi_{col}") >= target - tol)
        )
        return F.when(F.col("m") == 0, F.col(col).isNull()).otherwise(
            F.col(col).isNotNull() & in_window
        )

    return g.select(
        "event_type",
        F.col("m").alias("n_values"),
        _ok(0.5, "p50").alias("p50_ok"),
        _ok(0.9, "p90").alias("p90_ok"),
        _ok(0.99, "p99").alias("p99_ok"),
    )


#: Squared-L2 distance template shared by every sampled-centroid oracle
#: (expanded ‖x‖²+‖c‖²−2·x·c, mirroring centroid_dist_array).
_IVF_DIST = (
    "list_sum(list_transform({v}, x -> x*x))"
    " + list_sum(list_transform(cents.cv, x -> x*x))"
    " - 2 * list_sum(list_transform(list_zip({v}, cents.cv), z -> z[1]*z[2]))"
)


def _modular_sample_sql(
    name: str, idx: str, cols: str, src: str, k: int, middle: bool = False
) -> str:
    """The `name` CTE: the modular sample of `src` (step = count // k,
    floored at 1; ids at residue 0, or step // 2 when ``middle``; the
    first k by vec_id) projecting ``cols`` with its 0-based INTEGER
    position ``idx`` — the ONE oracle twin of similarity._modular_sample."""
    step = f"greatest((SELECT count(*) FROM {src}) // {k}, 1)"
    residue = f"{step} // 2" if middle else "0"
    return f"""{name} AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS {idx}, {cols}
  FROM {src} WHERE vec_id % {step} = {residue}
  ORDER BY vec_id LIMIT {k}
)"""


def _nearest_sql(
    name: str, cols: str, key: str, dist: str, idx: str, src: str, n: int = 1
) -> str:
    """The `name` CTE: per ``key``, the ``n`` rows of `src` nearest by
    ``dist`` with the lowest ``idx`` first on ties, projecting the
    unqualified ``cols`` — the ONE oracle twin of every lowest-index
    argmin / stable argsort (ivf_assign, probed_cells_expr, np.argmin)."""
    out = ", ".join(c.split(".")[-1] for c in cols.split(", "))
    return f"""{name} AS (
  SELECT {out} FROM (
    SELECT {cols},
           row_number() OVER (PARTITION BY {key} ORDER BY {dist}, {idx}) AS rn
    FROM {src}
  ) WHERE rn <= {n}
)"""


def _ivf_assign_cte(n_clusters: int) -> str:
    """The c/cents/assign CTE block shared by every sampled-centroid
    oracle (embed_ivf_ann, embed_semantic_dedup): centroid selection
    (_modular_sample_sql) and squared-L2 argmin assignment with
    lowest-index tie-break. ONE builder so the assignment semantics can
    never drift between oracles (fuzz-sweep shared-branch rule)."""
    return f"""
WITH c AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
           WHERE embedding IS NOT NULL AND vec_id IS NOT NULL),
{_modular_sample_sql("cents", "cidx", "v AS cv", "c", n_clusters)},
{_nearest_sql("assign", "c.vec_id, c.v, cents.cidx", "c.vec_id",
              _IVF_DIST.format(v="c.v"), "cents.cidx", "c CROSS JOIN cents")}"""


def _ivf_oracle_sql(
    k: int = 10, n_clusters: int = 16, nprobe: int = 4,
    query_pred: str = "vec_id < 5",
) -> str:
    """Oracle twin of the sampled-centroid IVF queries (batch and
    streaming — the streaming twin widens query_pred): the shared
    centroid-assignment CTEs plus nprobe cell routing, candidate scoring
    and ranking — all recomputed from the table in SQL."""
    return f"""{_ivf_assign_cte(n_clusters)},
q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE {query_pred}),
{_nearest_sql("qprobe", "q.query_id, q.qv, cents.cidx", "q.query_id",
              _IVF_DIST.format(v="q.qv"), "cents.cidx", "q CROSS JOIN cents", nprobe)},
scored AS (
  SELECT p.query_id, a.vec_id, {_cos_sql("p.qv", "a.v")} AS cosine_sim
  FROM qprobe p JOIN assign a ON a.cidx = p.cidx
),
{_rank_cut_sql("ranked", "scored", "cosine_sim", k)}
SELECT * FROM ranked
"""


def _semantic_dedup_oracle_sql(
    n_clusters: int = 16,
    threshold: str = "0.35e0",
    final_select: str | None = None,
) -> str:
    """Oracle twin of embed_semantic_dedup: the SAME c/cents/assign CTEs
    as the IVF oracle (one builder — shared-branch rule), then the
    pruning rule itself: smallest lower-id cluster-mate at
    6-dp-rounded cosine >= threshold, NULL-cosine (zero-norm) pairs
    never matching. The threshold literal carries e0 so the comparison
    is DOUBLE on both engines. ``final_select`` swaps the projection
    (the kmeans contract-report twin reuses the identical decision CTEs
    — shared-branch rule again — but emits the report columns)."""
    if final_select is None:
        final_select = (
            "SELECT n.vec_id, n.cidx AS cluster, d.dup_of,"
            " d.dup_of IS NULL AS keep\n"
            "FROM normed n LEFT JOIN dups d ON d.vec_id = n.vec_id"
        )
    return f"""{_ivf_assign_cte(n_clusters)},
normed AS (
  SELECT vec_id, v, cidx,
         sqrt(list_sum(list_transform(v, x -> x*x))) AS nv
  FROM assign
),
dups AS (
  SELECT a.vec_id AS vec_id, MIN(b.vec_id) AS dup_of
  FROM normed a JOIN normed b ON a.cidx = b.cidx AND b.vec_id < a.vec_id
  WHERE round(CASE WHEN a.nv > 0 AND b.nv > 0
              THEN list_sum(list_transform(list_zip(a.v, b.v), p -> p[1]*p[2]))
                   / (a.nv * b.nv) END, 6) >= {threshold}
  GROUP BY a.vec_id
)
{final_select}
"""


@_register("embed_ivf_ann", _ivf_oracle_sql())
def q_embed_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-10: queries routed to nprobe=4 of 16
    coarse cells, only those cells scored (~25% of the corpus). The
    second ANN family next to SRP-LSH; recall vs the exact baseline is
    asserted in tests."""
    from smart_fraud_detection_data_pipeline_spark.operators.similarity import ivf_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_ann_topk(emb, _ann_query_set(emb), k=10, n_clusters=16, nprobe=4)


@_register("embed_semantic_dedup", _semantic_dedup_oracle_sql())
def q_embed_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (public arXiv 2303.09540): sampled-
    centroid clustering, then within-cluster cosine pruning — a vector
    is removed iff a lower-id cluster-mate sits at 6-dp cosine ≥ 0.35,
    `dup_of` the smallest such id. The keep/remove DECISION is the
    training-data operation (embed_cosine_dups emits the raw pairs);
    pair cost is Σ cluster², and the oracle recomputes centroid
    selection, argmin assignment, and the pruning rule from the table
    alone, so the full compose sits under the hash gate."""
    from smart_fraud_detection_data_pipeline_spark.operators.similarity import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, n_clusters=16, threshold=0.35)


# Contract-report twin (VERDICT r8 #2): the exact dup_sampled column
# reuses the IDENTICAL sampled-quantizer decision CTEs; removed_sound is
# the learned run's join-back soundness check, asserted TRUE.
@_register(
    "embed_semantic_dedup_kmeans",
    _semantic_dedup_oracle_sql(
        final_select=(
            "SELECT n.vec_id, d.dup_of IS NOT NULL AS dup_sampled,"
            " TRUE AS removed_sound\n"
            "FROM normed n LEFT JOIN dups d ON d.vec_id = n.vec_id"
        )
    ),
)
def q_embed_semantic_dedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with LEARNED (seeded KMeans) cells instead of sampled
    ones (the optional variant from VERDICT r7 #6) — on real clustered
    embedding corpora the learned quantizer packs near-duplicates into
    the same cell far more reliably, which is what bounds the miss rate
    of cell-local pruning. Rows-only through round 8 (MLlib centroids,
    and therefore cluster/dup_of ids, are not SQL-expressible and not
    drift-stable); round 9 converts it to a CONTRACT HASH GATE
    (VERDICT r8 #2, the fraud_ml_score pattern): the emitted
    dup_sampled column is the exact sampled-quantizer decision the
    oracle recomputes from the table (identical CTEs as the certified
    embed_semantic_dedup), and removed_sound asserts the learned run's
    per-row soundness — dup_of < vec_id with join-back-recomputed 6-dp
    cosine >= 0.35 — TRUE under any centroids. Learned cluster/dup_of
    values stay pytest-gated (separated-cluster completeness, seeded
    determinism:
    tests/test_similarity_multimodal.py::test_semantic_dedup_kmeans_gate).
    """
    from smart_fraud_detection_data_pipeline_spark.operators import ml as ML
    from smart_fraud_detection_data_pipeline_spark.operators.similarity import (
        semantic_dedup_contract_report,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    if emb.where(F.col("embedding").isNotNull()).isEmpty():
        # kmeans_centroids returns [] on an empty/all-NULL corpus; the
        # report's empty path needs no centroids (empty-fixture sweep
        # rule)
        return semantic_dedup_contract_report(emb, threshold=0.35, centroids=[])
    cents = ML.kmeans_centroids(emb, k=16)
    return semantic_dedup_contract_report(emb, threshold=0.35, centroids=cents)


@_register(
    "user_running_totals_streaming",
    """
SELECT user_id,
       CAST(COALESCE(SUM(CAST(round(value * 100) AS BIGINT)), 0) AS BIGINT)
         AS total_cents,
       COUNT(*) AS n_events
FROM events
GROUP BY user_id
""",
)
def q_user_running_totals_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming (applyInPandasWithState): per-user
    running totals accumulated in integer-cents GroupState across
    micro-batches; the final emission per user must equal a plain batch
    GROUP BY — arbitrary-state streaming inside the correctness gate."""
    from smart_fraud_detection_data_pipeline_spark.operators.dedup import dedup_keep_last
    from smart_fraud_detection_data_pipeline_spark.sources.tables import stream_table
    from smart_fraud_detection_data_pipeline_spark.streaming.stateful import user_running_totals

    raw = stream_table(spark, sf_dir, "events")
    tx = raw.select("user_id", F.col("value").alias("amount"))
    emissions = _drain(
        spark,
        user_running_totals(tx),
        "user_running_totals_streaming",
        output_mode="update",
        stateful=True,
    )
    return dedup_keep_last(emissions, ["user_id"], ["n_events", "batch_id"]).drop(
        "batch_id"
    )


@_register(
    "user_event_type_pivot",
    """
SELECT user_id,
       CAST(SUM(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS click,
       CAST(SUM(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS error,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS signup,
       CAST(SUM(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) AS view
FROM events
GROUP BY user_id
""",
)
def q_user_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide aggregation): per-user spend matrix across the five
    event types. Explicit pivot values keep the output schema static —
    required both for the oracle and for any plan at scale (value
    discovery would need an extra pass + dynamic schema). Compiles to a
    single-shuffle aggregate with one CASE-guarded sum per column."""
    return (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(exact_sum_double("value"))
    )


@_register(
    "user_event_type_unpivot",
    """
SELECT user_id, event_type,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events
WHERE event_type IN ('click', 'error', 'purchase', 'signup', 'view')
GROUP BY user_id, event_type
HAVING SUM(CAST(value AS DECIMAL(18,2))) IS NOT NULL
""",
)
def q_user_event_type_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): the wide pivot matrix folded back to long form
    must equal a plain two-key GROUP BY — a pivot→unpivot round-trip
    proving both reshape directions are lossless for every cell the
    pivot REPRESENTS: the explicit pivot value list excludes event
    types outside it (incl. NULL), and a NULL wide cell cannot
    distinguish 'no events' from 'all values NULL', so the oracle
    scopes to the pivot values and non-NULL totals (adversarial-sweep
    rule)."""
    wide = q_user_event_type_pivot(spark, sf_dir)
    return wide.unpivot(
        ids=["user_id"],
        values=["click", "error", "purchase", "signup", "view"],
        variableColumnName="event_type",
        valueColumnName="total_value",
    ).where(F.col("total_value").isNotNull())


# ---------------------------------------------------------------------------
# MLlib layer (contract oracles: learned parameters are not SQL-expressible)
# ---------------------------------------------------------------------------

@_register(
    "fraud_ml_score",
    f"""
WITH {_SQL_TX}, {_SQL_USERS}, {_SQL_PRODUCTS},
enr AS (
  SELECT CAST(year(t."timestamp") AS INTEGER) AS tx_year,
         CAST(month(t."timestamp") AS INTEGER) AS tx_month,
         CAST(day(t."timestamp") AS INTEGER) AS tx_day,
         CASE WHEN u.user_country <> p.product_country OR t.amount > 500
              THEN 1 ELSE 0 END AS flag
  FROM tx t
  LEFT JOIN u ON t.user_id = u.user_id
  LEFT JOIN p ON t.product_id = p.product_id
)
SELECT tx_year, tx_month, tx_day, COUNT(*) AS n_rows,
       CAST(SUM(flag) AS BIGINT) AS n_flagged,
       TRUE AS auc_ok, TRUE AS accuracy_ok, TRUE AS calibration_monotone
FROM enr GROUP BY tx_year, tx_month, tx_day
""",
)
def q_fraud_ml_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLlib fraud scorer under a CONTRACT HASH GATE (VERDICT r7 #3 —
    formerly rows-only): logistic regression trained on the enrichment
    features with the rule score as weak label, applied as a pure JVM
    pipeline transform, then certified against the deterministic rule
    side in the same plan. The oracle recomputes the per-(year, month)
    row/flag counts exactly (label = country_mismatch OR high_value —
    fraud_score >= 0.5 with 0.5-weighted 0/1 flags; NULL amount and
    NULL-country rows flag 0 on both engines) and asserts the three
    model-contract booleans TRUE. See
    operators/ml.fraud_score_contract_report for the contract design
    (tie-averaged rank AUC floor, two-tier error budget, head-vs-tail
    calibration monotonicity) and its bounded-exact-side scale story.
    Per-tx probabilities remain available via ml.score_transactions
    (streams unchanged)."""
    from smart_fraud_detection_data_pipeline_spark.operators import ml as ML

    enriched = q_fraud_enrich(spark, sf_dir)
    # probe the RAW events scan, not the enrichment: enrichment is
    # row-preserving (projection + left joins), so emptiness is
    # equivalent, and the raw limit-1 probe skips building three
    # broadcast dims just to decide the guard (r14, ~0.6s saved)
    if load_table(spark, sf_dir, "events").isEmpty():
        # no rows → nothing to train on (empty-fixture sweep rule:
        # MLlib fits require rows); the report over zero rows is zero
        # groups on both engines.
        return enriched.select(
            "tx_year",
            "tx_month",
            "tx_day",
            F.lit(0).cast("bigint").alias("n_rows"),
            F.lit(0).cast("bigint").alias("n_flagged"),
            F.lit(True).alias("auc_ok"),
            F.lit(True).alias("accuracy_ok"),
            F.lit(True).alias("calibration_monotone"),
        ).limit(0)
    return ML.fraud_score_contract_report(enriched)


@_register(
    "embed_ivf_kmeans_ann",
    """
WITH c AS (SELECT vec_id FROM embeddings
           WHERE embedding IS NOT NULL AND vec_id IS NOT NULL)
SELECT vec_id AS query_id,
       CAST(LEAST(10, (SELECT count(*) FROM c)) AS BIGINT) AS n_exact,
       TRUE AS probe_exact, TRUE AS recall_ok
FROM c WHERE vec_id < 5
""",
)
def q_embed_ivf_kmeans_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN with LEARNED (seeded KMeans) coarse centroids instead
    of sampled ones — cells adapt to the data distribution; recall@10
    >= 0.9 vs the exact baseline pinned in tests/test_ml.py.

    nprobe=10/16 is deliberately high: the synthetic embeddings are
    uniform random (no cluster structure), the adversarial case for any
    cell-routing ANN, so hitting the recall target costs a ~60% scan
    fraction here. On real clustered embedding corpora the same recall
    arrives at far lower nprobe — the knob, not the algorithm, is what
    the testdata stresses.

    Rows-only through round 8 (neighbor sets depend on drift-unstable
    MLlib centroids); round 9 converts it to a CONTRACT HASH GATE
    (VERDICT r8 #2): per query, the exact candidate-set size the oracle
    recomputes, the hard exact-over-probed-cells guarantee verified
    through an independent collect+sort path, and a loose (0.7)
    dataset-level recall floor — see
    similarity.ivf_ann_contract_report for why the 0.9 operating-point
    pin stays in pytest rather than the value hash. The raw neighbor
    lists remain available via ivf_ann_topk(centroids=...) directly."""
    from smart_fraud_detection_data_pipeline_spark.operators import ml as ML
    from smart_fraud_detection_data_pipeline_spark.operators.similarity import (
        ivf_ann_contract_report,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = ML.kmeans_centroids(emb, k=16)
    return ivf_ann_contract_report(
        emb, _ann_query_set(emb), k=10, nprobe=10, centroids=cents
    )


def _clean_corpus_ctes() -> str:
    """The cleaning pipeline as reusable WITH fragments ending in a
    `cleaned` CTE — shared by doc_clean_corpus and the end-to-end
    corpus_training_export composite."""
    all_stops = ", ".join(
        f"'{w}'" for w in sorted({w for ws in TS.LANG_STOPWORDS.values() for w in ws})
    )
    return f"""{_SQL_SHINGLE_CTES},
losers AS (
  SELECT DISTINCT id_b FROM jacc WHERE jaccard >= 0.5
),
scored AS (
  SELECT doc_id, text,
  {_LANG_SCORES}
  FROM documents
),
profile AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\\s+')) AS INTEGER) AS n_tokens,
         CAST(0.4e0 * least(len(string_split_regex(trim(text), '\\s+')) / 100.0e0, 1.0e0)
            + 0.3e0 * (1.0e0 - CAST(CASE WHEN length(text) > 0
                 THEN (length(text) - length(regexp_replace(text, '[^a-zA-Z0-9\\s]', '', 'g')))
                      / CAST(length(text) AS DOUBLE)
                 ELSE 0.0e0 END AS DOUBLE))
            + 0.3e0 * CAST(CASE WHEN len(string_split_regex(trim(text), '\\s+')) > 0
                 THEN len(list_filter(string_split_regex(trim(text), '\\s+'),
                          t -> list_contains([{all_stops}], t)))
                      / CAST(len(string_split_regex(trim(text), '\\s+')) AS DOUBLE)
                 ELSE 0.0e0 END AS DOUBLE) AS DOUBLE) AS quality_score,
         {_CJK_WHEN}
         {_LANG_CASES}
         ELSE 'unknown' END AS lang_pred
  FROM scored
),
cleaned AS (
  SELECT doc_id, n_tokens, quality_score, lang_pred
  FROM profile
  WHERE n_tokens >= 20
    AND lang_pred <> 'unknown'
    AND doc_id NOT IN (SELECT id_b FROM losers)
)"""


def _clean_corpus_sql() -> str:
    """Oracle for the composite cleaning pipeline: profile + near-dup
    losers + filters, from the same fragments as doc_profile/jaccard."""
    return f"""
WITH {_clean_corpus_ctes()}
SELECT doc_id, n_tokens, quality_score, lang_pred FROM cleaned
"""


@_register("doc_clean_corpus", _clean_corpus_sql())
def q_doc_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data cleaning pipeline end-to-end: quality profile →
    length + language filters → near-duplicate removal (keep the lowest
    doc_id of every ≥0.5-Jaccard pair). One composite, fully
    oracle-checked — the 100 TB shape is identical, with the near-dup
    stage swapped from exact Jaccard to minhash_lsh_pairs."""
    docs = load_table(spark, sf_dir, "documents")
    t = F.col("text")
    # Staged tokenization (see doc_profile): one split per row, not one
    # per token-array reference. Spread an under-split scan before the
    # heavy per-doc stage (no-op at production split counts).
    scored = spread_input(docs.select("doc_id", "text")).select(
        "doc_id", "text", TS.tokens(t).alias("__toks"),
        TS.tokens(F.lower(t)).alias("__ltoks"),
    ).select(
        "doc_id", "text", "__toks",
        *[
            c.alias(f"__s_{lang}")
            for lang, c in TS.lang_scores(t, ltoks=F.col("__ltoks")).items()
        ],
    )
    qc = TS.quality_columns(t, toks=F.col("__toks"))
    scores = {lang: F.col(f"__s_{lang}") for lang in TS.LANG_STOPWORDS}
    profile = scored.select(
        "doc_id",
        F.size("__toks").alias("n_tokens"),
        qc["quality_score"].alias("quality_score"),
        TS.lang_id(t, scores=scores).alias("lang_pred"),
    )
    losers = (
        TD.ngram_jaccard_pairs(docs, threshold=0.5)
        .select(F.col("id_b").alias("doc_id"))
        .distinct()
    )
    return (
        profile.where((F.col("n_tokens") >= 20) & (F.col("lang_pred") != "unknown"))
        .join(losers, "doc_id", "left_anti")
        .select("doc_id", "n_tokens", "quality_score", "lang_pred")
    )


_STAGED_EVENTS: dict[tuple[str, bool], str] = {}


def _staged_events(spark: SparkSession, sf_dir: str, *, outer: bool = False) -> str:
    """Stage the full events table as two time-ordered parquet file
    groups (so sessions/join windows straddle the micro-batch boundary),
    once per sf_dir. Fixture harness, not operator work — the registry
    runner runs this via QuerySpec.prepare before the clock starts;
    standalone calls (no prepare) hit the same memo so repeated
    invocations stage once.
    Shared by every streaming query that needs ordered multi-batch
    arrival (session windows, stream-stream joins, the rollup).

    ``outer`` adds far-future SENTINEL files for the outer stream-stream
    joins: they emit their NULL rows only when the watermark evicts the
    unmatched left rows, so the fixture must advance event time past
    every row's join horizon or the tail of the outer result never
    appears."""
    key = (sf_dir, outer)
    if key not in _STAGED_EVENTS:
        ev = load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "ts", "value", "event_type"
        )
        src = scratch_dir("outer_stream_src_" if outer else "session_stream_src_")
        cut = ev.select(
            F.expr(f"percentile_approx(ts, 0.5, {2**16})").alias("cut")
        ).collect()[0][0]
        ev.where(F.col("ts") < F.lit(cut)).coalesce(1).write.mode("append").parquet(src)
        ev.where(F.col("ts") >= F.lit(cut)).coalesce(1).write.mode("append").parquet(src)
        if outer:
            # TWO sentinel files (the first advances the watermark past every
            # join horizon; eviction runs in the batch AFTER a watermark
            # update, which the second file guarantees), each carrying one
            # row PER JOIN SIDE: Catalyst pushes deterministic filters below
            # the EventTimeWatermark node, so a sentinel that a side's
            # filter drops never reaches that side's event-time stats and
            # the watermark silently stalls (observed: left watermark stuck
            # at the last error). The 'error'-typed row (user -1) rides the
            # left filter, the 'view' row (user -2) the right side; neither
            # can match anything, and the query strips err_id < 0 from the
            # read-back where no pushdown applies.
            for days in (1, 2):
                base = ev.agg((F.max("ts") + F.expr(f"INTERVAL {days} DAY")).alias("ts"))
                sentinel = base.selectExpr(
                    "stack(2, -1L, -1L, ts, 0.0D, 'error', -2L, -2L, ts, 0.0D, 'view') "
                    "AS (event_id, user_id, ts, value, event_type)"
                )
                sentinel.coalesce(1).write.mode("append").parquet(src)
        _STAGED_EVENTS[key] = src
    return _STAGED_EVENTS[key]


def _stage_outer_events(spark: SparkSession, sf_dir: str) -> str:
    return _staged_events(spark, sf_dir, outer=True)


def _stream_join(
    spark: SparkSession, sf_dir: str, name: str, *, outer: bool, bucket_seconds: int | None
) -> DataFrame:
    """Shared body of the four stream-stream interval joins: errors on
    one stream, the same user's follow-up events (next 10 min) on
    another, both watermarked; INNER over the plain staged events or
    LEFT OUTER over the sentinel-carrying ones, optionally with the
    hot-key time bucket (streaming/joins.py)."""
    from smart_fraud_detection_data_pipeline_spark.streaming.joins import (
        interval_join_streaming,
    )

    src = _staged_events(spark, sf_dir, outer=outer)
    errors = (
        _stream_files(spark, src)
        .where(F.col("event_type") == "error")  # keeps an outer error sentinel
        .select(
            F.col("event_id").alias("err_id"),
            "user_id",
            F.col("ts").cast("timestamp").alias("err_time"),
        )
        .withWatermark("err_time", "15 minutes")
    )
    follows = (
        _stream_files(spark, src)
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
        how="leftOuter" if outer else "inner",
        bucket_seconds=bucket_seconds,
    ).select("err_id", "follow_id")
    out = _drain(spark, pairs, name, stateful=True)
    if not outer:
        # no sentinels to strip, and err_id >= 0 would also drop the
        # NULL-err_id pairs the inner oracle keeps
        return out
    # strip the left sentinels' own (unmatched) emissions — a batch-side
    # filter, immune to the streaming pushdown that motivated them
    return out.where(F.col("err_id") >= 0)


_SQL_STREAM_JOIN = """
WITH e AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
)
SELECT a.event_id AS err_id, b.event_id AS follow_id
FROM (SELECT * FROM e WHERE event_type = 'error') a
JOIN e b
  ON b.user_id = a.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
"""

_SQL_STREAM_LEFT_JOIN = """
WITH e AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
)
SELECT a.event_id AS err_id, b.event_id AS follow_id
FROM (SELECT * FROM e WHERE event_type = 'error'
      -- NULL event-time rows are dropped by Spark's stream-stream join
      -- (no watermark bound exists for them), so the batch oracle's
      -- LEFT side must exclude them too — the outer-join twin of the
      -- windowed-agg `ts IS NOT NULL` rule (fuzz seed 303; the right
      -- side and the inner join exclude them via the ts inequality)
      AND ts IS NOT NULL) a
LEFT JOIN e b
  ON b.user_id = a.user_id AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 10 MINUTE
"""


@_register("stream_stream_join", _SQL_STREAM_JOIN, prepare=_staged_events)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream INNER interval join: errors on one stream, the same
    user's follow-up events (next 10 min) on another, both watermarked.
    Inner join emits each pair the moment both sides have arrived —
    pairs straddling the micro-batch boundary match against buffered
    state — so the appended output equals the batch interval join
    exactly. The watermark + time-range condition is what BOUNDS that
    state: each side retains only rows newer than (watermark − join
    window), the contract that keeps a 100 TB/day dual-stream join
    running instead of accumulating forever."""
    return _stream_join(spark, sf_dir, "stream_stream_join", outer=False, bucket_seconds=None)


@_register("stream_stream_join_bucketed", _SQL_STREAM_JOIN, prepare=_staged_events)
def q_stream_stream_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream-stream hot-key escape hatch UNDER the cross-engine
    hash gate (round 9): the same error→follow-up interval join as
    stream_stream_join, executed with bucket_seconds=600 — the time
    bucket joins the state equality keys, bounding per-probe state
    scans by bucket occupancy (8.6× at a 60k-row hot key; SCALING.md
    round-9) — against the IDENTICAL batch oracle SQL. Bit-equality of
    the hatch is thereby driver-certified, not just pytest-pinned."""
    return _stream_join(
        spark, sf_dir, "stream_stream_join_bucketed", outer=False, bucket_seconds=600
    )


@_register("stream_stream_left_join", _SQL_STREAM_LEFT_JOIN, prepare=_stage_outer_events)
def q_stream_stream_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream join: matched pairs emit on arrival like
    the inner join, but an error with NO follow-up emits its NULL row
    only when the watermark proves none can still arrive (state
    eviction) — the semantics that make outer results correct under
    late data instead of prematurely declaring non-matches. The staged
    sentinel row advances the final watermark past every error's
    horizon so the appended output equals the batch LEFT interval join
    exactly. The sentinel matches nothing: its user_id is unmatchable
    and, being no error, it contributes no left row."""
    return _stream_join(
        spark, sf_dir, "stream_stream_left_join", outer=True, bucket_seconds=None
    )


@_register(
    "stream_stream_left_join_bucketed", _SQL_STREAM_LEFT_JOIN, prepare=_stage_outer_events
)
def q_stream_stream_left_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LEFT OUTER hot-key hatch UNDER the cross-engine hash gate
    (round 10, VERDICT r9 #3): the same error→follow-up outer join as
    stream_stream_left_join, executed with bucket_seconds=600 — the
    per-copy bucketed outer join followed by the null-consolidation
    aggregation keyed on the unique left row (streaming/joins.py),
    which re-emits matched pairs once and null-extends exactly the
    truly-unmatched errors — against the IDENTICAL batch LEFT-join
    oracle SQL. Closes the round-9 gap where a hot key had no outer
    escape (the inner hatch rejected outer joins); measured hot-key
    numbers in SCALING.md §stream-stream."""
    return _stream_join(
        spark, sf_dir, "stream_stream_left_join_bucketed", outer=True, bucket_seconds=600
    )


@_register("session_windows_streaming", _SQL_SESSION_WINDOWS, prepare=_staged_events)
def q_session_windows_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows under Structured Streaming: events arrive in two
    time-ordered micro-batches, so sessions spanning the file boundary
    must MERGE in the state store; the final complete-mode emission must
    equal the batch gaps-and-islands answer. Demonstrates stateful
    window merging — the hardest streaming-state semantics in the
    catalog."""
    stream = (
        _stream_files(spark, _staged_events(spark, sf_dir))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "15 minutes")
    )
    out = _session_rollup(stream)
    emissions = _drain(
        spark, out, "session_windows_streaming", output_mode="complete", stateful=True
    )
    # merging windows: only the LAST complete emission is the truth
    # (keep-last per key would resurrect sessions that later merged away)
    last = emissions.agg(F.max("batch_id")).collect()[0][0]
    return emissions.where(F.col("batch_id") == last).drop("batch_id")



@_register(
    "events_props_map",
    """
WITH conforming AS (
  -- the json_valid guard must be a CASE fence, not an AND conjunct:
  -- DuckDB does not guarantee short-circuit order and at larger
  -- cardinalities reorders the conjuncts, sending malformed props into
  -- json_keys() which THROWS (fuzz seed 1999 --scale 64; the same seed
  -- passed at default scale — the reorder is plan-dependent)
  SELECT props FROM events
  WHERE CASE WHEN json_valid(props)
    THEN list_aggregate(
          list_transform(json_keys(props),
            k -> json_type(props, '$.' || k) IN ('BIGINT', 'UBIGINT', 'NULL')
                 AND (json_type(props, '$.' || k) = 'NULL'
                      OR coalesce(
                           try_cast(json_extract_string(props, '$.' || k) AS BIGINT)
                             BETWEEN -2147483648 AND 2147483647,
                           FALSE))),
          'bool_and')
    ELSE FALSE END
)
SELECT k AS prop_key,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(MIN(CAST(json_extract_string(props, '$.' || k) AS INTEGER)) AS INTEGER) AS min_v,
       CAST(MAX(CAST(json_extract_string(props, '$.' || k) AS INTEGER)) AS INTEGER) AS max_v
FROM conforming, unnest(json_keys(props)) AS t(k)
GROUP BY k
""",
)
def q_events_props_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType coverage: parse the props JSON column into map<string,int>,
    explode entries, aggregate per key — the dynamic-properties pattern
    (the reference's data model has no map/array types at all).
    Schema-on-read semantics pinned by the adversarial sweep: from_json
    nulls the ENTIRE map when any value fails the declared int type (or
    the text is malformed), and explode drops NULL maps. What "fails the
    int type" means is Spark's Jackson parse, pinned live (fuzz seeds
    2929/3131/4242): only an INTEGRAL JSON lexeme in int32 range parses
    (53 ✓, 2147483647 ✓); 3.5, 3.0, "3", true and 2147483648 all null
    the map; a JSON null value KEEPS its entry with a NULL int. The
    oracle mirrors that with json_type IN (BIGINT, UBIGINT, NULL) plus
    an int32 range check — NOT the exact-integer rule used by the
    json_props/variant_props extractors (their declared semantics is
    value-level numeric extraction; this query's is from_json
    conformance), and never a bare try_cast-to-INT, which DuckDB
    half-up ROUNDS ('3.5' → 4) where Jackson rejects."""
    ev = load_table(spark, sf_dir, "events")
    entries = ev.select(
        F.explode(F.from_json("props", "map<string,int>")).alias("prop_key", "v")
    )
    return entries.groupBy("prop_key").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
    )


@_register(
    "customer_activity_set_ops",
    """
SELECT 'events_and_orders' AS segment, user_id FROM
  (SELECT DISTINCT user_id FROM events
   INTERSECT
   SELECT DISTINCT o_custkey FROM orders)
UNION ALL
SELECT 'events_only', user_id FROM
  (SELECT DISTINCT user_id FROM events
   EXCEPT
   SELECT DISTINCT o_custkey FROM orders)
UNION ALL
SELECT 'orders_only', o_custkey FROM
  (SELECT DISTINCT o_custkey FROM orders
   EXCEPT
   SELECT DISTINCT user_id FROM events)
""",
)
def q_customer_activity_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (INTERSECT / EXCEPT — the reference has union-all
    only, SURVEY §2.7): segment customers by which fact tables they
    appear in. Each set op compiles to a hash aggregate + join."""
    ev_users = load_table(spark, sf_dir, "events").select("user_id").distinct()
    ord_users = (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("user_id"))
        .distinct()
    )
    both = ev_users.intersect(ord_users).select(
        F.lit("events_and_orders").alias("segment"), "user_id"
    )
    ev_only = ev_users.exceptAll(ord_users).select(
        F.lit("events_only").alias("segment"), "user_id"
    )
    ord_only = ord_users.exceptAll(ev_users).select(
        F.lit("orders_only").alias("segment"), "user_id"
    )
    return both.unionByName(ev_only).unionByName(ord_only)


@_register(
    "data_quality_report",
    """
WITH t AS (SELECT COUNT(*) AS n,
  SUM(CASE WHEN value >= 0 THEN 0 ELSE 1 END) AS v_value_non_negative,
  SUM(CASE WHEN event_type IN ('click','error','purchase','signup','view') THEN 0 ELSE 1 END) AS v_event_type_in_domain,
  SUM(CASE WHEN ts IS NOT NULL THEN 0 ELSE 1 END) AS v_ts_not_null,
  SUM(CASE WHEN user_id >= 0 THEN 0 ELSE 1 END) AS v_user_id_non_negative,
  SUM(CASE WHEN value <= 400 THEN 0 ELSE 1 END) AS v_value_within_soft_cap
FROM events)
SELECT 'value_non_negative' AS rule, n AS n_rows, CAST(v_value_non_negative AS BIGINT) AS n_violations,
       CAST(CASE WHEN n > 0 THEN v_value_non_negative / CAST(n AS DOUBLE) ELSE 0.0e0 END AS DOUBLE) AS violation_rate FROM t
UNION ALL
SELECT 'event_type_in_domain', n, CAST(v_event_type_in_domain AS BIGINT),
       CAST(CASE WHEN n > 0 THEN v_event_type_in_domain / CAST(n AS DOUBLE) ELSE 0.0e0 END AS DOUBLE) FROM t
UNION ALL
SELECT 'ts_not_null', n, CAST(v_ts_not_null AS BIGINT),
       CAST(CASE WHEN n > 0 THEN v_ts_not_null / CAST(n AS DOUBLE) ELSE 0.0e0 END AS DOUBLE) FROM t
UNION ALL
SELECT 'user_id_non_negative', n, CAST(v_user_id_non_negative AS BIGINT),
       CAST(CASE WHEN n > 0 THEN v_user_id_non_negative / CAST(n AS DOUBLE) ELSE 0.0e0 END AS DOUBLE) FROM t
UNION ALL
SELECT 'value_within_soft_cap', n, CAST(v_value_within_soft_cap AS BIGINT),
       CAST(CASE WHEN n > 0 THEN v_value_within_soft_cap / CAST(n AS DOUBLE) ELSE 0.0e0 END AS DOUBLE) FROM t
""",
)
def q_data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate: five constraints over events,
    evaluated in ONE aggregation pass (every rule a conditional count —
    a 100-rule suite still costs one scan at 100 TB). The soft-cap rule
    intentionally fires on real rows so the report is non-trivial."""
    from smart_fraud_detection_data_pipeline_spark.operators.quality import constraint_report

    ev = load_table(spark, sf_dir, "events")
    return constraint_report(
        ev,
        {
            "value_non_negative": F.col("value") >= 0,
            "event_type_in_domain": F.col("event_type").isin(
                "click", "error", "purchase", "signup", "view"
            ),
            "ts_not_null": F.col("ts").isNotNull(),
            "user_id_non_negative": F.col("user_id") >= 0,
            "value_within_soft_cap": F.col("value") <= 400,
        },
    )


@_register(
    "doc_dup_components",
    f"""
WITH RECURSIVE {_SQL_SHINGLE_CTES},
edges AS (
  SELECT id_a AS a, id_b AS b FROM jacc WHERE jaccard >= 0.5
),
und AS (
  SELECT a, b FROM edges UNION SELECT b AS a, a AS b FROM edges
),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, u.b FROM reach r JOIN und u ON r.dst = u.a
)
SELECT src AS doc_id, MIN(dst) AS component FROM reach GROUP BY src
""",
)
def q_doc_dup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate CLUSTERS: connected components of the ≥0.5-Jaccard
    similarity graph via iterative min-label propagation (the engine's
    iterative-algorithm representative). The oracle computes the same
    fixpoint as a recursive CTE — iterative DataFrame joins vs
    recursive SQL, hash-identical. Dedup policy downstream: keep
    doc_id == component."""
    from smart_fraud_detection_data_pipeline_spark.operators.graph import connected_components

    docs = load_table(spark, sf_dir, "documents")
    edges = TD.ngram_jaccard_pairs(docs, threshold=0.5).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    out = connected_components(
        docs.select(F.col("doc_id").alias("id")), edges
    )
    return out.select(F.col("id").alias("doc_id"), "component")


@_register("embed_ann_streaming", _ivf_oracle_sql(query_pred="vec_id < 10"))
def q_embed_ann_streaming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming retrieval against a PERSISTED ANN index (round 10) —
    the serving half of the embedding story, mirroring
    dedup_incremental_streaming's shape: the IVF coarse centroids are
    sampled ONCE from the indexed corpus (production: stored with the
    index), query vectors arrive as a 2-file stream, and every
    micro-batch is routed/scored in foreachBatch with the SAME
    cell-routed operator the batch gate certifies. Each query is
    independent, so the appended output equals one batch probe of all
    10 queries regardless of where the micro-batch boundary falls —
    which is exactly what the batch IVF oracle (query_pred widened to
    vec_id < 10) verifies. At 100 TB the corpus assignment is a
    partition column and each micro-batch costs |batch| x nprobe cell
    scans; the index never rebuilds per batch. Round 11 (VERDICT r10
    #3): the cell assignment is now computed once and PERSISTED as the
    index (parquet, __cluster + id + vector), so each batch probes the
    stored copy instead of re-deriving and re-broadcasting the
    centroid-literal assignment expression over the whole corpus."""
    from smart_fraud_detection_data_pipeline_spark.operators.similarity import (
        as_double_array,
        ivf_assign,
        ivf_probe,
        sample_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    out_schema = "query_id bigint, vec_id bigint, cosine_sim double, rank int"
    indexed = SIM._ann_entry(emb, "vec_id", "embedding")
    # sampled once over the id-fenced corpus — the same modular rule
    # (and therefore the same centroids) the oracle's cents CTE derives
    cents = sample_centroids(indexed, 16)
    queries = _ann_query_set(emb, bound=10)
    if not cents or queries.isEmpty():
        return spark.createDataFrame([], out_schema)
    tmp = scratch_dir("ann_stream_")
    # Build + persist the index ONCE: cell-assign the corpus and store
    # it cluster-partitioned, exactly what a serving deployment keeps on
    # disk (partition pruning then does the per-batch cell routing).
    idx_path = os.path.join(tmp, "index")
    ivf_assign(
        indexed.select("vec_id", as_double_array(F.col("embedding")).alias("__cvec")),
        cents,
    ).write.partitionBy("__cluster").parquet(idx_path)
    index = read_parquet(spark, idx_path)
    qsrc = os.path.join(tmp, "queries")
    queries.where(F.col("query_id") < 5).coalesce(1).write.mode("append").parquet(qsrc)
    queries.where(F.col("query_id") >= 5).coalesce(1).write.mode("append").parquet(qsrc)
    return _drain(
        spark,
        _stream_files(spark, qsrc),
        "embed_ann_streaming",
        transform=lambda batch, _: ivf_probe(index, batch, cents, k=10, nprobe=4),
        out_schema=out_schema,
    )


_Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '2000-01-01' AND o_orderdate < TIMESTAMP '2000-07-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


@_register("late_shipment_orders", _Q4_SQL)
def q_late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: correlated EXISTS — orders in a half-year window
    with at least one line item shipped >60 days after the order date.
    Runs the SAME dialect-portable SQL text as the oracle through
    spark.sql: Catalyst decorrelates the subquery into a left-semi hash
    join on l_orderkey (pinned in tests/test_plans.py), the plan a
    hand-written semi-join would produce — correlated subqueries are
    free abstraction, not a scale hazard."""
    from smart_fraud_detection_data_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf_dir, names=("orders", "lineitem"))
    return spark.sql(_Q4_SQL)


@_register(
    "small_quantity_revenue",
    """
WITH t AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0e0 AS avg_yearly
FROM lineitem li
JOIN part ON p_partkey = li.l_partkey
JOIN t ON t.l_partkey = li.l_partkey
WHERE p_brand = 'Brand#1' AND li.l_quantity < 0.5e0 * avg_qty
""",
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average
    quantity), hand-decorrelated the way Catalyst would — and with the
    scale refinement Catalyst can't infer: the per-part average is
    computed only over partkeys that survive the brand filter (a
    broadcast semi-join BEFORE the aggregation), so the heavy groupBy
    shrinks with the predicate instead of covering every part. The
    exact-decimal average makes the float threshold comparison
    bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem")
    brand_parts = load_table(spark, sf_dir, "part").where(
        F.col("p_brand") == "Brand#1"
    )
    li_brand = li.join(
        F.broadcast(brand_parts.select("p_partkey")),
        li.l_partkey == F.col("p_partkey"),
        "left_semi",
    )
    avg_qty = li_brand.groupBy("l_partkey").agg(
        (exact_sum_double("l_quantity") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li_brand.join(avg_qty, "l_partkey")
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        .agg(
            (exact_sum_double("l_extendedprice") / F.lit(7.0)).alias("avg_yearly")
        )
    )


@_register(
    "event_type_trimmed_mean",
    """
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
  WHERE value IS NOT NULL
)
SELECT event_type,
       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0e0 / COUNT(*)
         AS trimmed_mean
FROM ranked
WHERE rn > n // 10 AND rn <= n - n // 10
GROUP BY event_type
""",
)
def q_event_type_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom reduction via a GROUPED_AGG pandas UDF (Arrow-batched):
    10%-trimmed mean of value per event type — no Catalyst builtin
    computes this. The trim is a RANK cut under a total (value,
    event_id) order, so the dropped set is identical in the UDF and the
    oracle's window formulation, and the mean itself runs in exact
    integer cents — a Python aggregate held to the same hash gate as
    the JVM operators."""
    from smart_fraud_detection_data_pipeline_spark.functions.pandas_aggs import (
        make_trimmed_mean,
    )

    # NULL values filtered IDENTICALLY on both engines before the trim
    # (adversarial-sweep rule: a group whose values are all NULL must
    # vanish on both sides, not surface as a NULL mean on one of them).
    ev = load_table(spark, sf_dir, "events").where(F.col("value").isNotNull())
    return ev.groupBy("event_type").agg(
        make_trimmed_mean(0.1)(F.col("value"), F.col("event_id")).alias(
            "trimmed_mean"
        )
    )


_NOT_IN_SQL = """
SELECT 'naive' AS variant, COUNT(*) AS n FROM customer
WHERE c_custkey NOT IN
  (SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL ELSE o_custkey END FROM orders)
UNION ALL
SELECT 'guarded' AS variant, COUNT(*) AS n FROM customer
WHERE c_custkey NOT IN
  (SELECT o_custkey FROM
    (SELECT CASE WHEN o_orderkey % 100 = 0 THEN NULL ELSE o_custkey END AS o_custkey
     FROM orders)
   WHERE o_custkey IS NOT NULL)
"""


@_register("not_in_null_semantics", _NOT_IN_SQL)
def q_not_in_null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI three-valued logic pinned across engines: NOT IN against a
    set CONTAINING NULL is never true (the 'naive' branch counts 0 —
    x <> NULL is UNKNOWN for every x), while the IS NOT NULL-guarded
    rewrite is the correct anti-join (real count). Same portable text
    on both engines; Spark compiles the guarded branch to a hash
    anti-join, and the naive branch's null-aware anti-join is exactly
    why production code should write the guard explicitly."""
    from smart_fraud_detection_data_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf_dir, names=("customer", "orders"))
    return spark.sql(_NOT_IN_SQL)


_MIN_COST_SQL = """
SELECT l_partkey, l_suppkey, l_extendedprice
FROM lineitem l1
WHERE l_extendedprice = (SELECT MIN(l_extendedprice) FROM lineitem l2
                         WHERE l2.l_partkey = l1.l_partkey)
"""


@_register("min_cost_suppliers", _MIN_COST_SQL)
def q_min_cost_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar MIN in the WHERE clause — the
    suppliers achieving the minimum price for their part (ties all
    kept). Same dialect-portable text on both engines; Catalyst
    decorrelates into a per-part aggregate joined back, never a per-row
    re-scan (plan-pinned). Equality on the raw stored double is safe:
    both sides compare the same parquet value against the same MIN."""
    from smart_fraud_detection_data_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf_dir, names=("lineitem",))
    return spark.sql(_MIN_COST_SQL)


_LATERAL_SQL = """
SELECT n.n_nationkey, t.c_custkey, t.c_acctbal
FROM nation n,
LATERAL (SELECT c_custkey, c_acctbal FROM customer c
         WHERE c.c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
"""


@_register("nation_top_customers_lateral", _LATERAL_SQL)
def q_nation_top_customers_lateral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery (per-nation top-2 customers by
    balance), same dialect-portable text on both engines. Catalyst
    decorrelates it into row_number + WindowGroupLimit — the partial
    per-partition top-k runs BELOW the shuffle — plus a broadcast join
    back to nation (pinned in tests/test_plans.py): the lateral form is
    free abstraction over the hand-written grouped top-k, never a
    per-row re-scan. Ties broken by c_custkey for a deterministic cut."""
    from smart_fraud_detection_data_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf_dir, names=("nation", "customer"))
    return spark.sql(_LATERAL_SQL)


@_register(
    "part_hierarchy_walk",
    """
WITH RECURSIVE walk(part, cur, depth) AS (
  SELECT p_partkey, p_partkey, 0 FROM part
  UNION ALL
  SELECT part, cur // 2, depth + 1 FROM walk WHERE cur > 1
)
SELECT part, CAST(MAX(depth) AS BIGINT) AS depth,
       CAST(SUM(cur) AS BIGINT) AS path_sum
FROM walk GROUP BY part
""",
)
def q_part_hierarchy_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (Spark 4): walk every part up the implicit binary
    hierarchy parent(k) = k div 2, emitting depth and the sum of ids on
    the path — a naturally terminating DAG recursion (depth grows as
    log2(key)). Spark's recursive CTEs are UNION ALL-only, so cyclic
    transitive closure stays with the iterative operator
    (operators/graph.py) — this entry covers the hierarchical-recursion
    shape warehouses use for bill-of-materials walks. Only the `//` vs
    `DIV` integer-division spelling differs between engines.

    Spark bounds recursive CTEs by spark.sql.cteRecursionRowLimit
    (default 1e6 TOTAL rows across iterations) as a runaway guard; the
    walk legitimately emits |part| × (depth+1) ≈ |part| × log2(maxkey)
    rows, which crossed the default at the x10 scale point
    (RECURSION_ROW_LIMIT_EXCEEDED at 200k parts — round-11 finding).
    Size the limit from the actual part count × 40 (depth ≤ 33 for any
    int64 key, headroom included): the guard keeps guarding, scaled to
    the data it is guarding.

    Session-conf scope (ADVICE r11, intentional): the conf CANNOT be
    restored before returning — the DataFrame is lazy and the caller
    (driver/bench) executes it after this function exits, so an early
    restore would re-trip the guard mid-collect. Instead the limit is
    sized from the HARD-CODED default floor (1e6), never from the
    current conf value, so repeated calls are idempotent (no
    compounding ratchet), a later call on smaller data shrinks it back
    toward the floor, and other recursions in the session keep a guard
    that is at worst |part|×40 — still a runaway bound, scaled to the
    largest table this query legitimately walks."""
    from smart_fraud_detection_data_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf_dir, names=("part",))
    n_parts = _table_count(spark, sf_dir, "part")
    spark.conf.set(
        "spark.sql.cteRecursionRowLimit", max(1_000_000, n_parts * 40)
    )
    return spark.sql(
        """
WITH RECURSIVE walk(part, cur, depth) AS (
  SELECT p_partkey, p_partkey, 0 FROM part
  UNION ALL
  SELECT part, cur DIV 2, depth + 1 FROM walk WHERE cur > 1
)
SELECT part, CAST(MAX(depth) AS BIGINT) AS depth,
       CAST(SUM(cur) AS BIGINT) AS path_sum
FROM walk GROUP BY part
"""
    )


@_register(
    "events_variant_props",
    """
WITH x AS (
  SELECT event_id,
         CASE WHEN json_valid(props)
              THEN TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) END AS d
  FROM events
)
SELECT event_id,
       CASE WHEN d = floor(d) THEN TRY_CAST(d AS BIGINT) END AS k
FROM x
""",
)
def q_events_variant_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured VARIANT path (Spark 4): props parsed once into an
    open VARIANT value, fields extracted with typed variant_get — the
    schema-on-read door for payloads whose shape drifts, next to the
    schema-declared from_json door (events_json_props). VARIANT's
    binary encoding makes repeated path extraction cheaper than
    re-parsing JSON text per field at scale. try_parse_json (not
    parse_json) so malformed/empty props become a NULL variant instead
    of a runtime error — the ingestion-grade behavior, mirrored by the
    oracle's json_valid guard (adversarial-sweep rule). try_variant_get
    (not variant_get), because a non-castable variant value makes the
    typed extraction THROW at runtime (fuzz-sweep rule, seed 101) —
    and extracted AS STRING, not directly as bigint, because typed
    numeric variant access diverges from SQL text extraction three
    ways (review finding, verified by execution): variant double
    3.5→bigint truncates to 3 where DuckDB TRY_CAST('3.5') rounds to
    4, variant boolean→numeric yields 1/0 where text 'true' casts to
    NULL, and variant string '3.5'→bigint is NULL. The string route
    mirrors json_extract_string exactly (objects/arrays/booleans → a
    text that fails the double cast), and the EXACT-INTEGER rule
    (try_cast to double, keep d = floor(d), try_cast to bigint — see
    events_json_props) makes the final k engine-identical."""
    ev = load_table(spark, sf_dir, "events")
    d = F.expr(
        "try_variant_get(try_parse_json(props), '$.k', 'string')"
    ).try_cast("double")
    return ev.select(
        "event_id",
        F.when(d == F.floor(d), d.try_cast("bigint")).alias("k"),
    )


@_register(
    "cohort_retention",
    """
WITH activity AS (
  SELECT DISTINCT o_custkey,
         CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month
  FROM orders
)
SELECT cohort, month, COUNT(*) AS n_active
FROM (SELECT o_custkey, month,
             MIN(month) OVER (PARTITION BY o_custkey) AS cohort
      FROM activity)
GROUP BY cohort, month
""",
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: customers bucketed by first-order month,
    counted in every month they ordered again. The cohort label comes
    from a window MIN over the already-deduplicated activity — no
    second scan of orders and no join against a firsts table. The
    explicit repartition on o_custkey makes ONE exchange serve both the
    (custkey, month) distinct (subset clustering) and the per-customer
    window — 2 shuffles total instead of 3 (plan-pinned)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    activity = (
        orders.select(
            "o_custkey",
            F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        )
        .repartition("o_custkey")
        .distinct()
    )
    w = Window.partitionBy("o_custkey")
    return (
        activity.withColumn("cohort", F.min("month").over(w))
        .groupBy("cohort", "month")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )


@_register(
    "user_funnel",
    """
WITH stages AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN t_signup < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_clicked_after,
       CAST(SUM(CASE WHEN t_signup < t_click AND t_click < t_purchase THEN 1 ELSE 0 END) AS BIGINT) AS n_converted
FROM stages
""",
)
def q_user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (signup → click → purchase): one
    conditional-MIN aggregate per stage, then ordering predicates — the
    whole funnel is a single shuffle on user_id plus a scalar rollup,
    the shape that replaces N self-joins in naive funnel SQL (and at
    100 TB, N self-joins is the difference between minutes and hours).
    NULL stage times fall out of the < comparisons unharmed (three-
    valued logic: UNKNOWN counts as not-converted)."""
    ev = load_table(spark, sf_dir, "events")

    def stage(t):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    stages = ev.groupBy("user_id").agg(
        stage("signup").alias("t_signup"),
        stage("click").alias("t_click"),
        stage("purchase").alias("t_purchase"),
    )
    conv = (F.col("t_signup") < F.col("t_click")) & (
        F.col("t_click") < F.col("t_purchase")
    )
    return stages.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("t_signup").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_signup"),
        F.sum(F.when(F.col("t_signup") < F.col("t_click"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clicked_after"),
        F.sum(F.when(conv, 1).otherwise(0)).cast("bigint").alias("n_converted"),
    )


@_register(
    "orders_cube",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
       COUNT(*) AS n_orders
FROM orders
GROUP BY CUBE(o_orderstatus, o_orderpriority)
HAVING COUNT(*) > 0
""",
)
def q_orders_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^n grouping-set combinations in one Expand pass —
    completes the grouping-sets family next to ROLLUP. HAVING guard:
    same empty-input engine-difference pin as orders_rollup."""
    return (
        load_table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            exact_sum_double("o_totalprice").alias("total_price"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@_register(
    "shipping_priority",
    """
SELECT o.o_orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       o.o_orderdate, o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1999-01-01'
  AND l.l_shipdate > TIMESTAMP '1999-01-01'
GROUP BY o.o_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-table join: selective dimension filter broadcast
    into the fact join, decimal-exact revenue, top-k without global sort
    (TakeOrderedAndProject). The classic multi-join OLAP shape."""
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1999-01-01").cast("timestamp_ntz")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1999-01-01").cast("timestamp_ntz")
    )
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.join(F.broadcast(orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)),
                li.l_orderkey == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
        .select("o_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@_register(
    "regional_revenue",
    """
SELECT r.r_name AS region, n.n_name AS nation,
       CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_orders
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
""",
)
def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped snowflake join: facts → customer → nation → region
    (the full dimension hierarchy; covers the last two testdata tables).
    All three dimension hops broadcast — one shuffle total, for the
    final aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            exact_sum_double("o_totalprice").alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )

@_register(
    "nation_trade_volume",
    """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(volume) AS DOUBLE) AS revenue
FROM (
  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
         CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation ns ON ns.n_nationkey = s.s_nationkey
  JOIN nation nc ON nc.n_nationkey = c.c_nationkey
  WHERE (ns.n_name = 'NATION_1' AND nc.n_name = 'NATION_2')
     OR (ns.n_name = 'NATION_2' AND nc.n_name = 'NATION_1')
) v
GROUP BY supp_nation, cust_nation, l_year
""",
)
def q_nation_trade_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume between two nations by
    ship year. The nation filter is pushed into BOTH dimension arms
    before they touch the facts — customer and supplier each shrink to
    2/25 of their rows and broadcast; the only big-big join left is
    lineitem ⋈ (orders ⋈ customer), a single shuffle on the order key,
    and AQE collapses even that to a broadcast once the customer filter
    has cut the orders side. The asymmetric pair predicate runs after
    both nation tags are attached, exactly as written in the oracle."""
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", F.col("n_name").alias("cust_nation"))
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "cust_nation")
    )
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.join(orders, li.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
        .where(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - dec("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@_register(
    "large_volume_customers",
    """
WITH big AS (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       big.total_qty
FROM big
JOIN orders o ON o.o_orderkey = big.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 100
""",
)
def q_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: customers who placed orders above a total-
    quantity threshold (GROUP BY + HAVING feeding a join). The heavy
    aggregation is ONE shuffle over lineitem on the order key with
    map-side partial sums; the HAVING cut shrinks its output ~5×
    before it meets orders, and the surviving keys broadcast into the
    orders scan so the fact table never shuffles. Top-100 compiles to
    TakeOrderedAndProject — no global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(exact_sum_double("l_quantity").alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select(
            "c_name", "c_custkey", "o_orderkey", "o_orderdate",
            "o_totalprice", "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


@_register(
    "late_sole_suppliers",
    """
WITH li AS (
  SELECT l.l_orderkey, l.l_suppkey,
         MAX(CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  GROUP BY l.l_orderkey, l.l_suppkey
),
po AS (
  SELECT l_orderkey, COUNT(*) AS n_supp, SUM(late) AS n_late
  FROM li GROUP BY l_orderkey
)
SELECT s.s_name, COUNT(*) AS numwait
FROM li
JOIN po ON po.l_orderkey = li.l_orderkey
JOIN supplier s ON s.s_suppkey = li.l_suppkey
WHERE li.late = 1 AND po.n_supp > 1 AND po.n_late = 1
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 10
""",
)
def q_late_sole_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (adapted: testdata lineitem has no commit/receipt
    dates, so 'late' = shipped >60 days after the order date): suppliers
    who were the ONLY late supplier on a multi-supplier order. The
    textbook form is EXISTS + NOT EXISTS — two correlated self-joins of
    the fact table. Here both are collapsed into one two-level
    aggregation: per (order, supplier) late flags, then per-order
    supplier/late counts as WINDOW aggregates over l_orderkey — the
    window replaces the former persist + groupBy + self-join (one fewer
    shuffle, no cached partitions leaking on a shared session). An
    explicit repartition(l_orderkey) pays the ONE fact shuffle up
    front; the groupBy and the window then run exchange-free on that
    partitioning (ClusteredDistribution on (okey, skey) is satisfied by
    hash(okey); the window needs only hash(okey)). Skipping map-side
    combine is deliberate — lineitem carries ~1 row per
    (order, supplier), so pre-aggregation would shrink nothing."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    late = F.when(
        F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"), 1
    ).otherwise(0)
    per_os = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max(late).alias("late"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_orderkey")
    flagged = per_os.select(
        "*",
        F.count(F.lit(1)).over(w).alias("n_supp"),
        F.sum("late").over(w).alias("n_late"),
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        flagged.where(
            (F.col("late") == 1) & (F.col("n_supp") > 1) & (F.col("n_late") == 1)
        )
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(10)
    )


_IDLE_RICH_SQL = """
WITH stats AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS s, COUNT(*) AS n
  FROM customer WHERE c_acctbal > 0.0e0
)
SELECT c_nationkey AS cntrycode, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer, stats
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * stats.n > stats.s
  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = customer.c_custkey
                  AND o.o_orderdate >= TIMESTAMP '2001-01-01')
GROUP BY c_nationkey
"""


@_register("idle_rich_customers", _IDLE_RICH_SQL)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance
    and no RECENT order (the testdata's dense FK coverage makes the
    literal no-order-ever predicate empty, so idleness is dated),
    counted per nation. Same dialect-portable text on
    both engines. The average threshold is written as an exact decimal
    cross-multiply (bal * n > sum) instead of a floating AVG — Spark
    and DuckDB round decimal division differently at the last bit, and
    a customer sitting exactly on the boundary would flip; integers and
    decimals compare exactly. Catalyst plans the 1-row stats CTE as a
    broadcast nested-loop (a scalar, effectively free) and the NOT
    EXISTS as a shuffled left anti join on the customer key — the only
    shuffle that grows with data."""
    from smart_fraud_detection_data_pipeline_spark.sources.tables import register_temp_views

    register_temp_views(spark, sf_dir, names=("customer", "orders"))
    return spark.sql(_IDLE_RICH_SQL)


_DECON_N = 8  # shingle width: long enough to be discriminative
_DECON_THRESHOLD = 0.5
# per-doc distinct 8-gram lists of both decontamination oracles
_SQL_DECON_GRAMS = f"""{_SQL_TOKS},
grams AS (
  SELECT doc_id, list_distinct({_grams_sql(_DECON_N)}) AS gs
  FROM toks
)"""


@_register(
    "doc_decontaminate",
    f"""
WITH {_SQL_DECON_GRAMS},
ev AS (SELECT doc_id, unnest(gs) AS shingle FROM grams WHERE doc_id % 10 = 0),
tr AS (SELECT DISTINCT unnest(gs) AS shingle FROM grams WHERE doc_id % 10 <> 0)
SELECT ev.doc_id, COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
       round(CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS hit_frac,
       round(CAST(SUM(CASE WHEN tr.shingle IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) >= {_DECON_THRESHOLD}e0 AS contaminated
FROM ev LEFT JOIN tr ON ev.shingle = tr.shingle
GROUP BY ev.doc_id
""",
)
def q_doc_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: every 10th document plays the eval
    set; for each, the fraction of its distinct 8-gram shingles found
    anywhere in the remaining (training) corpus. The train side is
    never shuffled — the eval gram set broadcasts into a map-side
    semi-join over the exploded train corpus, and the surviving grams
    broadcast back (operators/textdedup.cross_corpus_containment).
    Mirrors the reference's enrich-against-static pattern
    (src/spark/jobs/spark.py:131-141) turned asymmetric: containment
    of a small corpus in a huge one."""
    from smart_fraud_detection_data_pipeline_spark.operators.textdedup import (
        cross_corpus_containment,
    )

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 10 == 0)
    tr = docs.where(F.col("doc_id") % 10 != 0)
    return cross_corpus_containment(
        tr, ev, n=_DECON_N, threshold=_DECON_THRESHOLD
    )


@_register(
    "doc_decontaminate_bloom",
    f"""
WITH {_SQL_DECON_GRAMS},
ev AS (SELECT DISTINCT unnest(gs) AS shingle FROM grams WHERE doc_id % 10 = 0),
tg AS (SELECT doc_id, unnest(gs) AS shingle FROM grams WHERE doc_id % 10 <> 0)
SELECT tg.doc_id, COUNT(*) AS n_grams,
       bool_or(ev.shingle IS NOT NULL) AS exact_hit,
       TRUE AS bloom_caught_all
FROM tg LEFT JOIN ev ON tg.shingle = ev.shingle
GROUP BY tg.doc_id
""",
)
def q_doc_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination of the TRAIN side (the flip of
    `doc_decontaminate`, which scores the eval side): every 10th doc
    plays the eval set, its distinct 8-gram shingles fold into a fixed
    32 KB Bloom bitmap (2^18 bits, k=5), and each training document is
    flagged in a single map-only probe — zero exchanges on the train
    lineage, broadcast payload independent of the eval gram count
    (operators/textdedup.bloom_contamination_flags; plan-pinned).

    Certification is the sketch/ANN self-check pattern: the oracle
    cannot recompute xxhash64 bit positions, so the query emits the
    exactly-recomputable columns (per-doc distinct gram count and the
    EXACT any-gram-shared flag, both hash-checked against DuckDB) plus
    `bloom_caught_all` — the no-false-negative contract (exact_hit ⇒
    bloom_hit, guaranteed by construction: a gram present in the eval
    set has all k of its bits set). The oracle asserts it TRUE on every
    row; a bitmap indexing/shift/endianness bug anywhere in the probe
    or build would flip it. False positives are allowed by design
    (that's the 32-KB-for-any-corpus trade) and bounded in the
    operator docstring."""
    from smart_fraud_detection_data_pipeline_spark.operators.textdedup import (
        bloom_contamination_flags,
        cross_corpus_containment,
    )

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.where(F.col("doc_id") % 10 == 0)
    tr = docs.where(F.col("doc_id") % 10 != 0)
    bloom = bloom_contamination_flags(
        tr, ev, n=_DECON_N, m_bits=1 << 18, k_hashes=5
    )
    # Exact side (verification harness, not the scale path): containment
    # of each TRAIN doc's grams in the eval corpus via the proven
    # broadcast-semi-join operator with the roles flipped.
    exact = cross_corpus_containment(ev, tr, n=_DECON_N).select(
        F.col("doc_id"), (F.col("n_hit") > 0).alias("exact_hit")
    )
    return bloom.join(exact, "doc_id").select(
        "doc_id",
        "n_grams",
        "exact_hit",
        (F.col("bloom_hit") | ~F.col("exact_hit")).alias("bloom_caught_all"),
    )


_PASSAGE_LEN = 8  # tokens per repeated-passage window


@_register(
    "doc_repeated_passages",
    f"""
WITH {_SQL_TOKS},
grams AS (
  SELECT doc_id, unnest({_grams_sql(_PASSAGE_LEN)}) AS passage
  FROM toks
)
SELECT passage, COUNT(DISTINCT doc_id) AS n_docs, COUNT(*) AS n_occurrences
FROM grams GROUP BY passage HAVING COUNT(DISTINCT doc_id) >= 2
""",
)
def q_doc_repeated_passages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact boilerplate report: every {len}-token passage occurring in
    ≥2 distinct documents, with exact doc and occurrence counts — the
    strip-before-dedup pass (headers, footers, licence blocks) of a
    training corpus, and the corpus-level counterpart of the winnowing
    PAIR detector (operators/textdedup.repeated_passages, restricted to
    fixed-length windows so it stays one aggregation instead of a
    suffix array; cf. Lee et al. 2021). The corpus-wide exchange
    carries xxhash64 keys, never strings; passage text is recovered
    only for the qualifying set via a broadcast-back join. Full hash
    gate — output is exact, occurrence-counted (a footer repeated
    inside one doc still counts every occurrence)."""
    from smart_fraud_detection_data_pipeline_spark.operators.textdedup import (
        repeated_passages,
    )

    docs = load_table(spark, sf_dir, "documents")
    return repeated_passages(docs, length=_PASSAGE_LEN, min_df=2)


@_register(
    "doc_strip_boilerplate",
    f"""
WITH {_SQL_TOKS},
grams AS (
  SELECT doc_id,
         unnest({_grams_sql(_PASSAGE_LEN, starts=True)}) AS pos,
         unnest({_grams_sql(_PASSAGE_LEN)}) AS g
  FROM toks
),
qual AS (
  SELECT g FROM grams GROUP BY g HAVING COUNT(DISTINCT doc_id) >= 2
),
starts AS (
  SELECT DISTINCT grams.doc_id, grams.pos FROM grams JOIN qual USING (g)
),
tok AS (
  SELECT doc_id,
         unnest(generate_series(1, len(t))) AS i,
         unnest(t) AS tok
  FROM toks
),
rm AS (
  SELECT DISTINCT tok.doc_id, tok.i
  FROM tok JOIN starts ON starts.doc_id = tok.doc_id
       AND tok.i BETWEEN starts.pos AND starts.pos + {_PASSAGE_LEN - 1}
)
SELECT tk.doc_id,
       coalesce(string_agg(CASE WHEN rm.i IS NULL THEN tk.tok END,
                           ' ' ORDER BY tk.i), '') AS clean_text,
       CAST(count(rm.i) AS BIGINT) AS n_removed
FROM tok tk LEFT JOIN rm ON rm.doc_id = tk.doc_id AND rm.i = tk.i
GROUP BY tk.doc_id
""",
)
def q_doc_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cleaning half of the repeated-passage report (round 11):
    strip every token covered by a passage that `doc_repeated_passages`
    would flag (length {_PASSAGE_LEN}, ≥2 distinct docs) — Lee et al.
    2021's ExactSubstr dedup restricted to fixed-length windows,
    applied as per-doc token-coverage removal. One row per non-NULL
    document: (doc_id, clean_text, n_removed); untouched docs pass
    through verbatim, fully-boilerplate docs come back as ''. Full
    hash gate — the oracle recomputes passage qualification, coverage
    and reconstruction from the table (on gram STRINGS; the Spark
    side's xxhash64 exchange keys are internal only). Scale shape in
    operators/textdedup.strip_boilerplate."""
    from smart_fraud_detection_data_pipeline_spark.operators.textdedup import (
        strip_boilerplate,
    )

    docs = load_table(spark, sf_dir, "documents")
    return strip_boilerplate(docs, length=_PASSAGE_LEN, min_df=2)


_SAMPLE_K = 5


@_register(
    "doc_sample_stratified",
    f"""
SELECT doc_id, source, lang, n_chars
FROM (
  SELECT doc_id, source, lang, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
  FROM documents
)
WHERE rk <= {_SAMPLE_K}
""",
)
def q_doc_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: exactly {k} documents per
    source, chosen by md5 order (a keyed reservoir — reproducible
    across runs, engines and row order, unlike Bernoulli sampleBy).
    One shuffle on the stratum key; the rank<=k filter compiles to
    WindowGroupLimit, so each map partition forwards at most k rows
    per stratum into the exchange — skewed strata never materialize
    (plan-pinned)."""
    docs = load_table(spark, sf_dir, "documents")
    from smart_fraud_detection_data_pipeline_spark.operators.datasets import (
        stratified_sample_exact_k,
    )

    return stratified_sample_exact_k(
        docs, strata_col="source", k=_SAMPLE_K
    ).select("doc_id", "source", "lang", "n_chars")


@_register(
    "zorder_layout_scan",
    """
SELECT event_id, user_id, value
FROM events
WHERE user_id BETWEEN 10 AND 19 AND value BETWEEN 50.0e0 AND 80.0e0
""",
)
def q_zorder_layout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered layout round-trip: events rewritten via
    write_zorder_layout on (user_id, value) — the multi-column
    generalization of the time layout; Morton-key range partitioning
    gives every file a compact rectangle of the (user_id, value) plane,
    so this two-column window scan skips most files on parquet min/max
    stats alone (per-file bounding-box tightness pinned in
    tests/test_loaders.py). Values must survive the rewrite exactly."""
    import os

    from smart_fraud_detection_data_pipeline_spark.operators.loaders import (
        write_zorder_layout,
    )

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    path = os.path.join(scratch_dir("zorder_layout_"), "events_zorder")
    write_zorder_layout(ev, path, cols=("user_id", "value"), n_ranges=16)
    return read_parquet(spark, path).where(
        F.col("user_id").between(10, 19) & F.col("value").between(50.0, 80.0)
    )


@_register(
    "returnflag_priority_mix",
    """
SELECT l.l_returnflag,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '2000-01-01'
  AND l.l_shipdate < TIMESTAMP '2001-01-01'
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
""",
)
def q_returnflag_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (testdata lineitem carries no shipmode, so the
    group key is l_returnflag): order-priority mix per line class via
    conditional sums — the CASE-pivot-after-join pattern. The year
    filter pushes into the lineitem scan; orders joins on the order key
    and the two counts fold in one aggregation (partial map-side). A
    3-row ORDER BY is a no-op at any scale."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("2001-01-01").cast("timestamp_ntz"))
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


@_register(
    "promo_revenue_pct",
    """
SELECT 100.0e0 * (
         CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                       THEN CAST(l.l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       ) AS promo_revenue
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE l.l_shipdate >= TIMESTAMP '2000-03-01'
  AND l.l_shipdate < TIMESTAMP '2000-04-01'
""",
)
def q_promo_revenue_pct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of one month's revenue from PROMO parts —
    conditional ratio aggregate. Part broadcasts into the filtered
    lineitem scan (month predicate pushed down); both sums accumulate
    in exact decimal and the single final division runs on two exact
    doubles, so the ratio is bit-identical across engines."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("2000-03-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("2000-04-01").cast("timestamp_ntz"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    promo_rev = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * (
                    F.sum(promo_rev).cast("double")
                    / F.sum(rev).cast("double")
                )
            ).alias("promo_revenue")
        )
    )


@_register(
    "salted_user_join",
    """
SELECT e.event_id, e.user_id, c.c_name,
       CAST(e.value AS DOUBLE) AS value
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
WHERE e.event_type = 'purchase'
""",
)
def q_salted_user_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed-key equi-join via salting (operators/skew.salted_inner_join):
    the fact side is salted on a deterministic row hash, the dimension
    side replicated across all salt values, and the join runs on
    (key, salt) — a hot user spreads over `buckets` tasks instead of
    one straggler. The oracle is the PLAIN inner join: salting must be
    invisible in the result. Use when the dim side is too big to
    broadcast and AQE's skew split can't help (single hot KEY, not just
    a hot partition)."""
    from smart_fraud_detection_data_pipeline_spark.operators.skew import (
        salted_inner_join,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_name")
    )
    joined = salted_inner_join(
        ev,
        cust.withColumnRenamed("c_custkey", "user_id"),
        "user_id",
        salt_from=F.col("event_id"),
    )
    return joined.select("event_id", "user_id", "c_name", "value")


@_register(
    "kafka_serde_roundtrip",
    """
SELECT 'T' || CAST(event_id + 1000000 AS VARCHAR) AS transaction_id,
       CAST(user_id AS INTEGER) AS user_id,
       CAST(event_id % 500 + 1 AS INTEGER) AS product_id,
       'S' || CAST(event_id % 5 + 1 AS VARCHAR) AS store_id,
       value AS amount,
       event_type AS payment_method,
       ['USA','UK','Germany','India'][CAST(user_id % 4 AS INTEGER) + 1] AS country,
       ts AS "timestamp"
FROM events
""",
)
def q_kafka_serde_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2→S3 serde, hash-checked: events mapped to the reference
    transaction shape, pushed through the Kafka sink's keyed-JSON
    encoder (to_json, microsecond timestamp format) and back through
    the source's PERMISSIVE decoder (from_json on TRANSACTION_SCHEMA).
    The oracle is the IDENTITY mapping — any byte the serde loses
    (sub-second truncation, double re-rounding, null coercion) breaks
    the hash. This is the whole Kafka data path minus the socket; the
    connector wiring around it is option-pinned in tests/test_kafka.py.
    Ref: transaction_producer.py:35-41, consumer.py:84."""
    from smart_fraud_detection_data_pipeline_spark.sources.kafka import (
        decode_transactions,
        encode_transactions,
    )

    ev = load_table(spark, sf_dir, "events")
    countries = F.array(
        F.lit("USA"), F.lit("UK"), F.lit("Germany"), F.lit("India")
    )
    tx = ev.select(
        F.concat(F.lit("T"), (F.col("event_id") + 1000000).cast("string")).alias(
            "transaction_id"
        ),
        F.col("user_id").cast("int").alias("user_id"),
        (F.col("event_id") % 500 + 1).cast("int").alias("product_id"),
        F.concat(F.lit("S"), (F.col("event_id") % 5 + 1).cast("string")).alias(
            "store_id"
        ),
        F.col("value").alias("amount"),
        F.col("event_type").alias("payment_method"),
        F.element_at(countries, (F.col("user_id") % 4).cast("int") + 1).alias(
            "country"
        ),
        F.col("ts").cast("timestamp").alias("timestamp"),
    )
    wire = encode_transactions(tx)  # (key, value) keyed JSON — S2's payload
    decoded = decode_transactions(wire)
    return decoded.withColumn("timestamp", F.col("timestamp").cast("timestamp_ntz"))


@_register(
    "user_robust_zscore",
    """
WITH q AS (
  SELECT event_id, user_id,
         CAST(floor(value * 1000000.0e0 + 0.5e0) AS BIGINT) AS iv
  FROM events
  WHERE value IS NOT NULL AND user_id IS NOT NULL
),
med AS (
  SELECT user_id, CAST(2 * median(iv) AS BIGINT) AS m2 FROM q GROUP BY user_id
),
mad AS (
  SELECT q.user_id, CAST(2 * median(abs(2 * q.iv - m.m2)) AS BIGINT) AS md2
  FROM q JOIN med m ON m.user_id = q.user_id
  GROUP BY q.user_id
)
SELECT q.event_id, q.user_id,
       CASE WHEN d.md2 > 0
            THEN floor((2.0e0 * (2 * q.iv - m.m2)) / d.md2
                       * 1000000.0e0 + 0.5e0) / 1000000.0e0
            ELSE 0.0e0 END AS robust_z
FROM q
JOIN med m ON m.user_id = q.user_id
JOIN mad d ON d.user_id = q.user_id
""",
)
def q_user_robust_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user robust z-score (value − median)/MAD as pure JVM window
    expressions (r14, VERDICT r13 #3 — formerly a GROUPED_MAP
    applyInPandas whose per-group Arrow invocations made it the most
    expensive non-streaming Python-boundary query; guide §4: built-ins
    over UDFs). One shuffle on user_id; the two exact-percentile window
    aggregates share that partitioning (no second exchange), and the
    grouped-map door itself stays available as
    functions.pandas_aggs.make_robust_zscore (pinned bit-equal to this
    plan in tests/test_skew_and_windows.py::test_robust_zscore_jvm_
    equals_grouped_map).

    All statistics run on micro-unit INTEGERS (iv = floor(v*1e6+0.5)),
    doubled so even-count median midpoints stay integral: sf0.1
    falsified the old docstring's claim that double median interpolation
    is bit-identical across engines (numpy computes (a+b)/2, quantile_cont
    lo+(hi-lo)*0.5 — up to 1 ulp apart, and two rows then straddled the
    6-dp rounding boundary). Spark's exact percentile(0.5) computes
    lo + 0.5*(hi-lo) over int64-valued doubles — every step exact below
    2^53 — so 2*percentile is the SAME integer numpy's 2*(a+b)/2 and
    DuckDB's 2*quantile_cont produce. z = 2*(2iv − 2med)/(2mad·2) is a
    ratio of exact int64s, so the division — and the final floor-based
    6-dp quantization — is exact-rounded identically everywhere. Same
    shrink-the-units discipline as the money sums (CLAUDE.md)."""
    ev = (
        load_table(spark, sf_dir, "events")
        # Null discipline (ADVICE r5 #1): filter identically on both
        # engines (SQL GROUP BY would keep a NULL group but the oracle's
        # joins drop it).
        .filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.floor(F.col("value") * F.lit(1e6) + F.lit(0.5)).cast("long").alias("iv"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    with_med = ev.withColumn(
        "__m2", (F.lit(2) * F.percentile(F.col("iv"), F.lit(0.5)).over(w)).cast("long")
    ).withColumn("__dev", F.abs(F.lit(2) * F.col("iv") - F.col("__m2")))
    with_mad = with_med.withColumn(
        "__md2",
        (F.lit(2) * F.percentile(F.col("__dev"), F.lit(0.5)).over(w)).cast("long"),
    )
    z = F.when(
        F.col("__md2") > 0,
        F.floor(
            (F.lit(2.0) * (F.lit(2) * F.col("iv") - F.col("__m2")))
            / F.col("__md2")
            * F.lit(1e6)
            + F.lit(0.5)
        )
        / F.lit(1e6),
    ).otherwise(F.lit(0.0))
    return with_mad.select("event_id", "user_id", z.alias("robust_z"))


@_register(
    "doc_repetition",
    f"""
WITH {_SQL_TOKS},
grams AS (
  SELECT doc_id, {_grams_sql(2)} AS g2, {_grams_sql(3)} AS g3
  FROM toks
)
SELECT doc_id,
       round(1.0e0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2), 6)
         AS dup_2gram_frac,
       round(1.0e0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3), 6)
         AS dup_3gram_frac
FROM grams
""",
)
def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (the Gopher/C4 quality-rule family):
    fraction of duplicated word 2-grams and 3-grams per document —
    heavily repetitive documents are boilerplate/spam and get filtered
    before training. Map-only (higher-order array functions inside one
    projection, no explode, no shuffle at any scale); the rounded
    fractions hold to the oracle's identical list formulation."""
    # NULL text excluded on both engines (adversarial-sweep rule).
    # Staged split: both gram fractions reference the token array ~4x
    # each, and Catalyst inlines (re-splits) at every reference — the
    # projection is an 8x measured speedup at sf0.1.
    staged = TD._text_entry(load_table(spark, sf_dir, "documents"), "text", "doc_id")

    def dup_frac(n):
        # shingles() dedups; repetition needs the raw gram multiset
        grams = TD._gram_list(F.col("__toks"), n)
        return F.round(
            F.lit(1.0)
            - F.size(F.array_distinct(grams)).cast("double") / F.size(grams),
            6,
        )

    return staged.select(
        "doc_id",
        dup_frac(2).alias("dup_2gram_frac"),
        dup_frac(3).alias("dup_3gram_frac"),
    )


@_register(
    "user_spend_trends_incremental",
    _SQL_TRENDS.format(
        key_out="user_id", key_in="user_id", sum_alias="total_spent"
    ),
)
def q_user_spend_trends_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for the A1 rollup: the trend table
    is built from pre-split history, then a late day of transactions
    arrives and only ITS windows are re-aggregated and additively
    merged (operators/merge.merge_additive) — never a full recompute.
    The oracle IS the full recompute (the user_spend_trends SQL), so
    the incremental path must be bit-identical: money combines in
    exact decimal, distinct transaction counts add because the
    base/delta split is disjoint in event ids, and the boundary-
    spanning window proves the combine (not replace) semantics. At
    scale the delta rollup is a day against years — it broadcasts into
    the merge, and a partitioned rollup prunes to touched windows."""
    from smart_fraud_detection_data_pipeline_spark.operators.merge import merge_additive

    tx = _transactions(spark, sf_dir)
    split = F.lit("2024-01-10 12:00:30").cast("timestamp_ntz")  # mid-window
    base = T.user_spend_trends(tx.where(F.col("timestamp") < split), exact=True)
    delta = T.user_spend_trends(tx.where(F.col("timestamp") >= split), exact=True)
    return merge_additive(
        base,
        delta,
        ["user_id", "window_start"],
        sum_cols=["total_spent"],
        count_cols=["num_transactions"],
        carry_cols=["window_end"],
    ).select("user_id", "total_spent", "num_transactions", "window_start", "window_end")


@_register(
    "multi_distinct_stats",
    """
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
""",
)
def q_multi_distinct_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple exact DISTINCT aggregates in one GROUP BY: Catalyst
    plans an Expand — every input row is replicated once per distinct
    clause (here 3×: user-distinct, day-distinct, plain) BEFORE the
    shuffle, which is the hidden multiplier that makes multi-distinct
    the classic accidental scale cliff (plan-pinned in
    tests/test_plans.py). The engine's position: exact multi-distinct
    is correct and available, and at 100 TB you reach for the HLL
    sketch variant (user_spend_trends_approx) instead."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count_distinct(F.col("ts").cast("date")).alias("n_days"),
        exact_sum_double("value").alias("total_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


@_register(
    "user_value_lag_delta",
    """
SELECT event_id, user_id, value,
       round(value - lag(value) OVER w, 6) AS delta_prev,
       lead(event_id) OVER w AS next_event_id,
       CAST(ntile(4) OVER (PARTITION BY user_id ORDER BY value NULLS FIRST, event_id)
            AS INTEGER) AS value_quartile
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
""",
)
def q_user_value_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-window breadth: lag (previous-event value delta), lead
    (next event id) and ntile quartiles per user — the offset/bucket
    window functions the catalog's row_number/min/sum queries don't
    touch. Both window specs share the user_id partitioning, so Spark
    plans ONE exchange and sorts per spec within it. Frames are ordered
    by (ts, event_id) / (value, event_id) — total orders, so offsets
    are deterministic; the first-row delta is NULL in both engines.
    NULL ordering is pinned EXPLICITLY on both sides (ASC NULLS FIRST,
    Spark's native default) — DuckDB defaults ASC to NULLS LAST, so a
    nullable sort key silently reshuffles ntile buckets and lag frames
    between engines otherwise (adversarial-sweep rule)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc_nulls_first(), "event_id"
    )
    wq = Window.partitionBy("user_id").orderBy(
        F.col("value").asc_nulls_first(), "event_id"
    )
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta_prev"),
        F.lead("event_id").over(w).alias("next_event_id"),
        F.ntile(4).over(wq).alias("value_quartile"),
    )


_WINNOW_SQL_CTES = """h AS (
  SELECT doc_id,
         list_transform(generate_series(1, greatest(length(text) - 23, 1)),
                        i -> md5(substr(text, i, 24))) AS hashes
  FROM documents
  WHERE text IS NOT NULL
), sel AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(hashes) - 11, 1)),
           j -> list_min(list_slice(hashes, j, j + 11)))) AS fps
  FROM h
)"""


@_register(
    "doc_winnow",
    f"""
WITH {_WINNOW_SQL_CTES}
SELECT doc_id,
       CAST(len(fps) AS INTEGER) AS n_fingerprints,
       md5(array_to_string(list_sort(fps), '')) AS fp_digest
FROM sel
""",
)
def q_doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints per document (k=24-char grams,
    w=12 window): the rolling-hash document-fingerprint scheme of
    Schleimer et al. (SIGMOD'03), selecting each window's min k-gram
    hash so any >= k+w-1-char shared substring yields a shared
    fingerprint. Map-only — both HOF folds run in-row, no explode and
    no shuffle at any corpus size; the k-gram hash array materializes
    in its own projection so the winnowing pass never recomputes the
    md5s (Catalyst does not CSE). The cross-engine check compares the
    fingerprint COUNT plus an order-insensitive digest (md5 of the
    sorted concat) because Spark's array_distinct and DuckDB's
    list_distinct order survivors differently. NULL text is excluded
    on both engines (adversarial-sweep rule)."""
    docs = load_table(spark, sf_dir, "documents")
    hashed = TD._text_entry(docs, "text", "doc_id", tokenize=False).select(
        "doc_id", TS.kgram_hashes(F.col("text"), 24).alias("__h")
    )
    sel = hashed.select("doc_id", TS.winnow(F.col("__h"), 12).alias("fps"))
    return sel.select(
        "doc_id",
        F.size("fps").cast("int").alias("n_fingerprints"),
        F.md5(F.array_join(F.array_sort("fps"), "").cast("binary")).alias("fp_digest"),
    )


@_register(
    "doc_winnow_pairs",
    f"""
WITH {_WINNOW_SQL_CTES},
ex AS (SELECT doc_id, unnest(fps) AS fp FROM sel)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS INTEGER) AS shared_fps
FROM ex a JOIN ex b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING count(*) >= 3
""",
)
def q_doc_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-overlap detection via shared winnowing fingerprints
    (textdedup.winnow_pairs): pairs sharing >= 3 fingerprints — at
    k=24/w=12 this recovers exactly the corpus's 25 near-dup pairs
    that MinHash-LSH and exact Jaccard find, from an index ~2/(w+1)
    the shingle-set size. Inverted index on the fingerprint, each
    co-occurring pair emitted once via in-row combinations (never a
    self-join); the oracle's plain fp-equijoin is the semantics the
    bucketed plan must reproduce."""
    docs = load_table(spark, sf_dir, "documents")
    return TD.winnow_pairs(docs, k=24, w=12, min_shared=3)


@_register(
    "nation_year_profit",
    """
SELECT n.n_name AS nation, CAST(year(l.l_shipdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       - CAST(SUM(CAST(p.p_retailprice AS DECIMAL(18,2))
                  * CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS profit
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE p.p_name LIKE '%widget%'
GROUP BY 1, 2
""",
)
def q_nation_year_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-line profit by nation and year): a
    three-dimension star join — part (filtered on name), supplier,
    nation all broadcast into the lineitem scan, so the fact table
    never shuffles before the final (nation, year) aggregation: one
    exchange total. Profit = revenue − cost is computed as the
    DIFFERENCE OF TWO EXACT-DECIMAL SUMS cast to double at the end —
    summing the per-row difference would mix two decimal products in
    one accumulator and overflow precision 38, where Spark and DuckDB
    round differently (CLAUDE.md)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%widget%"))
        .select("p_partkey", "p_retailprice")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    cost = dec("p_retailprice") * dec("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nat), supp.s_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").alias("o_year"),
        )
        .agg(
            (F.sum(rev).cast("double") - F.sum(cost).cast("double")).alias("profit")
        )
    )


@_register(
    "customer_order_distribution",
    """
WITH oc AS (
  SELECT o_custkey, count(*) AS cnt FROM orders
  WHERE o_orderpriority NOT LIKE '1-%' GROUP BY o_custkey
)
SELECT c_count, count(*) AS custdist FROM (
  SELECT coalesce(oc.cnt, 0) AS c_count
  FROM customer c LEFT JOIN oc ON oc.o_custkey = c.c_custkey
) GROUP BY c_count
""",
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (how many customers placed 0, 1, 2, … orders):
    the left-join-then-double-aggregate histogram, with the textbook
    scale rewrite — orders pre-aggregate to per-custkey counts BEFORE
    the join, so the join input shrinks from |orders| to |custkeys|
    and the outer join preserves zero-order customers via
    coalesce(cnt, 0). The pre-agg's hash partitioning on o_custkey is
    reused by the join (no second orders shuffle); at any scale the
    plan moves each order row through exactly one exchange."""
    orders = load_table(spark, sf_dir, "orders").where(
        ~F.col("o_orderpriority").like("1-%")
    )
    oc = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("cnt"))
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    return (
        cust.join(oc, cust.c_custkey == oc.o_custkey, "left")
        .select(F.coalesce("cnt", F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@_register(
    "brand_basket_revenue",
    """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#11' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 20)
   OR (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 30)
   OR (p.p_brand = 'Brand#13' AND p.p_size BETWEEN 1 AND 35
       AND l.l_quantity BETWEEN 20 AND 40)
""",
)
def q_brand_basket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: a disjunction of per-brand (size, quantity)
    baskets — the classic test of OR-of-ANDs predicate handling.
    Catalyst distributes the disjunction per table: each disjunct
    constrains l_quantity, so the derived
    (qty∈[1,20] ∨ qty∈[10,30] ∨ qty∈[20,40]) range union pushes into
    the lineitem parquet scan, and the (brand, size) disjunction into
    the part scan — both scans skip row groups before the broadcast
    join even sees a row (pinned in test_plans)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty = F.col("l_quantity")
    basket = (
        ((F.col("p_brand") == "Brand#11") & F.col("p_size").between(1, 15) & qty.between(1, 20))
        | ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 25) & qty.between(10, 30))
        | ((F.col("p_brand") == "Brand#13") & F.col("p_size").between(1, 35) & qty.between(20, 40))
    )
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .where(basket)
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@_register(
    "prolific_red_part_suppliers",
    """
SELECT s.s_name, n.n_name AS nation
FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE s.s_suppkey IN (
  SELECT l.l_suppkey FROM lineitem l
  WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
    AND l.l_shipdate >= TIMESTAMP '2000-01-01'
    AND l.l_shipdate < TIMESTAMP '2001-01-01'
  GROUP BY l.l_suppkey
  HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 500
)
""",
)
def q_prolific_red_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved > 500 units of red parts in
    one year — nested IN subqueries flattened into two semi-joins. The
    red-part key set broadcasts as a LEFT SEMI into the date-pruned
    lineitem scan (fact side never shuffles for the filter), the
    HAVING threshold compares EXACT DECIMAL sums (a double sum's
    order-dependent rounding could flip rows sitting on the
    threshold), and the surviving supplier keys — at most |supplier| —
    broadcast back as the outer semi-join. The supplier table is never
    shuffled at any scale."""
    red = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("red%"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("2001-01-01").cast("timestamp_ntz"))
    )
    prolific = (
        li.join(F.broadcast(red), li.l_partkey == red.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__q"))
        .where(F.col("__q") > F.lit(500).cast("decimal(18,2)"))
        .select("l_suppkey")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        supp.join(F.broadcast(prolific), supp.s_suppkey == prolific.l_suppkey, "left_semi")
        .join(F.broadcast(nat), F.col("s_nationkey") == nat.n_nationkey)
        .select("s_name", F.col("n_name").alias("nation"))
    )


@_register(
    "multimodal_frame_sample",
    """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS INTEGER) AS n
  FROM documents
  WHERE text IS NOT NULL
),
f AS (
  SELECT doc_id, hx,
         unnest(generate_series(0, greatest(CAST(ceil(n / 64.0e0)
                                                 AS INTEGER), 1) - 1)) AS frame_idx
  FROM b
)
SELECT doc_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       CAST(length(substr(hx, CAST(frame_idx AS INTEGER) * 128 + 1, 128)) // 2
            AS INTEGER) AS frame_bytes,
       md5(lower(substr(hx, CAST(frame_idx AS INTEGER) * 128 + 1, 128)))
         AS frame_digest
FROM f
WHERE frame_idx % 2 = 0
""",
)
def q_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video-like payloads (multimodal.sample_frames):
    chunk each payload into 64-byte frames, keep every 2nd, one output
    ROW per kept frame — the 1→N Arrow fan-out a real keyframe sampler
    has. Byte-exact on any corpus: the oracle slices the payload's hex
    encoding (2 hex chars per byte), and the product digest is defined
    over that hex form — see multimodal.sample_frames. Map-only —
    payload bytes never outlive the Arrow stage."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.sample_frames(MM.attach_binary_payload(docs), frame_size=64, every=2)


@_register(
    "multimodal_resize",
    """
WITH b AS (
  SELECT doc_id, hex(encode(text)) AS hx,
         CAST(octet_length(encode(text)) AS INTEGER) AS n
  FROM documents
  WHERE text IS NOT NULL
),
r AS (
  SELECT doc_id, n,
         list_transform(generate_series(0, 15),
           j -> lower(substr(hx, CAST((j * (n - 1)) // 15 AS INTEGER) * 2 + 1, 2))) AS ps
  FROM b
)
SELECT doc_id,
       CASE WHEN n > 0
            THEN CAST(list_sum(list_transform(ps,
                   p -> (strpos('0123456789abcdef', substr(p, 1, 1)) - 1) * 16
                        + strpos('0123456789abcdef', substr(p, 2, 1)) - 1)) AS DOUBLE)
                 / 16.0e0
            ELSE 0.0e0 END AS resized_mean,
       CASE WHEN n > 0
            THEN md5(array_to_string(ps, '')) ELSE md5('') END AS resized_digest
FROM r
""",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor resize of the payload byte signal to a fixed
    16-byte grid (multimodal.resize_payload) — constant output size
    regardless of input length, the property that makes downstream
    training batches rectangular. The empty-payload edge is guarded in
    BOTH engines (UDF returns mean 0.0 / digest of empty; oracle CASEs
    the same) so the oracle doesn't silently depend on the corpus never
    being empty (ADVICE r1). Byte-exact on any corpus via the hex
    formulation (see multimodal_frame_sample)."""
    docs = load_table(spark, sf_dir, "documents")
    return MM.resize_payload(MM.attach_binary_payload(docs), width=16)


# ---------------------------------------------------------------------------
# Round-3 TPC-H shapes: Q4/Q8/Q10/Q11/Q15/Q16
# ---------------------------------------------------------------------------


@_register(
    "order_priority_late_ship",
    """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '2000-01-01'
  AND o.o_orderdate < TIMESTAMP '2000-10-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o.o_orderpriority
""",
)
def q_order_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (commitdate/receiptdate absent, so 'late' = shipped
    >60 days after order): EXISTS over lineitem per order, counted per
    priority. The EXISTS is a LEFT SEMI join on the order key with the
    non-equi lateness predicate as a join-side filter — Spark evaluates
    it inside the join, never materializing the match multiplicity, so
    a 100 TB lineitem contributes each orderkey at most once to the
    shuffle. The date filter prunes the orders scan first."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("2000-10-01").cast("timestamp_ntz"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("order_count"))


@_register(
    "nation_market_share",
    """
WITH rev AS (
  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
         CAST(l.l_extendedprice AS DECIMAL(18,2))
           * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume,
         sn.n_name AS supp_nation
  FROM lineitem l
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
  JOIN region r   ON r.r_regionkey = cn.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'ASIA'
    AND o.o_orderdate >= TIMESTAMP '1999-01-01'
    AND o.o_orderdate < TIMESTAMP '2001-01-01'
)
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_7' THEN volume
                     ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(SUM(volume) AS DOUBLE) AS mkt_share
FROM rev
GROUP BY o_year
""",
)
def q_nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_7's share of ASIA-customer revenue per
    year — a conditional-ratio aggregate over a six-way star join. All
    five dimensions broadcast (customer is the largest and still dim-
    sized); lineitem↔orders is the only shuffle pair, and the two-year
    date filter prunes orders before that shuffle. Both sums accumulate
    exact decimal; the single division runs on exact doubles."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("2001-01-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cn = nation.alias("cn")
    sn = nation.alias("sn")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    volume = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cn), F.col("c_nationkey") == F.col("cn.n_nationkey"))
        .join(F.broadcast(region), F.col("cn.n_regionkey") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("sn.n_nationkey"))
    )
    nation_vol = F.when(F.col("sn.n_name") == "NATION_7", volume).otherwise(
        F.lit(0).cast("decimal(18,2)")
    )
    return (
        joined.withColumn("o_year", F.year("o_orderdate").cast("int"))
        .groupBy("o_year")
        .agg(
            (F.sum(nation_vol).cast("double") / F.sum(volume).cast("double")).alias(
                "mkt_share"
            )
        )
    )


@_register(
    "returned_item_losses",
    """
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem l
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n   ON n.n_nationkey = c.c_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '2000-01-01'
  AND o.o_orderdate < TIMESTAMP '2000-04-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
)
def q_returned_item_losses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in a
    quarter. Returnflag filter pushes into the lineitem scan, quarter
    filter into orders; customer+nation broadcast. The final top-k is a
    TakeOrderedAndProject (per-partition heaps → driver merge of 20
    rows), never a global sort. Revenue is an exact-decimal sum so the
    DESC ranking is engine-identical; c_custkey breaks ties."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("2000-04-01").cast("timestamp_ntz"))
    ).select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "n_name", "revenue")
    )


@_register(
    "important_part_value",
    """
WITH pv AS (
  SELECT l_partkey,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS part_value
  FROM lineitem GROUP BY l_partkey
)
SELECT l_partkey, part_value
FROM pv
WHERE part_value > (SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
                                AS DOUBLE) * 0.0002e0
                    FROM lineitem)
""",
)
def q_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (no partsupp table, so 'stock value' = lineitem
    extendedprice per part): parts whose value exceeds a fraction of
    the GLOBAL total — a HAVING against a scalar subquery. One shuffle
    computes the per-part sums; the global total is the SAME aggregate
    re-reduced (a rollup of the per-part result, NOT a second scan) and
    joins back as a broadcast scalar. Both sums exact-decimal; the
    threshold multiply runs once on an exact double."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_extendedprice")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("val_dec")
    )
    # Global total as a re-reduction of the per-part partials — the
    # 100 TB discipline: never scan the fact table twice for a scalar.
    total = per_part.agg(
        (F.sum("val_dec").cast("double") * F.lit(0.0002)).alias("threshold")
    )
    return (
        per_part.withColumn("part_value", F.col("val_dec").cast("double"))
        .crossJoin(F.broadcast(total))
        .where(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
    )


@_register(
    "top_supplier_revenue",
    """
WITH sr AS (
  SELECT l_suppkey,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '2000-01-01' AND l_shipdate < TIMESTAMP '2000-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, CAST(sr.total_rev AS DOUBLE) AS total_revenue
FROM supplier s
JOIN sr ON sr.l_suppkey = s.s_suppkey
WHERE sr.total_rev = (SELECT MAX(total_rev) FROM sr)
""",
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the quarter's top-revenue supplier(s) — a CTE
    aggregate consumed twice in SQL (once for rows, once for its MAX).
    Instead of persist + self-consume (which leaks cached partitions on
    a shared long-lived session), the MAX is a whole-frame window over
    the aggregate: the frame is supplier-sized (|suppliers| rows, not
    fact rows), so the single-partition window exchange is cheap, and
    the plan stays pure-lazy. Returns every supplier tied at the top
    (the Q15 contract, unlike LIMIT 1); comparison in exact decimal."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("2000-04-01").cast("timestamp_ntz"))
    )
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    rev = dec("l_extendedprice") * (F.lit(1) - dec("l_discount"))
    from pyspark.sql import Window

    sr = li.groupBy("l_suppkey").agg(F.sum(rev).alias("total_rev"))
    w = Window.partitionBy()
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        sr.withColumn("max_rev", F.max("total_rev").over(w))
        .where(F.col("total_rev") == F.col("max_rev"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("total_rev").cast("double").alias("total_revenue")
        )
    )


@_register(
    "brand_supplier_counts",
    """
SELECT p.p_brand, p.p_size, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 7, 14, 23, 36, 45, 49, 50)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_size
""",
)
def q_brand_supplier_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (complaint suppliers ≙ negative acctbal): distinct
    supplier count per (brand, size) excluding blacklisted suppliers.
    The NOT IN is a broadcast LEFT ANTI join (s_suppkey is non-null, so
    the three-valued-logic trap doesn't bite — contrast
    not_in_null_semantics); part filters push to its scan and broadcast.
    COUNT(DISTINCT) pays one Expand, the plan-pinned cost of exact
    distinct aggregation."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & F.col("p_size").isin(1, 7, 14, 23, 36, 45, 49, 50)
    ).select("p_partkey", "p_brand", "p_size")
    bad_supp = load_table(spark, sf_dir, "supplier").where(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(
            F.broadcast(bad_supp), li.l_suppkey == bad_supp.s_suppkey, "left_anti"
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Round-3 LLM-pipeline extensions: chunking, PII scrub, int8 ANN tier
# ---------------------------------------------------------------------------


@_register(
    "doc_chunk_overlap",
    """
WITH c AS (
  SELECT doc_id, text,
         unnest(generate_series(0,
           CAST(greatest(ceil(length(text) / 96.0e0), 1) AS BIGINT) - 1)) AS i
  FROM documents
)
SELECT doc_id,
       CAST(i AS INTEGER) AS chunk_idx,
       substr(text, CAST(i * 96 + 1 AS INTEGER), 128) AS chunk,
       CAST(length(substr(text, CAST(i * 96 + 1 AS INTEGER), 128)) AS INTEGER)
         AS chunk_len
FROM c
""",
)
def q_doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping document chunking (datasets.chunk_documents): 128-char
    windows every 96 chars — the 1→N context-window precursor, pure
    sequence/explode/substr built-ins, map-only at any corpus size."""
    from smart_fraud_detection_data_pipeline_spark.operators.datasets import (
        chunk_documents,
    )

    docs = load_table(spark, sf_dir, "documents")
    return chunk_documents(docs, size=128, stride=96)


@_register(
    "events_pii_redact",
    """
WITH s AS (
  SELECT event_id,
         'user' || CAST(user_id AS VARCHAR) || '@mail.example contact 555'
           || CAST(event_id AS VARCHAR) || ' ' || props AS contact
  FROM events
), r AS (
  SELECT event_id, contact,
         regexp_replace(contact, '[A-Za-z0-9_.]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g')
           AS after_email
  FROM s
)
SELECT event_id,
       regexp_replace(after_email, '[0-9]{3,}', '<NUM>', 'g') AS redacted,
       CAST(len(regexp_extract_all(contact, '[A-Za-z0-9_.]+@[A-Za-z0-9.-]+'))
            AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(after_email, '[0-9]{3,}')) AS BIGINT) AS n_numbers
FROM r
""",
)
def q_events_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (textstats.redact_pii) over a synthesized contact
    string (the testdata carries no real PII, so one is constructed
    deterministically from key columns): emails → <EMAIL> then ≥3-digit
    runs → <NUM>, with audit counts from the same patterns. Pure JVM
    regex column expressions — map-only, no UDF, patterns restricted to
    the Java∩RE2 dialect so the oracle is bit-identical."""
    from smart_fraud_detection_data_pipeline_spark.operators.textstats import redact_pii

    ev = load_table(spark, sf_dir, "events")
    contact = F.concat(
        F.lit("user"), F.col("user_id").cast("string"), F.lit("@mail.example contact 555"),
        F.col("event_id").cast("string"), F.lit(" "), F.col("props"),
    )
    cols = redact_pii(F.col("contact"))
    # four regex passes per row; spread an under-split scan first
    ev = spread_input(ev.select("event_id", "user_id", "props"))
    return ev.select("event_id", contact.alias("contact")).select(
        "event_id",
        cols["redacted"].alias("redacted"),
        cols["n_emails"].alias("n_emails"),
        cols["n_numbers"].alias("n_numbers"),
    )


#: int8 symmetric quantization as SQL CTEs — the oracle twin of
#: similarity.quantize_int8, shared by embed_quantized_topk and
#: embed_pq_ann (ONE builder so the rule can never drift between
#: oracles — the fuzz-sweep shared-branch rule).
_INT8_QZ_CTES = """base AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
  FROM embeddings
), qz AS (
  SELECT vec_id,
         CASE WHEN ma > 0
              THEN list_transform(e, x -> round(x * 127.0e0 / ma))
              ELSE list_transform(e, x -> 0.0e0) END AS q
  FROM base
)"""


def _int8_cos_sql(a: str, b: str) -> str:
    """The 6-dp cosine of two int8-quantized lists (exact integer dots,
    NULL on a zero norm) — the ONE oracle twin of
    similarity._int8_cosine."""
    return f"""CASE WHEN list_dot_product({a}, {a}) > 0
               AND list_dot_product({b}, {b}) > 0
              THEN round(list_dot_product({a}, {b})
                         / (sqrt(list_dot_product({a}, {a}))
                            * sqrt(list_dot_product({b}, {b}))),
                         6) END"""


@_register(
    "embed_quantized_topk",
    f"""
WITH {_INT8_QZ_CTES}, scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
         {_int8_cos_sql("a.q", "b.q")} AS q_cosine_sim
  FROM qz a, qz b
  WHERE a.vec_id < 5 AND b.vec_id IS NOT NULL
), {_rank_cut_sql("ranked", "scored", "q_cosine_sim", 10)}
SELECT * FROM ranked
""",
)
def q_embed_quantized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized exact cosine top-k (similarity.quantized_cosine_topk):
    the memory-scale tier between exact float search and ANN — 4× smaller
    vectors, integer-exact dot products, deterministic quantization, so
    unlike the LSH/IVF tiers it stays under the full hash gate. Rounded
    to 6 dp, ties on vec_id."""
    from smart_fraud_detection_data_pipeline_spark.operators.similarity import (
        quantized_cosine_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return quantized_cosine_topk(emb, _ann_query_set(emb), k=10)


#: The PQ oracles' entry: int8-quantized vectors with NULL vectors AND
#: NULL ids excluded (`nz`, the twin of similarity._ann_entry) and the
#: vec_id < 5 query set (`qs`, the twin of _ann_query_set).
_PQ_ENTRY_CTES = f"""{_INT8_QZ_CTES},
nz AS (SELECT vec_id, q FROM qz WHERE q IS NOT NULL AND vec_id IS NOT NULL),
qs AS (SELECT vec_id AS query_id, q FROM nz WHERE vec_id < 5)"""


def _pq_l2_sql(a: str, b: str) -> str:
    """Exact squared L2 between two integer-valued double lists (the
    PQ subspace distance). COALESCE covers the empty-slice case (both
    engines then contribute 0 — mirrors Spark's aggregate over an
    empty array)."""
    return (
        f"COALESCE(list_sum(list_transform(list_zip({a}, {b}), "
        "z -> (z[1] - z[2]) * (z[1] - z[2]))), 0.0e0)"
    )


def _pq_slice(col: str, j: str = "js.j", m: int = 4) -> str:
    """Subspace j of a quantized vector: ceil(len/m)-sized 1-based
    inclusive slice — the SQL twin of pq_ann_topk's slice() bounds
    (uniform per-fixture dims make the per-row len equal to the Spark
    side's sampled dim)."""
    sub = f"((len({col}) + {m - 1}) // {m})"
    return f"{col}[1 + {j} * {sub} : ({j} + 1) * {sub}]"


def _pq_core_ctes(m: int = 4, n_codes: int = 16) -> str:
    """The PQ pipeline up to per-(query, candidate) ADC distances —
    ONE builder shared by the embed_pq_ann and embed_pq_rerank oracles
    (shared-branch rule): int8 quantization (shared CTE builder), the
    _modular_sample_sql codebook split into subspaces,
    per-subspace argmin encoding with lowest-index tie-break, and the
    ADC table join."""
    enc_l2 = _pq_l2_sql(_pq_slice("x.q", m=m), _pq_slice("cents.cq", m=m))
    adc_l2 = _pq_l2_sql(_pq_slice("qs.q", m=m), _pq_slice("cents.cq", m=m))
    return f"""
WITH {_PQ_ENTRY_CTES},
{_modular_sample_sql("cents", "cidx", "q AS cq", "nz", n_codes)},
js AS (SELECT unnest(generate_series(0, {m - 1})) AS j),
{_nearest_sql("codes", "x.vec_id, js.j, cents.cidx", "x.vec_id, js.j", enc_l2,
              "cents.cidx", "nz x CROSS JOIN js CROSS JOIN cents")},
adc AS (
  SELECT qs.query_id, js.j, cents.cidx, {adc_l2} AS d
  FROM qs CROSS JOIN js CROSS JOIN cents
),
dists AS (
  SELECT a.query_id, cds.vec_id, SUM(a.d) AS pq_dist
  FROM codes cds JOIN adc a ON a.j = cds.j AND a.cidx = cds.cidx
  GROUP BY a.query_id, cds.vec_id
)"""


def _adc_rank_sql(k: int) -> str:
    """The exact-integer ADC ranking over `dists` that both PQ ANN
    oracles end in — the twin of similarity._adc_topk: pq_dist ASC,
    vec_id tie-break, top k per query (_rank_cut_sql)."""
    return f""",
{_rank_cut_sql("ranked", "dists", "pq_dist", k, "ASC")}
SELECT * FROM ranked
"""


def _pq_oracle_sql(k: int = 10, m: int = 4, n_codes: int = 16) -> str:
    """Oracle twin of embed_pq_ann: the shared core plus the ADC
    ranking (_adc_rank_sql)."""
    return _pq_core_ctes(m, n_codes) + _adc_rank_sql(k)


def _rerank_tail_sql(k: int, shortlist: int) -> str:
    """The exact-rerank tail shared by the embed_pq_rerank and
    embed_ivfpq_rerank oracles (ONE builder — shared-branch rule; the
    Spark twin is similarity._exact_rerank_stage): shortlist by ADC
    pq_dist from `dists`, re-score against the int8-quantized vectors
    in `nz` with _int8_cos_sql, keep the true top-k (both cuts are
    _rank_cut_sql)."""
    return f""",
{_rank_cut_sql("short", "dists", "pq_dist", shortlist, "ASC")},
rer AS (
  SELECT s.query_id, s.vec_id, {_int8_cos_sql("qv.q", "cv.q")} AS q_cosine_sim
  FROM short s
  JOIN nz cv ON cv.vec_id = s.vec_id
  JOIN nz qv ON qv.vec_id = s.query_id
),
{_rank_cut_sql("ranked", "rer", "q_cosine_sim", k)}
SELECT * FROM ranked
"""


def _pq_rerank_oracle_sql(
    k: int = 10, shortlist: int = 50, m: int = 4, n_codes: int = 16
) -> str:
    """Oracle twin of embed_pq_rerank: the shared PQ core shortlists
    `shortlist` candidates by ADC, then the certified int8-quantized
    cosine (_int8_cos_sql, embed_quantized_topk's scorer)
    re-ranks only those and keeps the true top-k."""
    return _pq_core_ctes(m, n_codes) + _rerank_tail_sql(k, shortlist)


@_register("embed_pq_rerank", _pq_rerank_oracle_sql())
def q_embed_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage PQ retrieval under the FULL hash gate (round 9b):
    ADC shortlist of 50 per query over the whole corpus (codes only),
    then exact int8-quantized cosine over just the shortlist — the
    standard production pattern that recovers the recall a coarse PQ
    gives up (clustered fixture: 0.5 -> 1.0 recall@10, tests). Both
    stages are deterministic with id tie-breaks, so the oracle
    recomputes shortlist and rerank end to end. See
    operators/similarity.pq_rerank_topk."""
    from smart_fraud_detection_data_pipeline_spark.operators.similarity import (
        pq_rerank_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_rerank_topk(
        emb, _ann_query_set(emb), k=10, shortlist=50, m=4, n_codes=16
    )


def _ivfpq_core_sql(
    n_clusters: int = 16, nprobe: int = 4, m: int = 4, n_codes: int = 16,
) -> str:
    """The IVF-PQ pipeline through per-candidate `dists` — ONE builder
    shared by the embed_ivfpq_ann and embed_ivfpq_rerank oracles
    (shared-branch rule): int8 quantization (shared CTE),
    _modular_sample_sql coarse centroids + exact-int L2 argmin
    assignment, residual codebooks from its middle-residue sample,
    per-subspace residual
    encoding, nprobe cell probing, and per-(query, cell) residual ADC
    tables — everything recomputed from the table in SQL."""
    full_l2 = _pq_l2_sql
    enc_l2 = _pq_l2_sql(_pq_slice("x.rv", m=m), _pq_slice("rb.rv", m=m))
    adc_l2 = _pq_l2_sql(_pq_slice("qr.rv", m=m), _pq_slice("rb.rv", m=m))
    return f"""
WITH {_PQ_ENTRY_CTES},
{_modular_sample_sql("cents", "cidx", "q AS cq", "nz", n_clusters)},
{_nearest_sql("cassign", "x.vec_id, x.q, cents.cidx", "x.vec_id",
              full_l2("x.q", "cents.cq"), "cents.cidx", "nz x CROSS JOIN cents")},
{_modular_sample_sql("samp", "sidx", "q", "nz", n_codes, middle=True)},
{_nearest_sql("sassign", "sm.sidx, sm.q, cents.cidx", "sm.sidx",
              full_l2("sm.q", "cents.cq"), "cents.cidx", "samp sm CROSS JOIN cents")},
rbooks AS (
  SELECT sa.sidx,
         list_transform(list_zip(sa.q, c2.cq), z -> z[1] - z[2]) AS rv
  FROM sassign sa JOIN cents c2 ON c2.cidx = sa.cidx
),
cres AS (
  SELECT ca.vec_id, ca.cidx,
         list_transform(list_zip(ca.q, c2.cq), z -> z[1] - z[2]) AS rv
  FROM cassign ca JOIN cents c2 ON c2.cidx = ca.cidx
),
js AS (SELECT unnest(generate_series(0, {m - 1})) AS j),
{_nearest_sql("codes", "x.vec_id, x.cidx, js.j, rb.sidx", "x.vec_id, js.j", enc_l2,
              "rb.sidx", "cres x CROSS JOIN js CROSS JOIN rbooks rb")},
{_nearest_sql("qprobe", "qs.query_id, qs.q, cents.cidx", "qs.query_id",
              full_l2("qs.q", "cents.cq"), "cents.cidx", "qs CROSS JOIN cents", nprobe)},
qres AS (
  SELECT p.query_id, p.cidx,
         list_transform(list_zip(p.q, c2.cq), z -> z[1] - z[2]) AS rv
  FROM qprobe p JOIN cents c2 ON c2.cidx = p.cidx
),
adc AS (
  SELECT qr.query_id, qr.cidx, js.j, rb.sidx, {adc_l2} AS dd
  FROM qres qr CROSS JOIN js CROSS JOIN rbooks rb
),
dists AS (
  SELECT a.query_id, cd.vec_id, SUM(a.dd) AS pq_dist
  FROM codes cd
  JOIN adc a ON a.cidx = cd.cidx AND a.j = cd.j AND a.sidx = cd.sidx
  GROUP BY a.query_id, cd.vec_id
)"""


def _ivfpq_oracle_sql(
    k: int = 10, n_clusters: int = 16, nprobe: int = 4, m: int = 4,
    n_codes: int = 16,
) -> str:
    """Oracle twin of embed_ivfpq_ann: the shared core plus the ADC
    ranking (_adc_rank_sql)."""
    return _ivfpq_core_sql(n_clusters, nprobe, m, n_codes) + _adc_rank_sql(k)


def _ivfpq_rerank_oracle_sql(
    k: int = 10, shortlist: int = 50, n_clusters: int = 16, nprobe: int = 4,
    m: int = 4, n_codes: int = 16,
) -> str:
    """Oracle twin of embed_ivfpq_rerank: the shared IVF-PQ core
    shortlists by residual ADC, then the shared exact-rerank tail."""
    return (
        _ivfpq_core_sql(n_clusters, nprobe, m, n_codes)
        + _rerank_tail_sql(k, shortlist)
    )


@_register("embed_ivfpq_ann", _ivfpq_oracle_sql())
def q_embed_ivfpq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ under the FULL hash gate (round 9b — the capstone of the
    ANN family): the production billion-scale layout (FAISS
    IndexIVFPQ) where each vector stores a coarse cell id plus m
    residual PQ codes, and queries probe nprobe cells with one ADC
    table per (query, cell). Composes the certified IVF routing and PQ
    encode/ADC pieces; deterministic + integer-exact end to end, so
    the oracle recomputes coarse assignment, residual codebooks (from
    the offset modular sample), codes, probes and distances in SQL
    with no rounding anywhere. See operators/similarity.ivfpq_ann_topk
    for the zero-shuffle encode/probe plan shape."""
    from smart_fraud_detection_data_pipeline_spark.operators.similarity import (
        ivfpq_ann_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_ann_topk(
        emb, _ann_query_set(emb), k=10, n_clusters=16, nprobe=4, m=4
    )


@_register("embed_ivfpq_rerank", _ivfpq_rerank_oracle_sql())
def q_embed_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ + exact rerank under the FULL hash gate (round 10): the
    complete FAISS production composition — cell-routed residual-code
    shortlist (never a full scan), then the certified int8 cosine over
    just shortlist×queries rows. The round-10 operating-curve sweep
    showed this beats every pure-code-budget point below 96 bits/vec
    (0.90 recall@10 from a 16-bit code + 50-deep rerank), making it
    the recommended default at scale. Both stages deterministic with
    id tie-breaks; the oracle recomputes shortlist and rerank through
    the shared IVF-PQ core + rerank-tail builders. See
    operators/similarity.ivfpq_rerank_topk."""
    from smart_fraud_detection_data_pipeline_spark.operators.similarity import (
        ivfpq_rerank_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_rerank_topk(
        emb, _ann_query_set(emb), k=10, shortlist=50, n_clusters=16, nprobe=4, m=4,
        n_codes=16,
    )


@_register("embed_pq_ann", _pq_oracle_sql())
def q_embed_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN under the FULL hash gate (round 9b —
    completes the memory-tier family exact float > int8 > PQ codes):
    int8-quantize, split into m=4 subspaces, encode each corpus vector
    as 4 code ids against sampled codebooks, then answer the standard
    vec_id < 5 query set by ADC — a per-query table of exact subspace
    distances and m lookups per pair. Every distance is a sum of
    squares of integers, so ranking (ASC, vec_id ties) is
    engine-identical with no rounding step at all — the same property
    that puts embed_quantized_topk under the hash gate, extended to a
    real codebook quantizer. See operators/similarity.pq_ann_topk for
    the scale story (m bytes per vector, no per-pair vector math);
    recall behavior is pinned in tests/test_similarity_multimodal.py
    on the clustered fixture."""
    from smart_fraud_detection_data_pipeline_spark.operators.similarity import (
        pq_ann_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return pq_ann_topk(emb, _ann_query_set(emb), k=10, m=4, n_codes=16)


@_register(
    "stream_windowed_rollup",
    """
WITH cut AS (
  SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL 15 MINUTE AS wm FROM events
),
b AS (
  SELECT user_id,
         time_bucket(INTERVAL '5 minutes', CAST(ts AS TIMESTAMP)) AS w,
         value
  FROM events
)
SELECT user_id,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_spent,
       COUNT(*) AS n_events,
       strftime(w, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(w + INTERVAL 5 MINUTE, '%Y-%m-%d %H:%M:%S') AS window_end
FROM b, cut
WHERE w + INTERVAL 5 MINUTE <= wm
GROUP BY user_id, w
""",
    prepare=_staged_events,
)
def q_stream_windowed_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming aggregation (two stateful operators in
    one query, Spark 3.4+): 1-minute per-user window sums roll up into
    5-minute windows via window_time() — the streaming pre-agg pattern
    that cuts state 5× for the coarse tier because the outer operator
    sees one row per closed 1-min window, not raw events. Inner sums
    stay DECIMAL so the outer re-sum is exact. Append mode emits only
    watermark-closed windows; the oracle applies the same cutoff
    (window_end <= max(ts) − 15 min). Beyond-reference surface: the
    reference has no chained streaming state at all."""
    stream = (
        _stream_files(spark, _staged_events(spark, sf_dir))
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "15 minutes")
    )
    minute = stream.groupBy(F.window("ts", "1 minute"), "user_id").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).alias("minute_sum_dec"),
        F.count(F.lit(1)).alias("minute_n"),
    )
    five = minute.groupBy(
        F.window(F.window_time("window"), "5 minutes").alias("w5"), "user_id"
    ).agg(
        F.sum("minute_sum_dec").cast("double").alias("total_spent"),
        F.sum("minute_n").alias("n_events"),
    )
    out = five.select(
        "user_id", "total_spent", "n_events",
        F.date_format("w5.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        F.date_format("w5.end", "yyyy-MM-dd HH:mm:ss").alias("window_end"),
    )
    return _drain(spark, out, "stream_windowed_rollup", stateful=True)


@_register(
    "doc_bigram_coverage",
    """
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS t FROM documents
),
bg AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS bigram
  FROM toks
),
top AS (
  SELECT bigram FROM (
    SELECT bigram, COUNT(*) AS c FROM bg GROUP BY bigram
    ORDER BY c DESC, bigram LIMIT 100
  )
),
d AS (SELECT DISTINCT doc_id, bigram FROM bg)
SELECT d.doc_id,
       COUNT(*) AS n_distinct_bigrams,
       CAST(SUM(CASE WHEN top.bigram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_common,
       CAST(SUM(CASE WHEN top.bigram IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
         / COUNT(*) AS common_rate
FROM d LEFT JOIN top ON top.bigram = d.bigram
GROUP BY d.doc_id
""",
)
def q_doc_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate/common-phrasing signal: the share of each document's
    DISTINCT bigrams that rank in the corpus-wide top-100 bigrams. High
    coverage = formulaic text; low = novel phrasing — a cheap corpus-
    relative quality feature beside doc_tfidf. All-integer counts and
    one exact division, so it hashes. Scale: the top-100 is a
    TakeOrdered over the bigram counts (vocabulary-sized, not corpus-
    sized) and broadcasts; per-doc distinct pays the one real shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("__toks"))
    bg = toks.select(
        "doc_id",
        F.explode(
            # sequence(1, 0) DESCENDS in Spark (default step -1), so a
            # 1-token doc would index element_at(__toks, 2) and throw;
            # DuckDB's generate_series(1, 0) is empty. Guard to match.
            F.expr(
                "CASE WHEN size(__toks) >= 2 THEN"
                " transform(sequence(1, size(__toks) - 1),"
                " i -> concat(element_at(__toks, i), ' ', element_at(__toks, i + 1)))"
                " ELSE array() END"
            )
        ).alias("bigram"),
    )
    top = (
        bg.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), F.asc("bigram"))
        .limit(100)
        .select("bigram", F.lit(1).alias("__hit"))
    )
    d = bg.distinct()
    hit = F.when(F.col("__hit").isNotNull(), 1).otherwise(0)
    return (
        d.join(F.broadcast(top), "bigram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_bigrams"),
            F.sum(hit).cast("bigint").alias("n_common"),
            (F.sum(hit).cast("double") / F.count(F.lit(1))).alias("common_rate"),
        )
    )


@_register(
    "events_jsonl_roundtrip",
    """
SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
       CAST(value AS DOUBLE) AS value, props
FROM events
""",
)
def q_events_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink→source round-trip (source-format matrix beside
    parquet/CSV/Kafka-serde): write events as JSONL, re-read with the
    explicit schema, prove identity under the hash gate. Pin the
    timestampNTZFormat to 6-digit fractions on BOTH hops — the default
    JSON format drops sub-millisecond precision, the same trap the CSV
    path documents. Doubles survive because Spark writes shortest
    round-trip decimal representations."""
    import os

    from smart_fraud_detection_data_pipeline_spark.sources.tables import (
        CSV_TS_READ_FORMAT,
        CSV_TS_WRITE_FORMAT,
    )

    ev = load_table(spark, sf_dir, "events")
    tmp = scratch_dir("jsonl_rt_")
    path = os.path.join(tmp, "events_jsonl")
    ev.write.mode("overwrite").option(
        "timestampNTZFormat", CSV_TS_WRITE_FORMAT
    ).json(path)
    back = (
        spark.read.schema(ev.schema)
        .option("timestampNTZFormat", CSV_TS_READ_FORMAT)
        .json(path)
    )
    return back.select("event_id", "ts", "user_id", "event_type", "value", "props")


@_register(
    "events_orc_roundtrip",
    """
SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
       CAST(value AS DOUBLE) AS value, props
FROM events
""",
)
def q_events_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink→source round-trip: the other columnar format the engine
    reads/writes natively (typed, splittable, predicate-pushdown-capable
    like parquet). Types — including TIMESTAMP_NTZ — survive without
    format-string pinning; identity proven under the hash gate."""
    import os

    ev = load_table(spark, sf_dir, "events")
    tmp = scratch_dir("orc_rt_")
    path = os.path.join(tmp, "events_orc")
    ev.write.mode("overwrite").orc(path)
    return spark.read.orc(path).select(
        "event_id", "ts", "user_id", "event_type", "value", "props"
    )


@_register(
    "forecast_revenue_change",
    """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
             * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '2000-01-01'
  AND l_shipdate < TIMESTAMP '2001-01-01'
  AND l_discount BETWEEN 0.02 AND 0.04
  AND l_quantity < 24
""",
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 — the last missing letter of the Q1–Q22 shape sweep:
    pure filter-aggregate, no join. Every predicate reaches the parquet
    scan (PushedFilters) and the sum accumulates exact decimal (the
    price×discount product is 4-dp decimal, still associative). The
    benchmark's measure of raw scan+reduce throughput: at 100 TB this
    is bounded by I/O alone — no shuffle beyond the 1-row final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("2001-01-01").cast("timestamp_ntz"))
            & F.col("l_discount").between(0.02, 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec("l_extendedprice") * dec("l_discount"))
            .cast("double")
            .alias("revenue")
        )
    )


@_register(
    "asof_next_error",
    """
WITH e AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events
),
x AS (
  SELECT event_id AS error_id, user_id, CAST(ts AS TIMESTAMP) AS error_ts
  FROM events WHERE event_type = 'error'
),
j AS (
  SELECT e.event_id, e.user_id, e.ts, x.error_id, x.error_ts,
         row_number() OVER (
           PARTITION BY e.event_id
           ORDER BY x.error_ts ASC NULLS LAST, x.error_id ASC NULLS LAST
         ) AS rn
  FROM e LEFT JOIN x
    ON x.user_id = e.user_id AND x.error_ts >= e.ts
)
SELECT event_id, user_id, ts, error_id AS next_error_id, error_ts AS next_error_ts
FROM j WHERE rn = 1
""",
)
def q_asof_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of FORWARD join (the other direction of operators/asof.py):
    every event paired with the same user's next error at-or-after it —
    time-to-failure labeling for supervised training. Same single
    user-partitioned shuffle as the backward variant."""
    from smart_fraud_detection_data_pipeline_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    errors = load_table(spark, sf_dir, "events").where(
        F.col("event_type") == "error"
    ).select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("error_ts"),
    )
    out = asof_join(
        ev,
        errors,
        on=["user_id"],
        left_key="event_id",
        left_ts="ts",
        right_ts="error_ts",
        tie_break="error_id",
        tie_break_direction="asc",
        direction="forward",
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("error_id").alias("next_error_id"),
        F.col("error_ts").alias("next_error_ts"),
    )


@_register(
    "embed_label_centroid_dist",
    """
WITH ex AS (
  SELECT vec_id, label, j, CAST(embedding[j] AS DOUBLE) AS x
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS t(j)
),
cent AS (
  SELECT label, j,
         CAST(SUM(CAST(round(x, 6) AS DECIMAL(16,6))) AS DOUBLE) / COUNT(*)
           AS mean_x
  FROM ex GROUP BY label, j
)
SELECT ex.vec_id, ex.label,
       round(sqrt(CAST(SUM(CAST(round((ex.x - cent.mean_x) * (ex.x - cent.mean_x),
                                       6) AS DECIMAL(18,6))) AS DOUBLE)), 6)
         AS centroid_dist
FROM ex JOIN cent ON cent.label = ex.label AND cent.j = ex.j
GROUP BY ex.vec_id, ex.label
""",
)
def q_embed_label_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid distance (similarity.label_centroid_distance):
    every embedding's L2 distance to its label's mean vector — cluster-
    quality / outlier signal. Means and squared deviations run through
    6-dp DECIMAL sums so no value depends on float reduction order;
    both engines agree bit-for-bit (full hash gate, no recall gate).
    The posexplode join key (label, j) differs in base between engines
    (0- vs 1-based ordinality) but is internal-only."""
    from smart_fraud_detection_data_pipeline_spark.operators.similarity import (
        label_centroid_distance,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroid_distance(emb)


@_register(
    "user_value_ohlc",
    """
-- ts IS NOT NULL on BOTH engines: an untimed event has no OHLC bar
-- (the calendar-bucketing twin of the windowed-agg NULL-event-time
-- rule) — and the filter is also a correctness requirement for the
-- ORACLE ENGINE itself: DuckDB v1.0.0's window operator SPLITS a
-- NULL-keyed partition nondeterministically when the PARTITION BY key
-- is a computed expression (date_trunc over NULL ts), yielding
-- multiple rn=1 rows per logical partition (fuzz-sweep, seeds
-- 303/404; AS MATERIALIZED does not reliably suppress it). Never give
-- a DuckDB window a NULLable computed partition key.
WITH ranked AS (
  SELECT user_id, value,
         date_trunc('hour', ts) AS wstart,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
  WHERE ts IS NOT NULL
)
SELECT user_id,
       strftime(wstart, '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(wstart + INTERVAL 1 HOUR, '%Y-%m-%d %H:%M:%S') AS window_end,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open_value,
       MAX(value) AS high_value,
       MIN(value) AS low_value,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close_value,
       COUNT(*) AS n_events
FROM ranked
GROUP BY user_id, wstart
""",
)
def q_user_value_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (the timeseries rollup every feature store
    needs): per user per 1-hour tumbling window, the first (open),
    max (high), min (low), and last (close) event value plus the count.
    Open/close are picked by row_number over a TOTAL order
    (ts, event_id) rather than min_by/max_by-on-ts so simultaneous
    events are deterministic and both engines agree (DuckDB's arg_min
    cannot order by a composite key). NULL-ts rows are excluded on
    both engines — an untimed event has no bar (and see the oracle
    comment: a NULLable computed partition key breaks DuckDB v1.0.0's
    window operator outright). No float sums — min/max/pick are
    reduction-order-free, so the full hash gate applies.

    Scale: one exchange on (user_id, hour) serves BOTH row_number specs
    and the final aggregation (same partitioning keys) — the window
    sorts are the only added cost, and each sorts one window's rows,
    not the partition."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    hour = F.date_trunc("hour", F.col("ts"))
    w_a = Window.partitionBy("user_id", "__h").orderBy("ts", "event_id")
    w_d = Window.partitionBy("user_id", "__h").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = (
        ev.select("user_id", "ts", "event_id", "value", hour.alias("__h"))
        .withColumn("rn_a", F.row_number().over(w_a))
        .withColumn("rn_d", F.row_number().over(w_d))
    )
    return (
        ranked.groupBy("user_id", "__h")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close_value"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "user_id",
            F.date_format("__h", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            F.date_format(
                F.col("__h") + F.expr("INTERVAL 1 HOUR"), "yyyy-MM-dd HH:mm:ss"
            ).alias("window_end"),
            "open_value",
            "high_value",
            "low_value",
            "close_value",
            "n_events",
        )
    )


@_register(
    "user_scd2_intervals",
    """
SELECT event_id, user_id, event_type AS state,
       CAST(ts AS TIMESTAMP) AS valid_from,
       lead(CAST(ts AS TIMESTAMP))
         OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS valid_to,
       CAST(CASE WHEN lead(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id)
                 IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_current
FROM events
""",
)
def q_user_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-2 dimension build: each user's event stream becomes validity
    intervals [valid_from, valid_to) with the event_type as the tracked
    state and an is_current flag on the open-ended last row — the
    warehouse-side twin of asof_join (which CONSUMES such intervals).
    Ordered by the total key (ts, event_id) so simultaneous events
    chain deterministically; NULLS FIRST pinned on both engines (the
    adversarial-sweep window rule — a NULL-ts event chains at the
    START of its user's history, caught live by fuzz seed 303). Both
    lead() calls share one window spec — Spark computes them in a
    single Window operator over one user-partitioned exchange; output
    size = input size (map-shaped after the sort), so the build scales
    with the fact table."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_first("ts"), "event_id"
    )
    nxt = F.lead("ts").over(w)
    return ev.select(
        "event_id",
        "user_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("valid_from"),
        nxt.alias("valid_to"),
        F.when(nxt.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
    )


@_register(
    "orders_snapshot_diff",
    """
WITH a AS (
  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS price
  FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
),
b AS (
  SELECT o_orderkey,
         CAST(o_totalprice AS DECIMAL(18,2))
           + CASE WHEN o_orderkey % 10 = 0
                  THEN CAST(1000 AS DECIMAL(18,2))
                  ELSE CAST(0 AS DECIMAL(18,2)) END AS price
  FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
)
SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS o_orderkey,
       CASE WHEN a.o_orderkey IS NULL THEN 'insert'
            WHEN b.o_orderkey IS NULL THEN 'delete'
            ELSE 'update' END AS change_type,
       CAST(a.price AS DOUBLE) AS old_price,
       CAST(b.price AS DOUBLE) AS new_price
FROM a FULL OUTER JOIN b ON b.o_orderkey = a.o_orderkey
WHERE a.o_orderkey IS NULL OR b.o_orderkey IS NULL OR a.price <> b.price
""",
)
def q_orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot CDC diff — the read side of merge_upsert's write side:
    given two key-aligned snapshots (old: orders before 2000; new:
    orders since 1997, with every 10th key's price restated), emit the
    change set as insert/delete/update rows. The overlap whose values
    are unchanged is filtered OUT — the property that makes downstream
    incremental loads proportional to the CHANGE volume, not the
    snapshot size. Prices compare in exact DECIMAL (a double compare
    could misclassify same-value rows), outputs cast to double.

    Scale: one full-outer sort-merge join on the key — the unavoidable
    shuffle; both snapshot scans push their date filters to parquet."""
    orders = load_table(spark, sf_dir, "orders")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    a = orders.where(
        F.col("o_orderdate") < F.lit("2000-01-01").cast("timestamp_ntz")
    ).select(F.col("o_orderkey").alias("a_key"), dec("o_totalprice").alias("a_price"))
    bump = (
        F.when(F.col("o_orderkey") % 10 == 0, F.lit(1000))
        .otherwise(F.lit(0))
        .cast("decimal(18,2)")
    )
    b = orders.where(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp_ntz")
    ).select(
        F.col("o_orderkey").alias("b_key"),
        (dec("o_totalprice") + bump).alias("b_price"),
    )
    diff = a.join(b, a.a_key == b.b_key, "full_outer").where(
        F.col("a_key").isNull()
        | F.col("b_key").isNull()
        | (F.col("a_price") != F.col("b_price"))
    )
    return diff.select(
        F.coalesce("a_key", "b_key").alias("o_orderkey"),
        F.when(F.col("a_key").isNull(), "insert")
        .when(F.col("b_key").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        F.col("a_price").cast("double").alias("old_price"),
        F.col("b_price").cast("double").alias("new_price"),
    )


@_register(
    "doc_tfidf_cosine_pairs",
    """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY doc_id, token
),
df AS (
  SELECT token, COUNT(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY token
  HAVING COUNT(DISTINCT doc_id) <= 50
),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
w AS (
  SELECT tf.doc_id, tf.token,
         CAST(tf.tf AS DOUBLE)
           * (ln((CAST((SELECT n_docs FROM n) AS DOUBLE) + 1.0e0)
                 / (CAST(doc_freq AS DOUBLE) + 1.0e0)) + 1.0e0) AS wt
  FROM tf JOIN df USING (token)
),
nrm AS (
  SELECT doc_id,
         sqrt(CAST(SUM(CAST(round(wt * wt, 6) AS DECIMAL(18,6))) AS DOUBLE)) AS nrm
  FROM w GROUP BY doc_id
),
dots AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(SUM(CAST(round(a.wt * b.wt, 6) AS DECIMAL(18,6))) AS DOUBLE) AS dot
  FROM w a JOIN w b ON b.token = a.token AND b.doc_id > a.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, round(dot / (na.nrm * nb.nrm), 6) AS cosine_sim
FROM dots
JOIN nrm na ON na.doc_id = doc_a
JOIN nrm nb ON nb.doc_id = doc_b
WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.2
""",
)
def q_doc_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine pairs (textdedup.tfidf_cosine_pairs): the
    lexical similarity tier between Jaccard and embeddings, computed as
    an inverted-index posting-list expansion — NEVER an all-pairs join.
    The oracle spells the same math as a token self-join (DuckDB has no
    posting-list idiom); the Spark plan generates each pair in-row from
    the per-token list, one shuffle each for postings and pair-sums.
    DECIMAL-summed products + 6-dp rounding → full hash gate."""
    from smart_fraud_detection_data_pipeline_spark.operators.textdedup import (
        tfidf_cosine_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_cosine_pairs(docs, max_df=50, threshold=0.2)


@_register(
    "user_event_transitions",
    """
WITH seq AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id) AS to_type
  FROM events
)
SELECT user_id, from_type, to_type, COUNT(*) AS n_transitions
FROM seq WHERE to_type IS NOT NULL
GROUP BY user_id, from_type, to_type
""",
)
def q_user_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition counts per user (event_type →
    next event_type) — the sequence-mining feature behind funnel and
    next-action models; complements user_funnel (which pins ONE path)
    with the full empirical transition matrix. NULLS FIRST pinned on
    both engines (adversarial-sweep window rule; fuzz seed 303). The
    lead() window and the aggregation share the user_id hash
    partitioning: the groupBy keys start with user_id, so Spark reuses
    the window's exchange — one shuffle total."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_first("ts"), "event_id"
    )
    seq = ev.select(
        "user_id",
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    )
    return (
        seq.where(F.col("to_type").isNotNull())
        .groupBy("user_id", "from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


@_register(
    "user_distinct_sketch_rollup",
    """
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       COUNT(DISTINCT CAST(ts AS DATE))
         + CASE WHEN bool_or(ts IS NULL) THEN 1 ELSE 0 END AS n_days,
       TRUE AS within_cap,
       TRUE AS sketch_calibrated
FROM events
GROUP BY event_type
""",
)
def q_user_distinct_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable distinct-count STATE (DataSketches HLL, Spark 4
    hll_sketch_agg / hll_union_agg): per-day sketches of distinct users
    per event_type are persisted-shape binary columns, then UNIONED to
    the all-time estimate — the incremental pattern that replaces
    COUNT(DISTINCT) recomputation at 100 TB (store a sketch per
    partition-day; a new day merges in O(sketch) instead of rescanning
    history; contrast user_spend_trends_incremental, which re-adds
    exact counts only because its windows are disjoint).

    SELF-CHECKING (the user_spend_trends_approx two-tier pattern —
    a lone per-row 3σ band is statistically guaranteed to fail on some
    fixture, fuzz seed 2311): ``within_cap`` per row caps the union
    estimate at max(8, 16% of exact) — ~10σ of lgK=12's ~1.6% rse,
    unreachable by register noise (DataSketches HLL is exact in sparse
    mode anyway) — and ``sketch_calibrated`` (same value on every row)
    allows at most ONE of the handful of event_type groups outside the
    informative 3σ band max(2, 5% of exact). The oracle recomputes the
    exact side + the day count and asserts both TRUE — a sketch or a
    union drifting out of its guarantee flips the hash gate.
    DataSketches is hash-deterministic per dataset, so neither boolean
    can flake. The merge-vs-direct estimate contract stays pinned in
    tests/test_trends.py. NULL-ts rows form their own "day" bucket (the
    rollup is a batch GROUP BY, not a time window — the oracle counts
    that bucket explicitly); the event_type join is null-safe (routing
    rule)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("event_type", "day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    merged = daily.groupBy(F.col("event_type").alias("__et")).agg(
        F.coalesce(
            F.hll_sketch_estimate(F.hll_union_agg("sk")), F.lit(0)
        ).alias("__approx"),
        F.count(F.lit(1)).alias("n_days"),
    )
    exact = ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("exact_users")
    )
    err = F.abs(F.col("__approx") - F.col("exact_users"))
    band_3s = F.greatest(F.lit(2.0), F.col("exact_users") * F.lit(0.05))
    cap = F.greatest(F.lit(8.0), F.col("exact_users") * F.lit(0.16))
    rows = exact.join(
        merged, F.col("event_type").eqNullSafe(F.col("__et"))
    ).select(
        "event_type",
        "exact_users",
        "n_days",
        (err <= cap).alias("within_cap"),
        (err > band_3s).cast("bigint").alias("__outlier"),
    )
    # Materialize: rows feeds both the calibration agg and the final
    # select (same ADVICE-r7 note as user_spend_trends_approx — without
    # it the sketch-union UDAF + eqNullSafe join execute twice per run).
    # localCheckpoint so the block frees with the frame (ADVICE r8).
    rows = rows.localCheckpoint()
    # Straggler budget max(2, 1% of groups) — the codified two-tier rule
    # (CLAUDE.md); the previous hard <=1 could flip on a fuzz fixture
    # with many distinct event_types landing 2 groups in the 3σ tail.
    calib = rows.agg(
        (
            F.coalesce(F.sum("__outlier"), F.lit(0))
            <= F.greatest(F.lit(2.0), F.count(F.lit(1)) * F.lit(0.01))
        ).alias("sketch_calibrated")
    )
    return rows.drop("__outlier").crossJoin(F.broadcast(calib))


@_register(
    "doc_unigram_logprob",
    """
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token FROM documents
),
cnt AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
tot AS (SELECT COUNT(*) AS t FROM toks)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       floor(SUM(CAST(floor(-ln(CAST(c AS DOUBLE) / (SELECT t FROM tot))
                            * 1000000.0e0 + 0.5e0) AS BIGINT))
             / COUNT(*) + 0.5e0) / 1000000.0e0
         AS avg_neg_logprob
FROM toks JOIN cnt USING (token)
GROUP BY doc_id
""",
)
def q_doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model cross-entropy per document (nats/token):
    the classic LM-based quality filter — documents whose tokens are
    improbable under the corpus unigram distribution are noise/garble;
    unusually LOW entropy is boilerplate (cf. CCNet's LM perplexity
    filter, here with the corpus itself as the model, no external LM).
    Per-token -ln p values floor-quantize to micro-nat INTEGERS
    (floor(x*1e6+0.5), the CLAUDE.md transcendental rule — round(x,6)
    was the one recorded-rule violation left in the catalog, and fuzz
    seed 808 produced a token probability whose half-up (Spark
    BigDecimal) vs half-away (DuckDB binary) rounding disagreed by
    1e-6); the int64 sum is exact and reduction-order-free, and the
    per-doc mean floor-quantizes the identical double on both engines
    → full hash gate.

    Scale: the vocabulary aggregate is Zipf-small and BROADCASTS back
    onto the exploded tokens (no fact shuffle for the join); the only
    fact-sized shuffle is the per-doc aggregation. The corpus total is
    a bounded driver scalar (same discipline as _table_count)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("__toks")
    ).select("doc_id", F.explode("__toks").alias("token"))
    cnt = toks.groupBy("token").agg(F.count(F.lit(1)).alias("c"))
    total = float(toks.count())
    term_micro = F.floor(
        -F.log(F.col("c").cast("double") / F.lit(total)) * F.lit(1e6)
        + F.lit(0.5)
    ).cast("long")
    return (
        toks.join(F.broadcast(cnt), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            (
                F.floor(
                    F.sum(term_micro) / F.count(F.lit(1)) + F.lit(0.5)
                ).cast("double")
                / F.lit(1e6)
            ).alias("avg_neg_logprob"),
        )
    )


_MD5_BUCKET_SQL = """CAST(list_sum(list_transform(generate_series(1, 8),
              i -> (strpos('0123456789abcdef',
                           substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1)
                   * power(16.0e0, 8 - i))) AS BIGINT) % 100"""


def _training_export_sql() -> str:
    return f"""
WITH {_clean_corpus_ctes()},
bucketed AS (
  SELECT doc_id, n_tokens, lang_pred, {_MD5_BUCKET_SQL} AS bucket
  FROM cleaned
),
train AS (
  SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, lang_pred, bucket,
         doc_id % {_PACK_SHARDS} AS shard
  FROM bucketed WHERE bucket < 80
),
c AS (
  SELECT *, COALESCE(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM train
)
SELECT doc_id, n_tokens, lang_pred, bucket, shard,
       CAST(floor(cum_before / {_PACK_BUDGET}.0e0) AS BIGINT) AS bin_id,
       CAST(row_number() OVER (
              PARTITION BY shard, CAST(floor(cum_before / {_PACK_BUDGET}.0e0) AS BIGINT)
              ORDER BY doc_id) AS BIGINT) AS seq_pos
FROM c
"""


@_register("corpus_training_export", _training_export_sql())
def q_corpus_training_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END training-data flow as ONE composite: quality
    profile → length/language filters → near-dup removal (the
    doc_clean_corpus stage) → deterministic hash-bucket split → the
    train split poured into token-budget bins per shard
    (doc_pack_sequences' streaming fill). What a user runs to turn a
    raw document table into trainer-ready shards; every stage is the
    already-oracle-checked operator, composed, and the whole chain
    stays under the full hash gate.

    Scale: the chain adds NO new shuffle class — cleaning's near-dup
    index join, one map-only split projection, and the per-shard pack
    window (hash partition on shard, no global sort). At 100 TB the
    near-dup stage swaps to minhash_lsh_pairs exactly as
    doc_clean_corpus documents."""
    from smart_fraud_detection_data_pipeline_spark.operators import datasets as DS2

    cleaned = q_doc_clean_corpus(spark, sf_dir)
    assigned = DS2.split_assign(cleaned)
    train = assigned.where(F.col("split") == "train").withColumn(
        "n_tokens", F.col("n_tokens").cast("bigint")
    )
    packed = DS2.pack_sequences(
        train, budget=_PACK_BUDGET, n_shards=_PACK_SHARDS
    )
    return packed.select(
        "doc_id", "n_tokens", "lang_pred", "bucket", "shard", "bin_id", "seq_pos"
    )


@_register(
    "user_txn_velocity",
    """
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
       CAST(COUNT(*) OVER w AS BIGINT) - 1 AS n_prior_10m,
       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE)
            - CAST(value AS DOUBLE) AS DOUBLE) AS amt_prior_10m
FROM events
WINDOW w AS (PARTITION BY user_id
             ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
""",
)
def q_user_txn_velocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction velocity — THE classic fraud feature the reference's
    rule set lacks (spark.py:147-168 scores rows independently): for
    every event, how many transactions and how much value the same user
    produced in the trailing 10 minutes. A RANGE window frame over
    epoch seconds (one hash partition on user_id, range frame within
    the sort — no self-join, no interval explosion), so the feature is
    computable at full stream history scale. The event itself is
    subtracted out so the feature is strictly "prior" activity;
    same-second neighbors stay included in both engines because RANGE
    frames are value-based, not row-based (no ordering ambiguity). Sums
    accumulate in DECIMAL before the double cast."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    sec = F.unix_timestamp(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(sec.cast("long")).rangeBetween(-600, 0)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.count(F.lit(1)).over(w) - F.lit(1)).cast("bigint").alias("n_prior_10m"),
        (
            F.sum(F.col("value").cast("decimal(18,2)")).over(w).cast("double")
            - F.col("value").cast("double")
        ).cast("double").alias("amt_prior_10m"),
    )


#: log10(1 + 1/d) for d=1..9, precomputed so neither engine's log10
#: implementation is in the comparison path.
_BENFORD = (0.30103, 0.176091, 0.124939, 0.09691,
            0.079181, 0.066947, 0.057992, 0.051153, 0.045757)


@_register(
    "amount_benford",
    f"""
WITH cents AS (
  SELECT event_type, CAST(round(value * 100.0e0, 0) AS BIGINT) AS c
  FROM events WHERE value > 0.0e0
),
digits AS (
  SELECT event_type,
         CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INTEGER) AS digit
  FROM cents WHERE c > 0
),
counts AS (
  SELECT event_type, digit, COUNT(*) AS n,
         SUM(COUNT(*)) OVER (PARTITION BY event_type) AS total
  FROM digits GROUP BY event_type, digit
)
SELECT event_type, digit, n,
       round(CAST(n AS DOUBLE) / total, 6) AS observed_freq,
       CASE digit {' '.join(f'WHEN {d + 1} THEN {v}e0' for d, v in enumerate(_BENFORD))} END
         AS benford_freq,
       round(abs(CAST(n AS DOUBLE) / total
                 - CASE digit {' '.join(f'WHEN {d + 1} THEN {v}e0' for d, v in enumerate(_BENFORD))} END),
             6) AS abs_dev
FROM counts
""",
)
def q_amount_benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit per event type — the forensic-
    accounting screen for fabricated amounts (synthetic/structured
    values drift from log10(1+1/d)). Engine-stable by construction: the
    first significant digit comes from the INTEGER cents' string form
    (double-to-string would differ between engines), and the Benford
    expectations are precomputed literals so no log10 runs in either
    engine. Two small shuffles (per-type digit counts + the per-type
    total window over a 9-row-per-type frame); the digit extraction is
    map-only."""
    ev = load_table(spark, sf_dir, "events").where(F.col("value") > 0.0)
    cents = F.round(F.col("value") * 100.0, 0).cast("bigint")
    digits = (
        ev.select("event_type", cents.alias("c"))
        .where(F.col("c") > 0)
        .select(
            "event_type",
            F.substring(F.col("c").cast("string"), 1, 1).cast("int").alias("digit"),
        )
    )
    from pyspark.sql import Window

    counts = digits.groupBy("event_type", "digit").agg(F.count(F.lit(1)).alias("n"))
    total = F.sum("n").over(Window.partitionBy("event_type"))
    bf = F.element_at(F.array(*[F.lit(v) for v in _BENFORD]), F.col("digit"))
    obs = F.col("n").cast("double") / F.col("total")
    return (
        counts.withColumn("total", total)
        .select(
            "event_type", "digit", "n",
            F.round(obs, 6).alias("observed_freq"),
            bf.alias("benford_freq"),
            F.round(F.abs(obs - bf), 6).alias("abs_dev"),
        )
    )


@_register(
    "value_drift_chi2",
    """
WITH a AS (
  SELECT event_type, value FROM events
  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-08 00:00:00'
),
b AS (
  SELECT event_type, value FROM events
  WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-08 00:00:00'
),
th AS (
  SELECT event_type,
         list_transform(
           quantile_cont(value, [0.1e0,0.2e0,0.3e0,0.4e0,0.5e0,0.6e0,0.7e0,0.8e0,0.9e0]),
           t -> floor(t * 1000000.0e0 + 0.5e0) / 1000000.0e0) AS qs
  FROM a GROUP BY event_type
),
ab AS (
  SELECT 'a' AS period, event_type, value FROM a
  UNION ALL
  SELECT 'b' AS period, event_type, value FROM b
),
bucketed AS (
  SELECT ab.period, ab.event_type,
         len(list_filter(th.qs, t -> ab.value > t)) AS bucket
  FROM ab JOIN th USING (event_type)
),
counts AS (
  SELECT event_type, bucket,
         SUM(CASE WHEN period = 'a' THEN 1 ELSE 0 END) AS na,
         SUM(CASE WHEN period = 'b' THEN 1 ELSE 0 END) AS nb
  FROM bucketed GROUP BY event_type, bucket
),
tot AS (
  SELECT event_type, SUM(na) AS ta, SUM(nb) AS tb
  FROM counts GROUP BY event_type
)
SELECT c.event_type,
       CAST(MAX(t.ta) AS BIGINT) AS n_ref,
       CAST(MAX(t.tb) AS BIGINT) AS n_cur,
       round(CAST(SUM(CAST(round(
         CASE WHEN c.na > 0 AND t.tb > 0
              THEN (c.nb - t.tb * (CAST(c.na AS DOUBLE) / t.ta))
                   * (c.nb - t.tb * (CAST(c.na AS DOUBLE) / t.ta))
                   / (t.tb * (CAST(c.na AS DOUBLE) / t.ta))
              ELSE 0.0e0 END, 6) AS DECIMAL(18,6))) AS DOUBLE), 6) AS chi2
FROM counts c JOIN tot t USING (event_type)
GROUP BY c.event_type
""",
)
def q_value_drift_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: chi-square statistic of the CURRENT
    week's value distribution against the REFERENCE week's exact
    deciles, per event type — the scheduled data-quality check that
    catches upstream schema/unit changes before a model retrains on
    drifted features. Reference deciles are exact percentiles,
    6-dp floor-quantized on both engines BEFORE bucketing (round-11
    x10 finding: interpolation is not ulp-stable, and a 1-ulp decile
    shift re-buckets boundary rows into a macroscopic chi2 change),
    broadcast back onto both periods; the bucket is a 9-element
    in-row filter count. Per-bucket chi2 terms round to 6 dp and sum
    in DECIMAL so the statistic is reduction-order-free.

    Scale: thresholds are |event_type| x 9 doubles (broadcast); each
    period scans once, one shuffle for the (type, bucket) counts —
    drift monitoring at 100 TB costs two scans and a tiny aggregate."""
    from pyspark.sql import Window

    split = F.lit("2024-01-08 00:00:00").cast("timestamp_ntz")
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    a = ev.where(F.col("ts") < split)
    b = ev.where(F.col("ts") >= split)
    pcts = F.array(*[F.lit(p / 10.0) for p in range(1, 10)])
    th = a.groupBy("event_type").agg(
        # 6-dp floor-quantize each decile BEFORE bucketing: interpolated
        # percentiles are not ulp-stable across engines, and a 1-ulp
        # threshold shift re-buckets boundary rows — the round-11 x10
        # sweep measured chi2 290.98 vs 290.57 from exactly this
        F.transform(
            F.percentile("value", pcts),
            lambda t: F.floor(t * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6),
        ).alias("qs")
    )
    ab = a.select(F.lit("a").alias("period"), "event_type", "value").unionByName(
        b.select(F.lit("b").alias("period"), "event_type", "value")
    )
    bucketed = ab.join(F.broadcast(th), "event_type").select(
        "period",
        "event_type",
        F.size(F.filter(F.col("qs"), lambda t: F.col("value") > t)).alias("bucket"),
    )
    counts = bucketed.groupBy("event_type", "bucket").agg(
        F.sum(F.when(F.col("period") == "a", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("period") == "b", 1).otherwise(0)).alias("nb"),
    )
    w = Window.partitionBy("event_type")
    totals = counts.withColumn("ta", F.sum("na").over(w)).withColumn(
        "tb", F.sum("nb").over(w)
    )
    exp = F.col("tb") * (F.col("na").cast("double") / F.col("ta"))
    term = F.when(
        (F.col("na") > 0) & (F.col("tb") > 0),
        (F.col("nb") - exp) * (F.col("nb") - exp) / exp,
    ).otherwise(F.lit(0.0))
    return (
        totals.withColumn("__term", F.round(term, 6).cast("decimal(18,6)"))
        .groupBy("event_type")
        .agg(
            F.max("ta").cast("bigint").alias("n_ref"),
            F.max("tb").cast("bigint").alias("n_cur"),
            F.round(F.sum("__term").cast("double"), 6).alias("chi2"),
        )
    )


@_register(
    "orders_grouping_sets",
    """
SELECT o_orderstatus, o_orderpriority,
       CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT)
         AS grp_id,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
HAVING COUNT(*) > 0
""",
)
def q_orders_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS (the general form rollup/cube
    specialize): per (status, priority), per status, and the grand
    total in ONE pass — Catalyst's Expand duplicates each input row
    once per set, so the cost is sets x scan, not one scan per
    aggregation level. grouping_id disambiguates the NULLs that mark
    rolled-up columns from real NULL data (none here, but the contract
    matters at scale where both occur). Runs through the SQL frontend
    (spark.sql) — the GROUPING SETS syntax has no stable DataFrame
    equivalent."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__gs_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority)
                    AS BIGINT) AS grp_id,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS total_price
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
    """)
