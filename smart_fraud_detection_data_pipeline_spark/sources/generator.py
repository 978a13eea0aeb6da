"""S1: deterministic synthetic transaction generator (batch).

Reference parity: transaction_producer.py:12-22 emits one random
transaction per 0.5 s — id "T"+7 digits, user_id 1-2000, product_id
1-500, store_id S1-S5, amount U(10,5000) rounded to 2 dp,
payment_method ∈ {credit_card,debit_card,cash,paypal}, country ∈
{USA,UK,Germany,India}, ISO-8601 UTC event time.

Engine version: the same value domains, but generated AS A PLAN —
`spark.range(n)` + seeded `rand()` column expressions. Fully distributed (no driver-side row loop),
deterministic under a seed, and arbitrarily scalable: generating 10^12
rows is just `spark.range(10**12)` across executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAYMENT_METHODS = ("credit_card", "debit_card", "cash", "paypal")
COUNTRIES = ("USA", "UK", "Germany", "India")
BASE_TS = "2024-01-01 00:00:00"
ROWS_PER_SECOND = 2  # producer rate: 1 msg / 0.5 s


def _pick(arr: tuple[str, ...], r: F.Column) -> F.Column:
    """Uniform pick from a literal array by a [0,1) random column."""
    return F.element_at(
        F.array(*[F.lit(v) for v in arr]), (r * len(arr)).cast("int") + 1
    )


def _transaction_columns(df: DataFrame, id_col: str, ts_col) -> DataFrame:
    """Map a numbered row stream to the reference transaction schema."""
    seeded = [F.rand(seed=41 + i) for i in range(5)]
    return df.select(
        F.concat(
            F.lit("T"), (F.col(id_col) % 9000000 + 1000000).cast("string")
        ).alias("transaction_id"),
        ((seeded[0] * 2000).cast("int") + 1).alias("user_id"),
        ((seeded[1] * 500).cast("int") + 1).alias("product_id"),
        F.concat(F.lit("S"), ((seeded[2] * 5).cast("int") + 1).cast("string")).alias(
            "store_id"
        ),
        F.round(seeded[3] * (5000 - 10) + 10, 2).alias("amount"),
        _pick(PAYMENT_METHODS, seeded[4]).alias("payment_method"),
        _pick(COUNTRIES, F.rand(seed=48)).alias("country"),
        ts_col.alias("timestamp"),
    )


def synthetic_transactions(spark: SparkSession, n_rows: int) -> DataFrame:
    """Batch generator: n_rows transactions at the producer's 2 rows/s
    cadence starting at BASE_TS. Deterministic per (n_rows, seed)."""
    base = spark.range(n_rows)
    ts = F.timestamp_seconds(
        F.unix_timestamp(F.lit(BASE_TS).cast("timestamp_ntz"))
        + (F.col("id") / ROWS_PER_SECOND).cast("long")
    ).cast("timestamp_ntz")
    return _transaction_columns(base, "id", ts)
