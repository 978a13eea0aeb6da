"""Explicit schemas — the engine never relies on inference for its own model.

Reference parity: the reference declares hand-written StructTypes for its
three inputs (spark.py:66-75 transactions, :77-83 users, :85-95 products)
and we reproduce those shapes 1:1. The testdata star schema
(TESTDATA.md) needs no hand-written schema: ``sources.tables`` reads each
table's parquet footer on the driver and hands Spark the schema, so no
schema-inference job ever runs. The expected shapes are recorded here
for validation.
"""

from __future__ import annotations

from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# --- Reference input schemas (spark.py:66-95) -------------------------------

#: Fact stream. The producer emits the event time as `transaction_time`
#: but the reference maps it positionally into `timestamp`
#: (transaction_producer.py:21 vs spark.py:74); we use `timestamp`
#: end-to-end — the semantics the pipeline actually has.
TRANSACTION_SCHEMA = StructType(
    [
        StructField("transaction_id", StringType()),
        StructField("user_id", IntegerType()),
        StructField("product_id", IntegerType()),
        StructField("store_id", StringType()),
        StructField("amount", DoubleType()),
        StructField("payment_method", StringType()),
        StructField("country", StringType()),
        StructField("timestamp", TimestampType()),
    ]
)

USER_SCHEMA = StructType(
    [
        StructField("user_id", IntegerType()),
        StructField("name", StringType()),
        StructField("email", StringType()),
        StructField("country", StringType()),
        StructField("signup_date", TimestampType()),
    ]
)

PRODUCT_SCHEMA = StructType(
    [
        StructField("product_id", IntegerType()),
        StructField("name", StringType()),
        StructField("category", StringType()),
        StructField("base_price", DoubleType()),
        StructField("supplier", StringType()),
        StructField("country", StringType()),
        StructField("in_stock", BooleanType()),
        StructField("discount", DoubleType()),
        StructField("product_added_date", TimestampType()),
    ]
)

# --- Derived output shapes (golden; FIXTURES.md §A) -------------------------

#: fraud_records = 8 transaction cols + renamed user cols + renamed
#: product cols + 4 computed cols + 3 partition cols (spark.py:147-168,
#: :221-232). Kept as documentation for tests; built dynamically by
#: operators.enrich.
FRAUD_COMPUTED_COLUMNS = (
    "country_mismatch",
    "high_value_flag",
    "fraud_score",
    "discounted_price",
)

#: Trend tables stringify window bounds (spark.py:181-183, :197-199) and
#: keep them STRING in the warehouse — preserved semantics.
TREND_WINDOW_FORMAT = "yyyy-MM-dd HH:mm:ss"
