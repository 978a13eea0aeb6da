"""Windowed trend aggregation operators.

Reference parity (spark.py:171-200):
- A1 user_spend_trends: groupBy(window(ts, "1 minute"), user_id)
      .agg(sum(amount) AS total_spent, approx_count_distinct(tx_id) AS
      num_transactions)
- A2 category_trends: same keyed on category → total_sales
- A3 approx_count_distinct = HyperLogLog++ rsd 0.05 (approximate)
- F1/F2 tumbling window + bound stringification to
      "yyyy-MM-dd HH:mm:ss" STRINGS (warehouse keeps them as STRING)

Two count modes: ``exact=True`` uses COUNT(DISTINCT ...) so a SQL oracle
can hash-match; ``exact=False`` reproduces the reference's HLL++
behavior (A3) — approximate, so user_spend_trends_approx certifies it
against the exact count with contract columns its oracle asserts TRUE.

Scale design: exactly one shuffle, keyed on (window, key) — partial
aggregation runs map-side before the exchange, so the shuffle carries
pre-combined rows, not raw facts. Sums accumulate as DECIMAL (exact +
associative — see functions.numeric) so AQE repartitioning can never
change results. At 100 TB the window key adds enough cardinality that
skew on a hot user/category is diluted; if one key still dominates, AQE
skew-join/partition splitting (enabled in session.py) handles it without
manual salting. COUNT(DISTINCT) compiles to a two-phase expand+agg plan;
for billions of rows per group prefer ``exact=False`` (HLL sketches
merge associatively, one shuffle, bounded memory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smart_fraud_detection_data_pipeline_spark.functions.numeric import exact_sum_double
from smart_fraud_detection_data_pipeline_spark.functions.timeutil import minute_window, stringify_window


def windowed_trends(
    df: DataFrame,
    *,
    key_col: str,
    ts_col: str = "timestamp",
    amount_col: str = "amount",
    id_col: str = "transaction_id",
    duration: str = "1 minute",
    sum_alias: str = "total_spent",
    exact: bool = True,
) -> DataFrame:
    """Tumbling-window sum + count-distinct per key (A1/A2 generalized).

    Output: key, total (double), num_transactions (long),
    window_start/window_end (string "yyyy-MM-dd HH:mm:ss").
    """
    count_expr = (
        F.count_distinct(F.col(id_col)) if exact else F.approx_count_distinct(F.col(id_col))
    )
    agg = (
        df.groupBy(minute_window(F.col(ts_col), duration), F.col(key_col))
        .agg(
            exact_sum_double(amount_col).alias(sum_alias),
            count_expr.alias("num_transactions"),
        )
    )
    return stringify_window(agg)


def user_spend_trends(transactions: DataFrame, *, exact: bool = True, **kw) -> DataFrame:
    """A1: per-user 1-minute spend trend (spark.py:171-184)."""
    return windowed_trends(
        transactions, key_col="user_id", sum_alias="total_spent", exact=exact, **kw
    )


def category_trends(transactions: DataFrame, *, exact: bool = True, **kw) -> DataFrame:
    """A2: per-category 1-minute sales trend (spark.py:187-200)."""
    return windowed_trends(
        transactions, key_col="category", sum_alias="total_sales", exact=exact, **kw
    )
