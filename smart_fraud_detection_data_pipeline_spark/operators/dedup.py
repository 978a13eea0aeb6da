"""Keyed deduplication operators (relational; text near-dup lives in textdedup).

Reference parity:
- A5 union-all of all parquet slices of a prefix
      (pd.concat — load_fraud_records...py:152; in Spark the multi-file
      read is implicit, and `union_slices` covers explicit unions)
- A6 keyed keep-last dedup: drop_duplicates(subset=keys, keep="last")
      (fraud (transaction_id,timestamp) load_fraud_records...py:154-157;
      user (USER_ID,WINDOW_START) load_...user_spend...py:155-160;
      category (category,window_start) load_to_snowflake_category_trends.py:115)

pandas' keep="last" is positional; the distributed equivalent needs an
explicit order column, so `dedup_keep_last` ranks by one or more
``order_by`` columns descending (the loaders' implicit order is
load/file order — callers materialize that as a batch_id/load_time
column, exactly as the warehouse's `last_updated` column does).

Scale design: one shuffle on the dedup keys. ``row_number`` over
(partition by keys order by ord desc) = 1 is the canonical plan; for the
common "latest by single ordering column" case ``max_by``-style
aggregation would also work, but window + filter keeps all columns
without struct-packing and AQE handles skewed keys. Never use
``dropDuplicates`` when "which survivor" matters — it keeps an arbitrary
row.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def union_slices(*slices: DataFrame) -> DataFrame:
    """A5: union-all by column name (safe against column-order drift)."""
    out = slices[0]
    for s in slices[1:]:
        out = out.unionByName(s)
    return out


def dedup_keep_last(
    df: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str],
    *,
    keep: str = "last",
) -> DataFrame:
    """A6: exactly one survivor per key — the last by ``order_by``.

    ``keep="last"`` keeps the max of the order columns, ``"first"`` the
    min. Ties broken deterministically by all order columns in sequence;
    make the final order column unique (e.g. batch_id) for full
    determinism.
    """
    cols = [F.col(c).desc() if keep == "last" else F.col(c).asc() for c in order_by]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )

