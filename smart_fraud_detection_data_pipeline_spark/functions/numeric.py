"""Numeric helpers shared by aggregation operators.

Cross-engine determinism: a plain ``SUM(double)`` is order-dependent in
the last bits, so a distributed Spark sum and a DuckDB oracle sum can
hash-differ at scale. All money-ish columns in the testdata carry <=2
decimal places, so summing as DECIMAL is exact and associative in both
engines; casting the final result back to DOUBLE produces bit-identical
values. This is the pattern every oracle-checked aggregate uses.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def exact_sum_double(col: Column | str, scale: int = 2, precision: int = 18) -> Column:
    """Order-independent sum of a 2-dp double column, returned as double.

    ``CAST(SUM(CAST(x AS DECIMAL(p,s))) AS DOUBLE)`` — exact decimal
    accumulation (associative, so partial/final aggregation and AQE
    re-partitioning cannot change the result), then one final lossless
    cast back to double for a stable schema.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal({precision},{scale})")).cast("double")
