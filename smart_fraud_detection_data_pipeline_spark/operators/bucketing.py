"""Bucketed (co-located) tables: pre-shuffled storage for repeated joins.

At 100 TB the dominant cost of a fact-to-fact equi-join is the shuffle.
Bucketing pays that shuffle ONCE at write time: both tables are written
pre-hash-partitioned (and optionally pre-sorted) on the join key into
the same number of buckets, and every subsequent join/aggregation on
that key runs with ZERO exchanges — each task reads matching bucket
files from both sides. tests/test_bucketing.py proves the Exchange
nodes disappear from the plan.

Rules that make it work (all encoded in `write_bucketed`):
- identical bucket count AND key on both sides (hash compatibility),
- `sortBy` the join key so the sort-merge join skips its Sort too,
- one file per bucket per partition (repartition first) or AQE cannot
  avoid task blow-up.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_bucketed(
    df: DataFrame,
    table: str,
    *,
    bucket_col: str,
    num_buckets: int,
    sort: bool = True,
    mode: str = "overwrite",
) -> None:
    """Persist df as a bucketed (+sorted) managed table."""
    writer = (
        df.repartition(num_buckets, bucket_col)
        .write.mode(mode)
        .bucketBy(num_buckets, bucket_col)
    )
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)

