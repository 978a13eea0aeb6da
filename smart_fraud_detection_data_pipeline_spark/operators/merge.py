"""Warehouse-style keyed upsert (MERGE) as a native Spark operator.

Reference parity: the loaders stage rows then run
``MERGE INTO target USING stage ON <key equality> WHEN MATCHED UPDATE
all non-key cols WHEN NOT MATCHED INSERT`` (A7/A8/J3 —
load_fraud_records...py:206-280, user/category variants). The reference
needs a warehouse for this; we express the same semantics as a pure
DataFrame transform so it runs anywhere Spark runs:

    merged = merge_upsert(target, source, keys)

Semantics (matching Snowflake MERGE with deduped source):
- rows in both: source's non-key columns win (UPDATE)
- rows only in source: inserted
- rows only in target: kept
The source is deduped to one row per key first (keep-last by ``order_by``
if given) — the loaders do exactly this before merging
(load_...user_spend...py:155-160) because multi-match MERGE is an error.

Scale design: implemented as a full-outer shuffle join on the keys with
coalesce per column. At warehouse scale the right pattern is partition-
scoped merge: restrict `target` to the partitions present in `source`
before joining (partition pruning), which `merge_upsert_partitioned`
does; on lakehouse tables this is what Delta/Iceberg MERGE does with
file-level min/max skipping.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from smart_fraud_detection_data_pipeline_spark.operators.dedup import dedup_keep_last


def merge_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    *,
    order_by: Sequence[str] | None = None,
    delete_col: str | None = None,
) -> DataFrame:
    """Keyed upsert: target ⟕⟖ source on keys, source wins on match (A8/J3).

    Columns = target's columns (source must contain them all). When
    ``order_by`` is given the source is first deduped keep-last on it.

    ``delete_col`` (round 8 — the ``WHEN MATCHED AND <flag> THEN
    DELETE`` verb standard lakehouse MERGE has): a boolean tombstone
    column on the SOURCE. A flagged source row deletes its matched
    target row instead of updating it, and — per standard MERGE — a
    flagged row with no match inserts nothing (deleting an absent key
    is a no-op). NULL flags mean "not a tombstone" (upsert as usual);
    the column is not part of the output. Same single full-outer-join
    plan: the delete is a post-join filter, no extra exchange.
    """
    if order_by:
        source = dedup_keep_last(source, keys, order_by)
    cols = target.columns
    if "__src" in cols:
        raise ValueError(
            "merge_upsert reserves the column name '__src' for match "
            "detection; rename the input column"
        )
    non_keys = [c for c in cols if c not in keys]
    t = target.alias("t")
    # The join condition is eqNullSafe, which deliberately admits NULL
    # keys; "source row present" therefore can't be inferred from key
    # nullness. A literal marker column is null exactly when the outer
    # join produced no source row.
    extra = [delete_col] if delete_col else []
    s = source.select(*cols, *extra).withColumn("__src", F.lit(1)).alias("s")
    cond = [F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}")) for k in keys]
    joined = t.join(s, on=cond, how="full_outer")
    matched = F.col("s.__src").isNotNull()
    if delete_col:
        # One predicate covers both DELETE cases: a tombstone with a
        # match drops the joined row (removing the target row), a
        # tombstone without one suppresses the would-be insert.
        tomb = matched & F.coalesce(F.col(f"s.{delete_col}"), F.lit(False))
        joined = joined.where(~tomb)
    out_cols = [
        F.when(matched, F.col(f"s.{k}")).otherwise(F.col(f"t.{k}")).alias(k)
        for k in keys
    ] + [
        F.when(matched, F.col(f"s.{c}")).otherwise(F.col(f"t.{c}")).alias(c)
        for c in non_keys
    ]
    return joined.select(*out_cols)


def merge_upsert_partitioned(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    partition_col: str,
    *,
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """Partition-scoped upsert for huge targets: only target partitions
    that appear in the source join at all; untouched partitions pass
    through unchanged (union). With a partitioned parquet/lakehouse
    target the semi-join filter becomes partition pruning → the merge
    cost scales with the source, not the target.

    Membership is NULL-safe: a NULL partition value in either frame is
    routed like any other value (plain isin would return NULL for NULL
    rows and silently drop them from BOTH branches — the same
    three-valued-logic data-loss class as the merge_upsert __src fix).
    The source is localCheckpoint-ed because it is consumed twice
    (partition discovery + the merge join) and Catalyst does not CSE
    across actions; unlike persist() nothing stays registered on a
    shared long-lived session (ADVICE r3 leak rule), and the following
    collect materializes immediately anyway.
    """
    source = source.localCheckpoint()
    parts = [r[0] for r in source.select(partition_col).distinct().collect()]
    non_null = [p for p in parts if p is not None]
    in_parts = (
        F.col(partition_col).isin(non_null) if non_null else F.lit(False)
    )
    if any(p is None for p in parts):
        in_parts = in_parts | F.col(partition_col).isNull()
    in_parts = F.coalesce(in_parts, F.lit(False))
    touched = target.where(in_parts)
    untouched = target.where(~in_parts)
    merged = merge_upsert(touched, source, keys, order_by=order_by)
    return untouched.unionByName(merged)


def merge_additive(
    target: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    *,
    sum_cols: Sequence[str] = (),
    count_cols: Sequence[str] = (),
    carry_cols: Sequence[str] = (),
) -> DataFrame:
    """Aggregate-combining merge — incremental view maintenance for
    rollup tables. Where `merge_upsert` REPLACES matched rows (fact
    upsert), rollup maintenance must COMBINE them: a window that spans
    the base/delta boundary has partial aggregates on both sides.

    - sum_cols: 2-dp money sums; combined in exact decimal so the
      incremental result is bit-identical to a full recompute.
    - count_cols: additive counts (caller must guarantee additivity —
      e.g. COUNT DISTINCT of a globally-unique id is additive across a
      disjoint base/delta split, but not across overlapping ones).
    - carry_cols: identical-by-construction attributes (window_end for
      a window_start key); coalesce(target, delta).

    Scale: the delta rollup is a day against years of base — Spark
    broadcasts it into the full-outer join, and on a partitioned rollup
    table the touched-window predicate prunes the base scan exactly as
    merge_upsert_partitioned does for facts.
    """
    t, s = target.alias("t"), delta.alias("s")
    cond = None
    for k in keys:
        c = F.col(f"t.{k}").eqNullSafe(F.col(f"s.{k}"))
        cond = c if cond is None else (cond & c)
    dec = lambda side, c: F.coalesce(  # noqa: E731
        F.col(f"{side}.{c}").cast("decimal(18,2)"), F.lit(0).cast("decimal(18,2)")
    )
    out_cols = [
        F.coalesce(F.col(f"t.{k}"), F.col(f"s.{k}")).alias(k) for k in keys
    ]
    # SQL SUM over an all-NULL group is NULL, and a full recompute must
    # stay bit-identical — so NULL+NULL combines to NULL, not 0.0
    # (adversarial-sweep rule; only the coalesce-to-0 arithmetic needs
    # the guard, counts are never NULL for an existing group).
    out_cols += [
        F.when(
            F.col(f"t.{c}").isNull() & F.col(f"s.{c}").isNull(), F.lit(None)
        )
        .otherwise((dec("t", c) + dec("s", c)).cast("double"))
        .alias(c)
        for c in sum_cols
    ]
    out_cols += [
        (
            F.coalesce(F.col(f"t.{c}"), F.lit(0))
            + F.coalesce(F.col(f"s.{c}"), F.lit(0))
        ).alias(c)
        for c in count_cols
    ]
    out_cols += [
        F.coalesce(F.col(f"t.{c}"), F.col(f"s.{c}")).alias(c) for c in carry_cols
    ]
    return t.join(s, cond, "full_outer").select(*out_cols)
