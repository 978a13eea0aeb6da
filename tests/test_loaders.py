"""Tests for the warehouse loader utilities (P7/P8/P11, S11-S13)."""

from __future__ import annotations

import os

from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from smart_fraud_detection_data_pipeline_spark.operators import loaders as L
from smart_fraud_detection_data_pipeline_spark.sources.tables import read_parquet


def test_uppercase_columns(spark):
    df = spark.createDataFrame([Row(a=1, b_c="x")])
    assert L.uppercase_columns(df).columns == ["A", "B_C"]


def test_pad_missing_columns_typed_nulls(spark):
    df = spark.createDataFrame([Row(a=1)])
    required = StructType(
        [StructField("a", StringType()), StructField("extra", DoubleType())]
    )
    out = L.pad_missing_columns(df, required)
    assert out.columns == ["a", "extra"]
    field = {f.name: f.dataType for f in out.schema.fields}
    assert isinstance(field["extra"], DoubleType)  # typed, not string-null
    assert out.collect()[0].extra is None


def test_select_required_reorders(spark, tmp_path):
    """P7: a first load (no target) comes back in the required column
    order, whatever order the source files hold."""
    p = str(tmp_path / "src")
    spark.createDataFrame([Row(b=2, a=1)]).write.parquet(p)
    assert L.warehouse_load(spark, p, None, ["a"], columns=["a", "b"]).columns == ["a", "b"]


def test_partitioned_prefix_roundtrip_with_typed_discovery(spark, tmp_path):
    """S11-S13: write Hive-partitioned, read back with typed partition
    values (the reference recovers them as strings by path parsing —
    Spark gives them back typed for free)."""
    p = str(tmp_path / "prefix")
    df = spark.createDataFrame(
        [Row(k=1, v=1.0, year=2024), Row(k=2, v=2.0, year=2025)]
    )
    df.write.partitionBy("year").parquet(p)
    back = read_parquet(spark, p)
    assert dict(back.dtypes)["year"] == "int"
    assert {r.year for r in back.collect()} == {2024, 2025}
    # _SUCCESS marker files are ignored by the file index
    assert os.path.exists(os.path.join(p, "_SUCCESS"))


def test_warehouse_load_composite(spark, tmp_path):
    p = str(tmp_path / "src")
    first = spark.createDataFrame(
        [Row(k=1, v=10.0, seq=1), Row(k=2, v=20.0, seq=1)]
    )
    reemit = spark.createDataFrame([Row(k=2, v=99.0, seq=2)])
    first.write.mode("append").parquet(p)
    reemit.write.mode("append").parquet(p)
    target = spark.createDataFrame([Row(k=3, v=30.0, seq=0)])
    out = L.warehouse_load(
        spark, p, target, ["k"], order_by=["seq"], columns=["k", "v", "seq"]
    )
    got = {r.k: r.v for r in out.collect()}
    assert got == {1: 10.0, 2: 99.0, 3: 30.0}  # keep-last + upsert + keep-old


def test_partition_pruning_reaches_scan(spark, tmp_path):
    """The 100 TB incremental path: a partition predicate must prune at
    the file-index level, not filter post-scan."""
    from smart_fraud_detection_data_pipeline_spark.plans.explain import formatted_plan

    p = str(tmp_path / "pp")
    spark.range(100).select(
        F.col("id"), (F.col("id") % 4).alias("part")
    ).write.partitionBy("part").parquet(p)
    df = read_parquet(spark, p).where(F.col("part") == 2)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan and "part" in plan.split("PartitionFilters")[1][:120]


def test_time_layout_files_have_disjoint_ts_ranges(spark, sf_dir, tmp_path):
    """write_time_layout: the range exchange must land in the plan, and
    the written files' parquet footer min/max for ts must be pairwise
    disjoint — the property that lets a time-window scan skip files."""
    import glob

    import pyarrow.parquet as pq

    from smart_fraud_detection_data_pipeline_spark.operators.loaders import (
        write_time_layout,
    )
    from smart_fraud_detection_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    plan = (
        ev.repartitionByRange(8, F.col("ts"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "rangepartitioning" in plan.lower()

    path = str(tmp_path / "bytime")
    write_time_layout(ev, path, ts_col="ts", n_ranges=8)
    spans = []
    for f in glob.glob(f"{path}/*.parquet"):
        md = pq.read_metadata(f)
        idx = md.schema.names.index("ts")
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    spans.sort()
    assert len(spans) >= 4  # multiple real files came out
    for (a_min, a_max), (b_min, b_max) in zip(spans, spans[1:]):
        assert a_max <= b_min  # disjoint (boundary equality allowed)


def test_zorder_layout_files_have_tight_bounding_boxes(spark, sf_dir, tmp_path):
    """write_zorder_layout: each file's (user_id, value) parquet-footer
    bounding box must cover a small fraction of the full domain area —
    the property that lets a predicate on EITHER column skip files. A
    single-column sort would give ~full-span boxes on the other column
    (area fraction ~1/n_files only on one axis); Morton clustering
    bounds BOTH axes, so the mean area fraction stays well below the
    1/n_files of a one-axis layout."""
    import glob

    import pyarrow.parquet as pq

    from smart_fraud_detection_data_pipeline_spark.operators.loaders import (
        write_zorder_layout,
    )
    from smart_fraud_detection_data_pipeline_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    lo_u, hi_u, lo_v, hi_v = ev.agg(
        F.min("user_id"), F.max("user_id"), F.min("value"), F.max("value")
    ).first()
    domain_area = (hi_u - lo_u) * (hi_v - lo_v)

    path = str(tmp_path / "zorder")
    write_zorder_layout(ev, path, cols=("user_id", "value"), n_ranges=16)

    files = glob.glob(f"{path}/*.parquet")
    assert len(files) >= 8
    fracs = []
    for f in files:
        md = pq.read_metadata(f)
        iu = md.schema.names.index("user_id")
        iv = md.schema.names.index("value")
        us, vs = [], []
        for rg in range(md.num_row_groups):
            su = md.row_group(rg).column(iu).statistics
            sv = md.row_group(rg).column(iv).statistics
            us += [su.min, su.max]
            vs += [sv.min, sv.max]
        fracs.append((max(us) - min(us)) * (max(vs) - min(vs)) / domain_area)
    mean_frac = sum(fracs) / len(fracs)
    # 16 z-ranges over a 2-D domain -> boxes around 1/16 of the area;
    # a one-axis sort floors at ~1/16 on one axis * 1.0 on the other.
    assert mean_frac < 0.30, f"bounding boxes too loose: {mean_frac:.3f}"
    # and values survive the rewrite exactly
    assert spark.read.parquet(path).count() == ev.count()


def test_zorder_key_is_morton_code(spark):
    """zorder_key bit-interleave sanity on a known grid: quantization is
    identity on [0, 2^bits) ints, and the interleave of (x=3, y=5) with
    col 0 in the high lane must be the textbook Morton code."""
    from smart_fraud_detection_data_pipeline_spark.operators.loaders import zorder_key

    df = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8)], "x long, y long"
    )
    keyed, z = zorder_key(df, ["x", "y"], bits=3)
    got = {(r.x, r.y): r["__z"] for r in keyed.select("x", "y", "__z").collect()}

    def morton(x, y, bits=3):
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i + 1)
            out |= ((y >> i) & 1) << (2 * i)
        return out

    assert got[(3, 5)] == morton(3, 5)
    assert all(got[(x, y)] == morton(x, y) for x in range(8) for y in range(8))


def test_dynamic_partition_overwrite_replaces_only_touched(spark, tmp_path):
    """Idempotent partition reload (the warehouse primitive beside
    MERGE): with partitionOverwriteMode=dynamic, overwriting a frame
    that contains only partition P replaces P and leaves every other
    partition untouched — static mode would truncate the whole table.
    At 100 TB this is how a failed day is re-loaded without rewriting
    history."""
    from pyspark.sql import Row, functions as F

    path = str(tmp_path / "t")
    base = spark.createDataFrame(
        [Row(day="d1", v=1), Row(day="d2", v=2), Row(day="d3", v=3)]
    )
    base.write.partitionBy("day").parquet(path)
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "dynamic")
        spark.createDataFrame([Row(day="d2", v=22)]).write.mode(
            "overwrite"
        ).partitionBy("day").parquet(path)
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)
    got = {r.day: r.v for r in spark.read.parquet(path).collect()}
    assert got == {"d1": 1, "d2": 22, "d3": 3}


def test_compact_dataset_reduces_files_preserves_rows(spark, tmp_path):
    """Compaction must hit the byte-budget file count without touching a
    row, and the rewrite must be a NARROW coalesce — an Exchange in the
    rewrite plan would mean every byte of a 100 TB compaction crosses
    the network for a file-count goal that needs no co-location."""
    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    df = spark.range(10_000).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )
    df.repartition(24).write.parquet(src)
    assert len(L.dataset_files(spark, src)) == 24
    n = L.compact_dataset(spark, src, dst)
    assert n == 1  # 10k tiny rows fit one 128 MB budget file
    assert len(L.dataset_files(spark, dst)) == 1
    assert spark.read.parquet(dst).count() == 10_000
    assert (
        spark.read.parquet(dst).exceptAll(df).count() == 0
        and df.exceptAll(spark.read.parquet(dst)).count() == 0
    )
    plan = spark.read.parquet(src).coalesce(n)._jdf.queryExecution().executedPlan().toString()
    assert "Coalesce" in plan and "Exchange" not in plan


def test_compact_dataset_empty_input(spark, tmp_path):
    """An empty dataset compacts to an empty-but-readable dataset (Spark
    writes one schema-bearing file for an empty plan)."""
    src, dst = str(tmp_path / "esrc"), str(tmp_path / "edst")
    spark.range(5).where(F.lit(False)).write.parquet(src)
    assert L.compact_dataset(spark, src, dst) == 1
    assert spark.read.parquet(dst).count() == 0


def test_merged_schema_scan_null_fills_old_files(spark, tmp_path):
    """Files written before a column existed must read as constant-NULL
    for that column under mergeSchema — the add-column half of schema
    evolution, resolved at footer-merge time with no per-row work."""
    src = str(tmp_path / "evolve")
    spark.createDataFrame([Row(a=1, b="x")]).write.mode("append").parquet(src)
    spark.createDataFrame([Row(a=2, b="y", c=3.5)]).write.mode("append").parquet(src)
    got = {
        r.a: (r.b, r.c)
        for r in spark.read.option("mergeSchema", "true").parquet(src).collect()
    }
    assert got == {1: ("x", None), 2: ("y", 3.5)}


def test_dataset_files_skips_hidden_directory_trees(spark, tmp_path):
    """Hidden-path exclusion must apply to every segment below the
    listing root, not just the basename (ADVICE r7): a _temporary/ tree
    left by a crashed write would otherwise inflate the byte total and
    the compaction file budget. Spark's own file index skips hidden
    segments at every level."""
    src = tmp_path / "hsrc"
    spark.range(100).write.parquet(str(src))
    visible = L.dataset_files(spark, str(src))
    assert len(visible) >= 1
    # a crashed-write leftover: data file under a hidden directory
    tmp_tree = src / "_temporary" / "0" / "task_000"
    tmp_tree.mkdir(parents=True)
    (tmp_tree / "part-junk.parquet").write_bytes(b"x" * 4096)
    # and a hidden dotted dir with a visibly-named file inside
    dot_tree = src / ".staging"
    dot_tree.mkdir()
    (dot_tree / "part-junk2.parquet").write_bytes(b"y" * 4096)
    after = L.dataset_files(spark, str(src))
    assert sorted(after) == sorted(visible)
