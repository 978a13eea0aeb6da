"""Tests for the benchmark's own pieces; none of them starts Spark.

Run from the repository root: python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import checks, inputs  # noqa: E402
from perfbench.catalog_probe import RULE, select_mix, summarize  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Span, Tracer, counts_by_group, covered,
)

KEYS = {
    "region": "r_regionkey", "nation": "n_nationkey", "customer": "c_custkey",
    "supplier": "s_suppkey", "part": "p_partkey", "orders": "o_orderkey",
    "events": "event_id", "documents": "doc_id", "embeddings": "vec_id",
}


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

def test_same_seed_gives_byte_identical_files(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    for d in (a, b):
        # Bypass the in-process cache: the generator itself must repeat.
        for name, table in inputs.catalog_tables.__wrapped__(7).items():
            inputs.write_table(table, str(d / f"{name}.parquet"))
        for i, table in enumerate(inputs.stream_backlog.__wrapped__(7, 3, 500)):
            inputs.write_table(table, str(d / f"tx-{i}.parquet"))
        inputs.write_table(inputs.load_day(7, 2, 500), str(d / "day.parquet"))
    names = sorted(os.listdir(a))
    assert names == sorted(os.listdir(b)) and len(names) == len(inputs.CATALOG_ROWS) + 4
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert mismatch == [] and errors == []


def test_other_seed_keeps_shape_and_key_domains():
    t1, t2 = inputs.catalog_tables(1), inputs.catalog_tables(2)
    for name, rows in inputs.CATALOG_ROWS.items():
        assert t1[name].num_rows == t2[name].num_rows == rows
        assert t1[name].schema == t2[name].schema
        if name in KEYS:
            assert t1[name].column(KEYS[name]).equals(t2[name].column(KEYS[name]))
    for col in ("c_nationkey", "c_mktsegment"):
        assert set(t1["customer"].column(col).to_pylist()) == set(
            t2["customer"].column(col).to_pylist())
    assert not t1["customer"].column("c_acctbal").equals(t2["customer"].column("c_acctbal"))

    s1, s2 = inputs.stream_backlog(1, 4, 2000), inputs.stream_backlog(2, 4, 2000)
    assert [f.num_rows for f in s1] == [f.num_rows for f in s2] == [2000] * 4
    for f1, f2 in zip(s1, s2):
        assert f1.schema == f2.schema
        for col, hi in (("user_id", inputs.STREAM_USERS), ("product_id", inputs.STREAM_PRODUCTS)):
            for f in (f1, f2):
                v = f.column(col).to_numpy()
                assert v.min() >= 1 and v.max() <= hi
    assert not s1[0].column("amount").equals(s2[0].column("amount"))

    d1, d2 = inputs.load_day(1, 3, 1000), inputs.load_day(2, 3, 1000)
    assert d1.num_rows == d2.num_rows == 1000 and d1.schema == d2.schema


def test_stream_files_rise_in_event_time():
    files = inputs.stream_backlog(3, 5, 300)
    bounds = [(f.column("timestamp").to_numpy().min(), f.column("timestamp").to_numpy().max())
              for f in files]
    assert all(bounds[i][1] < bounds[i + 1][0] for i in range(len(bounds) - 1))


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert covered([], 0, 10) == 0


def test_self_time_subtracts_child_coverage():
    t = Tracer()
    t.spans = [
        Span("op", 0.0, 10.0, None),
        Span("build", 1.0, 3.0, 0),
        Span("exec", 2.0, 5.0, 0),
        Span("exec.inner", 2.5, 4.5, 2),
        Span("other", 7.0, 8.0, 0),
    ]
    assert t.self_time(0) == pytest.approx(5.0)
    assert t.self_time(2) == pytest.approx(1.0)
    assert t.self_time(3) == pytest.approx(2.0)


def test_tracer_nests_spans():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    assert [s.parent for s in t.spans] == [None, 0]
    assert t.self_time(0) <= t.spans[0].duration


def test_counts_by_group_attributes_each_stage_once():
    jobs = [
        {"jobId": 0, "jobGroup": "q.build", "stageIds": [0]},
        {"jobId": 1, "jobGroup": "q.exec", "stageIds": [0, 1, 2]},
    ]
    stages = [
        {"stageId": 0, "status": "COMPLETE", "numCompleteTasks": 4, "shuffleWriteBytes": 10},
        {"stageId": 1, "status": "SKIPPED", "numCompleteTasks": 0},
        {"stageId": 2, "status": "COMPLETE", "numCompleteTasks": 1, "numFailedTasks": 1},
    ]
    got = counts_by_group(jobs, stages)
    assert got["q.build"]["jobs"] == 1 and got["q.build"]["stages"] == 1
    assert got["q.build"]["tasks"] == 4 and got["q.build"]["shuffle_write_bytes"] == 10
    assert got["q.exec"]["stages"] == 1 and got["q.exec"]["failed_tasks"] == 1


# ---------------------------------------------------------------------------
# output checkers
# ---------------------------------------------------------------------------

def test_compare_frames_flags_corruption():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.5, 2.5]})
    got = want.iloc[::-1].reset_index(drop=True)[["v", "k"]]
    assert checks.compare_frames(got, want) == []
    bad = got.copy()
    bad.loc[0, "v"] = 9.0
    assert checks.compare_frames(bad, want)
    assert checks.compare_frames(got.iloc[:2], want)
    assert checks.compare_frames(got.rename(columns={"v": "w"}), want)


def _fmt(ms: pd.Index) -> list[str]:
    return pd.to_datetime(ms, unit="ms").strftime("%Y-%m-%d %H:%M:%S").tolist()


def _trend_frame(want: pd.DataFrame, key: str, total: str) -> pd.DataFrame:
    """The trend table a correct pipeline emits for ``want``."""
    start = want.index.get_level_values(0)
    return pd.DataFrame({
        key: want.index.get_level_values(1), total: want["cents"].to_numpy() / 100.0,
        "num_transactions": want["n"].to_numpy(), "window_start": _fmt(start),
        "window_end": _fmt(start + 60_000),
    })


@pytest.fixture
def stream_case():
    dims = inputs.stream_dims(4)
    tx = pa.concat_tables(inputs.stream_backlog(4, 3, 400))
    want = checks.expected_stream(tx, dims["users"], dims["products"])
    frame = tx.to_pandas()
    users = dims["users"].to_pandas().set_index("user_id")["country"]
    prods = dims["products"].to_pandas().set_index("product_id")["country"]
    fraud = pd.DataFrame({
        "transaction_id": frame["transaction_id"],
        "high_value_flag": (frame["amount"] > 500).astype(int),
        "country_mismatch": (frame["user_id"].map(users)
                             != frame["product_id"].map(prods)).astype(int),
    })
    user_t = _trend_frame(want["trends"]["user_id"], "user_id", "total_spent")
    cat_t = _trend_frame(want["trends"]["category"], "category", "total_sales")
    return fraud, user_t, cat_t, want


def test_stream_check_accepts_correct_output(stream_case):
    fraud, user_t, cat_t, want = stream_case
    assert len(user_t) > 0 and len(cat_t) > 0
    assert checks.check_stream(fraud, user_t, cat_t, want) == []


def test_stream_check_flags_each_corruption(stream_case):
    fraud, user_t, cat_t, want = stream_case
    assert checks.check_stream(fraud.iloc[1:], user_t, cat_t, want)
    flipped = fraud.copy()
    flipped.loc[0, "high_value_flag"] ^= 1
    assert checks.check_stream(flipped, user_t, cat_t, want)
    wrong_sum = user_t.copy()
    wrong_sum.loc[0, "total_spent"] += 0.01
    assert checks.check_stream(fraud, wrong_sum, cat_t, want)
    assert checks.check_stream(fraud, user_t, cat_t.iloc[1:], want)
    doubled = cat_t.copy()
    doubled["num_transactions"] *= 2
    assert checks.check_stream(fraud, user_t, doubled, want)
    open_window = pd.concat([user_t, user_t.iloc[:1].assign(window_start="2030-01-01 00:00:00")])
    assert checks.check_stream(fraud, open_window, cat_t, want)


@pytest.fixture
def load_case():
    dims = {k: v for k, v in inputs.load_dims(4).items()}
    days = [inputs.load_day(4, d, 800) for d in range(3)]
    want = checks.expected_load(days, dims)
    last = (pa.concat_tables(days).to_pandas().sort_values("ts")
            .drop_duplicates("event_id", keep="last"))
    n_part, n_supp = dims["part"].num_rows, dims["supplier"].num_rows
    cust = dims["customer"].to_pandas().set_index("c_custkey")["c_nationkey"]
    supp = dims["supplier"].to_pandas().set_index("s_suppkey")["s_nationkey"]
    fraud = pd.DataFrame({
        "transaction_id": last["event_id"].to_numpy(),
        "amount": last["value"].to_numpy(),
        "high_value_flag": (last["value"] > 500).astype(int).to_numpy(),
        "country_mismatch": (last["user_id"].map(cust).to_numpy()
                             != ((last["event_id"] % n_part) % n_supp).map(supp).to_numpy()
                             ).astype(int),
    })
    user_t = _trend_frame(want["trends"]["user_id"], "user_id", "total_spent")
    cat_t = _trend_frame(want["trends"]["category"], "category", "total_sales")
    return fraud, user_t, cat_t, want


def test_load_fixture_resends_earlier_events():
    days = [inputs.load_day(4, d, 800) for d in range(3)]
    ids = pa.concat_tables(days).column("event_id").to_numpy()
    assert len(np.unique(ids)) < len(ids)


def test_load_check_accepts_correct_output(load_case):
    assert checks.check_load(*load_case) == []


def test_load_check_flags_each_corruption(load_case):
    fraud, user_t, cat_t, want = load_case
    assert checks.check_load(fraud.iloc[1:], user_t, cat_t, want)
    stale = fraud.copy()
    stale.loc[0, "amount"] += 1.0
    assert checks.check_load(stale, user_t, cat_t, want)
    assert checks.check_load(pd.concat([fraud, fraud.iloc[:1]]), user_t, cat_t, want)
    off_by_one = user_t.copy()
    off_by_one.loc[0, "num_transactions"] += 1
    assert checks.check_load(fraud, off_by_one, cat_t, want)
    assert checks.check_load(fraud, user_t, cat_t.iloc[1:], want)


# ---------------------------------------------------------------------------
# catalog mix
# ---------------------------------------------------------------------------

def _probe_entry(seconds: float, build_jobs: int, exec_jobs: int, **kw) -> dict:
    return {"build_s": seconds / 2, "exec_s": seconds / 2, "build_jobs": build_jobs,
            "exec_jobs": exec_jobs, "stream": False, "oracle": True, **kw}


def test_select_mix_takes_one_query_per_latency_stratum():
    probe = {f"q{i}": _probe_entry(0.1 * (i + 1), 1, 1 + i % 3) for i in range(9)}
    # Excluded whatever their shape: a streaming query and one without an oracle.
    probe["streams"] = _probe_entry(0.15, 1, 1, stream=True)
    probe["no_oracle"] = _probe_entry(0.15, 1, 1, oracle=False)
    mix = select_mix(probe, 3)
    # Strata q0-q2, q3-q5, q6-q8. The catalog's build-job share is
    # 9 / (9 + 18) = 1/3; q1, q4 and q7 have exactly that share.
    assert mix == ["q1", "q4", "q7"]
    assert summarize(probe, mix)["build_job_share"] == pytest.approx(1 / 3, abs=1e-3)


def test_pinned_mix_records_its_rule_and_shape():
    with open(os.path.join(ROOT, "perfbench", "catalog_mix.json")) as fh:
        pinned = json.load(fh)
    assert pinned["rule"] == RULE
    assert len(pinned["queries"]) == pinned["size"] == pinned["mix"]["queries"]
    assert pinned["catalog"]["queries"] >= 150


# ---------------------------------------------------------------------------
# BENCHMARK.json
# ---------------------------------------------------------------------------

def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {w["name"] for w in spec["workloads"]} == {"batch", "stream"}
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25
