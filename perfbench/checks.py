"""Output checks. Pure functions over pandas/pyarrow data, no Spark.

Each checker returns a list of problem strings; an empty list means the
output is correct. The workloads count every problem as a failed
operation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

WATERMARK_DELAY_MS = 15 * 60 * 1000
HLL_RSD = 0.05


# ---------------------------------------------------------------------------
# catalog: Spark result vs DuckDB oracle, the rule tools/oracle_check.py uses
# ---------------------------------------------------------------------------

def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
    order = df.astype(str).sort_values(by=list(df.columns), kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Row count, column names, then order-insensitive exact values."""
    if len(got) != len(want):
        return [f"rowcount got={len(got)} want={len(want)}"]
    if sorted(got.columns) != sorted(want.columns):
        return [f"columns got={sorted(got.columns)} want={sorted(want.columns)}"]
    a, b = _normalize(got), _normalize(want)
    problems = []
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype != bv.dtype:
            problems.append(f"dtype[{c}] got={av.dtype} want={bv.dtype}")
            continue
        eq = (av == bv) | (av.isna() & bv.isna())
        if not bool(eq.all()):
            bad = int((~eq).to_numpy().argmax())
            problems.append(
                f"values[{c}] row {bad}: got={av[bad]!r} want={bv[bad]!r} "
                f"({int((~eq).sum())} rows differ)"
            )
    return problems


# ---------------------------------------------------------------------------
# stream: fraud records and closed windows recomputed from the inputs
# ---------------------------------------------------------------------------

def _cents(values) -> np.ndarray:
    return np.round(np.asarray(values, dtype=np.float64) * 100).astype(np.int64)


def expected_stream(transactions: pa.Table, users: pa.Table, products: pa.Table) -> dict:
    """What ``run_pipeline(mode="idiomatic")`` must emit once it has
    drained ``transactions``: one enriched row per transaction, and one
    trend row per (window, key) whose window the final watermark closed."""
    tx = transactions.select(
        ["transaction_id", "user_id", "product_id", "amount", "timestamp"]
    ).to_pandas()
    u = users.select(["user_id", "country"]).to_pandas().set_index("user_id")["country"]
    p = products.to_pandas().set_index("product_id")
    user_country = tx["user_id"].map(u)
    prod_country = tx["product_id"].map(p["country"])
    high = tx["amount"] > 500.0
    mismatch = user_country.notna() & prod_country.notna() & (user_country != prod_country)

    ts_ms = tx["timestamp"].astype("datetime64[us]").astype(np.int64) // 1000
    watermark = int(ts_ms.max()) - WATERMARK_DELAY_MS
    start_ms = ts_ms - ts_ms % 60_000
    closed = start_ms + 60_000 <= watermark
    frame = pd.DataFrame({
        "start_ms": start_ms, "cents": _cents(tx["amount"]),
        "user_id": tx["user_id"], "category": tx["product_id"].map(p["category"]),
        "transaction_id": tx["transaction_id"],
    })[closed]
    trends = {}
    for key in ("user_id", "category"):
        g = frame.groupby(["start_ms", key])
        trends[key] = pd.DataFrame({
            "cents": g["cents"].sum(), "n": g["transaction_id"].nunique(),
        })
    return {
        "rows": len(tx),
        "ids": set(tx["transaction_id"]),
        "high_value": int(high.sum()),
        "country_mismatch": int(mismatch.sum()),
        "trends": trends,
    }


def _window_ms(col: pd.Series) -> pd.Series:
    return pd.to_datetime(col, format="%Y-%m-%d %H:%M:%S").astype("datetime64[ms]").astype(np.int64)


def check_trends(got: pd.DataFrame, key: str, total_col: str, want: pd.DataFrame,
                 approx_count: bool) -> list[str]:
    """Emitted windows == closed windows; exact sums; counts exact, or
    within HyperLogLog error when the pipeline counts approximately."""
    problems = []
    g = pd.DataFrame({
        "start_ms": _window_ms(got["window_start"]), key: got[key],
        "cents": _cents(got[total_col]), "n": got["num_transactions"].astype(np.int64),
    })
    if g.duplicated(["start_ms", key]).any():
        problems.append(f"{key} trends: a (window, key) was emitted twice")
    g = g.drop_duplicates(["start_ms", key]).set_index(["start_ms", key])
    missing = len(want.index.difference(g.index))
    extra = len(g.index.difference(want.index))
    if missing or extra:
        problems.append(
            f"{key} trends: {len(g)} windows, want {len(want)} "
            f"({missing} missing, {extra} unexpected)"
        )
        return problems
    g = g.loc[want.index]
    bad = int((g["cents"] != want["cents"]).sum())
    if bad:
        problems.append(f"{key} trends: {bad} windows with a wrong {total_col}")
    err = (g["n"] - want["n"]).abs()
    # approx_count_distinct has a 5% relative standard deviation: allow
    # three of them, and never less than 2 at tiny counts.
    tol = np.maximum(2, np.ceil(3 * HLL_RSD * want["n"])) if approx_count else 0
    bad = err > tol
    if bad.any():
        first = bad.to_numpy().argmax()
        problems.append(
            f"{key} trends: {int(bad.sum())} windows with a wrong num_transactions "
            f"(first {want.index[first]}: got {g['n'].iloc[first]}, want {want['n'].iloc[first]})"
        )
    return problems


def check_stream(fraud: pd.DataFrame, user_trends: pd.DataFrame,
                 category_trends: pd.DataFrame, want: dict) -> list[str]:
    problems = []
    if len(fraud) != want["rows"]:
        problems.append(f"fraud_records: {len(fraud)} rows, want {want['rows']}")
    elif set(fraud["transaction_id"]) != want["ids"]:
        problems.append("fraud_records: transaction ids differ from the input")
    for col, key in (("high_value_flag", "high_value"), ("country_mismatch", "country_mismatch")):
        n = int(fraud[col].sum())
        if n != want[key]:
            problems.append(f"fraud_records: {n} rows with {col}=1, want {want[key]}")
    problems += check_trends(user_trends, "user_id", "total_spent",
                             want["trends"]["user_id"], approx_count=True)
    problems += check_trends(category_trends, "category", "total_sales",
                             want["trends"]["category"], approx_count=True)
    return problems


# ---------------------------------------------------------------------------
# load: marts recomputed from the loaded days
# ---------------------------------------------------------------------------

def expected_load(days: list[pa.Table], dims: dict[str, pa.Table]) -> dict:
    """Marts after loading ``days`` in order: fraud_records keeps the
    last row per event_id by timestamp; the trend marts aggregate every
    ingested row per 1-minute window (window keys never span days)."""
    ev = pa.concat_tables(days).to_pandas()
    n_part = dims["part"].num_rows
    n_supp = dims["supplier"].num_rows
    cust = dims["customer"].to_pandas().set_index("c_custkey")["c_nationkey"]
    part = dims["part"].to_pandas().set_index("p_partkey")
    supp = dims["supplier"].to_pandas().set_index("s_suppkey")["s_nationkey"]
    ev["product_id"] = ev["event_id"] % n_part
    ev["category"] = ev["product_id"].map(part["p_type"])
    prod_country = (ev["product_id"] % n_supp).map(supp)
    user_country = ev["user_id"].map(cust)
    ev["mismatch"] = (user_country.notna() & prod_country.notna()
                      & (user_country != prod_country)).astype(int)
    ev["cents"] = _cents(ev["value"])
    ts = ev["ts"].astype("datetime64[us]").astype(np.int64) // 1000
    ev["start_ms"] = ts - ts % 60_000
    last = ev.sort_values("ts").drop_duplicates("event_id", keep="last").set_index("event_id")
    trends = {}
    for key in ("user_id", "category"):
        g = ev.groupby(["start_ms", key])
        trends[key] = pd.DataFrame({"cents": g["cents"].sum(), "n": g["event_id"].nunique()})
    return {
        "ids": last.index,
        "cents": last["cents"],
        "high_value": int((last["value"] > 500.0).sum()),
        "country_mismatch": int(last["mismatch"].sum()),
        "trends": trends,
    }


def check_load(fraud: pd.DataFrame, user_trends: pd.DataFrame,
               category_trends: pd.DataFrame, want: dict) -> list[str]:
    problems = []
    got = fraud.set_index("transaction_id")
    if got.index.has_duplicates:
        problems.append("fraud_records mart: duplicate transaction_id")
    elif len(got) != len(want["ids"]) or not got.index.sort_values().equals(want["ids"].sort_values()):
        problems.append(f"fraud_records mart: {len(got)} rows, want {len(want['ids'])}")
    else:
        bad = int((_cents(got.loc[want["ids"], "amount"]) != want["cents"].to_numpy()).sum())
        if bad:
            problems.append(f"fraud_records mart: {bad} rows are not the last version")
    for col, key in (("high_value_flag", "high_value"), ("country_mismatch", "country_mismatch")):
        n = int(fraud[col].sum())
        if n != want[key]:
            problems.append(f"fraud_records mart: {n} rows with {col}=1, want {want[key]}")
    problems += check_trends(user_trends, "user_id", "total_spent",
                             want["trends"]["user_id"], approx_count=False)
    problems += check_trends(category_trends, "category", "total_sales",
                             want["trends"]["category"], approx_count=False)
    return problems
