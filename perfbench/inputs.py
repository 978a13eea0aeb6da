"""Seeded input generators for the three benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical parquet, and a different seed changes values and row
order but never row counts, column types or key domains. The program
under test only ever sees the files these functions write.

- ``catalog_tables``: the ten-table star schema the query catalog
  reads, at the row counts and value domains of the sf0.01 testdata.
- ``stream_backlog``: reference-shape transactions (users 1..2000,
  products 1..500, uniform keys) split into files whose event time rises
  file by file, plus the users/products dimensions.
- ``load_dims`` / ``load_day``: customer/part/supplier dimensions at
  sf0.1 size and one events slice per day for the nightly loaders.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta
from functools import lru_cache

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "hot", "old", "cold", "green", "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "rod", "plate", "wheel"]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
LANGS = ["en", "zh", "de", "es", "fr"]
VOCAB = (
    "the fast key order sort table scan merge part window small hash join "
    "batch stream spark group query row data slow filter customer line "
    "value agg column big a vector"
).split()
EMBED_DIM = 64

#: Row counts of the sf0.01 testdata, which the catalog fixture keeps.
CATALOG_ROWS = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 500, "embeddings": 500,
}

PAYMENT_METHODS = ["credit_card", "debit_card", "paypal", "bank_transfer"]
COUNTRIES = ["US", "IN", "GB", "DE", "FR", "BR", "JP", "CA"]
CATEGORIES = ["electronics", "clothing", "home", "books", "sports", "toys"]
STREAM_USERS = 2000
STREAM_PRODUCTS = 500
STREAM_START = datetime(2024, 3, 10, 8, 0, 0)


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, table) so adding a table never
    shifts the values of another."""
    return np.random.default_rng([seed, sum(ord(c) << (8 * i) for i, c in enumerate(stream))])


def _cents(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    """2-dp money values; the engine's exact-decimal sums assume 2 dp."""
    return rng.integers(int(round(lo * 100)), int(round(hi * 100)) + 1, n) / 100.0


def _ts(base: datetime, micros: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + micros.astype("timedelta64[us]"), type=pa.timestamp("us"))


def write_table(table: pa.Table, path: str) -> None:
    """Deterministic parquet write (no statistics that embed wall time)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------

@lru_cache(maxsize=4)
def catalog_tables(seed: int) -> dict[str, pa.Table]:
    n = CATALOG_ROWS
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })

    r = _rng(seed, "nation")
    # Every region keeps at least one nation whatever the seed.
    regions = np.concatenate([np.arange(5), r.integers(0, 5, n["nation"] - 5)])
    r.shuffle(regions)
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(n["nation"]), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(n["nation"])],
        "n_regionkey": pa.array(regions, pa.int32()),
    })

    r = _rng(seed, "customer")
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "c_acctbal": _cents(r, k, -999.99, 9999.99),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, k)],
    })

    r = _rng(seed, "supplier")
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "s_acctbal": _cents(r, k, -999.99, 9999.99),
    })

    r = _rng(seed, "part")
    k = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k), pa.int64()),
        "p_name": np.array(names)[r.integers(0, len(names), k)],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, k)],
        "p_type": np.array(PTYPES)[r.integers(0, len(PTYPES), k)],
        "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
        "p_retailprice": 900.0 + r.integers(0, 1000, k) / 10.0,
    })

    r = _rng(seed, "orders")
    k = n["orders"]
    order_day = r.integers(0, 2404, k)  # 1995-01-01 .. 2001-08-01
    day_us = 86_400 * 1_000_000
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k)],
        "o_totalprice": _cents(r, k, 1000.0, 500000.0),
        "o_orderdate": _ts(datetime(1995, 1, 1), order_day * day_us),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, k)],
    })

    r = _rng(seed, "lineitem")
    k = n["lineitem"]
    l_order = np.sort(r.integers(0, n["orders"], k))
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _cents(r, k, 900.0, 105000.0),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, k)],
        "l_shipdate": _ts(
            datetime(1995, 1, 1), (order_day[l_order] + r.integers(1, 95, k)) * day_us
        ),
    })

    r = _rng(seed, "events")
    k = n["events"]
    # Distinct, sorted event times over 30 days; event_id follows time.
    ts = np.sort(r.choice(30 * day_us, size=k, replace=False))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": _ts(datetime(2024, 1, 1), ts),
        "user_id": pa.array(r.integers(0, 150, k), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, k)],
        "value": _cents(r, k, 0.01, 490.0),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)],
    })

    r = _rng(seed, "documents")
    k = n["documents"]
    lengths = r.integers(8, 90, k)
    words = np.array(VOCAB)[r.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(k)],
        "lang": np.array(LANGS)[r.integers(0, 5, k)],
        "source": [f"src{s}" for s in r.integers(0, 20, k)],
        "n_chars": pa.array(r.integers(48, 554, k), pa.int64()),
    })

    r = _rng(seed, "embeddings")
    k = n["embeddings"]
    labels = r.integers(0, 10, k)
    centroids = r.normal(0.0, 1.0, (10, EMBED_DIM))
    vecs = (centroids[labels] + r.normal(0.0, 0.3, (k, EMBED_DIM))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return out


def write_catalog(seed: int, sf_dir: str) -> dict[str, pa.Table]:
    tables = catalog_tables(seed)
    for name, table in tables.items():
        write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
    return tables


# ---------------------------------------------------------------------------
# stream
# ---------------------------------------------------------------------------

@lru_cache(maxsize=4)
def stream_dims(seed: int) -> dict[str, pa.Table]:
    """users and products in the reference's dimension shapes."""
    r = _rng(seed, "stream_users")
    u = STREAM_USERS
    users = pa.table({
        "user_id": pa.array(np.arange(1, u + 1), pa.int32()),
        "name": [f"user_{i}" for i in range(1, u + 1)],
        "email": [f"user_{i}@example.com" for i in range(1, u + 1)],
        "country": np.array(COUNTRIES)[r.integers(0, len(COUNTRIES), u)],
        "signup_date": _ts(datetime(2023, 1, 1), r.integers(0, 365 * 86_400, u) * 1_000_000),
    })
    r = _rng(seed, "stream_products")
    p = STREAM_PRODUCTS
    products = pa.table({
        "product_id": pa.array(np.arange(1, p + 1), pa.int32()),
        "name": [f"product_{i}" for i in range(1, p + 1)],
        "category": np.array(CATEGORIES)[r.integers(0, len(CATEGORIES), p)],
        "base_price": _cents(r, p, 5.0, 1500.0),
        "supplier": [f"supplier_{s}" for s in r.integers(1, 51, p)],
        "country": np.array(COUNTRIES)[r.integers(0, len(COUNTRIES), p)],
        "in_stock": r.integers(0, 2, p).astype(bool),
        "discount": r.integers(0, 31, p).astype(np.float64),
        "product_added_date": _ts(datetime(2022, 1, 1), r.integers(0, 365 * 86_400, p) * 1_000_000),
    })
    return {"users": users, "products": products}


@lru_cache(maxsize=4)
def stream_backlog(seed: int, n_files: int, rows_per_file: int,
                   span_s: float = 7200.0) -> list[pa.Table]:
    """Transaction files in event-time order: file i covers the i-th
    slice of ``span_s`` seconds, rows shuffled inside the slice. The
    slices rise monotonically, so with a 15-minute watermark no row is
    ever late and windows close during the drain."""
    r = _rng(seed, "stream_tx")
    slice_us = int(span_s * 1_000_000 / n_files)
    files = []
    for i in range(n_files):
        k = rows_per_file
        offs = i * slice_us + r.integers(0, slice_us, k)
        ids = r.integers(0, 2**63 - 1, k, dtype=np.int64)
        files.append(pa.table({
            "transaction_id": np.char.add(f"{i:04d}-", np.char.mod("%016x", ids)),
            "user_id": pa.array(r.integers(1, STREAM_USERS + 1, k), pa.int32()),
            "product_id": pa.array(r.integers(1, STREAM_PRODUCTS + 1, k), pa.int32()),
            "store_id": np.char.add("store_", r.integers(1, 21, k).astype(str)),
            "amount": _cents(r, k, 1.0, 1000.0),
            "payment_method": np.array(PAYMENT_METHODS)[r.integers(0, len(PAYMENT_METHODS), k)],
            "country": np.array(COUNTRIES)[r.integers(0, len(COUNTRIES), k)],
            "timestamp": _ts(STREAM_START, offs),
        }))
    return files


def write_stream(seed: int, root: str, n_files: int, rows_per_file: int,
                 name: str = "transactions") -> tuple[dict[str, pa.Table], list[pa.Table]]:
    """Dimensions as ``<root>/{users,products}.parquet`` and the backlog
    as the directory ``<root>/<name>.parquet/part-NNNN.parquet``. File
    mtimes rise one second per file, so a file source with
    ``maxFilesPerTrigger=1`` takes them in event-time order."""
    dims = stream_dims(seed)
    for dname, table in dims.items():
        write_table(table, os.path.join(root, f"{dname}.parquet"))
    files = stream_backlog(seed, n_files, rows_per_file)
    backlog = os.path.join(root, f"{name}.parquet")
    t0 = 1_700_000_000
    for i, table in enumerate(files):
        path = os.path.join(backlog, f"part-{i:04d}.parquet")
        write_table(table, path)
        os.utime(path, (t0 + i, t0 + i))
    return dims, files


# ---------------------------------------------------------------------------
# load
# ---------------------------------------------------------------------------

#: sf0.1-sized dimensions for the nightly loaders.
LOAD_DIM_ROWS = {"customer": 15000, "part": 20000, "supplier": 1000}
LOAD_START = datetime(2024, 2, 1)
#: Share of a day's events that re-send an earlier transaction with a
#: later timestamp, so keep-last dedup and MERGE updates do real work.
RESEND_SHARE = 0.02


@lru_cache(maxsize=4)
def load_dims(seed: int) -> dict[str, pa.Table]:
    r = _rng(seed, "load_dims")
    c, p, s = (LOAD_DIM_ROWS[k] for k in ("customer", "part", "supplier"))
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    return {
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(r.integers(0, 25, c), pa.int32()),
            "c_acctbal": _cents(r, c, -999.99, 9999.99),
            "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, c)],
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": np.array(names)[r.integers(0, len(names), p)],
            "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, p)],
            "p_type": np.array(PTYPES)[r.integers(0, len(PTYPES), p)],
            "p_size": pa.array(r.integers(1, 51, p), pa.int32()),
            "p_retailprice": 900.0 + r.integers(0, 1000, p) / 10.0,
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(r.integers(0, 25, s), pa.int32()),
            "s_acctbal": _cents(r, s, -999.99, 9999.99),
        }),
    }


def load_day(seed: int, day: int, rows: int) -> pa.Table:
    """Events of day ``day`` (0-based from LOAD_START). event_ids of
    fresh events are ``day * rows + i``; a RESEND_SHARE of rows re-send
    an id from an earlier day (day 0 re-sends its own ids) with a new
    value and a timestamp on this day, so the keep-last survivor is the
    re-send."""
    r = _rng(seed, f"load_day_{day}")
    day_us = 86_400 * 1_000_000
    ts = np.sort(r.choice(day_us, size=rows, replace=False))
    ids = day * rows + np.arange(rows, dtype=np.int64)
    n_resend = int(rows * RESEND_SHARE)
    pos = r.choice(rows, size=n_resend, replace=False)
    if day == 0:
        # A re-send inside day 0 must come after its original.
        pos = pos[pos > 0]
        ids[pos] = r.integers(0, pos)
    else:
        ids[pos] = r.integers(0, day * rows, pos.size)
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        "ts": _ts(LOAD_START + timedelta(days=day), ts),
        "user_id": pa.array(r.integers(0, LOAD_DIM_ROWS["customer"], rows), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, rows)],
        "value": _cents(r, rows, 0.01, 1000.0),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, rows)],
    })


def day_string(day: int) -> str:
    return (LOAD_START + timedelta(days=day)).strftime("%Y-%m-%d")
