"""Local replica of the driver's correctness gate.

Runs every registered query on Spark through the registry runner
(tools/runner.py, collecting each result with ``toPandas``) and its
oracle SQL twin on DuckDB over the same sf dir, then compares row
count, schema, and order-insensitive values EXACTLY (the gate hashes
values, so any floating-point drift is a failure here too).

Usage: python tools/oracle_check.py [sf_dir] [query ...]
"""

from __future__ import annotations

import json
import os
import sys

import duckdb
import pandas as pd

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from smart_fraud_detection_data_pipeline_spark import TABLES, get_spark  # noqa: E402
from tools import runner  # noqa: E402


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)]
    # us vs ns datetime resolution is a pandas artifact, not a value
    # difference — canonicalize to ns before comparing.
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime64"):
            df[c] = df[c].astype("datetime64[ns]")
    # Canonical row order: sort by every column (stringified for stability).
    key = df.astype(str)
    order = key.sort_values(by=list(df.columns), kind="mergesort").index
    return df.loc[order].reset_index(drop=True)


def compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems = []
    if len(spark_df) != len(oracle_df):
        problems.append(f"rowcount spark={len(spark_df)} oracle={len(oracle_df)}")
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        problems.append(
            f"columns spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"
        )
    if problems:
        # Different row counts make the element-wise compare below
        # meaningless (and pandas raises on length-mismatched Series).
        return problems
    a, b = _normalize(spark_df), _normalize(oracle_df)
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype != bv.dtype:
            problems.append(f"dtype[{c}] spark={av.dtype} oracle={bv.dtype}")
        eq = (av == bv) | (av.isna() & bv.isna())
        if not bool(eq.all()):
            bad = (~eq).idxmax()
            problems.append(
                f"values[{c}] first mismatch row {bad}: spark={av[bad]!r} oracle={bv[bad]!r} "
                f"({int((~eq).sum())} rows differ)"
            )
    return problems


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2 :]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    spark = get_spark("oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    results: dict[str, dict] = {}
    for spec, rec, sdf in runner.run(spark, sf_dir, runner.select(argv[1:]), collect=True):
        name, err = spec.name, rec["error"]
        if err is None:
            try:
                odf = con.sql(spec.oracle).df()
                problems = compare(sdf, odf)
            except Exception as exc:  # noqa: BLE001 — keep auditing the rest
                err = f"oracle/compare {type(exc).__name__}: {exc}"
        if err:
            print(f"[FAIL] {name}: {err}"[:300])
            results[name] = {"status": "error", "err": err[:300]}
            continue
        sec = rec["build_s"] + rec["exec_s"]
        if problems:
            print(f"[FAIL] {name} ({sec:.1f}s):")
            for p in problems:
                print(f"       - {p}")
        else:
            print(f"[ok]   {name}: {len(sdf)} rows ({sec:.1f}s)")
        results[name] = {
            "status": "fail" if problems else "ok",
            "spark_rows": len(sdf), "oracle_rows": len(odf),
            "sec": round(sec, 2), "problems": problems,
        }
    failures = sum(r["status"] != "ok" for r in results.values())
    if json_out:
        with open(json_out, "w") as f:
            json.dump(
                {"sf_dir": sf_dir, "n": len(results), "failures": failures,
                 "results": results},
                f, indent=1,
            )
        print(f"wrote {json_out}")
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
