"""Rewrite the certification ledger (queries.LEDGER) that orders registry().

First absorbs each driver correctness artifact CORRECTNESS_r<NN>.json at
the repo root newer than the ledger's ``absorbed_round``: every name it
passed gets certified = {"round": NN, "fp": its fp in the ledger}, the
tree the driver ran, and ``absorbed_round`` becomes NN, whether or not
any name passed. Then fingerprints every registered query at sf0.001
through the registry runner and rewrites each fp (null for a query that
fails, which then sorts as changed).

Usage: python tools/certify.py    (commit the ledger it writes)
"""

from __future__ import annotations

import json
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from smart_fraud_detection_data_pipeline_spark import get_spark  # noqa: E402
from smart_fraud_detection_data_pipeline_spark.queries import LEDGER  # noqa: E402
from tools import runner  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def driver_rounds() -> dict[int, str]:
    found = (re.fullmatch(r"CORRECTNESS_r(\d+)\.json", f) for f in os.listdir(_REPO))
    return {int(m[1]): os.path.join(_REPO, m[0]) for m in found if m}


def absorb(ledger: dict) -> dict:
    """``ledger`` with every driver round newer than its absorbed round absorbed."""
    for rnd, path in sorted(r for r in driver_rounds().items() if r[0] > ledger["absorbed_round"]):
        with open(path, encoding="utf-8") as fh:
            for name, r in json.load(fh).items():
                entry = ledger["queries"].get(name)
                if entry and r["rows_match"] and r["schema_match"] and r["hash_match"] and not r["err"]:
                    entry["certified"] = {"round": rnd, "fp": entry["fp"]}
        ledger["absorbed_round"] = rnd
    return ledger


def main() -> int:
    with open(LEDGER, encoding="utf-8") as fh:
        ledger = absorb(json.load(fh))
    spark = get_spark("certify")
    recs = [rec for _, rec, _ in runner.run(spark, SF_DIR, runner.select())]
    spark.stop()
    certified = {name: e["certified"] for name, e in ledger["queries"].items()}
    with open(LEDGER, "w", encoding="utf-8") as fh:
        json.dump({"absorbed_round": ledger["absorbed_round"], "queries": {
            r["name"]: {"fp": r["fp"], "certified": certified.get(r["name"])} for r in recs}}, fh, indent=1)
        fh.write("\n")
    for r in recs:
        if r["error"]:
            print(f"[FAIL] {r['name']}: {r['error']}", file=sys.stderr)
    return 1 if any(r["error"] for r in recs) else 0


if __name__ == "__main__":
    raise SystemExit(main())
