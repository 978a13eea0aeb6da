"""Compare two bench record files into a scale-curve table.

Usage: python tools/scale_curve.py BASE.jsonl SCALED.jsonl [scale_factor]

Reads the records files of two `bench.py` runs (e.g. the committed
sf0.1 BENCH_perquery.jsonl and the X_perquery.jsonl of a run with
SPARK_GRAFT_BENCH_OUT=X.json on the x10 fixture of
`tools/make_scale_fixture.py`) and prints,
per query in both: wall ratio, input-record ratio, and the
shufRec/inRec ratio at both points. The last one is the superlinearity detector — the record ratio
is scale-free by construction for every healthy plan shape, so a
shufRec/inRec that GROWS with scale means an exchange is carrying
something that grows faster than the input (VERDICT r10 #1). Flags any
query whose ratio grows by more than 20% or that spilled at scale.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.runner import totals  # noqa: E402


def load(path: str) -> dict[str, dict]:
    """name -> wall, input records, shufRec/inRec and spill bytes of
    every query that ran without error."""
    out = {}
    with open(path) as fh:
        for rec in map(json.loads, fh):
            if rec["error"]:
                continue
            t = totals(rec)
            rows = t["input_records"]
            out[rec["name"]] = {
                "wall": rec["build_s"] + rec["exec_s"],
                "in_rows": rows,
                "ratio": round(t["shuffle_write_records"] / rows, 3) if rows else None,
                "spill": t["spill_memory_bytes"] + t["spill_disk_bytes"],
            }
    return out


def main() -> int:
    base, scaled = load(sys.argv[1]), load(sys.argv[2])
    sf = float(sys.argv[3]) if len(sys.argv) > 3 else 10.0
    flagged = []
    print("| query | wall ×(of %g× data) | inRec × | shufRec/inRec base→scaled |" % sf)
    print("|---|---|---|---|")
    for name in sorted(base.keys() & scaled.keys()):
        b, s = base[name], scaled[name]
        wall = s["wall"] / b["wall"] if b["wall"] else float("nan")
        rows = s["in_rows"] / b["in_rows"] if b["in_rows"] else float("nan")
        r0, r1 = b["ratio"], s["ratio"]
        mark = ""
        if r0 and (r1 or 0) / r0 > 1.2:
            mark = " ⚠ratio-grew"
            flagged.append((name, r0, r1))
        if s["spill"]:
            mark += " ⚠spill"
            flagged.append((name, "spill", s["spill"]))
        print(
            f"| {name} | {wall:.2f}× | {rows:.2f}× | "
            f"{r0 if r0 is not None else '—'}→{r1 if r1 is not None else '—'}{mark} |"
        )
    print()
    if flagged:
        print("FLAGGED:", flagged)
        return 1
    print("No query's shuffle-record ratio grew >20% with scale; no spill.")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
