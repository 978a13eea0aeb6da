"""Physical-plan audit across the whole query registry.

"Measure, don't guess": runs every query through tools/runner.py with
plan counters on and tabulates each batch query's physical plan:
shuffles (Exchange), broadcasts vs SortMergeJoin, row-at-a-time Python
(BatchEvalPython, a red flag like CartesianProduct; the Arrow ops are
the sanctioned slow path), BroadcastNestedLoopJoin, parquet scans with
pushed filters and WholeStageCodegen spans. A query that started a
streaming query gets a row in its own section instead, with its
micro-batch cost from the record: its frame is only the read-back of
the sink. Failed queries are listed as skipped.

Usage: python tools/plan_audit.py [sf_dir] [query ...]
Writes PLAN_AUDIT.md at the repo root and prints a one-line summary.
"""

from __future__ import annotations

import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from smart_fraud_detection_data_pipeline_spark import get_spark  # noqa: E402
from tools import runner  # noqa: E402


#: plan counter -> (table flag, red-flag line printed on stdout or None)
_FLAGS = {
    "python_row": ("PY-ROW", "row-at-a-time Python UDF (BatchEvalPython)"),
    "cartesian": ("CARTESIAN", "CartesianProduct join"),
    "bnlj": ("bnlj", None),
    "arrow_python": ("arrow", None),
}


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    spark = get_spark("plan_audit")
    rows, streams, skipped = [], [], []
    for spec, rec, _ in runner.run(spark, sf_dir, runner.select(argv[1:])):
        if rec["error"]:
            skipped.append((spec.name, rec["error"][:120]))
        elif rec["streams"]:
            streams.append(rec)
        else:
            rows.append((spec.name, rec["plan"]))
    spark.stop()
    flags = [f"{name}: {why}" for name, a in rows
             for k, (_, why) in _FLAGS.items() if why and a[k]]

    lines = [
        "# PLAN_AUDIT — physical-plan signals per registered batch query",
        "",
        f"sf_dir: `{sf_dir}` · {len(rows)} audited · {len(streams)} streaming "
        f"· {len(skipped)} skipped",
        "",
        "Legend: exch = non-broadcast Exchange count (shuffles), bcast =",
        "BroadcastExchange, smj = SortMergeJoin, wsc = WholeStageCodegen",
        "spans, scans/pushed = parquet scans / scans with pushed filters.",
        "`py-row` (row-at-a-time Python) and `cartesian` are red flags;",
        "`arrow` (vectorized Python) is the sanctioned slow path.",
        "NOTE: wsc is 0 for most queries because AQE plans print codegen",
        "ids only after execution (`isFinalPlan=false` here); codegen",
        "coverage is instead pinned per-operator in tests/test_plans.py.",
        "",
        "| query | exch | bcast | smj | wsc | scans | pushed | flags |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, a in sorted(rows, key=lambda r: (-r[1]["exchanges"], r[0])):
        fl = " ".join(tag for k, (tag, _) in _FLAGS.items() if a[k])
        lines.append(
            f"| {name} | {a['exchanges']} | {a['broadcasts']} | {a['smj']} "
            f"| {a['codegen_spans']} | {a['scans']} | {a['pushed']} | {fl} |"
        )
    lines += [
        "",
        "## Streaming queries",
        "",
        "Triggers, micro-batch (mb) jobs and tasks, and state commit time",
        "summed over triggers, of every query that started a stream.",
        "",
        "| query | streams | triggers | mb jobs | mb tasks | state commit ms |",
        "|---|---|---|---|---|---|",
    ]
    for rec in streams:
        triggers = [t for s in rec["streams"] for t in s["triggers"]]
        mb = rec["phases"]["stream"]
        lines.append(
            f"| {rec['name']} | {len(rec['streams'])} | {len(triggers)} | {mb['jobs']} "
            f"| {mb['tasks']} | {sum(t['state_commit_ms'] for t in triggers)} |"
        )
    lines += ["", "## Skipped", ""]
    lines += [f"- {n}: {why}" for n, why in skipped]
    out = os.path.join(_REPO, "PLAN_AUDIT.md")
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    print(
        f"audited={len(rows)} streaming={len(streams)} skipped={len(skipped)} "
        f"red_flags={len(flags)} -> {out}"
    )
    for f_ in flags:
        print(f"  !! {f_}")


if __name__ == "__main__":
    main()
