"""Benchmark CLI over the registry runner (tools/runner.py).

Runs every registered query at $SPARK_GRAFT_SF_DIR (default sf0.1) in
registration order to the noop sink, in one shared session, after an
untimed warm-up of the first query at sf0.001 (codegen, parquet reader
and broadcast machinery compile there, not in the first timed query).
Writes one runner record per query to BENCH_perquery.jsonl at the repo
root (to <OUT stem>_perquery.jsonl when SPARK_GRAFT_BENCH_OUT=<OUT> is
set), then prints the full JSON line
  {"metric": "total_query_time", "value": N, "unit": "sec",
   "queries": {name: build_s + exec_s, ...}, "sf": X}
and ENDS stdout with a compact line that always fits a 2000-char
tail capture:
  {"metric": ..., "value": N, "unit": "sec", "sf": X, "n": Q, "errors_n": E}

SPARK_GRAFT_BENCH_OUT=path also writes the full line to a file; set it
for subset, repeat and other-sf runs so they leave the committed sf0.1
records alone.
SPARK_GRAFT_BENCH_REPEAT=N (default 1, the single-shot contract) runs each
query N times and keeps the median run — for subset adjudication only:
N full passes in one session age the JVM and inflate the tail ~10-30%.
SPARK_GRAFT_BENCH_ONLY=a,b runs only the named queries;
SPARK_GRAFT_BENCH_SKIP=a,b drops them (scale-curve runs skip queries
whose OUTPUT is inherently quadratic on a skew-stress fixture;
SCALING.md). Paired A/B runs of two commits belong to perfbench/.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

from smart_fraud_detection_data_pipeline_spark import get_spark  # noqa: E402
from tools import runner  # noqa: E402


def _names(var: str) -> set[str]:
    return {n.strip() for n in os.environ.get(var, "").split(",") if n.strip()}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # "sf" label: numeric for the driver's sf-named dirs, else the dir
    # basename (e.g. a fuzz fixture used for scale-curve measurement).
    base = os.path.basename(sf_dir.rstrip("/"))
    try:
        sf: float | str = float(base.replace("sf", "") or 0.1)
    except ValueError:
        sf = base
    spark = get_spark("bench")
    list(runner.run(spark, "/root/testdata/sf0.001", runner.select()[:1]))
    specs = runner.select(_names("SPARK_GRAFT_BENCH_ONLY"), _names("SPARK_GRAFT_BENCH_SKIP"))
    repeat = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEAT", "1")))
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT")
    records_path = (f"{os.path.splitext(out_path)[0]}_perquery.jsonl" if out_path
                    else os.path.join(REPO, "BENCH_perquery.jsonl"))
    with open(records_path, "w") as records:
        for spec, rec, _ in runner.run(spark, sf_dir, specs, repeat=repeat):
            records.write(json.dumps(rec) + "\n")
            records.flush()
            if rec["error"]:
                errors[spec.name] = rec["error"]
                print(f"[bench] ERROR {spec.name}: {rec['error']}", file=sys.stderr)
            else:
                times[spec.name] = round(rec["build_s"] + rec["exec_s"], 3)
    spark.stop()

    out = {"metric": "total_query_time", "value": round(sum(times.values()), 3),
           "unit": "sec", "queries": times, "sf": sf}
    if errors:
        out["errors"] = errors
    print(json.dumps(out))
    if out_path:
        with open(out_path, "w") as fh:
            json.dump(out, fh)
    # The LAST line must fit a 2000-char tail capture: a 4.5 KB
    # one-liner overflowed it and parsed as null (VERDICT r10 #2).
    print(json.dumps({"metric": "total_query_time", "value": out["value"], "unit": "sec",
                      "sf": sf, "n": len(times), "errors_n": len(errors)}))


if __name__ == "__main__":
    main()
