"""Probe the whole query catalog and pick the pinned mix from it.

    python3 perfbench/catalog_probe.py [--write]

Run from the root of a checkout. On the benchmark's own seeded catalog
inputs it runs every registered query twice, ``spark_fn`` then a
noop-sink write: one cold pass, then one warm pass that is measured.
For each query it records the warm build and exec seconds, the Spark
jobs each phase launched, and whether the query started a streaming
query. The probe goes to ``.perfbench_out/catalog_probe.json``; the
summary of the whole catalog against the selected mix goes to stdout.
``--write`` stores the mix, the rule and both summaries in
``catalog_mix.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Strata, and so queries, in the mix; the inputs' seed for the probe.
MIX_SIZE = 3
PROBE_SEED = 1

RULE = (
    "Batch queries only (no streaming query started) with an oracle SQL, "
    "sorted by warm seconds (build + exec) and cut into `size` strata of "
    "equal count. From each stratum the query whose build-job share "
    "(build jobs / all jobs) is nearest the whole catalog's, then whose "
    "build-time share is nearest, then by name."
)


def _seconds(q: dict) -> float:
    return q["build_s"] + q["exec_s"]


def select_mix(probe: dict[str, dict], size: int) -> list[str]:
    """The pinned mix, by ``RULE``: strata spread it over the catalog's
    latency distribution, and the pick in each keeps its build share."""
    cands = sorted((n for n, q in probe.items() if not q["stream"] and q["oracle"]),
                   key=lambda n: (_seconds(probe[n]), n))
    whole = summarize(probe, cands)
    mix = []
    for i in range(size):
        stratum = cands[i * len(cands) // size:(i + 1) * len(cands) // size]
        mix.append(min(stratum, key=lambda n: (
            abs(_share(probe[n]["build_jobs"], probe[n]["exec_jobs"]) - whole["build_job_share"]),
            abs(_share(probe[n]["build_s"], probe[n]["exec_s"]) - whole["build_s_share"]),
            n)))
    return mix


def _share(build: float, exec_: float) -> float:
    return build / (build + exec_) if build + exec_ > 0 else 0.0


def summarize(probe: dict[str, dict], names: list[str]) -> dict:
    """Shape figures of a set of queries: size, per-query warm p50 and
    p90, build share of the time and of the jobs, and job totals."""
    qs = [probe[n] for n in names]
    secs = sorted(_seconds(q) for q in qs)
    build_s, exec_s = sum(q["build_s"] for q in qs), sum(q["exec_s"] for q in qs)
    build_j, exec_j = sum(q["build_jobs"] for q in qs), sum(q["exec_jobs"] for q in qs)
    return {
        "queries": len(qs),
        "op_s_p50": round(statistics.median(secs), 3),
        "op_s_p90": round(statistics.quantiles(secs, n=10, method="inclusive")[-1], 3),
        "build_s": round(build_s, 3), "exec_s": round(exec_s, 3),
        "build_s_share": round(_share(build_s, exec_s), 3),
        "build_jobs": build_j, "exec_jobs": exec_j,
        "build_job_share": round(_share(build_j, exec_j), 3),
    }


def probe_catalog(spark, sf: str) -> dict[str, dict]:
    from pyspark.sql.streaming import StreamingQueryListener

    from perfbench.trace import fetch_counts_by_group
    from smart_fraud_detection_data_pipeline_spark.queries import registry

    started: list[str] = []

    class Started(StreamingQueryListener):
        def onQueryStarted(self, event):
            started.append(event.name)

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Started())
    sc = spark.sparkContext
    out: dict[str, dict] = {}
    for n_pass in range(2):
        for spec in registry():
            if spec.prepare is not None:
                spec.prepare(spark, sf)
            n_started = len(started)
            sc.setJobGroup(f"p{n_pass}.{spec.name}.build", "probe")
            t0 = time.perf_counter()
            df = spec.spark_fn(spark, sf)
            t1 = time.perf_counter()
            sc.setJobGroup(f"p{n_pass}.{spec.name}.exec", "probe")
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            out[spec.name] = {"build_s": round(t1 - t0, 4), "exec_s": round(t2 - t1, 4),
                              "stream": len(started) > n_started,
                              "oracle": spec.oracle is not None}
            print(f"[probe] pass {n_pass} {spec.name} {out[spec.name]}", file=sys.stderr)
    by_group = fetch_counts_by_group(spark)
    for name, q in out.items():
        for phase in ("build", "exec"):
            q[f"{phase}_jobs"] = by_group.get(f"p1.{name}.{phase}", {}).get("jobs", 0)
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="perfbench/catalog_probe.py")
    p.add_argument("--write", action="store_true",
                   help="store the selected mix in catalog_mix.json")
    args = p.parse_args(argv)
    sys.path[:0] = [ROOT]
    from perfbench import inputs
    from perfbench.run import scratch_session, session_conf

    with scratch_session("probe") as tmp:
        from smart_fraud_detection_data_pipeline_spark import get_spark

        spark = get_spark("perfbench-probe", extra_conf=session_conf(tmp, True))
        sf = os.path.join(tmp, "catalog")
        inputs.write_catalog(PROBE_SEED, sf)
        probe = probe_catalog(spark, sf)
    mix = select_mix(probe, MIX_SIZE)
    batch = [n for n, q in probe.items() if not q["stream"] and q["oracle"]]
    summary = {"catalog": summarize(probe, batch), "mix": summarize(probe, mix)}
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "catalog_probe.json"), "w") as fh:
        json.dump(probe, fh, indent=1)
    if args.write:
        with open(os.path.join(HERE, "catalog_mix.json"), "w") as fh:
            json.dump({"rule": RULE, "size": MIX_SIZE, "seed": PROBE_SEED,
                       "queries": mix, **summary}, fh, indent=2)
            fh.write("\n")
    print(json.dumps({"queries": mix, **summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
