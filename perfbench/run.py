"""Benchmark entry point.

    python3 perfbench/run.py --workload {batch,stream} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end set; with ``--trace 1`` they
are the per-layer set, and the per-operation records and spans land in
``.perfbench_out/`` under the checkout. Every scratch file lives under
``.perfbench_tmp/`` and is deleted at exit. Exits 2 without a result
when the engine package is not next to this directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "smart_fraud_detection_data_pipeline_spark"

#: Spark runs local[CPUS] with SPARK_GRAFT_CPUS=CPUS.
CPUS = len(os.sched_getaffinity(0))

#: End-to-end metrics (``--trace 0``): name -> unit.
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
    "ok_share": "share",
}

#: Per-layer metrics (``--trace 1``): name -> unit. A layer a workload
#: does not exercise reports 0.
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "sources.load_table_s": "s",
    "sources.load_table_jobs": "count",
    "sources.stream_table_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_stages": "count",
    "queries.exec_s": "s",
    "queries.exec_jobs": "count",
    "queries.exec_stages": "count",
    "queries.exec_tasks": "count",
    "queries.executor_run_s": "s",
    "queries.executor_cpu_s": "s",
    "queries.executor_idle_share": "share",
    "queries.shuffle_read_bytes": "bytes",
    "queries.shuffle_write_bytes": "bytes",
    "queries.spill_bytes": "bytes",
    "streaming.batches": "count",
    "streaming.empty_batches": "count",
    "streaming.input_rows": "count",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.latest_offset_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows_total": "count",
    "streaming.state_rows_updated": "count",
    "streaming.state_rows_dropped_by_watermark": "count",
    "streaming.state_memory_bytes": "bytes",
    "streaming.shuffle_write_bytes": "bytes",
    "streaming.tasks": "count",
    "streaming.executor_idle_share": "share",
    "streaming.files_written": "count",
    "streaming.single_thread_throughput": "1/s",
    "run.ingest_s": "s",
    "run.warehouse_load_s": "s",
    "run.user_spend_trends_s": "s",
    "run.category_trends_s": "s",
    "run.jobs": "count",
    "run.stages": "count",
    "run.tasks": "count",
    "run.shuffle_write_bytes": "bytes",
    "run.spill_bytes": "bytes",
    "run.executor_idle_share": "share",
    "run.bytes_written": "bytes",
    "run.files_written": "count",
    "spark.failed_tasks": "count",
    "trace.throughput": "1/s",
    "trace.overhead_share": "share",
}

def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="perfbench/run.py")
    p.add_argument("--workload", required=True, choices=("batch", "stream"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def session_conf(tmp: str, trace: bool) -> dict[str, str]:
    return {
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "1000000",
        "spark.ui.retainedStages": "1000000",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
        "spark.sql.streaming.numRecentProgressUpdates": "100000",
    }


def shutdown() -> None:
    """Stop the active session, if any, then the JVM the PySpark gateway
    launched, and wait until every process this run started has exited."""
    from pyspark import SparkContext

    from perfbench.trace import descendant_pids

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            # The gateway JVM exits when its stdin closes.
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while descendant_pids(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in descendant_pids(os.getpid()):
        try:
            os.kill(pid, 9)
        except ProcessLookupError:
            pass


def execute(args: argparse.Namespace, tmp: str) -> dict:
    from smart_fraud_detection_data_pipeline_spark import get_spark

    from perfbench.trace import (
        Tracer, cpu_seconds, fetch_counts_by_group, host_facts, median,
    )
    from perfbench.workloads import WORKLOADS, Ctx

    wl = WORKLOADS[args.workload]()
    ctx = Ctx(args.seed, tmp, CPUS, Tracer(enabled=bool(args.trace)))
    t0 = time.perf_counter()
    with ctx.tracer.span("session.get_spark") as s:
        ctx.spark = get_spark(f"perfbench-{wl.name}", extra_conf=session_conf(tmp, False))
    with ctx.tracer.span("inputs"):
        wl.stage(ctx)
    with ctx.tracer.span("session.warmup") as w:
        wl.warm(ctx)
    # CPU of every process in the run since it started: the Python
    # imports, the JVM launch, the session, the inputs and the warm-up.
    setup_s = cpu_seconds()
    setup_wall = time.perf_counter() - t0

    ctx.tracer.enabled = False
    cpu0 = cpu_seconds()
    m = wl.measure(ctx, args.seconds, traced=False)
    cpu = cpu_seconds() - cpu0
    later = []  # measurements after the one the end-to-end metrics use
    if args.trace:
        # Tracing needs the UI, which a session only gets at start: the
        # traced window runs on a fresh session in the same, warm JVM.
        ctx.spark.stop()
        ctx.spark = get_spark(f"perfbench-{wl.name}-traced", extra_conf=session_conf(tmp, True))
        ctx.tracer.enabled = True
        cpu0 = cpu_seconds()
        traced = wl.measure(ctx, args.seconds, traced=True)
        traced_cpu = cpu_seconds() - cpu0
        later.append(traced)
        wl.probe(ctx)
        by_group = fetch_counts_by_group(ctx.spark)
        wl.attribute(ctx, by_group, traced.wall)
        ctx.add("spark.failed_tasks", sum(c.get("failed_tasks", 0) for c in by_group.values()))
        ctx.add("sources.load_table_jobs", sum(
            c.get("jobs", 0) for g, c in by_group.items() if g.startswith("probe.load_table.")))
        if wl.name == "stream":
            # The single-threaded baseline: a fresh local[1] session in the
            # same, already warm JVM.
            ctx.spark.stop()
            os.environ["SPARK_GRAFT_CPUS"] = "1"
            ctx.spark = get_spark("perfbench-stream-1cpu", extra_conf=session_conf(tmp, False))
            single = wl.measure(ctx, args.seconds, traced=False)
            ctx.layer["streaming.single_thread_throughput"] = single.throughput
            later.append(single)
    n_checks, n_bad, problems = wl.check(ctx)
    for p in problems:
        print(f"[perfbench] check failed: {p}"[:500], file=sys.stderr)

    ops_failed = m.failed + sum(x.failed for x in later)
    attempted = len(m.ops) + sum(len(x.ops) for x in later) + ops_failed + n_checks
    failed = ops_failed + n_bad
    if args.trace:
        ctx.layer["session.get_spark_s"] = s.seconds
        ctx.layer["session.warmup_s"] = w.seconds
        ctx.layer["trace.throughput"] = traced.throughput
        # CPU per operation, traced over untraced (see README.md).
        ctx.layer["trace.overhead_share"] = (
            (traced_cpu / len(traced.ops)) / (cpu / len(m.ops)) - 1.0
            if m.ops and traced.ops else 0.0)
        values = {k: ctx.layer.get(k, 0) for k in PER_LAYER}
        units = PER_LAYER
        write_records(args, ctx, host_facts(ROOT), values)
    else:
        values = {
            "setup_s": setup_s,
            "cpu_s_per_op": cpu / len(m.ops) if m.ops else 0.0,
            "ok_share": 1.0 - failed / attempted,
        }
        units = END_TO_END
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
        # Wall-clock figures, for the log only: on a shared host they swing
        # with time stolen by the hypervisor.
        "_info": {"ops": len(m.ops), "cpu_s": cpu, "wall_s": m.wall,
                  "throughput": m.throughput, "op_s_p50": median(m.ops) if m.ops else 0.0,
                  "setup_wall_s": setup_wall},
    }


def write_records(args: argparse.Namespace, ctx, host: dict, values: dict) -> None:
    out = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{args.workload}-seed{args.seed}")
    with open(f"{stem}-records.jsonl", "w") as fh:
        for rec in ctx.records:
            fh.write(json.dumps({**rec, "host": host}) + "\n")
        fh.write(json.dumps({"op": "summary", "metrics": values, "host": host}) + "\n")
    ctx.tracer.dump(f"{stem}-spans.jsonl")


@contextlib.contextmanager
def scratch_session(name: str):
    """Work from a fresh ``.perfbench_tmp/<name>-<pid>/`` that holds every
    file the engine, Spark and tempfile create; at exit stop Spark and
    delete it."""
    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    tmp = os.path.join(tmp_root, f"{name}-{os.getpid()}")
    os.makedirs(tmp)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "spark-local"),
        "SPARK_GRAFT_CPUS": str(CPUS),
    })
    tempfile.tempdir = tmp
    os.chdir(tmp)
    try:
        yield tmp
    finally:
        shutdown()
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ next to {HERE}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT]
    with scratch_session(args.workload) as tmp:
        result = execute(args, tmp)
    info = result.pop("_info")
    print(f"[perfbench] {args.workload} seed={args.seed} {json.dumps(info)}", file=sys.stderr)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
