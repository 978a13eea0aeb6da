"""The benchmark's two workloads: batch and stream.

Each workload stages seeded inputs, warms up, measures a closed loop of
operations (one client, the next operation starts when the previous one
ends) and checks its outputs. ``batch`` is two parts that share one
session: the analyst query catalog and the nightly loaders. Layers are
timed from outside, around calls into the package's public functions:

- ``queries.registry()[i].spark_fn`` and a noop-sink write (batch);
- ``run.JOBS[name]`` (batch);
- ``streaming.pipeline.run_pipeline`` and ``StreamingQuery.recentProgress``
  (stream);
- ``sources.tables.load_table`` / ``stream_table`` (direct probes);
- ``session.get_spark`` (set-up).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import sys
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from perfbench import checks, inputs
from perfbench.trace import Tracer, add_counts, idle_share

HERE = os.path.dirname(os.path.abspath(__file__))

#: Stage-metric fields summed into the per-layer totals.
COUNT_KEYS = ("jobs", "stages", "tasks", "failed_tasks", "executor_run_ms",
              "executor_cpu_ns", "shuffle_read_bytes", "shuffle_write_bytes",
              "memory_spill_bytes", "disk_spill_bytes")


@dataclass
class Measured:
    """One measurement window: per-operation latencies (s), failures,
    units of work done and the wall time the work took."""
    ops: list[float] = field(default_factory=list)
    failed: int = 0
    work: float = 0.0
    wall: float = 0.0

    @property
    def throughput(self) -> float:
        return self.work / self.wall if self.wall > 0 else 0.0


def units(seconds: float, unit_s: float) -> int:
    """Whole units of work (passes, drains, cycles) that fill about
    ``seconds`` at the nominal ``unit_s`` of a 4-core host. A run does
    exactly this many, so every run does the same work at the same point
    of the JVM's warm-up, whatever the seed or the host's speed."""
    return max(1, round(seconds / unit_s))


class Ctx:
    """What a workload needs from the run: the live session, a scratch
    root, the seed and the tracer. ``group`` tags every Spark job the
    next layer call launches, so a traced run can attribute stages."""

    def __init__(self, seed: int, tmp: str, cpus: int, tracer: Tracer):
        self.seed, self.tmp, self.cpus, self.tracer = seed, tmp, cpus, tracer
        self.spark = None
        self.records: list[dict] = []
        self.layer: dict[str, float] = {}
        self._dirs = 0

    def fresh_dir(self, prefix: str) -> str:
        self._dirs += 1
        path = os.path.join(self.tmp, f"{prefix}-{self._dirs:03d}")
        os.makedirs(path)
        return path

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0) + value


def probe_sources(ctx: Ctx, sf_dir: str, tables: list[str], stream_name: str) -> None:
    """Direct probes of the source layer: one load_table per table the
    workload reads and one stream_table definition of its fact table."""
    from smart_fraud_detection_data_pipeline_spark.sources.tables import load_table, stream_table

    for t in tables:
        ctx.group(f"probe.load_table.{t}")
        with ctx.tracer.span("sources.load_table", table=t) as s:
            load_table(ctx.spark, sf_dir, t)
        ctx.add("sources.load_table_s", s.seconds)
    ctx.group(f"probe.stream_table.{stream_name}")
    with ctx.tracer.span("sources.stream_table", table=stream_name) as s:
        stream_table(ctx.spark, sf_dir, stream_name, max_files_per_trigger=1)
    ctx.add("sources.stream_table_s", s.seconds)
    ctx.group("perfbench")


# ---------------------------------------------------------------------------
# catalog
# ---------------------------------------------------------------------------

class Catalog:
    """The pinned query mix, one noop-sink write per query, a pass at a
    time in a seeded order."""

    tables = list(inputs.CATALOG_ROWS)

    def __init__(self):
        with open(os.path.join(HERE, "catalog_mix.json")) as fh:
            pinned = json.load(fh)
        self.names: list[str] = pinned["queries"]

    def stage(self, ctx: Ctx) -> None:
        from smart_fraud_detection_data_pipeline_spark.queries import registry

        self.sf = ctx.fresh_dir("catalog")
        inputs.write_catalog(ctx.seed, self.sf)
        reg = {s.name: s for s in registry()}
        self.missing = [n for n in self.names if n not in reg]
        self.specs = [reg[n] for n in self.names if n in reg]
        for spec in self.specs:
            if spec.prepare is not None:
                spec.prepare(ctx.spark, self.sf)

    def _run(self, ctx: Ctx, spec, tag: str | None) -> tuple[float, float]:
        if tag:
            ctx.group(f"{tag}.build")
        with ctx.tracer.span("queries.build", query=spec.name, group=f"{tag}.build") as b:
            df = spec.spark_fn(ctx.spark, self.sf)
        if tag:
            ctx.group(f"{tag}.exec")
        with ctx.tracer.span("queries.exec", query=spec.name, group=f"{tag}.exec") as e:
            df.write.format("noop").mode("overwrite").save()
        return b.seconds, e.seconds

    def warm(self, ctx: Ctx) -> None:
        """One pass of the mix that collects each query's rows and
        compares them with its DuckDB oracle SQL: the warm-up and the
        output check in one."""
        import duckdb

        self.problems: list[str] = []
        self.bad = set(self.missing)
        con = duckdb.connect()
        try:
            for t in self.tables:
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
            for spec in self.specs:
                try:
                    got = spec.spark_fn(ctx.spark, self.sf).toPandas()
                    want = con.sql(spec.oracle).df()
                    found = checks.compare_frames(got, want)
                except Exception as exc:  # noqa: BLE001 — a failed check is a result
                    found = [f"{type(exc).__name__}: {exc}"[:300]]
                if found:
                    self.bad.add(spec.name)
                    self.problems += [f"{spec.name}: {p}" for p in found]
        finally:
            con.close()
        self.problems += [f"{n}: pinned query missing from the registry" for n in self.missing]

    def check(self, ctx: Ctx) -> tuple[int, int, list[str]]:
        """(queries checked, queries failing, problems)."""
        return len(self.names), len(self.bad), self.problems

    def run_pass(self, ctx: Ctx, m: Measured, rng: random.Random, n: int,
                 traced: bool) -> None:
        order = list(self.specs)
        rng.shuffle(order)
        for spec in order:
            tag = f"catalog.p{n}.{spec.name}" if traced else None
            with ctx.tracer.span("queries.op", query=spec.name) as op:
                try:
                    build, exec_ = self._run(ctx, spec, tag)
                except Exception as exc:  # noqa: BLE001 — count and go on
                    m.failed += 1
                    print(f"[perfbench] {spec.name} failed: {exc}"[:300], file=sys.stderr)
                    continue
            m.ops.append(op.seconds)
            m.work += 1
            if traced:
                ctx.records.append({"op": "query", "name": spec.name, "pass": n,
                                    "build_s": build, "exec_s": exec_, "group": tag})
                ctx.add("queries.build_s", build)
                ctx.add("queries.exec_s", exec_)

    def attribute(self, ctx: Ctx, by_group: dict, wall: float) -> None:
        for rec in ctx.records:
            if rec.get("op") != "query":
                continue
            for phase in ("build", "exec"):
                c = by_group.get(f"{rec['group']}.{phase}", {})
                rec[phase] = {k: c.get(k, 0) for k in COUNT_KEYS}
                ctx.add(f"queries.{phase}_jobs", c.get("jobs", 0))
                ctx.add(f"queries.{phase}_stages", c.get("stages", 0))
            ex = rec["exec"]
            ctx.add("queries.exec_tasks", ex["tasks"])
        total = _sum_groups(by_group, "catalog.")
        ctx.add("queries.executor_run_s", total.get("executor_run_ms", 0) / 1000.0)
        ctx.add("queries.executor_cpu_s", total.get("executor_cpu_ns", 0) / 1e9)
        ctx.add("queries.executor_idle_share", idle_share(total, wall, ctx.cpus))
        ctx.add("queries.shuffle_read_bytes", total.get("shuffle_read_bytes", 0))
        ctx.add("queries.shuffle_write_bytes", total.get("shuffle_write_bytes", 0))
        ctx.add("queries.spill_bytes", total.get("memory_spill_bytes", 0)
                + total.get("disk_spill_bytes", 0))


# ---------------------------------------------------------------------------
# stream
# ---------------------------------------------------------------------------

class Stream:
    """run_pipeline(mode="idiomatic", available_now=True) draining a
    staged backlog, one file per trigger; each drain starts on fresh
    checkpoints."""

    name = "stream"
    files = 4
    rows_per_file = 12_000
    warm_files = 1
    drain_s = 10.0
    timeout_s = 150.0

    def stage(self, ctx: Ctx) -> None:
        self.sf = ctx.fresh_dir("stream")
        self.dims, self.backlog = inputs.write_stream(
            ctx.seed, self.sf, self.files, self.rows_per_file)
        inputs.write_stream(ctx.seed, self.sf, self.warm_files, self.rows_per_file, name="warmup")
        self.outs: list[str] = []

    def _drain(self, ctx: Ctx, backlog: str, out: str) -> list:
        from smart_fraud_detection_data_pipeline_spark.sources.tables import load_table, stream_table
        from smart_fraud_detection_data_pipeline_spark.streaming.pipeline import run_pipeline
        from smart_fraud_detection_data_pipeline_spark.streaming.sinks import await_or_raise

        tx = stream_table(ctx.spark, self.sf, backlog, max_files_per_trigger=1)
        users = load_table(ctx.spark, self.sf, "users")
        products = load_table(ctx.spark, self.sf, "products")
        with ctx.tracer.span("streaming.run_pipeline"):
            qs = run_pipeline(ctx.spark, tx, users, products, out,
                              mode="idiomatic", available_now=True)
        try:
            with ctx.tracer.span("streaming.await"):
                for q in qs.all():
                    await_or_raise(q, self.timeout_s)
        finally:
            qs.stop_all()
        return qs.all()

    def warm(self, ctx: Ctx) -> None:
        self._drain(ctx, "warmup", ctx.fresh_dir("stream-warm-out"))

    def measure(self, ctx: Ctx, seconds: float, traced: bool) -> Measured:
        m = Measured()
        for _ in range(units(seconds, self.drain_s)):
            out = ctx.fresh_dir("stream-out")
            t0 = time.perf_counter()
            try:
                with ctx.tracer.span("streaming.drain"):
                    queries = self._drain(ctx, "transactions", out)
            except Exception as exc:  # noqa: BLE001 — count and go on
                m.failed += 1
                print(f"[perfbench] drain failed: {exc}"[:300], file=sys.stderr)
                queries = []
            else:
                self.outs.append(out)
                m.work += self.files * self.rows_per_file
            m.wall += time.perf_counter() - t0
            for q in queries:
                for p in q.recentProgress:
                    prog = json.loads(p.json)
                    # No-data batches that only advance the watermark are
                    # not operations on input.
                    if prog.get("numInputRows", 0) > 0:
                        m.ops.append(prog["durationMs"].get("triggerExecution", 0) / 1000.0)
                    if traced:
                        ctx.records.append(_trigger_record(q.name, prog))
        return m

    def check(self, ctx: Ctx) -> tuple[int, int, list[str]]:
        """(drains checked, drains failing, problems)."""
        import pyarrow as pa

        want = checks.expected_stream(pa.concat_tables(self.backlog),
                                      self.dims["users"], self.dims["products"])
        problems, bad = [], 0
        for out in self.outs:
            fraud = pq.read_table(
                os.path.join(out, "fraud_records"),
                columns=["transaction_id", "high_value_flag", "country_mismatch"],
            ).to_pandas()
            users = pq.read_table(os.path.join(out, "user_spend_trends")).to_pandas()
            cats = pq.read_table(os.path.join(out, "category_trends")).to_pandas()
            found = checks.check_stream(fraud, users, cats, want)
            bad += bool(found)
            problems += found
        return len(self.outs), bad, problems

    def probe(self, ctx: Ctx) -> None:
        probe_sources(ctx, self.sf, ["users", "products", "transactions"], "transactions")

    def attribute(self, ctx: Ctx, by_group: dict, wall: float) -> None:
        triggers = [r for r in ctx.records if r.get("op") == "trigger"]
        ctx.add("streaming.batches", len(triggers))
        ctx.add("streaming.empty_batches", sum(1 for r in triggers if r["input_rows"] == 0))
        for key in ("input_rows", "add_batch_ms", "query_planning_ms", "get_batch_ms",
                    "latest_offset_ms", "wal_commit_ms", "commit_offsets_ms",
                    "state_commit_ms", "state_rows_updated", "state_rows_dropped_by_watermark"):
            ctx.add(f"streaming.{key}", sum(r[key] for r in triggers))
        # State size is a level, not a flow: the largest any trigger saw.
        ctx.add("streaming.state_rows_total", max((r["state_rows_total"] for r in triggers), default=0))
        ctx.add("streaming.state_memory_bytes", max((r["state_memory_bytes"] for r in triggers), default=0))
        run_ids = {r["run_id"] for r in triggers}
        total: dict = {}
        for g, c in by_group.items():
            if g in run_ids:
                add_counts(total, c)
        ctx.add("streaming.shuffle_write_bytes", total.get("shuffle_write_bytes", 0))
        ctx.add("streaming.tasks", total.get("tasks", 0))
        ctx.add("streaming.executor_idle_share", idle_share(total, wall, ctx.cpus))
        ctx.add("streaming.files_written", sum(
            _tree_size(os.path.join(o, d))[1]
            for o in self.outs for d in ("fraud_records", "user_spend_trends", "category_trends")))


def _trigger_record(query: str, prog: dict) -> dict:
    d = prog.get("durationMs", {})
    ops = prog.get("stateOperators") or []
    return {
        "op": "trigger", "query": query, "run_id": prog.get("runId"),
        "batch_id": prog.get("batchId"), "input_rows": prog.get("numInputRows", 0),
        "trigger_ms": d.get("triggerExecution", 0), "add_batch_ms": d.get("addBatch", 0),
        "query_planning_ms": d.get("queryPlanning", 0), "get_batch_ms": d.get("getBatch", 0),
        "latest_offset_ms": d.get("latestOffset", 0), "wal_commit_ms": d.get("walCommit", 0),
        "commit_offsets_ms": d.get("commitOffsets", 0),
        "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
        "state_rows_total": sum(o.get("numRowsTotal", 0) for o in ops),
        "state_rows_updated": sum(o.get("numRowsUpdated", 0) for o in ops),
        "state_rows_dropped_by_watermark": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
        "state_memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
        "watermark": (prog.get("eventTime") or {}).get("watermark"),
    }


# ---------------------------------------------------------------------------
# load
# ---------------------------------------------------------------------------

class Load:
    """Nightly cycles: append one day of events, then run the ingest and
    the three MERGE loaders with ``--since`` that day."""

    jobs = ("ingest", "warehouse_load", "user_spend_trends", "category_trends")
    rows_per_day = 4_000

    def stage(self, ctx: Ctx) -> None:
        self.sf = ctx.fresh_dir("load")
        self.dims = inputs.load_dims(ctx.seed)
        for name, table in self.dims.items():
            inputs.write_table(table, os.path.join(self.sf, f"{name}.parquet"))
        self.warehouse = os.path.join(self.sf, "warehouse")
        self.days: list = []

    def warm(self, ctx: Ctx) -> None:
        """Cycle 0, untimed: it creates the marts, so every measured
        cycle merges into a non-empty target and swaps an existing
        snapshot."""
        self.run_cycle(ctx, Measured(), traced=False)

    def run_cycle(self, ctx: Ctx, m: Measured, traced: bool) -> None:
        from smart_fraud_detection_data_pipeline_spark.run import JOBS

        day = len(self.days)
        table = inputs.load_day(ctx.seed, day, self.rows_per_day)
        inputs.write_table(table, os.path.join(self.sf, "events.parquet", f"day-{day:04d}.parquet"))
        self.days.append(table)
        args = argparse.Namespace(sf_dir=self.sf, warehouse=self.warehouse,
                                  since=inputs.day_string(day))
        for job in self.jobs:
            tag = f"load.d{day}.{job}" if traced else None
            if tag:
                ctx.group(tag)
            with ctx.tracer.span("run.job", job=job, day=day) as s:
                try:
                    # The jobs log progress to stdout; keep stdout for the result.
                    with contextlib.redirect_stdout(sys.stderr):
                        JOBS[job](ctx.spark, args)
                except Exception as exc:  # noqa: BLE001 — count and go on
                    m.failed += 1
                    print(f"[perfbench] {job} day {day} failed: {exc}"[:300], file=sys.stderr)
                    continue
            m.ops.append(s.seconds)
            m.work += 1
            if traced:
                ctx.records.append({"op": "run", "job": job, "day": day,
                                    "seconds": s.seconds, "group": tag})
                ctx.add(f"run.{job}_s", s.seconds)

    def check(self, ctx: Ctx) -> tuple[int, int, list[str]]:
        """(1 mart set checked, 0 or 1 failing, problems)."""
        marts = os.path.join(self.warehouse, "marts")
        fraud = pq.read_table(
            os.path.join(marts, "fraud_records"),
            columns=["transaction_id", "amount", "high_value_flag", "country_mismatch"],
        ).to_pandas()
        users = pq.read_table(os.path.join(marts, "user_spend_trends")).to_pandas()
        cats = pq.read_table(os.path.join(marts, "category_trends")).to_pandas()
        want = checks.expected_load(self.days, self.dims)
        problems = checks.check_load(fraud, users, cats, want)
        return 1, int(bool(problems)), problems

    def attribute(self, ctx: Ctx, by_group: dict, wall: float) -> None:
        for rec in ctx.records:
            if rec.get("op") == "run":
                c = by_group.get(rec["group"], {})
                rec.update({k: c.get(k, 0) for k in COUNT_KEYS})
        total = _sum_groups(by_group, "load.")
        for k in ("jobs", "stages", "tasks", "shuffle_write_bytes"):
            ctx.add(f"run.{k}", total.get(k, 0))
        ctx.add("run.spill_bytes", total.get("memory_spill_bytes", 0)
                + total.get("disk_spill_bytes", 0))
        ctx.add("run.executor_idle_share", idle_share(total, wall, ctx.cpus))
        size, files = _tree_size(self.warehouse)
        ctx.add("run.bytes_written", size)
        ctx.add("run.files_written", files)


def _sum_groups(by_group: dict, prefix: str) -> dict:
    total: dict = {}
    for g, c in by_group.items():
        if g.startswith(prefix):
            add_counts(total, c)
    return total


def _tree_size(root: str) -> tuple[int, int]:
    """(bytes, files) of the data files under ``root``; Spark's hidden
    checksum and marker files are left out."""
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            if not n.startswith((".", "_")):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


# ---------------------------------------------------------------------------
# batch
# ---------------------------------------------------------------------------

class Batch:
    """Each unit is one pass of the catalog mix, then one nightly cycle
    of the loaders, in one session. Reads and writes share the scan and
    sink layers, so a change that speeds one at the cost of the other
    shows in the same run; the per-layer metrics tell them apart."""

    name = "batch"
    unit_s = 10.0

    def __init__(self):
        self.catalog, self.load = Catalog(), Load()

    def stage(self, ctx: Ctx) -> None:
        self.catalog.stage(ctx)
        self.load.stage(ctx)

    def warm(self, ctx: Ctx) -> None:
        self.catalog.warm(ctx)
        self.load.warm(ctx)

    def measure(self, ctx: Ctx, seconds: float, traced: bool) -> Measured:
        rng = random.Random(ctx.seed)
        m = Measured()
        start = time.perf_counter()
        for n in range(units(seconds, self.unit_s)):
            self.catalog.run_pass(ctx, m, rng, n, traced)
            self.load.run_cycle(ctx, m, traced)
        m.wall = time.perf_counter() - start
        if traced:
            ctx.group("perfbench")
        return m

    def check(self, ctx: Ctx) -> tuple[int, int, list[str]]:
        n1, b1, p1 = self.catalog.check(ctx)
        n2, b2, p2 = self.load.check(ctx)
        return n1 + n2, b1 + b2, p1 + p2

    def probe(self, ctx: Ctx) -> None:
        probe_sources(ctx, self.catalog.sf, self.catalog.tables, "events")

    def attribute(self, ctx: Ctx, by_group: dict, wall: float) -> None:
        # Each part's idle share is over the time its own calls took.
        ops = [r for r in ctx.records if r.get("op") in ("query", "run")]
        self.catalog.attribute(ctx, by_group, sum(
            r["build_s"] + r["exec_s"] for r in ops if r["op"] == "query"))
        self.load.attribute(ctx, by_group, sum(r["seconds"] for r in ops if r["op"] == "run"))


WORKLOADS = {w.name: w for w in (Batch, Stream)}
