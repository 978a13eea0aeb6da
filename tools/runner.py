"""One loop over the query registry, one record per query.

bench.py and the oracle, plan and shuffle audits run catalog queries
only through ``run``, in registration order. Per query: ``prepare`` off
the clock (not with ``collect=True``: the oracle check runs the body as
the driver does); build (``spark_fn``) and exec (noop-sink write, or
``toPandas``) timed under the job groups ``<name>.build`` /
``<name>.exec``; then, off the clock, the plan counters of a batch
query and, from the live status store (UI off is fine), the per-phase
jobs, stages, tasks, executor time, input, shuffle and spill. The store
keeps only the last 1000 jobs (``spark.ui.retainedJobs``), about one
catalog pass, so it is read after every query. An error in any step is
the query's ``error``; the run goes on. Micro-batch jobs run under
their stream's runId job group (the ``stream`` phase); a listener maps
the runId to the query name and keeps every trigger. Off the clock, after
the store read, each error-free query also gets its ``fingerprint``
(``fp``), which the certification ledger (tools/certify.py) stores. A record:

    {"name", "error", "build_s", "exec_s", "plan", "fp", "streams": [{"name", "triggers"}],
     "phases": {phase: {counter: n}}, "failed_stages": [str], "unstable": [phase]}
"""

from __future__ import annotations

import ast
import functools
import hashlib
import importlib
import inspect
import json
import re
import sys
import textwrap
import time
from collections.abc import Iterable, Iterator

from pyspark.sql.streaming import StreamingQueryListener

from smart_fraud_detection_data_pipeline_spark.plans.explain import formatted_plan
from smart_fraud_detection_data_pipeline_spark.queries import _REGISTRY, QuerySpec

#: Jobs of any other group (none today) are booked under phase "other".
PHASES = ("build", "exec", "stream")
#: status-store stage field -> record counter
_STAGE_FIELDS = {
    "numTasks": "tasks",
    "executorRunTime": "executor_run_ms",
    "executorCpuTime": "executor_cpu_ns",
    "inputBytes": "input_bytes",
    "inputRecords": "input_records",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "shuffleWriteRecords": "shuffle_write_records",
    "memoryBytesSpilled": "spill_memory_bytes",
    "diskBytesSpilled": "spill_disk_bytes",
}
COUNTERS = ("jobs", "stages", *_STAGE_FIELDS.values())
_PKG = QuerySpec.__module__.split(".")[0]


def select(only: Iterable[str] = (), skip: Iterable[str] = ()) -> list[QuerySpec]:
    """Registered queries in registration order: those named in
    ``only`` (all when empty), minus those named in ``skip``."""
    only, skip = set(only), set(skip)
    return [s for s in _REGISTRY if (not only or s.name in only) and s.name not in skip]


def totals(rec: dict) -> dict[str, int]:
    """The record's counters summed over its phases."""
    return {k: sum(c[k] for c in rec["phases"].values()) for k in COUNTERS}


def audit_plan(plan: str) -> dict[str, object]:
    # Formatted explain prints each node once in the tree and once in the
    # details section headed "(<id>) <Operator> [codegen id : N]"; count
    # the detail headers so every node counts exactly once.
    nodes = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    return {
        "exchanges": sum(n == "Exchange" for n in nodes),
        "broadcasts": sum(n == "BroadcastExchange" for n in nodes),
        "smj": sum(n == "SortMergeJoin" for n in nodes),
        "cartesian": "CartesianProduct" in nodes,
        "bnlj": "BroadcastNestedLoopJoin" in nodes,
        "python_row": "BatchEvalPython" in nodes,
        "arrow_python": bool(
            {"ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas"} & set(nodes)
        ),
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", plan))),
        "scans": sum(n == "Scan" for n in nodes),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
    }


#: what differs between two builds of one query's plan: lambda-variable
#: suffixes, expression ids, object hashes of folded literals, the
#: dataframe id of CollectMetrics (repartitions and ranges sized to the
#: session's cores are stripped in ``fingerprint``)
_PLAN_NOISE = ((r"(lambda \w+?)_\d+(?=#)", r"\1"), (r"#\d+L?", "#"), (r"(?<=\w)@[0-9a-f]+\b", "@"),
               (r"^(.*CollectMetrics .*), \d+$", r"\1"))
#: plan text standing for work the plan does not show: driver-built or
#: checkpointed rows, a cache, Python code, a literal printed as an object hash
_HIDDEN = re.compile(r"\b(LogicalRDD|LocalRelation|InMemoryRelation)\b|Python|InPandas|InArrow|\w@[0-9a-f]+\b")


def fingerprint(spec: QuerySpec, df, sf_dir: str, *, ran_jobs: bool) -> str:
    """sha256 of the query's normalized optimized plan, its oracle SQL
    and, when the plan cannot show all its work, the package code its
    body reaches (``_code``): its plan reads files outside ``sf_dir``
    (a drained stream, a persisted index), matches ``_HIDDEN``, or the
    query ran Spark jobs while building (``ran_jobs``: a fit or a
    driver-side collect whose result the plan holds as literals; at
    sf0.001 doc_bpe_tokenize, doc_bpe_vocab, doc_unigram_logprob and
    embed_srp_ann are opaque by this test alone)."""
    plan = text = df._jdf.queryExecution().optimizedPlan().toString()
    cores = df.sparkSession.sparkContext.defaultParallelism
    for pattern, repl in (*_PLAN_NOISE, (rf"\b(Repartition |splits=Some\(){cores}\b", r"\1")):
        text = re.sub(pattern, repl, text, flags=re.M)
    # the distinct-aggregate rewrite numbers its groups (gid) in hash
    # order: those lines keep their tokens, not their order
    text = re.sub(r"^.*\bgid#.*$", lambda m: " ".join(sorted(
        re.split(r"[\s,\[\]()]+", re.sub(r"\b\d+\b", "?", m[0])))), text, flags=re.M)
    parts = [text, spec.oracle]
    if ran_jobs or _HIDDEN.search(plan) or any(sf_dir not in f for f in df.inputFiles()):
        parts += sorted(_code(spec.spark_fn))
    return hashlib.sha256("\0".join(parts).encode()).hexdigest()


def _code(fn) -> set[str]:
    """The package code ``fn`` reaches: the docstring-free syntax tree of
    each package function or class it names, transitively, and the value
    of each package constant it names. Comments, docstrings and line
    numbers are left out; local names are not."""
    out, seen, todo = set(), set(), [fn]
    while todo:
        obj = inspect.unwrap(todo.pop())
        if obj in seen:
            continue
        seen.add(obj)
        tree, names = _parsed(obj)
        out.add(f"{obj.__module__}.{obj.__qualname__}\0{tree}")
        for key, val in names:
            val = inspect.unwrap(val) if callable(val) else val
            if (inspect.isfunction(val) or inspect.isclass(val)) and val.__module__.startswith(_PKG):
                todo.append(val)
            elif isinstance(val, (int, float, str, bytes)) and key.startswith(_PKG):
                out.add(f"{key}\0{val!r}")
    return out


@functools.cache
def _parsed(obj) -> tuple[str, list[tuple[str, object]]]:
    """obj's docstring-free syntax tree, dumped, and the (qualified name,
    value) of each name it uses (one an import in its body binds, else a
    global of its module) and each attribute it reads from a module, but
    not the module state it rebinds (``global``: a scratch root is a fresh
    path in every process)."""
    tree, mod = ast.parse(textwrap.dedent(inspect.getsource(obj))), sys.modules[obj.__module__]
    scope, state = dict(vars(mod)), set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Global):
            state.update(node.names)
        elif isinstance(node, ast.Import):
            scope.update((a.asname or a.name, importlib.import_module(a.name)) for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            src = importlib.import_module("." * node.level + (node.module or ""), mod.__package__)
            scope.update((a.asname or a.name, getattr(src, a.name, None)) for a in node.names)
    names = []
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) and ast.get_docstring(node) is not None:
            node.body = node.body[1:]
        if isinstance(node, ast.Name) and node.id not in state:
            names.append((f"{obj.__module__}.{node.id}", scope.get(node.id)))
        elif isinstance(node, ast.Attribute) and inspect.ismodule(m := scope.get(getattr(node.value, "id", None))):
            names.append((f"{m.__name__}.{node.attr}", getattr(m, node.attr, None)))
    return ast.dump(tree), names


class _Streams(StreamingQueryListener):
    """runId -> {"name", "triggers"} of every stream started while
    the listener is registered."""

    def __init__(self):
        self.runs: dict[str, dict] = {}

    def onQueryStarted(self, event):
        self.runs[str(event.runId)] = {"name": event.name, "triggers": []}

    def onQueryProgress(self, event):
        p = event.progress
        self.runs[str(p.runId)]["triggers"].append({
            "batch": p.batchId, "input_rows": p.numInputRows, "duration_ms": dict(p.durationMs),
            "state_commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
        })

    def onQueryTerminated(self, event):
        pass


class _Store:
    """Reads of the live status store, in the status REST API's shape,
    each covering the jobs started since the previous read."""

    def __init__(self, sc):
        self._ctx = sc._jsc.sc()  # noqa: SLF001
        scala = getattr(sc._jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = sc._jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)  # noqa: SLF001
        self._next_job = self._next_stage = 0
        self.read({})  # jobs before the first query are nobody's

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def read(self, phase_of: dict[str, str | None]) -> tuple[dict, list[str], list[str]]:
        """Counters per phase, the phase looked up by job group
        (``phase_of``; groups mapped to None are left out), the failed
        stages, and the unstable phases. A stage counts once, for the
        first job that lists it, and only if it is new since the previous
        read: a stage reused from an earlier query is that query's cost.

        A phase is unstable, its counters comparable only across repeats,
        when two of its jobs ran at the same time: AQE re-plans as each
        concurrent query stage finishes, so the finishing order can change
        the work (doc_clean_corpus: 9 or 10 exec jobs)."""
        self._ctx.listenerBus().waitUntilEmpty()
        store = self._ctx.statusStore()
        jobs = sorted((j for j in self._json(store.jobsList(None))
                       if j["jobId"] >= self._next_job), key=lambda j: j["jobId"])
        first_stage, owner, spans = self._next_stage, {}, {}
        phases = {p: dict.fromkeys(COUNTERS, 0) for p in PHASES}
        for j in jobs:
            self._next_job = j["jobId"] + 1
            self._next_stage = max([self._next_stage, *(s + 1 for s in j["stageIds"])])
            phase = phase_of.get(j.get("jobGroup"), "other") if phase_of else None
            if phase:
                phases.setdefault(phase, dict.fromkeys(COUNTERS, 0))["jobs"] += 1
                start = j.get("submissionTime") or 0
                spans.setdefault(phase, []).append((start, j.get("completionTime") or start))
                for s in j["stageIds"]:
                    if s >= first_stage:
                        owner.setdefault(s, phase)
        failed = []
        for sid, phase in sorted(owner.items()):
            for s in self._json(store.stageData(sid, False, None, False, self._no_quantiles)):
                if s["status"] == "FAILED":
                    failed.append(f"stage {sid}.{s['attemptId']} ({s.get('name', '?')})")
                elif s["status"] == "COMPLETE":
                    phases[phase]["stages"] += 1
                    for src, dst in _STAGE_FIELDS.items():
                        phases[phase][dst] += s.get(src) or 0
        unstable = [p for p, iv in spans.items()
                    if any(b[0] < a[1] for a, b in zip(sorted(iv), sorted(iv)[1:]))]
        return phases, failed, sorted(unstable)


def run(spark, sf_dir: str, specs: Iterable[QuerySpec], *, collect: bool = False,
        repeat: int = 1) -> Iterator[tuple[QuerySpec, dict, object]]:
    """Yield ``(spec, record, rows)`` per spec, in the given order;
    ``rows`` is the ``toPandas`` frame with ``collect=True``, else None.
    With ``repeat`` > 1 each query runs that many times and the record
    is the run of median build + exec seconds."""
    sc = spark.sparkContext
    streams, store = _Streams(), _Store(sc)
    spark.streams.addListener(streams)

    def execute(spec: QuerySpec, prepare: bool) -> tuple[dict, object]:
        name, known = spec.name, set(streams.runs)
        rec = {"name": name, "error": None, "build_s": None, "exec_s": None, "plan": None,
               "fp": None}
        rows = None
        try:
            if prepare:
                sc.setJobGroup(f"{name}.prepare", "prepare")
                spec.prepare(spark, sf_dir)
            sc.setJobGroup(f"{name}.build", "build")
            t0 = time.perf_counter()
            df = spec.spark_fn(spark, sf_dir)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{name}.exec", "exec")
            if collect:
                rows = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            rec["build_s"], rec["exec_s"] = round(t1 - t0, 3), round(time.perf_counter() - t1, 3)
            if streams.runs.keys() <= known:
                rec["plan"] = audit_plan(formatted_plan(df))
        except Exception as exc:  # noqa: BLE001 — isolation is the point
            rec["error"] = f"{type(exc).__name__}: {exc}"[:500]
        sc._jsc.clearJobGroup()  # noqa: SLF001
        runs = [r for r in streams.runs if r not in known]
        rec["streams"] = [streams.runs[r] for r in runs]
        try:
            rec["phases"], rec["failed_stages"], rec["unstable"] = store.read({
                f"{name}.prepare": None, f"{name}.build": "build", f"{name}.exec": "exec",
                **dict.fromkeys(runs, "stream")})
        except Exception as exc:  # noqa: BLE001
            rec["phases"] = {p: dict.fromkeys(COUNTERS, 0) for p in PHASES}
            rec["failed_stages"], rec["unstable"] = [], []
            rec["error"] = rec["error"] or f"status store: {type(exc).__name__}: {exc}"[:500]
        if rec["error"] is None:
            try:
                rec["fp"] = fingerprint(spec, df, sf_dir, ran_jobs=rec["phases"]["build"]["jobs"] > 0)
            except Exception as exc:  # noqa: BLE001
                rec["error"] = f"fingerprint: {type(exc).__name__}: {exc}"[:500]
        return rec, rows

    try:
        for spec in specs:
            samples = []
            for i in range(repeat):
                rec, rows = execute(spec, prepare=i == 0 and spec.prepare is not None and not collect)
                if rec["error"]:
                    break
                samples.append(rec)
            else:
                rec = sorted(samples, key=lambda r: r["build_s"] + r["exec_s"])[repeat // 2]
            yield spec, rec, rows
    finally:
        spark.streams.removeListener(streams)
