"""The registry runner (tools/runner.py): per-query records with phase
counters read from the status store, stream triggers from the listener,
job and stage counts that do not depend on the order queries run in,
the package code a fingerprint hashes, and the local core count the
session builder defaults to."""

from __future__ import annotations

import ast
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

import smart_fraud_detection_data_pipeline_spark as pkg
from smart_fraud_detection_data_pipeline_spark.session import local_cpus
from tools import runner

#: one composite text pipeline plus three cheap batch queries
_ORDER = ["doc_clean_corpus", "scan_filter_project", "pricing_summary", "top_customers"]


def _counts(spark, sf_dir, order):
    """(name, phase) -> (jobs, stages), and the unstable (name, phase)s."""
    specs = {s.name: s for s in runner.select(order)}
    counts, unstable = {}, set()
    for spec, rec, _ in runner.run(spark, sf_dir, [specs[n] for n in order]):
        assert rec["error"] is None, rec["error"]
        assert set(rec["phases"]) == set(runner.PHASES)
        assert all(set(c) == set(runner.COUNTERS) for c in rec["phases"].values())
        for p in ("build", "exec"):
            counts[spec.name, p] = (rec["phases"][p]["jobs"], rec["phases"][p]["stages"])
        unstable |= {(spec.name, p) for p in rec["unstable"]}
    return counts, unstable


def test_job_and_stage_counts_do_not_depend_on_order(spark, sf_dir):
    """Counts of a phase whose jobs ran one at a time are the same in
    either order; a phase that ran jobs concurrently is flagged unstable
    (runner._Store.read: AQE re-plans as concurrent stages finish)."""
    forward, unstable = _counts(spark, sf_dir, _ORDER)
    backward, unstable_back = _counts(spark, sf_dir, _ORDER[::-1])
    stable = forward.keys() - unstable - unstable_back
    assert {k: forward[k] for k in stable} == {k: backward[k] for k in stable}
    assert ("scan_filter_project", "exec") in stable
    assert all(forward[n, "exec"][0] > 0 for n in _ORDER)


def test_stream_record_carries_its_micro_batches(spark, sf_dir):
    [(spec, rec, _)] = runner.run(spark, sf_dir, runner.select(["dedup_streaming"]))
    assert rec["error"] is None, rec["error"]
    [stream] = rec["streams"]
    assert stream["name"] == "dedup_streaming"
    assert len(stream["triggers"]) >= 1
    assert all("triggerExecution" in t["duration_ms"] for t in stream["triggers"])
    assert rec["phases"]["stream"]["jobs"] >= len(stream["triggers"])
    assert rec["phases"]["stream"]["tasks"] > 0
    # the frame is only the read-back of the sink: no plan row for it
    assert rec["plan"] is None


def test_minhash_stream_probe_runs_no_action_of_its_own(spark, sf_dir):
    """Per trigger of the two-file minhash ingest stream: the round-robin
    spread's map stage, the probe's AQE query stages and the sink write,
    nine jobs. The eager delta checkpoint inside foreachBatch made a
    tenth."""
    [(_, rec, _)] = runner.run(spark, sf_dir, runner.select(["dedup_incremental_streaming"]))
    assert rec["error"] is None, rec["error"]
    [stream] = rec["streams"]
    assert len(stream["triggers"]) == 2
    assert rec["phases"]["stream"]["jobs"] <= 9 * len(stream["triggers"])


def test_runner_isolates_a_failing_query(spark, sf_dir):
    [spec] = runner.select(["scan_filter_project"])
    recs = [rec for _, rec, _ in runner.run(spark, "/nonexistent", [spec, spec])]
    assert len(recs) == 2 and all(r["error"] for r in recs)


def test_runner_isolates_a_failing_explain_and_store_read(spark, sf_dir, monkeypatch):
    """A plan explain or a status-store read that raises is its query's
    error; the queries after it still run and are read."""
    explains, reads = [], []
    audit_plan, read = runner.audit_plan, runner._Store.read

    def explain_fails_for_first_query(plan):
        explains.append(plan)
        if len(explains) == 1:
            raise RuntimeError("explain")
        return audit_plan(plan)

    def read_fails_for_second_query(self, phase_of):
        reads.append(phase_of)
        if len(reads) == 3:  # the constructor's read, then one per query
            raise RuntimeError("store")
        return read(self, phase_of)

    monkeypatch.setattr(runner, "audit_plan", explain_fails_for_first_query)
    monkeypatch.setattr(runner._Store, "read", read_fails_for_second_query)
    [spec] = runner.select(["scan_filter_project"])
    recs = [rec for _, rec, _ in runner.run(spark, sf_dir, [spec] * 3)]
    assert "explain" in recs[0]["error"] and recs[0]["phases"]["exec"]["jobs"] > 0
    assert "store" in recs[1]["error"] and recs[1]["plan"] is not None
    assert recs[2]["error"] is None and recs[2]["phases"]["exec"]["jobs"] > 0


def test_local_cpus_defaults_to_usable_cores(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3


def _code_hash(spec) -> str:
    return hashlib.sha256("\0".join(sorted(runner._code(spec.spark_fn))).encode()).hexdigest()


def _mutated(root, module: str, fn: str) -> None:
    """A copy of the package under ``root`` whose ``module.fn`` ends in one
    more statement."""
    src = os.path.dirname(pkg.__file__)
    shutil.copytree(src, root / pkg.__name__, ignore=shutil.ignore_patterns("__pycache__"))
    path = root / pkg.__name__ / f"{module.replace('.', '/')}.py"
    lines = path.read_text().splitlines(keepends=True)
    last = next(n for n in ast.parse("".join(lines)).body if getattr(n, "name", None) == fn).body[-1]
    lines.insert(last.end_lineno, " " * last.col_offset + "pass\n")
    path.write_text("".join(lines))


@pytest.mark.parametrize(("module", "fn", "callers"), [
    ("operators.loaders", "compact_dataset", {"warehouse_compaction"}),
    ("operators.ml", "kmeans_centroids", {"embed_semantic_dedup_kmeans", "embed_ivf_kmeans_ann"}),
])
def test_code_hash_follows_imports_in_query_bodies(tmp_path, module, fn, callers):
    """Editing a helper that query bodies import inside themselves
    changes the code hash of exactly those queries."""
    _mutated(tmp_path, module, fn)
    script = ("import sys; sys.path[:0] = sys.argv[1:]\n"
              "from tools import runner\nfrom tests.test_runner import _code_hash\n"
              "print(__import__('json').dumps({s.name: _code_hash(s) for s in runner.select()}))")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    after = json.loads(subprocess.run([sys.executable, "-c", script, str(tmp_path), repo],
                                      capture_output=True, text=True, check=True).stdout)
    assert {s.name for s in runner.select() if _code_hash(s) != after[s.name]} == callers
