"""The registry runner (tools/runner.py): per-query records with phase
counters read from the status store, stream triggers from the listener,
job and stage counts that do not depend on the order queries run in,
and the local core count the session builder defaults to."""

from __future__ import annotations

import os

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
