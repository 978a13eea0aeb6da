"""Registry shape and the certification ledger: unique names, an oracle
for every query, registry() order from the ledger, a ledger keyed by
exactly the registered names, and every driver round absorbed into it
(tools/certify.py). tests/test_oracle_parity.py checks the ledger's
fingerprints against the tree. Needs no SparkSession."""

from __future__ import annotations

import json

from smart_fraud_detection_data_pipeline_spark import queries as Q
from tools import certify

_NAMES = [s.name for s in Q._REGISTRY]


def _ledger() -> dict:
    with open(Q.LEDGER, encoding="utf-8") as fh:
        return json.load(fh)


def _passed(ok: bool) -> dict:
    return {"rows_match": True, "schema_match": True, "hash_match": ok, "err": None}


def test_names_unique():
    assert len(set(_NAMES)) == len(_NAMES)


def test_every_spec_has_oracle():
    missing = [s.name for s in Q._REGISTRY if not (isinstance(s.oracle, str) and s.oracle.strip())]
    assert missing == []


def test_registry_returns_each_name_once():
    assert sorted(s.name for s in Q.registry()) == sorted(_NAMES)


def test_registry_order(tmp_path, monkeypatch):
    """Changed or unknown names first, the oldest certified round first
    among them; then the unchanged ones by certified round; ties keep
    registration order."""
    a, b, c, d, e, *rest = _NAMES
    queries = {
        a: {"fp": "a", "certified": {"round": 3, "fp": "a"}},
        b: {"fp": "b", "certified": {"round": 9, "fp": "old"}},
        c: {"fp": "c", "certified": None},
        # d has no entry
        e: {"fp": "e", "certified": {"round": 2, "fp": "e"}},
        **{n: {"fp": n, "certified": {"round": 5, "fp": n}} for n in rest},
    }
    path = tmp_path / "certified.json"
    path.write_text(json.dumps({"absorbed_round": 9, "queries": queries}))
    monkeypatch.setattr(Q, "LEDGER", str(path))
    assert [s.name for s in Q.registry()] == [c, d, b, e, a, *rest]


def test_ledger_keys_are_the_registered_names():
    assert sorted(_ledger()["queries"]) == sorted(_NAMES)


def test_ledger_has_absorbed_every_driver_round():
    """A driver CORRECTNESS_r<NN>.json newer than the ledger's absorbed
    round fails here until ``python tools/certify.py`` absorbs it."""
    assert max(certify.driver_rounds(), default=0) <= _ledger()["absorbed_round"]


def test_absorb_certifies_passes_and_moves_past_an_all_failing_round(tmp_path, monkeypatch):
    a, b = _NAMES[:2]
    (tmp_path / "CORRECTNESS_r14.json").write_text(json.dumps({a: _passed(True)}))
    (tmp_path / "CORRECTNESS_r15.json").write_text(json.dumps({a: _passed(False), b: _passed(False)}))
    monkeypatch.setattr(certify, "_REPO", str(tmp_path))
    old = {"round": 12, "fp": "a0"}
    ledger = {"absorbed_round": 14, "queries": {a: {"fp": "a1", "certified": old},
                                                b: {"fp": "b1", "certified": None}}}
    assert certify.absorb(ledger)["absorbed_round"] == 15  # no name passed in r15
    assert ledger["queries"][a]["certified"] == old and ledger["queries"][b]["certified"] is None
    (tmp_path / "CORRECTNESS_r16.json").write_text(json.dumps({b: _passed(True), "gone": _passed(True)}))
    assert certify.absorb(ledger) == {"absorbed_round": 16, "queries": {
        a: {"fp": "a1", "certified": old}, b: {"fp": "b1", "certified": {"round": 16, "fp": "b1"}}}}


def test_only_driver_artifacts_count_as_rounds(tmp_path, monkeypatch):
    for f in ("CORRECTNESS_r15.json", "CORRECTNESS_r7.json", "CORRECTNESS_local_r24.json",
              "CORRECTNESS_local7_r13.json", "CORRECTNESS_r9b.json", "BENCH_r16.json"):
        (tmp_path / f).write_text("{}")
    monkeypatch.setattr(certify, "_REPO", str(tmp_path))
    assert sorted(certify.driver_rounds()) == [7, 15]


def test_twins_share_their_oracle():
    # every bucketed hot-key hatch is certified by the SAME oracle as
    # its unbucketed twin, and the streaming session windows by the
    # batch one, so the twin strings must not drift apart
    oracle = {s.name: s.oracle for s in Q._REGISTRY}
    bucketed = [n for n in _NAMES if n.endswith("_bucketed")]
    assert len(bucketed) >= 4
    pairs = [(n, n[: -len("_bucketed")]) for n in bucketed]
    pairs.append(("session_windows_streaming", "session_windows"))
    for twin, base in pairs:
        assert oracle[twin] == oracle[base], twin
