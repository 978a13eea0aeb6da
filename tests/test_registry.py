"""Registry shape: unique names, a fully named driver window, an oracle
for every query, and registry() order. Needs no SparkSession."""

from __future__ import annotations

from smart_fraud_detection_data_pipeline_spark.queries import (
    _DRIVER_ROTATION,
    _REGISTRY,
    registry,
)

_NAMES = [s.name for s in _REGISTRY]


def test_names_unique():
    assert len(set(_NAMES)) == len(_NAMES)


def test_rotation_names_registered_once():
    assert sorted(set(_DRIVER_ROTATION) - set(_NAMES)) == []
    assert len(set(_DRIVER_ROTATION)) == len(_DRIVER_ROTATION)


def test_rotation_covers_driver_window():
    # the driver checks registry()[:50]; every slot must be named here
    assert len(_DRIVER_ROTATION) >= 50


def test_every_spec_has_oracle():
    missing = [s.name for s in _REGISTRY if not (isinstance(s.oracle, str) and s.oracle.strip())]
    assert missing == []


def test_registry_order():
    rest = [n for n in _NAMES if n not in _DRIVER_ROTATION]
    assert [s.name for s in registry()] == list(_DRIVER_ROTATION) + rest


def test_twins_share_their_oracle():
    # every bucketed hot-key hatch is certified by the SAME oracle as
    # its unbucketed twin, and the streaming session windows by the
    # batch one, so the twin strings must not drift apart
    oracle = {s.name: s.oracle for s in _REGISTRY}
    bucketed = [n for n in _NAMES if n.endswith("_bucketed")]
    assert len(bucketed) >= 4
    pairs = [(n, n[: -len("_bucketed")]) for n in bucketed]
    pairs.append(("session_windows_streaming", "session_windows"))
    for twin, base in pairs:
        assert oracle[twin] == oracle[base], twin
