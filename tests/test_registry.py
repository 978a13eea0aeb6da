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


def test_bucketed_stream_joins_share_their_twin_oracle():
    # the bucketed hot-key hatch is certified by the SAME batch oracle
    # as its unbucketed twin, so the two strings must not drift apart
    oracle = {s.name: s.oracle for s in _REGISTRY}
    for twin in ("stream_stream_join", "stream_stream_left_join"):
        assert oracle[f"{twin}_bucketed"] == oracle[twin]
