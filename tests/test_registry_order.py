"""Presentation order of the driver contract's queries().

The driver's oracle gate checks the first 50 names of queries(), so the
order is part of the contract: GATE_FIRST, then every other query in
registration order. Needs no Spark session.
"""

from __future__ import annotations

import importlib

from streamprocessing_spark import registry

N_QUERIES = 394


def _names() -> list[str]:
    return list(importlib.import_module("__spark_entry__").queries())


def test_queries_begin_with_gate_first():
    names = _names()
    assert names[: len(registry.GATE_FIRST)] == list(registry.GATE_FIRST)


def test_rest_follow_registration_order():
    # decorator order within a module is source order
    specs = registry.all_specs()
    rest = [n for n in _names() if n not in registry.GATE_FIRST]
    expected = sorted(
        rest,
        key=lambda n: (
            registry._QUERY_MODULES.index(specs[n].fn.__module__),
            specs[n].fn.__code__.co_firstlineno,
        ),
    )
    assert rest == expected


def test_gate_first_names_registered_once():
    gate = registry.GATE_FIRST
    assert len(set(gate)) == len(gate)
    registry.all_specs()
    assert set(gate) <= set(registry._REGISTRY)


def test_names_equal_registry():
    names = _names()
    assert len(names) == len(set(names)) == N_QUERIES
    assert set(names) == set(registry._REGISTRY)
