"""Rotation invariants for the data-driven catalog ordering.

registry() orders queries never-driver-recorded first, then by oldest
last-recorded round (CORRECTNESS_r*.json in the repo root). The external
driver records a bounded prefix of that ordering each round, so these
invariants bound every query's staleness without coupling to import order.
"""
from __future__ import annotations

import os

from prajna_spark.queries import _recorded_rounds, _staleness_order, registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_order_is_staleness_monotone(monkeypatch):
    seen = _recorded_rounds()
    names = list(registry().keys())
    # last-recorded round must be non-decreasing along the ordering, with
    # never-recorded (treated as round -inf) leading
    last_rounds = [max(seen[n]) if seen.get(n) else -1 for n in names]
    assert last_rounds == sorted(last_rounds)

    # the LATEST recording counts, and ties within a round go by name
    import prajna_spark.queries as q

    monkeypatch.setattr(
        q, "_recorded_rounds", lambda: {"zz": {7}, "cc": {3}, "bb": {3}, "aa": {3, 9}}
    )
    assert q._staleness_order(["zz", "new", "cc", "bb", "aa"]) == [
        "new", "bb", "cc", "zz", "aa"
    ]


def test_never_recorded_lead_the_window():
    seen = _recorded_rounds()
    names = list(registry().keys())
    never = {n for n in names if not seen.get(n)}
    assert set(names[: len(never)]) == never


def test_ordering_is_deterministic_and_complete():
    a = list(registry().keys())
    b = list(registry().keys())
    assert a == b
    assert len(a) == len(set(a))
    assert _staleness_order(a) == a


def test_ledgers_exist_here():
    # In this repo the driver ledgers are present; the ordering must be
    # reading them (if this fails, _recorded_rounds' root path is wrong).
    if any(f.startswith("CORRECTNESS_r") for f in os.listdir(REPO)):
        assert _recorded_rounds(), "ledgers present on disk but none parsed"
