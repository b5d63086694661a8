"""Invariants of the derived driver verification window.

The grading driver verifies only the first 50 entries of ``queries()`` per
round.  ``queries._driver_order`` derives that order from the committed
``CORRECTNESS_r*.json`` records plus the small ``_CHANGED`` map, so these
tests check the pure function rather than any hand-kept list.
"""

from __future__ import annotations

import pkgutil
import re

import ra2_datalake_linaresjoan_spark as pkg
from ra2_datalake_linaresjoan_spark.queries import (
    _CHANGED,
    _QUERY_MODULES,
    _driver_order,
    _driver_records,
    queries,
)

WINDOW = 50
GREEN = {"rows_match": True, "schema_match": True, "hash_match": True, "err": None}


def _green(row: dict | None) -> bool:
    return bool(row) and all(row.get(k) for k in GREEN if k != "err") and not row.get("err")


def _pending(records: dict[int, dict], changed: dict[str, int]) -> set[str]:
    return {
        q for q, due in changed.items()
        if not any(rnd >= due and _green(rows.get(q)) for rnd, rows in records.items())
    }


def test_priority_names_all_resolve():
    """``queries()`` is the derived order, a deterministic permutation of
    the registry, and every ``_CHANGED`` name is registered."""
    order = list(queries())
    assert order == list(queries())
    assert len(order) == len(set(order)), "duplicate registry names"
    assert _driver_order(order, _driver_records(), _CHANGED) == order
    assert set(_CHANGED) <= set(order), sorted(set(_CHANGED) - set(order))


def test_query_module_list_names_every_module_once():
    """Every ``queries_ext*``/``queries_llm*`` module in the package
    feeds the registry, each exactly once."""
    on_disk = sorted(
        m.name.removeprefix("queries_")
        for m in pkgutil.iter_modules(pkg.__path__)
        if re.fullmatch(r"queries_(ext|llm)\d*", m.name)
    )
    assert sorted(_QUERY_MODULES) == on_disk


def test_never_checked_queries_lead_the_driver_window():
    """Names with no driver row take the first seats, then pending changes."""
    records = _driver_records()
    assert len(records) >= 10, "CORRECTNESS_r*.json files missing?"
    fresh = ["new_query_a", "new_query_b"]
    order = _driver_order(list(queries()) + fresh, records, _CHANGED)
    pending = _pending(records, _CHANGED)
    assert order[: len(fresh)] == fresh
    assert set(order[len(fresh) : len(fresh) + len(pending)]) == pending


def test_changed_this_round_declared_and_in_window():
    """A change committed now jumps its query into the window, and the
    green row of the round it names retires the entry."""
    names = list(queries())
    records = _driver_records()
    due = max(records) + 1
    name = _driver_order(names, records, _CHANGED)[-1]  # the least due name
    assert name not in _driver_order(names, records, _CHANGED)[:WINDOW]
    changed = {**_CHANGED, name: due}
    assert name in _driver_order(names, records, changed)[:WINDOW]
    landed = {**records, due: {name: GREEN}}
    assert _driver_order(names, landed, changed) == _driver_order(names, landed, _CHANGED)


def test_window_rotates_toward_stalest_queries():
    """Land ten synthetic driver rounds, each marking its derived window
    green: every pending entry retires after one round and every registry
    name is seated at least once."""
    names = list(queries())
    records = _driver_records()
    start = max(records) + 1
    seated: set[str] = set()
    for rnd in range(start, start + 10):
        window = _driver_order(names, records, _CHANGED)[:WINDOW]
        if rnd == start + 1:  # the retired entries are now the freshest names
            assert not _pending(records, _CHANGED), "pending entry never retired"
            assert not set(_CHANGED) & set(window), "retired entry still seated"
        seated.update(window)
        records = {**records, rnd: {q: GREEN for q in window}}
    assert seated == set(names), sorted(set(names) - seated)[:12]
