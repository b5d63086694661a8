"""Oracle-differential tests: every registered query vs its DuckDB oracle
at sf0.01 — the same gate the driver applies (SURVEY §5.2.1)."""

from __future__ import annotations

import pytest

from ra2_datalake_linaresjoan_spark import queries as q
from tests.oracle_harness import compare, duck_con


@pytest.fixture(scope="module")
def con(sf_dir):
    c = duck_con(sf_dir)
    yield c
    c.close()


def _oracle_pairs():
    sqls = q.oracle_sql()
    return [(name, fn, sqls[name]) for name, fn in q.queries().items() if name in sqls]


@pytest.mark.parametrize("name,fn,sql", _oracle_pairs(), ids=[p[0] for p in _oracle_pairs()])
def test_query_matches_oracle(spark, sf_dir, con, name, fn, sql):
    df = fn(spark, sf_dir)
    ok, msg = compare(df, con, sql)
    assert ok, f"{name}: {msg}"


def test_all_queries_return_rows(spark, sf_dir):
    for name, fn in q.queries().items():
        n = fn(spark, sf_dir).count()
        assert n >= 0, name


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()).issubset(set(e.queries()))



def test_driver_priority_names_are_registered():
    """Every hand-declared re-verification name must exist in the registry,
    and the derived driver order must seat each name once — a typo here
    silently burns one of the driver's 50 correctness slots."""
    from ra2_datalake_linaresjoan_spark.queries import _CHANGED

    order = list(q.queries())
    registry = set(order)
    missing = [n for n in _CHANGED if n not in registry]
    assert not missing, missing
    assert len(registry) == len(order)
