"""Driver-contract tests: entry() shape, queries()/oracle_sql() key
discipline, and the oracle sweep: every declared query against its
DuckDB oracle at sf0.001."""

import pytest

import __spark_entry__ as entry_mod
from oracle_parity import EMPTY_AT_SF0001, ORACLES, ends_in_order_by


def test_entry_returns_rows(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) == 10
    assert df.columns == ["token", "cnt"]


def test_oracle_keys_subset_of_queries():
    import importlib

    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert EMPTY_AT_SF0001 <= set(oracles)
    assert len(qs) >= 40
    # per module: every oracle has its query, and no query name is declared
    # by two modules (the aggregate's dict update would silently keep only
    # the later module's function)
    owner: dict = {}
    for modname in entry_mod._MODULES:
        mod = importlib.import_module(modname)
        assert set(mod.ORACLES) <= set(mod.QUERIES), modname
        for name in mod.QUERIES:
            assert name not in owner, (name, owner.get(name), modname)
            owner[name] = modname
    assert set(owner) == set(qs)


def test_rotation_puts_never_green_queries_first():
    """The driver checks only the first 50 queries() entries; any query
    without a green (rows+schema+hash) row in a recorded round must be
    inside that window so it gets (re-)verified."""
    rank = entry_mod._verification_rank()
    names = list(entry_mod.queries())
    never_green = [n for n in names if not rank.get(n, (False, 0))[0]]
    window = set(names[:50])
    assert all(n in window for n in never_green), [
        n for n in never_green if n not in window
    ]
    # never-green queries strictly precede every ever-green query
    if never_green:
        last_red = max(names.index(n) for n in never_green)
        first_green = min(
            (names.index(n) for n in names if rank.get(n, (False, 0))[0]),
            default=len(names),
        )
        assert last_red < first_green


def test_ends_in_order_by():
    assert ends_in_order_by("SELECT a FROM t ORDER BY a LIMIT 3")
    assert ends_in_order_by("WITH x AS (SELECT 1) SELECT a FROM x ORDER BY f(a) DESC, b")
    assert not ends_in_order_by("SELECT a FROM (SELECT a FROM t ORDER BY a)")
    assert not ends_in_order_by("SELECT row_number() OVER (ORDER BY a) FROM t")
    assert not ends_in_order_by("SELECT a FROM t ORDER BY a UNION ALL SELECT b FROM u")
    assert not ends_in_order_by("SELECT 'ORDER BY' AS s FROM t -- ORDER BY s")


@pytest.mark.parametrize("name", list(ORACLES))
def test_oracle_equivalence(oracle_check, name):
    """Every oracle-backed query passes the shared DuckDB parity check
    (oracle_parity.OracleCheck)."""
    oracle_check(name)


def test_rows_only_set_is_exactly_the_sanctioned_three():
    """Every declared query carries a DuckDB oracle EXCEPT the three
    sanctioned LDA-dependent ones (SURVEY §5.2-2) — a forgotten ORACLES
    entry would silently downgrade a query to the weaker rows-only
    check, which this pins."""
    qs = set(entry_mod.queries())
    oracled = set(entry_mod.oracle_sql())
    assert qs - oracled == {"n01_lda_topics", "n02_doc_tags", "n03_topic_metrics"}
