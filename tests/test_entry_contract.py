"""Driver-contract smoke tests: entry() shape, queries()/oracle_sql()
key discipline, and a fast sf0.001 oracle sweep for the pure-SQL ops."""

import duckdb
import pytest

import __spark_entry__ as entry_mod
from nlp_data_pipeline_spark.sources.catalog import TABLE_NAMES

FAST_ORACLE_QUERIES = [
    "q01_pricing_summary",
    "q10_topk_customers_per_nation",
    "t01_token_freq_top10",
    "d04_simhash",
    "s01_cosine_topk",
    "e02_session_windows",
    "m02_decode_stub_pipeline",
]


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


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


@pytest.mark.parametrize("name", FAST_ORACLE_QUERIES)
def test_fast_oracle_equivalence(spark, sf_dir, duck, name):
    import sys

    sys.path.insert(0, "/root/repo/tools")
    from check_oracle import compare

    sdf = entry_mod.queries()[name](spark, sf_dir)
    res = duck.execute(entry_mod.oracle_sql()[name])
    cols = [d[0] for d in res.description]
    issues = compare(name, sdf, res.fetchall(), cols)
    assert issues == [], issues


def test_rows_only_set_is_exactly_the_sanctioned_three():
    """Every declared query carries a DuckDB oracle EXCEPT the three
    sanctioned LDA-dependent ones (SURVEY §5.2-2) — a forgotten ORACLES
    entry would silently downgrade a query to the weaker rows-only
    check, which this pins."""
    qs = set(entry_mod.queries())
    oracled = set(entry_mod.oracle_sql())
    assert qs - oracled == {"n01_lda_topics", "n02_doc_tags", "n03_topic_metrics"}
