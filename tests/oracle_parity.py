"""The one oracle check: a declared query against its DuckDB oracle at
sf0.001. The sweep in test_entry_contract.py runs it for every oracle;
the named ``test_<id>_matches_duckdb_oracle`` tests run it for one."""

import re
from types import SimpleNamespace

import __spark_entry__ as entry_mod
from tools.check_oracle import compare, normalized_rows

QUERIES = entry_mod.queries()
ORACLES = entry_mod.oracle_sql()

# The queries whose result is empty on both engines at sf0.001; every
# other oracle-backed query must return rows there.
EMPTY_AT_SF0001 = {
    "q07_customers_without_orders",
    "q15_distinct_having",
    "v02_sql_correlated_subquery",
}


def _top_level(sql: str) -> str:
    """``sql`` without comments, quoted text and parenthesized parts."""
    out, depth, i = [], 0, 0
    while i < len(sql):
        c = sql[i]
        if sql.startswith("--", i):
            eol = sql.find("\n", i)
            i = len(sql) if eol < 0 else eol
            continue
        if c in "'\"":
            i = sql.index(c, i + 1) + 1
            continue
        depth += (c == "(") - (c == ")")
        if depth == 0 and c != ")":
            out.append(c)
        i += 1
    return "".join(out)


_CLAUSE = re.compile(
    r"\b(ORDER\s+BY|SELECT|FROM|WHERE|GROUP\s+BY|HAVING|QUALIFY|WINDOW|UNION"
    r"|EXCEPT|INTERSECT)\b",
    re.IGNORECASE,
)


def ends_in_order_by(sql: str) -> bool:
    """True when the statement's last top-level clause is an ORDER BY
    (a LIMIT/OFFSET may follow): its row order is part of the answer."""
    clauses = _CLAUSE.findall(_top_level(sql))
    return bool(clauses) and clauses[-1].upper().startswith("ORDER")


class OracleCheck:
    """``check(name)`` asserts the declared query equals its oracle as a
    multiset of normalized rows; in order too when the oracle orders its
    result; and non-empty unless it is one of EMPTY_AT_SF0001. A query
    that passed once in the session is not run again."""

    def __init__(self, spark, sf_dir, duck):
        self.spark, self.sf_dir, self.duck = spark, sf_dir, duck
        self._passed = set()

    def __call__(self, name: str) -> None:
        if name not in self._passed:
            self._check(name)
            self._passed.add(name)

    def _check(self, name: str) -> None:
        sdf = QUERIES[name](self.spark, self.sf_dir)
        rows = sdf.collect()
        res = self.duck.execute(ORACLES[name])
        cols = [d[0] for d in res.description]
        want = res.fetchall()
        # compare() reads only .columns and .collect(): hand it the one
        # collect, so the query runs once
        got = SimpleNamespace(columns=sdf.columns, collect=lambda: rows)
        issues = compare(name, got, want, cols)
        assert issues == [], issues
        if ends_in_order_by(ORACLES[name]):
            order = sorted(cols)
            assert normalized_rows(rows, sdf.columns, order) == normalized_rows(
                want, cols, order
            ), "row order differs from the oracle's ORDER BY"
        assert (len(rows) == 0) == (name in EMPTY_AT_SF0001), len(rows)
