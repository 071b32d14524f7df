"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Queries and oracles are co-located with their operator modules in
``nlp_data_pipeline_spark/operators/*``; this file only aggregates.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

_MODULES = [
    "nlp_data_pipeline_spark.operators.relational",
    "nlp_data_pipeline_spark.operators.relational_ext",
    "nlp_data_pipeline_spark.operators.text_analytics",
    "nlp_data_pipeline_spark.operators.dedup",
    "nlp_data_pipeline_spark.operators.similarity",
    "nlp_data_pipeline_spark.operators.events",
    "nlp_data_pipeline_spark.operators.nlp_model",
    "nlp_data_pipeline_spark.operators.multimodal",
    "nlp_data_pipeline_spark.operators.doc_pipeline",
    "nlp_data_pipeline_spark.operators.sql_api",
]


# The driver caps its per-round CORRECTNESS check at the FIRST 50
# dict entries, so ordering decides what gets (re-)verified. Rank by
# verification need so the 50-query window always covers the queries
# that most need a driver row:
#   0. never green — no (rows+schema+hash) pass in ANY recorded
#      CORRECTNESS_r*.json (covers both never-checked and red/err rows;
#      red queries rotate back in until they earn a green row)
#   1. green at least once — least-recently-checked round first, so
#      regressions in once-green queries eventually resurface.
# Ties keep module/dict order (keeps n01 before n02/n03/p03, sharing
# the warm LDA fit within a driver run).
# A sanctioned rows-only row (err == "no_oracle" with spark_rows > 0 —
# the n01–n03 LDA queries, SURVEY §5.2-2) counts as "checked that
# round": it is the strongest row those queries can ever earn, so
# treating it as never-green would pin them to the window's head
# forever and permanently consume 3 of the 50 rotation slots.
def _verification_rank() -> dict:
    """name -> (has_green: bool, last_checked_round: int)."""
    import glob
    import json
    import re

    rank: dict = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        rnd = int(m.group(1)) if m else 0
        try:
            with open(path) as f:
                rows = json.load(f)
        except Exception:
            continue  # unreadable round file: ignore
        for name, row in rows.items():
            green = isinstance(row, dict) and (
                (
                    bool(row.get("rows_match"))
                    and bool(row.get("schema_match"))
                    and bool(row.get("hash_match"))
                    and not row.get("err")
                )
                or (
                    row.get("err") == "no_oracle"
                    and (row.get("spark_rows") or 0) > 0
                )
            )
            prev_green, prev_rnd = rank.get(name, (False, 0))
            rank[name] = (prev_green or green, max(prev_rnd, rnd))
    return rank


def _collect(attr: str) -> dict:
    import importlib

    out: dict = {}
    for modname in _MODULES:
        try:
            mod = importlib.import_module(modname)
        except ImportError:
            continue  # module not built yet
        out.update(getattr(mod, attr, {}))
    rank = _verification_rank()
    names = list(out)
    # (needs-verification first, then oldest last-check, then dict order)
    order = sorted(
        range(len(names)),
        key=lambda i: (
            rank.get(names[i], (False, 0))[0],  # False (never green) first
            rank.get(names[i], (False, 0))[1],  # least-recently-checked
            i,
        ),
    )
    return {names[i]: out[names[i]] for i in order}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Corpus token-frequency top-10: clean → tokenize → explode →
    group-count → ordered limit (reference R2-R6 + R21 end-to-end,
    /root/reference/nlp_data_tagging.py:49-76, :319-322).
    """
    from nlp_data_pipeline_spark.operators.text_analytics import t01_token_freq_top10

    return t01_token_freq_top10(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return _collect("QUERIES")


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query; omitted keys get rows-only checks."""
    return _collect("ORACLES")
