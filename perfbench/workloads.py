"""The benchmark's workloads and the correctness check of their outputs.

Every workload is a pass: the listed public query functions
``fn(spark, sf_dir) -> DataFrame`` called in this order by one client.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    why: str


# Two workloads, so that 4 + 22 x 2 runs of a cold checked pass plus
# warm timed passes fit the time budget (see README.md).
WORKLOADS = {
    "corpus": Workload(
        (
            "t01_token_freq_top10",
            "n01_lda_topics",
            "n02_doc_tags",
            "n03_topic_metrics",
            "d06_neardup_clusters",
            "s01_cosine_topk",
        ),
        "batch curation of 600 docs and 600 64-d embeddings: the paper's main() "
        "(token counts, LDA fit, tags), near-dup clusters (12% dups), cosine top-k",
    ),
    "interactive": Workload(
        (
            "q01_pricing_summary",
            "q21_pivot_event_matrix",
            "v01_sql_big_spenders",
            "e04_streaming_tumbling",
            "m07_png_pixel_stats",
            "r06_json_roundtrip",
        ),
        "an analyst's short queries: TPC-H-style aggregate on 30k lineitems, "
        "pivot and streaming windows on 10k events, SQL, image decode, JSON round-trip",
    ),
}

# n01-n03 have no DuckDB oracle; they are checked by invariants instead.
N_TOPICS = 5
TERMS_PER_TOPIC = 10


def _n01(rows: list[dict], n_docs: int) -> list[str]:
    per_topic: dict[int, list[int]] = {}
    for r in rows:
        per_topic.setdefault(r["topic"], []).append(r["term_rank"])
    issues = []
    if len(per_topic) != N_TOPICS:
        issues.append(f"{len(per_topic)} topics, expected {N_TOPICS}")
    for topic, ranks in per_topic.items():
        if sorted(ranks) != list(range(1, TERMS_PER_TOPIC + 1)):
            issues.append(f"topic {topic}: term ranks {sorted(ranks)}")
    return issues


def _n02(rows: list[dict], n_docs: int) -> list[str]:
    tagged = {r["doc_id"] for r in rows if r["n_tags"] >= 1 and r["tags_csv"]}
    if len(rows) != n_docs or len(tagged) != n_docs:
        return [f"{len(tagged)} of {n_docs} documents tagged ({len(rows)} rows)"]
    return []


def _n03(rows: list[dict], n_docs: int) -> list[str]:
    if len(rows) != 1:
        return [f"{len(rows)} rows, expected 1"]
    r = rows[0]
    if r["n_topics"] != N_TOPICS or r["avg_topic_size"] != TERMS_PER_TOPIC:
        return [f"n_topics={r['n_topics']} avg_topic_size={r['avg_topic_size']}"]
    return []


INVARIANTS = {
    "n01_lda_topics": _n01,
    "n02_doc_tags": _n02,
    "n03_topic_metrics": _n03,
}


class Checker:
    """Checks an op's output against its DuckDB oracle on the same
    generated tables, or against its invariants when it has no oracle."""

    def __init__(self, data_dir: str, table_names: list[str], oracles: dict, compare) -> None:
        import duckdb

        self.oracles = oracles
        self.compare = compare
        self.con = duckdb.connect()
        for t in table_names:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self.n_docs = self.con.execute("SELECT count(*) FROM documents").fetchone()[0]

    def check(self, name: str, df) -> list[str]:
        """Issues found in ``df``, the output of op ``name``; empty when correct."""
        if name in INVARIANTS:
            return INVARIANTS[name]([r.asDict() for r in df.collect()], self.n_docs)
        if name not in self.oracles:
            return [] if df.limit(1).count() else ["no rows and no oracle"]
        # Rows, columns and values; the optional pandas dtype comparison
        # is left out, as it would run both sides a second time.
        res = self.con.execute(self.oracles[name])
        duck_cols = [d[0] for d in res.description]
        return self.compare(name, df, res.fetchall(), duck_cols)

    def close(self) -> None:
        self.con.close()
