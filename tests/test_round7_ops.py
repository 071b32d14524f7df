"""Round-7 operator tests: t38 BPE encode (fixed-chain, driver-visible)
and the sentinel-replace ≡ greedy-fold equivalence that its oracle and
fast path both rely on."""

import duckdb
import pytest
from pyspark.sql import functions as F

from nlp_data_pipeline_spark.operators.text_analytics import (
    _T38_MERGES,
    t38_bpe_encode,
)


def _py_greedy_merge(word: str, merges) -> list[str]:
    """Reference BPE application: per merge, one leftmost-first
    non-overlapping pass where the just-created symbol never fuses as
    the LEFT side within the same pass (the fused-flag convention)."""
    syms = list(word)
    for a, b in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


# words chosen to hit every tricky case: overlap runs (aaa/aaaa with an
# (a,a)-style self-merge), chain merges (t+h then th+e), boundary
# non-matches (xt•h must NOT merge inside), and merge-output re-matching
TRICKY = ["aaa", "aaaa", "ththx", "xth", "the", "then", "and", "rere", "onon"]


@pytest.mark.parametrize("merges", [[("a", "a")], _T38_MERGES])
def test_t38_sentinel_replace_equals_fold(spark, merges):
    """The sentinel-string replace chain (Spark fast path AND DuckDB
    oracle) must equal the explicit greedy fold on every tricky word."""
    df = spark.createDataFrame([(w,) for w in TRICKY], ["w"])
    s = F.regexp_replace("w", r"(\S)", "‹$1›")
    for a, b in merges:
        s = F.replace(s, F.lit(f"‹{a}›‹{b}›"), F.lit(f"‹{a}{b}›"))
    got = {
        r["w"]: r["toks"]
        for r in df.select(
            "w", F.split(F.replace(s, F.lit("›"), F.lit("")), "‹").alias("toks")
        ).collect()
    }
    for w in TRICKY:
        want = _py_greedy_merge(w, merges)
        assert got[w][1:] == want, (w, merges, got[w][1:], want)  # [0]=''


def test_t38_compression_sane(spark, sf_dir):
    """Merging can only shrink token counts: chars >= tokens >= chars/2
    per doc for a chain of 2-symbol merges applied once each."""
    rows = t38_bpe_encode(spark, sf_dir).collect()
    for r in rows:
        assert r["n_bpe_tokens"] <= r["n_chars_in_words"]
        assert r["chars_per_token"] >= 1.0 or r["n_bpe_tokens"] == 0


def _duck(sf_dir, views=("documents", "orders", "embeddings")):
    con = duckdb.connect()
    for v in views:
        con.execute(
            f"CREATE VIEW {v} AS SELECT * FROM read_parquet('{sf_dir}/{v}.parquet')"
        )
    return con


def test_q43_all_four_grouping_sets(spark, sf_dir):
    """gid 0 (both keys), the two partials and the total are present."""
    from nlp_data_pipeline_spark.operators.relational_ext import q43_grouping_sets

    assert {r[2] for r in q43_grouping_sets(spark, sf_dir).collect()} == {0, 1, 2, 3}


def test_s15_fuses_distinct_rankings(spark, sf_dir):
    """full-dim and truncated-dim rankings must genuinely disagree in
    the fused top-k (otherwise the fusion is vacuous on this corpus —
    the unit-norm embeddings make cosine ≡ inner product, which is why
    the second ranker is the truncated view, not IP)."""
    from nlp_data_pipeline_spark.operators.similarity import s15_rrf_fusion

    rows = s15_rrf_fusion(spark, sf_dir).collect()
    assert any(r["r_full"] != r["r_trunc"] for r in rows)


def test_d15_hot_block_capped(spark, monkeypatch):
    """With the block cap forced to 1 every block collapses to a single
    doc, so the pair join must return zero rows — a boilerplate leading
    token can never contribute block² pairs."""
    from nlp_data_pipeline_spark.operators import dedup

    monkeypatch.setattr(dedup, "_D15_MAX_BLOCK", 1)
    assert dedup.d15_fuzzy_prefix_pairs(spark, "/root/testdata/sf0.001").count() == 0


def test_d16_boundaries_resync_after_edit(spark):
    """The CDC property fixed-width spans lack: prepending a char to a
    document shifts only the FIRST chunk — every boundary after the
    window re-synchronizes, so all later chunk lengths are preserved.
    (Fixed spans would shift every chunk and defeat chunk-level dedup.)"""
    import random

    from nlp_data_pipeline_spark.operators.dedup import _D16_DIV, _D16_W
    from nlp_data_pipeline_spark.operators.text_analytics import _MOD

    rng = random.Random(42)
    text = "".join(rng.choice("abcdefgh ") for _ in range(4000))
    edited = "Z" + text

    def chunks(s):
        h, bounds = [], [0]
        for i in range(_D16_W, len(s) + 1):
            acc = 0
            for c in s[i - _D16_W : i]:
                acc = (acc * 31 + ord(c)) % _MOD
            if acc % _D16_DIV == 0:
                bounds.append(i)
        bounds.append(len(s))
        return [b - a for a, b in zip(bounds, bounds[1:]) if b > a]

    base, shifted = chunks(text), chunks(edited)
    assert len(base) > 10  # the rule actually fires on this corpus
    # every chunk after the first edited one is identical
    assert base[1:] == shifted[1 + (len(shifted) - len(base)) :]


def test_v14_plans_distributed(spark, sf_dir):
    """The pandas-API groupby must compile to an ordinary distributed
    hash aggregate — no driver-side collect hiding in the front door."""
    from nlp_data_pipeline_spark.operators.sql_api import v14_pandas_api

    plan = v14_pandas_api(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_s16_graph_is_undirected_m_regular(spark):
    """Every node has >= M out-edges (M exact + merged reverse links)
    and the edge set is symmetric — the NSW property greedy search
    relies on to escape clusters."""
    from pyspark.sql import functions as F

    from nlp_data_pipeline_spark.operators.similarity import GRAPH_M, _knn_graph

    g = _knn_graph(spark, "/root/testdata/sf0.001").cache()
    deg = g.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    assert deg.filter(F.col("d") < GRAPH_M).count() == 0
    rev = g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    assert g.exceptAll(rev).count() == 0


def test_s16_nnd_graph_approximates_exact(spark):
    """The linear-cost NN-descent build (s16's index path) must stay a
    faithful stand-in for the exact tile-grid graph: symmetric, every
    node reachable as a source, deterministic across builds (the
    declared s16 hash rides on it), and sharing the large majority of
    the exact graph's edges (measured 96.5% at sf0.001; the navigation
    cross-links account for the extra edges beyond the exact set)."""
    from pyspark.sql import functions as F

    from nlp_data_pipeline_spark.operators.similarity import (
        _knn_graph,
        _knn_graph_nnd,
        load_table,
    )

    sf = "/root/testdata/sf0.001"
    g = _knn_graph_nnd(spark, sf).cache()
    rev = g.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    assert g.exceptAll(rev).count() == 0
    n_nodes = load_table(spark, sf, "embeddings").count()
    assert g.select("src").distinct().count() == n_nodes
    exact = _knn_graph(spark, sf).cache()
    overlap = g.intersect(exact).count() / exact.count()
    assert overlap >= 0.80
    g2 = _knn_graph_nnd(spark, sf)
    assert g.exceptAll(g2).count() == 0 and g2.exceptAll(g).count() == 0


def test_s17_lloyd_invariants(spark, sf_dir):
    """Both assignments cover the whole corpus, and the refinement
    actually moves some vectors (non-degenerate seeds)."""
    from nlp_data_pipeline_spark.operators.similarity import s17_kmeans_refine

    got = s17_kmeans_refine(spark, sf_dir).collect()
    assert sum(r[1] for r in got) == sum(r[2] for r in got)
    assert sum(r[3] for r in got) > 0


def test_u06_tolerance_bites(spark, sf_dir):
    """The 24h tolerance leaves some clicks unattributed, and some are
    attributed."""
    from nlp_data_pipeline_spark.operators.relational_ext import (
        u06_cogrouped_attribution,
    )

    got = u06_cogrouped_attribution(spark, sf_dir).collect()
    assert any(r[1] > r[2] for r in got)
    assert any(r[2] > 0 for r in got)


def test_v16_schema_tracks_constant_width(spark, sf_dir):
    """The polymorphic property itself: calling lead_tokens with k=4
    plans four columns — the output schema is decided by analyze()
    from the call-site constant, not fixed at registration."""
    from nlp_data_pipeline_spark.operators.sql_api import v16_polymorphic_udtf

    v16_polymorphic_udtf(spark, sf_dir)  # registers lead_tokens + view
    wide = spark.sql(
        "SELECT t.* FROM v16_cleaned_docs d, LATERAL lead_tokens(d.ctext, 4) t"
    )
    assert wide.columns == ["tok1", "tok2", "tok3", "tok4"]


def test_r16_commit_idempotent_under_replay(tmp_path):
    """The exactly-once claim of the docshards streaming sink: a
    replayed micro-batch (same batchId after a restart between
    sink-commit and offset-commit) re-renames over the SAME shard
    names, so the landed directory never double-counts."""
    import csv
    import os

    from nlp_data_pipeline_spark.sources.custom_datasource import (
        DocShardsStreamWriter,
        _ShardCommit,
    )

    sink = str(tmp_path / "shards")
    w = DocShardsStreamWriter(sink)

    def run_batch():
        os.makedirs(sink, exist_ok=True)
        msgs = []
        for rows in ([(1, "a", 10)], [(2, "b", 20), (3, "a", 30)]):
            tmp = os.path.join(sink, f"_tmp-{len(msgs)}-{len(rows)}.tsv")
            with open(tmp, "w", newline="") as fh:
                csv.writer(fh, delimiter="\t").writerows(rows)
            msgs.append(_ShardCommit(tmp_path=tmp, n_rows=len(rows)))
        w.commit(msgs, batchId=0)

    run_batch()
    run_batch()  # the replay
    parts = sorted(os.listdir(sink))
    assert parts == ["part-b00000-00000.tsv", "part-b00000-00001.tsv"]
    rows = []
    for p in parts:
        with open(os.path.join(sink, p), newline="") as fh:
            rows += [tuple(r) for r in csv.reader(fh, delimiter="\t")]
    assert sorted(rows) == [("1", "a", "10"), ("2", "b", "20"), ("3", "a", "30")]


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        st.text(alphabet="abcdef .x9", min_size=0, max_size=300),
    )
    def test_d16_oracle_sql_matches_python_reference(text):
        """Independent check of the D16_SQL restatement: on an alphabet
        the cleaning pass only whitespace-normalizes, DuckDB's
        list_reduce rolling-hash boundary rule must agree with a plain
        Python reference for any input."""
        import re

        import duckdb

        from nlp_data_pipeline_spark.operators.dedup import _D16_DIV, _D16_W
        from nlp_data_pipeline_spark.operators.text_analytics import _MOD

        clean = re.sub(r"\s+", " ", text).strip()
        bounds = [0]
        for i in range(_D16_W, len(clean) + 1):
            acc = 0
            for c in clean[i - _D16_W : i]:
                acc = (acc * 31 + ord(c)) % _MOD
            if acc % _D16_DIV == 0:
                bounds.append(i)
        bounds.append(len(clean))
        lens = [b - a for a, b in zip(bounds, bounds[1:]) if b > a]
        exp = (
            len(lens),
            round(len(clean) / len(lens), 6) if lens else 0.0,
            max(lens) if lens else 0,
        )

        from nlp_data_pipeline_spark.operators.dedup import D16_SQL

        con = duckdb.connect()
        con.execute(
            "CREATE TABLE documents AS SELECT 0 AS doc_id, ? AS text", [text]
        )
        got = con.execute(D16_SQL).fetchall()
        assert len(got) == 1
        assert (got[0][1], got[0][2], got[0][3]) == exp
except ImportError:  # pragma: no cover - hypothesis is baked in here
    pass


def test_s18_diversifies_vs_plain_topk(spark, sf_dir):
    """MMR must actually change the ranking: for at least one query the
    picked set differs from plain top-3 cosine (else the redundancy
    penalty is dead code on this corpus)."""
    from nlp_data_pipeline_spark.operators.similarity import (
        s01_cosine_topk,
        s18_mmr_rerank,
    )

    mmr = {}
    for r in s18_mmr_rerank(spark, sf_dir).collect():
        mmr.setdefault(r.query_id, set()).add(r.vec_id)
    top = {}
    for r in s01_cosine_topk(spark, sf_dir).collect():
        if r.nn_rank <= 3:
            top.setdefault(r.query_id, set()).add(r.vec_id)
    assert any(mmr[q] != top[q] for q in mmr)


def test_a04_sketch_exact_below_capacity(spark, sf_dir):
    from nlp_data_pipeline_spark.operators.events import a04_approx_top_k

    assert all(r[3] for r in a04_approx_top_k(spark, sf_dir).collect())


def test_s19_rank_mass_conserved(spark, sf_dir):
    """Rank mass is conserved up to damping leakage: mean centrality ~1."""
    from nlp_data_pipeline_spark.operators.similarity import s19_pagerank

    got = s19_pagerank(spark, sf_dir).collect()
    mean_c = sum(r[2] for r in got) / len(got)
    assert 0.9 < mean_c <= 1.000001


def test_new_staged_plan_shapes(spark, sf_dir):
    """Plan-shape pins for the round-9 staged batch: u07 is a pure
    Arrow map (one MapInArrow, no row-at-a-time Python, the only
    exchange is the output sort), and s18's candidate generation
    broadcasts the query side (one corpus scan, no corpus shuffle for
    scoring)."""
    from nlp_data_pipeline_spark.operators.relational_ext import u07_map_in_arrow
    from nlp_data_pipeline_spark.operators.similarity import s18_mmr_rerank
    from nlp_data_pipeline_spark.plans.explain import formatted_plan

    p = formatted_plan(u07_map_in_arrow(spark, sf_dir))
    assert "MapInArrow" in p
    assert "BatchEvalPython" not in p
    # tree spelling "Exchange (n" counts each exchange once (the detail
    # section spells them "(n) Exchange"): only the output sort shuffles
    assert p.count("Exchange (") == 1

    # s18's localCheckpoint truncates the visible lineage at the
    # candidate relation, so the broadcast of its generation phase is
    # not inspectable here (s01's plan test covers that shape); pin
    # what IS visible — the rerank never leaves the JVM
    p = formatted_plan(s18_mmr_rerank(spark, sf_dir))
    assert "BatchEvalPython" not in p and "MapInPandas" not in p


def test_m09_stays_in_codegen(spark, sf_dir):
    """The header-sniff pass must never leave the JVM — that is its
    entire reason to exist beside m07's Python decoder — and every
    header round-trips valid."""
    from nlp_data_pipeline_spark.operators.multimodal import m09_wav_header_parse
    from nlp_data_pipeline_spark.plans.explain import formatted_plan

    df = m09_wav_header_parse(spark, sf_dir)
    p = formatted_plan(df)
    assert "BatchEvalPython" not in p and "MapInPandas" not in p
    assert "MapInArrow" not in p
    assert all(r[1] for r in df.collect())


def test_t39_pmi_reorders_frequency(spark, sf_dir):
    """PMI genuinely reorders vs raw frequency: the top-PMI bigram is
    not the most frequent one on this corpus."""
    from nlp_data_pipeline_spark.operators.text_analytics import t39_collocation_pmi

    got = t39_collocation_pmi(spark, sf_dir).collect()
    assert got[0][1] < max(r[1] for r in got)


def test_r17_decoy_contributes_nothing(spark, sf_dir):
    """The glob filter keeps the decoy .txt out of the ingest."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import r17_recursive_glob_ingest

    assert not any(
        r[0] == "poison" for r in r17_recursive_glob_ingest(spark, sf_dir).collect()
    )


def test_e21_drains_four_batches(spark, sf_dir):
    """AvailableNow drains the 4 staged files through
    maxFilesPerTrigger=1 as 4 micro-batches."""
    from nlp_data_pipeline_spark.operators.events import e21_admission_control

    assert e21_admission_control(spark, sf_dir).collect()[0][0] == 4


def test_docfeed_stripes_cover_id_space_exactly():
    """The docfeed stream's partitions must tile the doc_id space with
    no gap and no overlap for any (stripe width, split count) — a
    missed boundary row would silently drop data at scale."""
    from nlp_data_pipeline_spark.sources.custom_datasource import DocFeedStreamReader

    for stripe, n_stripes, splits in ((7, 4, 2), (10, 3, 3), (1, 5, 2), (9, 4, 4)):
        r = DocFeedStreamReader(
            {
                "path": "unused",
                "stripe_docs": str(stripe),
                "n_stripes": str(n_stripes),
                "splits_per_stripe": str(splits),
            }
        )
        parts = r.partitions(r.initialOffset(), r.latestOffset())
        ranges = sorted(p.value for p in parts)
        assert ranges[0][0] == 0
        assert ranges[-1][1] == stripe * n_stripes
        for (a1, b1), (a2, b2) in zip(ranges, ranges[1:]):
            assert b1 == a2  # contiguous: no gap, no overlap
        assert all(a < b for a, b in ranges)


def test_docshards_abort_removes_orphan_temps(tmp_path):
    """A failed micro-batch's abort must clear task temp files so the
    next attempt starts from a clean directory (no half-written shard
    ever becomes visible to the part-* reader)."""
    import csv
    import os

    from nlp_data_pipeline_spark.sources.custom_datasource import (
        DocShardsStreamWriter,
        _ShardCommit,
    )

    sink = str(tmp_path / "shards")
    os.makedirs(sink)
    w = DocShardsStreamWriter(sink)
    tmp = os.path.join(sink, "_tmp-abort.tsv")
    with open(tmp, "w", newline="") as fh:
        csv.writer(fh, delimiter="\t").writerow((1, "a", 10))
    w.abort([_ShardCommit(tmp_path=tmp, n_rows=1), None], batchId=0)
    assert os.listdir(sink) == []


def test_p06_gate_drops_documents(spark, sf_dir):
    """The quality gate bites on this corpus."""
    from nlp_data_pipeline_spark.operators.doc_pipeline import p06_dataflow_pipeline

    assert sum(r[3] for r in p06_dataflow_pipeline(spark, sf_dir).collect()) > 0


def test_dataflow_graph_validation(spark):
    """The runner must reject broken graphs BEFORE any Spark work:
    cycles, unknown dependencies, duplicate names, non-DataFrame
    returns — and resolve shared upstream stages exactly once."""
    import pytest as _pytest

    from nlp_data_pipeline_spark.plans.dataflow import DataflowError, Stage, run_graph

    src = spark.range(3)
    calls = []

    def mk(name):
        def fn(inp):
            calls.append(name)
            return next(iter(inp.values()))
        return fn

    out = run_graph(
        [
            Stage("a", mk("a"), ["src"]),
            Stage("b", mk("b"), ["a"]),
            Stage("c", mk("c"), ["a", "b"]),
        ],
        {"src": src},
    )
    assert set(out) == {"src", "a", "b", "c"}
    assert calls.count("a") == 1  # shared upstream resolved once

    with _pytest.raises(DataflowError, match="cycle"):
        run_graph(
            [Stage("x", mk("x"), ["y"]), Stage("y", mk("y"), ["x"])], {}
        )
    with _pytest.raises(DataflowError, match="unknown"):
        run_graph([Stage("x", mk("x"), ["nope"])], {"src": src})
    with _pytest.raises(DataflowError, match="duplicate"):
        run_graph([Stage("src", mk("s"), [])], {"src": src})
    with _pytest.raises(DataflowError, match="returned"):
        run_graph([Stage("bad", lambda i: 42, [])], {})


def test_d17_containment_exceeds_jaccard(spark, sf_dir):
    """At least one pair shows the asymmetry (containment well above
    Jaccard) that motivates the operator."""
    from nlp_data_pipeline_spark.operators.dedup import d17_containment_pairs

    assert any(r[4] > 2 * r[5] for r in d17_containment_pairs(spark, sf_dir).collect())


def test_s20_curve_is_a_tradeoff(spark, sf_dir):
    """Recall is non-decreasing in nprobe, and the widest probe scans
    strictly more than the narrowest."""
    from nlp_data_pipeline_spark.operators.similarity import s20_ivf_operating_curve

    got = s20_ivf_operating_curve(spark, sf_dir).collect()
    recalls = [r[1] for r in got]
    assert recalls == sorted(recalls)
    assert got[-1][2] > got[0][2]


def test_u09_frames_are_trailing(spark, sf_dir):
    """Frames are genuinely trailing-3: weight totals vary per row."""
    from nlp_data_pipeline_spark.operators.relational_ext import u09_pandas_window_udaf

    assert len({r[3] for r in u09_pandas_window_udaf(spark, sf_dir).collect()}) > 1


def test_r18_fails_loudly_without_the_option(spark, sf_dir):
    """The flip side that makes r18 meaningful: the SAME poisoned
    directory read WITHOUT ignoreCorruptFiles must raise — resilience
    is an explicit opt-in, never silent default behavior."""
    import os

    import pytest as _pytest

    from nlp_data_pipeline_spark.operators.doc_pipeline import (
        r18_corrupt_file_ingest,
    )
    from nlp_data_pipeline_spark.scratch import scratch_path

    r18_corrupt_file_ingest(spark, sf_dir).collect()  # stages + poisons
    stage = scratch_path(f"corruptdir_{os.getpid()}")
    with _pytest.raises(Exception):
        (
            spark.read.schema("doc_id bigint, source string, n_chars bigint")
            .parquet(stage)
            .count()
        )


def test_t41_matches_duckdb_oracle(spark, sf_dir):
    """t41 Heaps-law vocabulary curve is STAGED for round-10
    declaration; the 4-level conditional-distinct sweep must match the
    SQL restatement, with vocab non-decreasing and vocab-per-token
    non-increasing along the prefix."""
    from nlp_data_pipeline_spark.operators.text_analytics import (
        T41_SQL,
        t41_vocab_growth,
    )

    got = [tuple(r) for r in t41_vocab_growth(spark, sf_dir).collect()]
    want = [tuple(r) for r in _duck(sf_dir).execute(T41_SQL).fetchall()]
    assert len(got) == 4 and got == want
    vocabs = [r[3] for r in got]
    assert vocabs == sorted(vocabs)
    vpt = [r[4] for r in got]
    assert vpt == sorted(vpt, reverse=True)


def test_q47_gaps_exist_and_are_filled(spark, sf_dir):
    from nlp_data_pipeline_spark.operators.relational_ext import q47_gap_fill_forward

    gaps = [r for r in q47_gap_fill_forward(spark, sf_dir).collect() if not r[2]]
    assert gaps and all(r[3] is not None for r in gaps)


def test_d19_k2_floods_low_quality_pairs(spark, sf_dir):
    """The curve shows the precision trade-off that justifies k=3: k=2
    floods with candidates of much lower mean quality."""
    from nlp_data_pipeline_spark.operators.dedup import d19_shingle_k_curve

    by_k = {r[0]: r for r in d19_shingle_k_curve(spark, sf_dir).collect()}
    assert by_k[2][1] > 10 * by_k[3][1]
    assert by_k[2][2] < by_k[3][2]


# Named DuckDB parity checks: each runs the shared oracle check
# (conftest.oracle_check) for one query; a query the sweep in
# test_entry_contract.py already passed is not run again.


def test_t38_matches_duckdb_oracle(oracle_check):
    oracle_check("t38_bpe_encode")


def test_q43_matches_duckdb_oracle(oracle_check):
    oracle_check("q43_grouping_sets")


def test_s15_matches_duckdb_oracle(oracle_check):
    oracle_check("s15_rrf_fusion")


def test_d15_matches_duckdb_oracle(oracle_check):
    oracle_check("d15_fuzzy_prefix_pairs")


def test_s16_matches_duckdb_oracle(oracle_check):
    oracle_check("s16_graph_ann_recall")


def test_d16_matches_duckdb_oracle(oracle_check):
    oracle_check("d16_cdc_chunks")


def test_v13_matches_duckdb_oracle(oracle_check):
    oracle_check("v13_sql_scripting")


def test_v14_matches_duckdb_oracle(oracle_check):
    oracle_check("v14_pandas_api")


def test_s17_matches_duckdb_oracle(oracle_check):
    oracle_check("s17_kmeans_refine")


def test_v15_matches_duckdb_oracle(oracle_check):
    oracle_check("v15_sql_variables")


def test_u06_matches_duckdb_oracle(oracle_check):
    oracle_check("u06_cogrouped_attribution")


def test_r15_matches_duckdb_oracle(oracle_check):
    oracle_check("r15_python_stream_source")


def test_r16_matches_duckdb_oracle(oracle_check):
    oracle_check("r16_python_stream_sink")


def test_u07_matches_duckdb_oracle(oracle_check):
    oracle_check("u07_map_in_arrow")


def test_v16_matches_duckdb_oracle(oracle_check):
    oracle_check("v16_polymorphic_udtf")


def test_s18_matches_duckdb_oracle(oracle_check):
    oracle_check("s18_mmr_rerank")


def test_q44_matches_duckdb_oracle(oracle_check):
    oracle_check("q44_listagg_rollup")


def test_a04_matches_duckdb_oracle(oracle_check):
    oracle_check("a04_approx_top_k")


def test_s19_matches_duckdb_oracle(oracle_check):
    oracle_check("s19_pagerank")


def test_q45_matches_duckdb_oracle(oracle_check):
    oracle_check("q45_transpose_metrics")


def test_q46_matches_duckdb_oracle(oracle_check):
    oracle_check("q46_lateral_join_api")


def test_m09_matches_duckdb_oracle(oracle_check):
    oracle_check("m09_wav_header_parse")


def test_t39_matches_duckdb_oracle(oracle_check):
    oracle_check("t39_collocation_pmi")


def test_r17_matches_duckdb_oracle(oracle_check):
    oracle_check("r17_recursive_glob_ingest")


def test_e21_matches_duckdb_oracle(oracle_check):
    oracle_check("e21_admission_control")


def test_p06_matches_duckdb_oracle(oracle_check):
    oracle_check("p06_dataflow_pipeline")


def test_d17_matches_duckdb_oracle(oracle_check):
    oracle_check("d17_containment_pairs")


def test_s20_matches_duckdb_oracle(oracle_check):
    oracle_check("s20_ivf_operating_curve")


def test_u08_matches_duckdb_oracle(oracle_check):
    oracle_check("u08_scalar_iter_udf")


def test_u09_matches_duckdb_oracle(oracle_check):
    oracle_check("u09_pandas_window_udaf")


def test_r18_matches_duckdb_oracle(oracle_check):
    oracle_check("r18_corrupt_file_ingest")


def test_v17_matches_duckdb_oracle(oracle_check):
    oracle_check("v17_udtf_table_argument")


def test_q47_matches_duckdb_oracle(oracle_check):
    oracle_check("q47_gap_fill_forward")


def test_d19_matches_duckdb_oracle(oracle_check):
    oracle_check("d19_shingle_k_curve")


def test_e22_matches_duckdb_oracle(oracle_check):
    oracle_check("e22_foreach_row_sink")
