"""Round-10 additions: d18 capped-LSH components (the declared d03
hot-bucket remedy) and ADVICE-r09 hardening (s33 comparison-direction
proof)."""

import pytest
from pyspark.sql import functions as F


def test_d18_star_path_fires_at_test_sf(spark, sf_dir):
    """The equivalence proof must not be vacuous: at the test sf some
    buckets exceed the declared cap, so the capped relation is a STRICT
    subset of d03's clique relation while components still match."""
    from nlp_data_pipeline_spark.operators.dedup import (
        _D18_BUCKET_CAP,
        _banded_signatures,
        _capped_band_pairs,
        d03_lsh_candidate_pairs,
    )

    banded = _banded_signatures(spark, sf_dir).localCheckpoint()
    oversized = (
        banded.groupBy("band_id", "band_key")
        .agg(F.count(F.lit(1)).alias("m"))
        .filter(F.col("m") > _D18_BUCKET_CAP)
        .count()
    )
    assert oversized > 0, "no bucket exceeds the cap — proof would be vacuous"
    capped = _capped_band_pairs(banded, _D18_BUCKET_CAP)
    clique = d03_lsh_candidate_pairs(spark, sf_dir)
    n_capped, n_clique = capped.count(), clique.count()
    assert n_capped < n_clique
    # capped ⊆ clique: star edges pair same-bucket members, which the
    # clique also contains
    assert capped.exceptAll(clique).count() == 0


def test_capped_band_pairs_mega_bucket_is_linear(spark):
    """Adversarial shape (the d03 hazard in miniature): one 500-doc
    bucket must emit 499 star pairs, not C(500,2)=124750 — and the
    star's connected components must equal the clique's WITHIN d06's
    20-round propagation cap (a chain emission emits the same count
    but its diameter-499 path graph blows the cap — measured here)."""
    from nlp_data_pipeline_spark.operators.dedup import (
        _capped_band_pairs,
        _neardup_components,
    )

    mega = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.lit(0).alias("band_id"),
        F.lit("hot").alias("band_key"),
    )
    small = spark.range(2).select(
        (F.col("id") + 1000).alias("doc_id"),
        F.lit(1).alias("band_id"),
        F.lit("cold").alias("band_key"),
    )
    banded = mega.unionByName(small)
    pairs = _capped_band_pairs(banded, 256)
    assert pairs.count() == 499 + 1  # star over mega + clique pair in small
    comp = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in _neardup_components(pairs).collect()
    }
    want = {(i, 0, 500) for i in range(500)} | {(1000, 1000, 2), (1001, 1000, 2)}
    assert comp == want


def test_d18_components_equal_d06_under_adversarial_replication(spark, sf_dir):
    """Execute the equivalence theorem where the cap fires HEAVILY:
    replicate the corpus 8-fold as near-duplicates (the adversarial
    staging shape — every replica group LSH-collides, so most buckets
    exceed the cap and the star path dominates), then assert d18's
    components from capped pairs equal d06's from the full clique,
    row for row."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from nlp_data_pipeline_spark.operators.dedup import (
        d06_neardup_clusters,
        d18_capped_lsh_components,
    )
    from nlp_data_pipeline_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    reps = spark.range(8).withColumnRenamed("id", "rep")
    big = docs.crossJoin(F.broadcast(reps)).select(
        (F.col("doc_id") + F.col("rep") * n).alias("doc_id"),
        F.when(F.col("rep") == 0, F.col("text"))
        .otherwise(F.concat(F.col("text"), F.lit(" v"), F.col("rep")))
        .alias("text"),
        "lang",
        "source",
        "n_chars",
    )
    staged = tempfile.mkdtemp(prefix="d18_adv_")
    big.write.mode("overwrite").parquet(os.path.join(staged, "documents.parquet"))

    clique = {tuple(r) for r in d06_neardup_clusters(spark, staged).collect()}
    capped = {tuple(r) for r in d18_capped_lsh_components(spark, staged).collect()}
    assert len(clique) > 0 and capped == clique


def test_s33_booleans_flip_when_floor_exceeds_measured(spark, sf_dir, monkeypatch):
    """ADVICE r09: S33_SQL hard-codes TRUE for the quality booleans, so
    the oracle can't catch an inverted comparison on the Spark side.
    Prove the direction: with the floor raised to an unreachable 101%,
    both declared booleans must come back False."""
    from nlp_data_pipeline_spark.operators import similarity

    monkeypatch.setattr(similarity, "S33_MIN_PCT", 101)
    row = similarity.s33_mutual_knn_nnd_recall(spark, sf_dir).collect()[0]
    assert row["recall_ok"] is False and row["precision_ok"] is False


# Named DuckDB parity checks: each runs the shared oracle check
# (conftest.oracle_check) for one query; a query the sweep in
# test_entry_contract.py already passed is not run again.


def test_d18_matches_duckdb_oracle(oracle_check):
    oracle_check("d18_capped_lsh_components")
