"""Round-9 addition: the production-parametrization SemDeDup query
(VERDICT r8 ask #2). Oracle parity is covered by the registry-wide
parametrization in test_oracle_parity.py; these tests pin the semantics
the boolean oracle can't see from SQL alone."""

from __future__ import annotations

from pyspark.sql import functions as F

from featurestore_for_joycastle_java_spark import registry

registry.load_catalog()

from featurestore_for_joycastle_java_spark.registry import (
    BENCH_SKIP,
    QUERIES,
)


def test_semdedup_kmeans_invariants(spark, sf_dir):
    row = QUERIES["dedup_semdedup_kmeans"](spark, sf_dir).collect()[0]
    n = row["n_vectors"]
    assert row["n_cells"] == max(4, int(n**0.5))
    # containment is exact by semantics (a same-cell pair IS a pair);
    # the recall floor sits just under the measured 0.30-0.37 band
    assert row["drops_contained"]
    assert row["recall_ok"]
    assert row["n_global_drops"] > 0


def test_semdedup_kmeans_beats_random_cells(spark, sf_dir):
    """The k-means cells must catch materially more of the global drop
    set than a content-blind partition into the same number of cells —
    the whole point of data-adaptive centroids (random cells catch
    ~1/k of pairs; measured ~7x that for the seeded fit)."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        cosine_pairs,
        semdedup_survivors,
    )
    from featurestore_for_joycastle_java_spark.sources import load_table

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    k = max(4, int(n**0.5))
    g = (
        cosine_pairs(e, threshold=0.4)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    sd = semdedup_survivors(
        e, n_centroids=k, threshold=0.4, centroids="kmeans",
        fit_sample=64 * k,
    )
    caught = (
        sd.filter(~F.col("survivor"))
        .join(g, "vec_id")
        .count()
    )
    n_global = g.count()
    # random cells catch ~1/k of the pair mass; require >= 3x that
    # (measured ~7x at sf0.001-0.1)
    assert caught / n_global >= 3.0 / k


def test_kmeans_corpus_rows_matches_counted(spark, sf_dir):
    """``corpus_rows`` (VERDICT r9 ask #4: reuse a known row count
    instead of a full corpus.count() per index build) must be a pure
    optimization: same seed + same effective sample target => identical
    centroids whether n was passed in or counted."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        kmeans_centroids,
    )
    from featurestore_for_joycastle_java_spark.sources import load_table

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    counted = kmeans_centroids(e, n_centroids=4, fit_sample=8).collect()
    passed = kmeans_centroids(
        e, n_centroids=4, fit_sample=8, corpus_rows=n
    ).collect()
    assert sorted(map(tuple, counted)) == sorted(map(tuple, passed))


def test_semdedup_kmeans_is_bench_skipped():
    """Quadratic ground-truth harness stays out of the sf0.1 bench, like
    sim_ivf_kmeans_recall / sim_knn_loo_accuracy."""
    assert "dedup_semdedup_kmeans" in BENCH_SKIP

