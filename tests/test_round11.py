"""Round-11 addition: constant-cell-size SemDeDup (VERDICT r10 ask #3).

Oracle parity is covered by test_oracle_parity.py; this pins the
``target_cell_size`` parametrization mechanics the oracle can't see:
the k = ceil(n / m-bar) derivation, the lowid guard, and that the
override actually lands in the clustering (cell count = k)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from featurestore_for_joycastle_java_spark import registry

registry.load_catalog()

from featurestore_for_joycastle_java_spark.operators.similarity import (
    semdedup_survivors,
)
from featurestore_for_joycastle_java_spark.catalog.dedup import _CELL_SIZE
from featurestore_for_joycastle_java_spark.registry import QUERIES
from featurestore_for_joycastle_java_spark.sources import load_table


def test_target_cell_size_requires_kmeans(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="kmeans"):
        semdedup_survivors(
            e, "vec_id", "embedding", centroids="lowid", target_cell_size=32
        )


def test_cell_count_is_ceil_n_over_cell_size(spark, sf_dir):
    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    k = max(4, -(-n // _CELL_SIZE))
    sd = semdedup_survivors(
        e,
        "vec_id",
        "embedding",
        threshold=0.4,
        centroids="kmeans",
        seed=42,
        corpus_rows=n,
        target_cell_size=32,
    )
    # the override must actually reach the clustering: every vector
    # assigned, cent_ids drawn from exactly the k derived cells
    stats = sd.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cent_id").alias("lo"),
        F.max("cent_id").alias("hi"),
    ).collect()[0]
    assert stats["n"] == n
    assert stats["lo"] >= 0 and stats["hi"] <= k - 1
    # balanced-cells sanity: mean cell population ~ m-bar (the whole
    # point of the parametrization); allow wide slack — k-means does
    # not hard-cap cells, only the MEAN is pinned by construction
    n_cells_used = sd.select("cent_id").distinct().count()
    assert n_cells_used > k // 2


def test_registered_query_shape(spark, sf_dir):
    row = QUERIES["dedup_semdedup_cellsize"](spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r["drops_contained"] is True
    assert r["recall_ok"] is True
    assert r["n_cells"] == max(4, -(-r["n_vectors"] // _CELL_SIZE))


def test_two_level_hierarchy_assignment(spark, sf_dir):
    """Two-level (sqrt-k coarse) SemDeDup: every vector assigned, the
    survivor semantics identical in shape, containment exact (a
    same-cell pair IS a global pair regardless of the clustering), and
    cent_ids consistent with the coarse/fine decomposition."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        cosine_pairs,
        kmeans_centroids_two_level,
        semdedup_survivors,
    )

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    coarse, fine = kmeans_centroids_two_level(e, n_centroids=16, corpus_rows=n)
    k1 = coarse.count()
    f = fine.collect()
    assert k1 >= 2 and len(f) >= 16
    # cent_id = coarse_id * k2 + sub_id is globally unique, and every
    # fine centroid belongs to a real coarse cell
    assert len({r["cent_id"] for r in f}) == len(f)
    coarse_ids = {c["coarse_id"] for c in coarse.collect()}
    # full coverage both ways: every fine centroid belongs to a real
    # coarse cell AND every coarse cell has at least one sub-centroid
    # (the missed-cell fallback's guarantee — no unroutable region)
    assert {r["coarse_id"] for r in f} == coarse_ids
    # unit-normalized fine centroids (assignment by dot == cosine)
    import math

    for r in f:
        nrm = math.sqrt(sum(x * x for x in r["__mv"]))
        assert abs(nrm - 1.0) < 1e-6

    sd = semdedup_survivors(
        e,
        "vec_id",
        "embedding",
        threshold=0.4,
        centroids="kmeans",
        seed=42,
        corpus_rows=n,
        target_cell_size=32,
        two_level=True,
    )
    g = (
        cosine_pairs(e, "vec_id", "embedding", 0.4)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__g", F.lit(True))
    )
    r = (
        sd.join(g, "vec_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(~F.col("survivor") & F.col("__g").isNull(), 1)
                .otherwise(0)
            ).alias("escaped"),
            F.sum(
                F.when(~F.col("survivor") & F.col("__g").isNotNull(), 1)
                .otherwise(0)
            ).alias("caught"),
            F.sum(
                F.when(F.col("__g").isNotNull(), 1).otherwise(0)
            ).alias("gdrops"),
        )
        .collect()[0]
    )
    assert r["n"] == n  # every vector assigned and judged
    assert r["escaped"] == 0  # containment: exact by semantics
    # recall sanity: far above the ~m-bar/n random-cell floor
    # (measured 0.396 at sf0.01; floor 0.15 so a routing regression
    # can't hide under it, two-level misroutes boundary points vs flat)
    if r["gdrops"]:
        assert r["caught"] / r["gdrops"] >= 0.15


def test_two_level_requires_kmeans(spark, sf_dir):
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        semdedup_survivors,
    )

    e = load_table(spark, sf_dir, "embeddings")
    with pytest.raises(ValueError, match="kmeans"):
        semdedup_survivors(
            e, "vec_id", "embedding", centroids="lowid", two_level=True
        )


def test_two_level_fit_is_reproducible_in_session(spark, sf_dir):
    """The hierarchy's samples are seeded (partitioning-dependent, the
    documented flat-fit caveat) — two builds in the same session over
    the same input must produce identical fine centroids, or the
    operator's determinism story is silently broken."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        kmeans_centroids_two_level,
    )

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()

    def snap():
        _, fine = kmeans_centroids_two_level(e, n_centroids=16, corpus_rows=n)
        return sorted(
            (r["cent_id"], tuple(round(x, 12) for x in r["__mv"]))
            for r in fine.collect()
        )

    assert snap() == snap()
