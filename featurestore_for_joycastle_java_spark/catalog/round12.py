"""Round-12 addition: the two-level (hierarchical) SemDeDup query —
VERDICT r11 ask #2, the second and final registry-freeze exception.

``dedup_semdedup_cellsize`` (catalog/round11.py) registers the
constant-cell-size parametrization on the FLAT fit/assign path, whose
costs bend super-linear at large k (SCALETEST_r11: fit+assign alpha
1.66 flat vs 0.93 two-level at k = n/m-bar through 16x). The two-level
escalation (`operators/similarity.py::kmeans_centroids_two_level` /
``assign_nearest_cell_two_level``) is the 100 TB-relevant code path —
sqrt(k) coarse cells, per-cell sub-fits, O(n*2*sqrt(k)) assignment fold
— but until this round it had tests and a SCALETEST curve and NO driver
CORRECTNESS row. This module closes that gap under the same
recall/containment boolean oracle as round9/round11's.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import load_table

#: same target cell size m-bar as the flat cellsize query, so the two
#: rows differ in exactly one variable: the fit/assign hierarchy.
_CELL_SIZE = 32


@query(
    "dedup_semdedup_twolevel",
    # k-means cells are not SQL-replayable, so the oracle checks the
    # parts that ARE exact (the round9/round11 pattern): corpus size,
    # the k = ceil(n / m-bar) cell-count derivation, the GLOBAL
    # near-dup drop set (all-pairs rounded cosine, engine-stable 6dp
    # predicate), and three invariants the Spark side must prove:
    # all_assigned (every vector carries a non-null cent_id — the
    # invariant ADVICE r11's left-join fix protects; the fixtures hold
    # no zero-norm vectors, the only rows allowed a null cell),
    # containment (every cell-local drop is a genuine global near-dup —
    # exact by semantics for ANY clustering, coarse routing included),
    # and a recall floor on how much of the global drop set the
    # hierarchy catches. _CELL_SIZE is interpolated so the Python
    # k-derivation and the oracle's can never drift apart.
    oracle=f"""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings),
g AS (
    SELECT DISTINCT b.vec_id
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE ROUND(list_inner_product(a.v, b.v)
          / (SQRT(list_inner_product(a.v, a.v))
             * SQRT(list_inner_product(b.v, b.v))), 6) >= 0.4)
SELECT (SELECT COUNT(*) FROM e) AS n_vectors,
       CAST(GREATEST(4, ((SELECT COUNT(*) FROM e) + {_CELL_SIZE - 1})
            // {_CELL_SIZE}) AS INT) AS n_cells,
       (SELECT COUNT(*) FROM g) AS n_global_drops,
       TRUE AS all_assigned,
       TRUE AS drops_contained,
       TRUE AS recall_ok
""",
    bench=False,  # recall-verification harness (hierarchical kmeans fit
    # + quadratic ground truth); the operational scaling evidence is
    # semdedup two-level curves in SCALETEST_r11.json
)
def dedup_semdedup_twolevel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup through the two-level centroid hierarchy (Abbas et al.,
    2023, arXiv:2303.09540, composed with the classic IVF coarse
    quantizer): constant cell size k = max(4, ceil(n / 32)) exactly as
    ``dedup_semdedup_cellsize``, but fit and assignment run through
    sqrt(k) coarse cells — coarse k-means, per-coarse-cell sub-fits in
    one ``applyInPandas`` pass, then the O(n*2*sqrt(k)) two-stage
    broadcast fold (``assign_nearest_cell_two_level``). This is the
    escalation the flat path's docstring prescribes for large k, where
    the O(sample*k) fit and the O(n*k) assignment fold are what bend
    the flat total super-linear (SCALETEST_r11: fit+assign alpha 1.66
    flat vs 0.93 two-level through 16x).

    Checked facts (the round9/round11 harness + one new invariant):
    ``n_global_drops`` value-matched against DuckDB's exact all-pairs
    drop set; ``all_assigned`` proves every vector carries a non-null
    cent_id through the hierarchy — the invariant the two-stage
    assignment's LEFT groups-join preserves (ADVICE r11: an inner join
    silently dropped null-coarse rows); ``drops_contained`` proves
    every cell-local drop is a genuine global near-dup (exact by
    semantics for any clustering, misrouted vectors included);
    ``recall_ok`` floors the caught fraction at 0.10 (measured 0.339 /
    0.396 / 0.174 at sf0.001/0.01/0.1 vs ~m-bar/n random-cell chance of
    0.064 / 0.064 / 0.016 — the hierarchy trades a few recall points vs
    the flat fit's 0.371/0.453/0.286 for the O(n·2√k) assignment, the
    two-stage routing misassigns more boundary points at sf0.1's finer
    k=63). The floor sits further under the measured band than the flat
    variants' because the hierarchy's coarse fit draws a seeded but
    PARTITIONING-DEPENDENT sample (64 points per coarse centroid < n at
    every fixture scale — the flat full-corpus-fit replayability rule
    cannot apply here, the hierarchy sizes its own samples by design),
    so a different file-split layout may legitimately move recall a few
    points; the exact columns (n_vectors, n_cells, n_global_drops) and
    the semantic invariants (all_assigned, drops_contained) are
    partitioning-independent."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        cosine_pairs,
        semdedup_survivors,
    )

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
        # n already counted above — target_cell_size re-derives k from
        # corpus_rows without a second scan (VERDICT r9 ask #4)
        corpus_rows=n,
        target_cell_size=_CELL_SIZE,
        two_level=True,
    )
    gdrops = (
        cosine_pairs(e, "vec_id", "embedding", threshold=0.4)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__g", F.lit(True))
    )
    return (
        sd.join(gdrops, "vec_id", "left")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(
                F.when(F.col("cent_id").isNull(), 1).otherwise(0)
            ).alias("__unassigned"),
            F.sum(
                F.when(~F.col("survivor") & F.col("__g").isNotNull(), 1)
                .otherwise(0)
            ).alias("__caught"),
            F.sum(
                F.when(~F.col("survivor") & F.col("__g").isNull(), 1)
                .otherwise(0)
            ).alias("__escaped"),
            F.sum(
                F.when(F.col("__g").isNotNull(), 1).otherwise(0)
            ).alias("n_global_drops"),
        )
        .select(
            "n_vectors",
            F.lit(k).cast("int").alias("n_cells"),
            "n_global_drops",
            (F.col("__unassigned") == 0).alias("all_assigned"),
            (F.col("__escaped") == 0).alias("drops_contained"),
            # zero global drops -> recall vacuously satisfied (the
            # oracle emits TRUE unconditionally; ADVICE r9 pattern)
            F.when(F.col("n_global_drops") == 0, F.lit(True))
            .otherwise(
                F.col("__caught") / F.col("n_global_drops") >= F.lit(0.10)
            )
            .alias("recall_ok"),
        )
    )
