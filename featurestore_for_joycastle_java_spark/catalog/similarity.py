"""Similarity-search and embedding queries over the embeddings table
(SURVEY.md §2.3): exact cosine and MIPS top-k, LSH, SRP, IVF and IVF-PQ
approximate search with recall checks, quantized re-ranking, Matryoshka
prefixes, hybrid lexical/dense fusion (RRF), Gram and covariance
matrices, the PC1 power iteration, and embedding diagnostics (norms,
centroid drift, cluster purity, kNN accuracy, triplet margins)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from featurestore_for_joycastle_java_spark.operators import similarity as S
from featurestore_for_joycastle_java_spark.operators.iterate import fixpoint
from featurestore_for_joycastle_java_spark.operators.relational import (
    top_k_per_group,
)
from featurestore_for_joycastle_java_spark.operators.similarity import (
    ivf_topk,
    srp_topk,
)
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.session import thread_target
from featurestore_for_joycastle_java_spark.sources import build_once, load_table


@query(
    "sim_cosine_topk",
    oracle="""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
scored AS (
    SELECT q.query_id, e.vec_id,
           ROUND(list_inner_product(qv, v)
                 / (SQRT(list_inner_product(qv, qv))
                    * SQRT(list_inner_product(v, v))), 6) AS cos_sim
    FROM q CROSS JOIN e)
SELECT query_id, vec_id, cos_sim, rnk
FROM (SELECT *, CAST(ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rnk
      FROM scored)
WHERE rnk <= 5
""",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for a 10-query batch: broadcast queries ×
    corpus scan, HOF cosine (no UDF), per-query window top-k. Linear in
    the corpus; deterministic ranking via (rounded cosine, vec_id)."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return S.brute_force_topk(e, queries, k=5)


# sim_lsh_topk (rows-only) was replaced by the boolean-oracled
# sim_lsh_recall; the raw BRP top-k surface remains
# operators.similarity.lsh_topk (recall-asserted in tests).


@query(
    "sim_embedding_stats",
    oracle="""
WITH e AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings)
SELECT label,
       COUNT(*) AS n_vecs,
       ROUND(AVG(SQRT(list_inner_product(v, v))), 6) AS avg_norm,
       ROUND(MIN(SQRT(list_inner_product(v, v))), 6) AS min_norm,
       ROUND(MAX(SQRT(list_inner_product(v, v))), 6) AS max_norm
FROM e
GROUP BY label
""",
)
def sim_embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster embedding norm statistics — vector math as HOFs, then a
    plain agg. AVG of per-row doubles: both engines sum 50-200 identical
    doubles; 6dp rounding absorbs the summation-order ulps."""
    e = load_table(spark, sf_dir, "embeddings")
    norm = S.l2_norm(S.as_double(F.col("embedding")))
    return (
        e.select("label", norm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("nrm"), 6).alias("avg_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
    )


@query(
    "sim_ivf_topk",
    # IVF here is deterministic end-to-end (fixed centroids, no engine-
    # specific hashing), so unlike LSH the oracle can replay the whole
    # index: cell assignment, n_probe probing, exact top-k — approximate
    # vs brute force, exact vs this definition.
    oracle="""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings),
cents AS (
    SELECT vec_id AS cent_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
assigned AS (
    SELECT vec_id, cent_id, v FROM (
        SELECT e.vec_id, c.cent_id, e.v,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                   list_inner_product(e.v, c.cv)
                   / (SQRT(list_inner_product(e.v, e.v))
                      * SQRT(list_inner_product(c.cv, c.cv))) DESC,
                   c.cent_id) AS rn
        FROM e CROSS JOIN cents c)
    WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
probes AS (
    SELECT query_id, cent_id, qv FROM (
        SELECT q.query_id, c.cent_id, q.qv,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                   list_inner_product(q.qv, c.cv)
                   / (SQRT(list_inner_product(q.qv, q.qv))
                      * SQRT(list_inner_product(c.cv, c.cv))) DESC,
                   c.cent_id) AS rn
        FROM q CROSS JOIN cents c)
    WHERE rn <= 4),
scored AS (
    SELECT p.query_id, a.vec_id,
           ROUND(list_inner_product(p.qv, a.v)
                 / (SQRT(list_inner_product(p.qv, p.qv))
                    * SQRT(list_inner_product(a.v, a.v))), 6) AS cos_sim
    FROM probes p JOIN assigned a USING (cent_id))
SELECT query_id, vec_id, cos_sim, rnk
FROM (SELECT *, CAST(ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rnk
      FROM scored)
WHERE rnk <= 5
""",
)
def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-5 for a 10-query batch: nearest-centroid cell
    assignment + n_probe-cell search — the partition-pruned ANN path (LSH
    being the other; both deterministic here)."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivf_topk(e, queries, k=5, n_centroids=16, n_probe=4)


@query(
    "sim_ivf_kmeans_recall",
    oracle="""
SELECT COUNT(*) AS n_queries, 5 AS k, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
""",
    bench=False,  # recall-verification harness (kmeans fit + brute-force
    # ground truth); the operational ANN paths are benched as sim_*_topk
)
def sim_ivf_kmeans_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with REAL k-means centroids (seeded spherical k-means||, see
    operators/similarity.kmeans_centroids), checked by a recall bound
    against brute force: average top-5 recall over the 10-query batch
    must clear 0.6 (measured 0.62 at sf0.001 / 0.70 at sf0.01 with
    n_probe=4 of 16 cells — the fixture embeddings have weak cluster
    structure, see the operator docstring for the lowid comparison; the
    floor sits just under the measured band so a real clustering
    regression can't hide beneath it, r2's 0.5 was too loose).
    The oracle asserts the bound by construction; a recall regression
    flips the boolean and fails the value hash. ``sim_ivf_topk`` keeps
    the fixed-centroid variant whose index replays exactly in SQL."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        brute_force_topk_arrow,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = ivf_topk(
        e, q, k=5, n_centroids=16, n_probe=4, centroids="kmeans"
    ).select("query_id", "vec_id")
    # r13: vectorized ground-truth stage (bit-identical ranking, see
    # operators.similarity.brute_force_topk_arrow)
    brute = brute_force_topk_arrow(e, q, k=5).select("query_id", "vec_id")
    hits = ivf.join(brute, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    nq = q.agg(F.count(F.lit(1)).alias("n_queries"))
    return nq.crossJoin(hits).select(
        "n_queries",
        F.lit(5).cast("int").alias("k"),
        (F.col("n_hits") / (F.col("n_queries") * 5) >= 0.6).alias("recall_ok"),
    )


@query(
    "sim_srp_topk",
    # FULL index replay: the md5-parity hyperplanes are a public spec, so
    # the oracle rebuilds them (range x range x range -> list per (table,
    # bit)), recomputes every bucket code, the candidate join, the exact
    # cosine re-rank — the whole ANN index, not just a recall floor.
    oracle="""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
p AS (
    SELECT t.tbl, b.bit,
           list(CASE WHEN CAST(('0x' || substr(md5(t.tbl || '_' || b.bit
                                                || '_' || d.dim_i), 1, 1))
                          AS INT) % 2 = 1
                     THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END
                ORDER BY d.dim_i) AS pv
    FROM range(8) AS t(tbl), range(8) AS b(bit), range(64) AS d(dim_i)
    GROUP BY 1, 2),
cc AS (
    SELECT e.vec_id, p.tbl,
           SUM(CASE WHEN list_inner_product(e.v, p.pv) > 0
                    THEN CAST(1 AS BIGINT) << p.bit
                    ELSE CAST(0 AS BIGINT) END) AS code
    FROM e CROSS JOIN p GROUP BY 1, 2),
qc AS (
    SELECT q.query_id, p.tbl,
           SUM(CASE WHEN list_inner_product(q.qv, p.pv) > 0
                    THEN CAST(1 AS BIGINT) << p.bit
                    ELSE CAST(0 AS BIGINT) END) AS code
    FROM q CROSS JOIN p GROUP BY 1, 2),
cand AS (
    SELECT DISTINCT qc.query_id, cc.vec_id
    FROM qc JOIN cc ON qc.tbl = cc.tbl AND qc.code = cc.code),
scored AS (
    SELECT c.query_id, c.vec_id,
           ROUND(list_inner_product(q.qv, e.v)
                 / (SQRT(list_inner_product(q.qv, q.qv))
                    * SQRT(list_inner_product(e.v, e.v))), 6) AS cos_sim
    FROM cand c
    JOIN q ON c.query_id = q.query_id
    JOIN e ON c.vec_id = e.vec_id)
SELECT query_id, vec_id, cos_sim, rnk
FROM (SELECT *, CAST(ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS INT) AS rnk
      FROM scored)
WHERE rnk <= 5
""",
)
def sim_srp_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-5 via sign-random-projection LSH — the
    cosine-native ANN path with a FULLY deterministic, engine-replayable
    index (md5-parity ±1 hyperplanes, no seed, no JVM state). Candidates
    come only from equal (table, code) buckets; exact cosine re-ranks the
    candidate set. Retires the rows-only oracle duty that the seeded BRP
    path (``operators.similarity.lsh_topk``) can't provide. 8 tables ×
    8 bits (r4, was 16×6): same plane budget cut 96→64 — smaller encode
    fold and 4× more buckets per table, with per-query candidate volume
    down ~4× at equal recall in the high-cos band top-k draws from."""
    e = load_table(spark, sf_dir, "embeddings")
    queries = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return srp_topk(e, queries, k=5, n_tables=8, n_bits=8, dim=64)


@query(
    "sim_lsh_recall",
    oracle="""
SELECT COUNT(*) AS n_queries, 5 AS k, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
""",
    bench=False,  # recall-verification harness (runs LSH AND brute-force
    # ground truth); the operational BRP path stays benched via tests
)
def sim_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BucketedRandomProjectionLSH top-5, checked by a recall bound
    against brute force (the ``sim_ivf_kmeans_recall`` pattern): BRP
    hashes are JVM-seeded so no external engine can replay the index —
    instead the average top-5 recall over the 10-query batch must clear
    0.8 (measured 0.98-1.0 across sf0.001-0.1; the floor sits under the
    band so only a real bucketing regression flips the boolean and fails
    the value hash). Replaces r1's rows-only ``sim_lsh_topk``
    registration — the raw top-k surface remains
    ``operators.similarity.lsh_topk``, recall-asserted in
    tests/test_similarity.py; oracle duty for SRP-style index replay
    lives with ``sim_srp_topk``."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    lsh = S.lsh_topk(e, q, k=5).select("query_id", "vec_id")
    # r13: vectorized ground-truth stage (bit-identical ranking)
    brute = S.brute_force_topk_arrow(e, q, k=5).select("query_id", "vec_id")
    hits = lsh.join(brute, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    nq = q.agg(F.count(F.lit(1)).alias("n_queries"))
    return nq.crossJoin(hits).select(
        "n_queries",
        F.lit(5).cast("int").alias("k"),
        (F.col("n_hits") / (F.col("n_queries") * 5) >= 0.8).alias("recall_ok"),
    )


@query(
    "sim_pq_recall",
    oracle="""
SELECT COUNT(*) AS n_queries, 5 AS k, TRUE AS recall_ok
FROM embeddings WHERE vec_id < 10
""",
    bench=False,  # verification harness (builds codebooks AND runs the
    # brute-force ground truth); operators are unit-benched in tests
)
def sim_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011 — the faiss IVF-PQ
    compression half): 16 per-subspace k-means codebooks turn each
    64-dim float vector into 16 small ints (~16× less scan traffic),
    queries scan CODES ONLY via an asymmetric-distance table, and an
    exact cosine re-rank of the ADC-top-100 shortlist yields the final
    top-5 — the production two-stage shape (quantized scan + exact
    re-rank touches full vectors for only shortlist·|queries| rows).
    JVM-seeded codebooks can't be replayed cross-engine, so the driver
    check is the recall bound: average top-5 recall vs brute force must
    clear 0.6 (measured 0.92–0.98 across sf0.001–0.1; the floor sits
    far under the band so only a real codebook/encode/ADC/re-rank
    regression flips the boolean)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        brute_force_topk_arrow,
        pq_topk,
    )

    pq = pq_topk(e, q, k=5, m=16, shortlist=100).select("query_id", "vec_id")
    # r13: vectorized ground-truth stage (bit-identical ranking)
    brute = brute_force_topk_arrow(e, q, k=5).select("query_id", "vec_id")
    hits = pq.join(brute, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    nq = q.agg(F.count(F.lit(1)).alias("n_queries"))
    return nq.crossJoin(hits).select(
        "n_queries",
        F.lit(5).cast("int").alias("k"),
        (F.col("n_hits") / (F.col("n_queries") * 5) >= 0.6).alias("recall_ok"),
    )


@query(
    "sim_label_centroid_dist",
    # Determinism engineering (r5 review fix): centroid component means
    # come from SCALED-INTEGER sums — floor(x * 1e12) per component
    # (identical IEEE multiply + floor in both engines), summed as exact
    # BIGINTs, then one identical double expression for the mean. The
    # earlier DECIMAL(27,12) cast was NOT cross-engine-deterministic:
    # Spark rounds double→decimal HALF_UP, DuckDB HALF_EVEN, and the
    # fixtures contain exact-12dp ties (e.g. 0.1983642578125). The
    # distance composes the verified list_inner_product primitive:
    # sqrt(greatest(v·v - 2 v·c + c·c, 0)) — clamped, because float
    # cancellation can land the expanded form at a tiny NEGATIVE value
    # when a vector ~equals its centroid, which Spark sqrt maps to NaN
    # but DuckDB REFUSES outright. Dims come from len(v), not a literal.
    oracle="""
WITH e AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings),
comp AS (
    SELECT label, ord,
           CAST(SUM(CAST(FLOOR(x * 1000000000000.0) AS BIGINT)) AS DOUBLE)
               / (CAST(COUNT(*) AS DOUBLE) * 1000000000000.0) AS m
    FROM (
        SELECT label,
               UNNEST(generate_series(1, len(v))) AS ord,
               UNNEST(v) AS x
        FROM e)
    GROUP BY 1, 2),
cent AS (
    SELECT label, list(m ORDER BY ord) AS c FROM comp GROUP BY 1)
SELECT e.vec_id, e.label,
       ROUND(SQRT(GREATEST(list_inner_product(e.v, e.v)
                           - 2 * list_inner_product(e.v, cent.c)
                           + list_inner_product(cent.c, cent.c), 0.0)),
             6) AS centroid_dist
FROM e JOIN cent USING (label)
""",
)
def sim_label_centroid_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid + each vector's Euclidean distance
    to its OWN label's centroid — the embedding-space outlier/typicality
    score (mislabeled-example mining, cluster cohesion monitoring).

    Scale shape: centroid sums ride a posexplode → (label, dim) partial
    aggregation (64 rows per vector, map-side combined; the shuffle
    carries one row per (label, dim)), centroids rebuild per label via
    sort_array over 64-element lists, and the tiny centroid frame
    broadcasts back onto the vectors for a stateless per-row HOF
    distance — no self-join, no window over the vectors. Scaled-integer
    component sums (floor(x*1e12) summed as exact BIGINTs) make the
    centroid bit-deterministic (see oracle comment — the decimal-cast
    route diverges on HALF_UP vs HALF_EVEN ties); the clamped distance
    composes dot products bit-matched to DuckDB's list_inner_product
    (r3-verified primitive)."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        as_double,
        dot,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    comp = (
        emb.select("label", F.posexplode("v").alias("ord", "x"))
        .groupBy("label", "ord")
        .agg(
            (
                F.sum(
                    F.floor(F.col("x") * F.lit(1e12)).cast("bigint")
                ).cast("double")
                / (F.count(F.lit(1)).cast("double") * F.lit(1e12))
            ).alias("m")
        )
    )
    cent = comp.groupBy("label").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("ord", "m"))),
            lambda s: s["m"],
        ).alias("c")
    )
    joined = emb.join(F.broadcast(cent), "label")
    d2 = F.greatest(
        dot(F.col("v"), F.col("v"))
        - F.lit(2.0) * dot(F.col("v"), F.col("c"))
        + dot(F.col("c"), F.col("c")),
        F.lit(0.0),
    )
    return joined.select(
        "vec_id", "label", F.round(F.sqrt(d2), 6).alias("centroid_dist")
    )


@query(
    "sim_int8_quantize",
    # floor(x/scale + 0.5) is the explicit round-half-up — identical
    # IEEE ops in both engines (engine ROUND differs: Spark HALF_UP,
    # DuckDB HALF_EVEN — the centroid lesson). Quantized codes are
    # integral doubles, so equality and abs on them are exact.
    oracle="""
WITH e AS (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings),
s AS (
    SELECT vec_id, v,
           list_max(list_transform(v, x -> ABS(x))) / 127.0 AS scale
    FROM e),
q AS (
    SELECT vec_id, v, scale,
           list_transform(
               v, x -> GREATEST(-127.0, LEAST(127.0,
                           FLOOR(x / scale + 0.5)))) AS qc
    FROM s WHERE scale > 0)
SELECT vec_id,
       ROUND(scale, 6) AS scale,
       ROUND(list_max(list_transform(
                 list_zip(v, qc),
                 p -> ABS(p[1] - p[2] * scale))), 6) AS max_err,
       LEN(list_filter(qc, c -> ABS(c) = 127.0)) AS n_sat
FROM q
""",
)
def sim_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of embeddings (scale =
    max|x|/127, code = round-half-up(x/scale) clamped) with the two
    metrics that decide whether 4× storage compression is safe:
    max reconstruction error and saturation count. The storage-side
    companion to the PQ operator (``sim_pq_recall``) — int8 keeps
    per-dimension fidelity for re-ranking, PQ compresses further for the
    scan. Stateless per-row HOFs — zero shuffle, perfectly
    partition-parallel at any scale."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        as_double,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    scale = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))) / F.lit(
        127.0
    )
    s = emb.select("vec_id", "v", scale.alias("scale")).filter(
        F.col("scale") > 0
    )
    qc = F.transform(
        F.col("v"),
        lambda x: F.greatest(
            F.lit(-127.0),
            F.least(
                F.lit(127.0), F.floor(x / F.col("scale") + F.lit(0.5))
            ),
        ),
    )
    q = s.select("vec_id", "v", "scale", qc.alias("qc"))
    err = F.array_max(
        F.zip_with(
            F.col("v"),
            F.col("qc"),
            lambda x, c: F.abs(x - c * F.col("scale")),
        )
    )
    # err is computed BEFORE any rounding select: Spark's lateral column
    # alias resolution would otherwise bind the lambda's `scale` to a
    # sibling `round(scale) AS scale` alias in the same select, silently
    # quantizing against the rounded scale (caught by the oracle).
    m = q.select(
        "vec_id",
        "scale",
        err.alias("err_raw"),
        F.size(
            F.filter(F.col("qc"), lambda c: F.abs(c) == F.lit(127.0))
        ).alias("n_sat"),
    )
    return m.select(
        "vec_id",
        F.round("scale", 6).alias("scale"),
        F.round("err_raw", 6).alias("max_err"),
        "n_sat",
    )


# ------------------------------------------------------------- retrieval


_RRF_K = 60  # the standard RRF constant (Cormack et al. 2009)


@query(
    "sim_rrf_hybrid",
    # Both input rankings replay their proven oracles (BM25: fixed-order
    # float fold, 6dp round; cosine: HOF inner products, 6dp round) and
    # are then reduced to integer RANKS; the fusion score is
    # Σ 1e6 DIV (60 + rank) — exact integers, deterministic top-10 via
    # (rrf DESC, doc_id).
    oracle="""
WITH q(term, ord) AS (
    SELECT * FROM (VALUES ('spark', 1), ('stream', 2), ('join', 3))),
toks AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x <> '')
               AS toks
    FROM documents),
dl AS (SELECT doc_id, LEN(toks) AS dl FROM toks),
stats AS (
    SELECT COUNT(*) AS n_docs,
           CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
    FROM dl),
tf AS (
    SELECT t.doc_id, q.term, q.ord,
           LEN(list_filter(t.toks, x -> x = q.term)) AS tf
    FROM toks t CROSS JOIN q),
idf AS (
    SELECT q.term,
           LN((CAST(s.n_docs AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5)
              / (CAST(d.df AS DOUBLE) + 0.5) + 1.0) AS idf
    FROM q
    JOIN (SELECT term, COUNT(*) AS df FROM tf WHERE tf > 0 GROUP BY 1) d
        USING (term)
    CROSS JOIN stats s),
lex_scored AS (
    SELECT tf.doc_id,
           ROUND(list_reduce(
               list_transform(
                   list({'o': tf.ord,
                         'v': idf.idf * (CAST(tf.tf AS DOUBLE) * 2.2)
                              / (CAST(tf.tf AS DOUBLE) + 1.2
                                 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
                                               / s.avgdl))}
                        ORDER BY tf.ord),
                   r -> r.v),
               (a, x) -> a + x), 6) AS score
    FROM tf
    JOIN dl USING (doc_id) CROSS JOIN stats s
    JOIN idf USING (term)
    GROUP BY tf.doc_id, dl.dl, s.avgdl
    HAVING SUM(tf.tf) > 0),
lex AS (
    SELECT doc_id, CAST(ROW_NUMBER() OVER (
               ORDER BY score DESC, doc_id) AS BIGINT) AS r_lex
    FROM lex_scored
    ORDER BY score DESC, doc_id
    LIMIT 20),
e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings),
qv AS (SELECT v AS qv FROM e WHERE vec_id = 0),
vec_scored AS (
    SELECT e.vec_id AS doc_id,
           ROUND(list_inner_product(qv.qv, e.v)
                 / (SQRT(list_inner_product(qv.qv, qv.qv))
                    * SQRT(list_inner_product(e.v, e.v))), 6) AS cos_sim
    FROM e CROSS JOIN qv),
vec AS (
    SELECT doc_id, CAST(ROW_NUMBER() OVER (
               ORDER BY cos_sim DESC, doc_id) AS BIGINT) AS r_vec
    FROM vec_scored
    ORDER BY cos_sim DESC, doc_id
    LIMIT 20),
fused AS (
    SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
           lex.r_lex, vec.r_vec,
           COALESCE(1000000 // (60 + lex.r_lex), 0)
           + COALESCE(1000000 // (60 + vec.r_vec), 0) AS rrf_scaled
    FROM lex FULL OUTER JOIN vec USING (doc_id))
SELECT doc_id, r_lex, r_vec, CAST(rrf_scaled AS BIGINT) AS rrf_scaled
FROM fused
ORDER BY rrf_scaled DESC, doc_id
LIMIT 10
""",
)
def sim_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via Reciprocal Rank Fusion: the top-20 lexical
    (BM25, fixed 3-term query) and top-20 vector (cosine to embedding
    0) rankings fused by Σ 1e6/(60 + rank) — the standard RAG-stack
    read that needs no score normalization across incomparable scales
    (ranks, not scores, fuse). The fusion layer is PURE INTEGER
    arithmetic; the two source rankings carry the repo's existing
    float discipline (fixed-order folds, 6dp rounds, doc-id
    tiebreaks), so determinism composes instead of being re-litigated.

    Scale shape: each branch is its proven scale path (BM25: broadcast
    term dim, HOF tf, no corpus explode; cosine: broadcast query row,
    HOF inner product, TakeOrdered top-k); the fusion joins two 20-row
    frames — free at any corpus size. Docs in only one list keep their
    one contribution (standard RRF)."""
    from featurestore_for_joycastle_java_spark.catalog.text import (
        text_bm25_topk,
    )

    lex = text_bm25_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
        .cast("bigint")
        .alias("r_lex"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    vec = (
        S.brute_force_topk(emb, qv, k=20)
        .select(
            F.col("vec_id").alias("doc_id"),
            F.col("rnk").cast("bigint").alias("r_vec"),
        )
    )
    fused = lex.join(vec, "doc_id", "full_outer").select(
        "doc_id",
        "r_lex",
        "r_vec",
        (
            F.coalesce(
                F.expr(f"1000000 DIV ({_RRF_K} + r_lex)"), F.lit(0)
            )
            + F.coalesce(
                F.expr(f"1000000 DIV ({_RRF_K} + r_vec)"), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("rrf_scaled"),
    )
    return fused.orderBy(
        F.col("rrf_scaled").desc(), F.col("doc_id").asc()
    ).limit(10)


@query(
    "sim_ivf_incremental",
    # Same fully-replayable shape as sim_ivf_topk, with the centroid set
    # frozen at INDEX-BUILD time (the 16 lowest-id BASE vectors): the
    # oracle replays cell assignment for base and batch against those
    # same centroids, probes, and ranks — so the incremental append is
    # checked against the exact declarative definition, not against a
    # replay of the engine's storage layout.
    oracle="""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings),
cents AS (
    SELECT vec_id AS cent_id, v AS cv FROM e
    WHERE vec_id % 5 != 0 ORDER BY vec_id LIMIT 16),
assigned AS (
    SELECT vec_id, cent_id, v FROM (
        SELECT e.vec_id, c.cent_id, e.v,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                   list_inner_product(e.v, c.cv)
                   / (SQRT(list_inner_product(e.v, e.v))
                      * SQRT(list_inner_product(c.cv, c.cv))) DESC,
                   c.cent_id) AS rn
        FROM e CROSS JOIN cents c)
    WHERE rn = 1),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 10),
probes AS (
    SELECT query_id, cent_id, qv FROM (
        SELECT q.query_id, c.cent_id, q.qv,
               ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
                   list_inner_product(q.qv, c.cv)
                   / (SQRT(list_inner_product(q.qv, q.qv))
                      * SQRT(list_inner_product(c.cv, c.cv))) DESC,
                   c.cent_id) AS rn
        FROM q CROSS JOIN cents c)
    WHERE rn <= 4),
scored AS (
    SELECT p.query_id, a.vec_id,
           ROUND(list_inner_product(p.qv, a.v)
                 / (SQRT(list_inner_product(p.qv, p.qv))
                    * SQRT(list_inner_product(a.v, a.v))), 6) AS cos_sim
    FROM probes p JOIN assigned a USING (cent_id))
SELECT query_id, vec_id, cos_sim, rnk
FROM (SELECT query_id, vec_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rnk
      FROM scored)
WHERE rnk <= 5
""",
)
def sim_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF index maintenance — the ANN member of the
    incremental trilogy (MinHash probe, fingerprint probe, and now the
    vector index): the BASE corpus (vec_id % 5 != 0) is indexed ONCE —
    centroids = its 16 lowest-id vectors, cell assignments persisted to
    parquet; the ingestion batch (vec_id % 5 == 0) is assigned to the
    SAME frozen centroids (zero-shuffle broadcast fold) and appended as
    a second index segment. Queries probe the union of segments.

    This is how a production IVF index absorbs writes: cell geometry
    frozen between rebuilds, appends routed by the existing centroids,
    periodic re-fit offline (the k-means variant). Assignment of a new
    vector costs O(n_centroids) — never touches the corpus; the probe
    scans ~n_probe/n_centroids of the index regardless of how many
    segments it accumulated. Drift caveat at 100 TB: a frozen geometry
    degrades as the batch distribution shifts — the re-fit cadence is
    the recall/cost knob (same trade Faiss/Milvus document)."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        as_double,
        assign_nearest_cell,
        cosine,
    )

    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") % 5 != 0)
    batch = e.filter(F.col("vec_id") % 5 == 0)

    def build(root: str) -> str:
        cent_path = os.path.join(root, "centroids")
        base_seg = os.path.join(root, "seg_base")
        batch_seg = os.path.join(root, "seg_batch")
        cents = S.lowid_centroids(base, "vec_id", "embedding", 16)
        cents.write.mode("overwrite").parquet(cent_path)
        stored = spark.read.parquet(cent_path)
        c_base = base.select(
            "vec_id", as_double(F.col("embedding")).alias("__cv")
        )
        assign_nearest_cell(c_base, stored, "vec_id").write.mode(
            "overwrite"
        ).parquet(base_seg)
        # the APPEND: batch assigned against the FROZEN centroid set
        c_new = batch.select(
            "vec_id", as_double(F.col("embedding")).alias("__cv")
        )
        assign_nearest_cell(c_new, stored, "vec_id").write.mode(
            "overwrite"
        ).parquet(batch_seg)
        return root

    # base assignments and the centroid set are persisted once per process
    root = build_once(("ivfidx", sf_dir), build)
    cents = spark.read.parquet(os.path.join(root, "centroids"))
    index = spark.read.parquet(os.path.join(root, "seg_base")).unionByName(
        spark.read.parquet(os.path.join(root, "seg_batch"))
    )

    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        as_double(F.col("embedding")).alias("__qv"),
    )
    probes = S.ivf_probes(q, "query_id", "__qv", cents, 4).select(
        "query_id", "cent_id", "__qv"
    )
    scored = index.join(F.broadcast(probes), "cent_id").select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cos_sim"),
    )
    return S.top_k_by_cosine(scored, "query_id", "vec_id", 5)


@query(
    "sim_quantized_rerank",
    # Quantization replays sim_int8_quantize's bit-exact formula
    # (round-half-up via floor(x/scale + 0.5), clamped); the coarse
    # scores are integer dot products of integral-double codes — exact
    # in both engines — so the top-20 candidate sets match exactly, and
    # the final ranking uses the 6dp-rounded float cosine with vec_id
    # tiebreaks. Fully deterministic two-stage retrieval.
    oracle="""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings),
s AS (
    SELECT vec_id, v,
           list_max(list_transform(v, x -> ABS(x))) / 127.0 AS scale
    FROM e),
q8 AS (
    SELECT vec_id, v,
           list_transform(v, x -> GREATEST(-127.0,
               LEAST(127.0, FLOOR(x / scale + 0.5)))) AS qc
    FROM s WHERE scale > 0),
qry AS (
    SELECT vec_id AS query_id, v AS qv, qc AS qqc
    FROM q8 WHERE vec_id < 10),
coarse AS (
    SELECT query_id, vec_id, qv, cv,
           ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY approx DESC, vec_id) AS crn
    FROM (
        SELECT q.query_id, c.vec_id, q.qv, c.v AS cv,
               list_inner_product(q.qqc, c.qc) AS approx
        FROM qry q CROSS JOIN q8 c)),
rer AS (
    SELECT query_id, vec_id,
           ROUND(list_inner_product(qv, cv)
                 / (SQRT(list_inner_product(qv, qv))
                    * SQRT(list_inner_product(cv, cv))), 6) AS cos_sim
    FROM coarse WHERE crn <= 20)
SELECT query_id, vec_id, cos_sim, rnk
FROM (SELECT query_id, vec_id, cos_sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cos_sim DESC, vec_id) AS INTEGER) AS rnk
      FROM rer)
WHERE rnk <= 5
""",
)
def sim_quantized_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval with int8 quantization — the standard
    vector-serving pattern (Faiss/Milvus/pgvector all ship it): a
    COARSE scan scores every corpus vector with the INTEGER dot product
    of its int8 codes (4× less memory bandwidth than float32, exact
    integer arithmetic), keeps the top-20 candidates per query, and an
    EXACT float-cosine re-rank of just those candidates produces the
    final top-5. Quantization is ``sim_int8_quantize``'s bit-exact
    round-half-up formula (kept textually in sync — see that query's
    lateral-alias caution).

    Scale shape: query codes broadcast, the coarse scan is stateless
    per-row work over the corpus (at 100 TB it composes with the IVF
    cell pruning — scan only probed cells, with int8 bandwidth); the
    re-rank touches 20 rows per query. The windows see |corpus| scored
    rows per query only in this flat demonstration — the composed form
    inherits IVF's ~n_probe/n_centroids scan fraction."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        as_double,
        cosine,
    )

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    scale = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))) / F.lit(
        127.0
    )
    s = e.select("vec_id", "v", scale.alias("scale")).filter(
        F.col("scale") > 0
    )
    qc = F.transform(
        F.col("v"),
        lambda x: F.greatest(
            F.lit(-127.0),
            F.least(F.lit(127.0), F.floor(x / F.col("scale") + F.lit(0.5))),
        ),
    )
    q8 = s.select("vec_id", "v", qc.alias("qc"))
    qry = q8.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("qc").alias("qqc"),
    )
    # integer dot of integral-double codes: left-to-right fold, exact
    approx = F.aggregate(
        F.zip_with("qqc", "qc", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = q8.join(F.broadcast(qry)).select(
        "query_id", "vec_id", "qv", F.col("v").alias("cv"), approx.alias("approx")
    )
    cand = top_k_per_group(
        scored, ["query_id"], [F.col("approx").desc(), F.col("vec_id")], 20, "crn"
    ).select("query_id", "vec_id", "qv", "cv")
    rer = cand.select(
        "query_id",
        "vec_id",
        F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cos_sim"),
    )
    return S.top_k_by_cosine(rer, "query_id", "vec_id", 5)


@query(
    "sim_mips_topk",
    # The oracle is the DIRECT answer: exact max-inner-product top-5 per
    # query. Engine-side the shortlist travels through the augmented-
    # cosine space; parity against this direct form IS the proof of the
    # MIPS->cosine reduction identity.
    oracle="""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
    SELECT q.query_id, e.vec_id,
           ROUND(list_inner_product(qv, v), 6) AS dot_r
    FROM q CROSS JOIN e)
SELECT query_id, vec_id, dot_r, rnk
FROM (SELECT *, CAST(ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY dot_r DESC, vec_id) AS INT) AS rnk
      FROM scored)
WHERE rnk <= 5
""",
)
def sim_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product search via the MIPS→cosine reduction
    (Bachrach et al., RecSys 2014; Shrivastava & Li, NIPS 2014): corpus
    vectors are augmented with one extra coordinate sqrt(M² − |x|²)
    (M = max corpus norm) and queries with 0, after which COSINE order in
    the augmented space equals INNER-PRODUCT order in the original space
    — cos_aug(q,x) = q·x / (|q|·M), a per-query monotone transform.

    Engine route: augmented-cosine shortlist (top-20 per query) → exact
    dot-product re-rank to top-5; the oracle computes direct MIPS top-5,
    so parity proves the reduction end-to-end. The shortlist margin
    absorbs last-ulp reorderings of the float division.

    Why it matters at 100 TB: recommendation scoring is MIPS (user·item,
    no normalization), but every sublinear index the engine has — SRP
    buckets (`sim_srp_topk`), IVF cells (`sim_ivf_topk`), int8 coarse
    scan (`sim_quantized_rerank`) — is built for COSINE/L2 geometry.
    The augmentation is one narrow column appended at index-build time,
    and unlocks all of them for inner-product retrieval unchanged.
    """
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", S.as_double(F.col("embedding")).alias("v")
    )
    mx = e.agg(
        F.max(S.l2_norm(F.col("v"))).alias("m")
    )
    # augmented corpus: [x, sqrt(M^2 - |x|^2)]; norm becomes M for every
    # vector, so cosine denominators are constant per query
    aug = e.crossJoin(F.broadcast(mx)).select(
        "vec_id",
        "v",
        F.concat(
            "v",
            F.array(
                F.sqrt(
                    F.col("m") * F.col("m")
                    - S.dot(F.col("v"), F.col("v"))
                )
            ),
        ).alias("va"),
    )
    q = aug.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.concat("v", F.array(F.lit(0.0))).alias("qa"),
    )
    scored = q.crossJoin(aug.select("vec_id", "v", "va")).select(
        "query_id",
        "vec_id",
        "qv",
        "v",
        S.cosine(F.col("qa"), F.col("va")).alias("cos_aug"),
    )
    shortlist = top_k_per_group(
        scored, ["query_id"], [F.desc("cos_aug"), "vec_id"], 20, "crank"
    )
    rerank = shortlist.select(
        "query_id",
        "vec_id",
        F.round(S.dot(F.col("qv"), F.col("v")), 6).alias("dot_r"),
    )
    return top_k_per_group(
        rerank, ["query_id"], [F.desc("dot_r"), "vec_id"], 5, "rnk"
    ).select("query_id", "vec_id", "dot_r", F.col("rnk").cast("int").alias("rnk"))


# ---------------------------------------------------- cluster purity


@query(
    "sim_cluster_purity",
    # Same deterministic lowid-centroid assignment replay as the
    # sim_ivf_topk oracle (cell = argmax raw cosine, ties to the lowest
    # cent_id — the fold's strictly-greater-keeps-first rule).
    oracle="""
WITH e AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings),
cents AS (
    SELECT vec_id AS cent_id, v AS cv FROM e ORDER BY vec_id LIMIT 16),
assigned AS (
    SELECT vec_id, label, cent_id FROM (
        SELECT e.vec_id, e.label, c.cent_id,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
                   list_inner_product(e.v, c.cv)
                   / (SQRT(list_inner_product(e.v, e.v))
                      * SQRT(list_inner_product(c.cv, c.cv))) DESC,
                   c.cent_id) AS rn
        FROM e CROSS JOIN cents c)
    WHERE rn = 1),
lc AS (
    SELECT cent_id, label, COUNT(*) AS c FROM assigned GROUP BY 1, 2),
top AS (
    SELECT cent_id, label AS top_label, c AS top_n FROM (
        SELECT cent_id, label, c,
               ROW_NUMBER() OVER (PARTITION BY cent_id
                                  ORDER BY c DESC, label) AS rn
        FROM lc)
    WHERE rn = 1),
sz AS (SELECT cent_id, CAST(SUM(c) AS BIGINT) AS n_vecs FROM lc GROUP BY 1)
SELECT s.cent_id, s.n_vecs, t.top_label,
       CAST(t.top_n AS BIGINT) AS top_n,
       CAST(t.top_n * 1000000 // s.n_vecs AS BIGINT) AS purity_ppm
FROM sz s JOIN top t USING (cent_id)
""",
)
def sim_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-quality audit: assign every embedding to its nearest
    of the 16 deterministic cells and score each cell's label PURITY
    (majority-label share, in exact ppm) against the ground-truth
    ``label`` column — the external-validation number (purity, Manning
    et al. IR ch.16) that tells you whether the IVF/SemDeDup geometry
    actually respects the semantic classes it will be used to prune.

    Scale shape: the zero-shuffle broadcast-fold assignment (shared
    with IVF), one combine-friendly (cell, label) count, a per-cell
    top-1 window over |cells x labels| rows, integer ppm — no floats in
    the output."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        as_double,
        assign_nearest_cell,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("__cv")
    )
    cents = S.lowid_centroids(emb, "vec_id", "embedding", 16)
    assigned = assign_nearest_cell(
        e.select("vec_id", "__cv"), cents, "vec_id"
    ).select("vec_id", "cent_id")
    labeled = assigned.join(e.select("vec_id", "label"), "vec_id")
    lc = labeled.groupBy("cent_id", "label").agg(
        F.count(F.lit(1)).alias("c")
    )
    w = Window.partitionBy("cent_id").orderBy(F.col("c").desc(), "label")
    top = (
        lc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "cent_id",
            F.col("label").alias("top_label"),
            F.col("c").alias("top_n"),
        )
    )
    sz = lc.groupBy("cent_id").agg(F.sum("c").alias("n_vecs"))
    return sz.join(top, "cent_id").select(
        "cent_id",
        "n_vecs",
        "top_label",
        "top_n",
        F.expr("top_n * 1000000 DIV n_vecs").cast("bigint").alias(
            "purity_ppm"
        ),
    )


# ------------------------------------------- Matryoshka prefix recall


@query(
    "sim_matryoshka_prefix",
    # Fully value-oracled (unlike the JVM-seeded LSH indexes): both the
    # 64-dim ground truth and the 16-dim prefix ranking are
    # deterministic, ordered by ROUND(cos, 6) with vec_id tiebreak on
    # both engines.
    oracle="""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id % 25 = 0),
p AS (
    SELECT q.qid, e.vec_id,
           ROUND(list_inner_product(e.v, q.qv)
                 / (SQRT(list_inner_product(e.v, e.v))
                    * SQRT(list_inner_product(q.qv, q.qv))), 6)
               AS cos_full,
           ROUND(list_inner_product(e.v[1:16], q.qv[1:16])
                 / (SQRT(list_inner_product(e.v[1:16], e.v[1:16]))
                    * SQRT(list_inner_product(q.qv[1:16], q.qv[1:16]))), 6)
               AS cos_pre
    FROM e JOIN q ON e.vec_id <> q.qid),
f AS (SELECT qid, vec_id,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY cos_full DESC, vec_id) AS rf
      FROM p),
pr AS (SELECT qid, vec_id,
              ROW_NUMBER() OVER (PARTITION BY qid
                                 ORDER BY cos_pre DESC, vec_id) AS rp
       FROM p)
SELECT f.qid AS query_id,
       COUNT(*) AS n_hits,
       COUNT(*) / 10.0 AS recall_at10
FROM f JOIN pr ON pr.qid = f.qid AND pr.vec_id = f.vec_id
WHERE f.rf <= 10 AND pr.rp <= 10
GROUP BY 1
""",
    bench=False,  # recall-audit harness: runs brute force TWICE (full +
    # prefix) over the probe batch; operational ANN paths stay benched
)
def sim_matryoshka_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka / truncated-embedding retrieval audit (Kusupati et
    al., NeurIPS 2022): per probe, top-10 cosine recall of the 16-dim
    PREFIX ranking against the full 64-dim ground truth — the
    measurement that decides whether a 4x cheaper first-stage scan can
    front a rerank (the two-stage pattern ``sim_quantized_rerank``
    already uses for int8).

    Scale shape: probes broadcast against the corpus (BroadcastNestedLoop
    — linear in corpus size, never corpus x corpus); per-probe top-10 is
    a hash-partitioned window over bounded groups; both rankings reuse
    ONE scored frame (Spark computes cos_full and cos_pre in the same
    projection, one corpus pass). At index scale the prefix scan would
    come from a column-pruned 16-dim projection — reading 1/4 of the
    vector bytes is the whole point."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        as_double,
        cosine,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    q = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    pre = lambda c: F.slice(c, 1, 16)  # noqa: E731
    p = (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(cosine(F.col("v"), F.col("qv")), 6).alias("cos_full"),
            F.round(cosine(pre(F.col("v")), pre(F.col("qv"))), 6).alias(
                "cos_pre"
            ),
        )
    )
    w_f = Window.partitionBy("qid").orderBy(
        F.col("cos_full").desc(), "vec_id"
    )
    w_p = Window.partitionBy("qid").orderBy(
        F.col("cos_pre").desc(), "vec_id"
    )
    ranked = p.select(
        "qid",
        "vec_id",
        F.row_number().over(w_f).alias("rf"),
        F.row_number().over(w_p).alias("rp"),
    )
    return (
        ranked.filter((F.col("rf") <= 10) & (F.col("rp") <= 10))
        .groupBy(F.col("qid").alias("query_id"))
        .agg(
            F.count(F.lit(1)).alias("n_hits"),
            (F.count(F.lit(1)) / 10.0).alias("recall_at10"),
        )
    )


# ------------------------------------------------------ IVF-PQ compose


@query(
    "sim_ivfpq_topk",
    oracle="""
SELECT COUNT(*) AS n_queries, 5 AS k, TRUE AS recall_ok
FROM embeddings WHERE vec_id % 50 = 1
""",
    bench=False,  # recall-audit harness (builds codebooks AND the
    # brute-force ground truth); the composed operator itself is the
    # production path
)
def sim_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed ANN stack — IVF cell pruning x PQ code compression x
    exact shortlist re-rank (``operators.similarity.ivfpq_topk``): the
    index answers "scan less" (n_probe/n_centroids of the corpus) and
    "read less per vector" (m ints vs dim floats) at once, which is the
    multiplication faiss deployments run at scale. JVM-seeded codebooks
    preclude cross-engine replay; the driver check is the recall bound:
    average top-5 recall vs brute force must clear 0.6 (the floor sits
    under the measured band so only a real regression in assignment,
    probing, encoding, ADC, or re-rank flips the boolean). Measured
    recall at n_probe=6/16 cells: 0.70 (sf0.001), 0.72 (sf0.01) — the
    compounded loss of the two lossy stages (n_probe=4 measured
    0.58-0.62, n_probe=8 0.80-0.82: the probe count is the recall/cost
    dial, exactly as in faiss)."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        brute_force_topk_arrow,
        ivfpq_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ann = ivfpq_topk(
        e, q, k=5, n_centroids=16, n_probe=6, m=16, shortlist=100
    ).select("query_id", "vec_id")
    # r13: vectorized ground-truth stage (bit-identical ranking)
    brute = brute_force_topk_arrow(e, q, k=5).select("query_id", "vec_id")
    hits = ann.join(brute, ["query_id", "vec_id"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    nq = q.agg(F.count(F.lit(1)).alias("n_queries"))
    return nq.crossJoin(hits).select(
        "n_queries",
        F.lit(5).cast("int").alias("k"),
        (F.col("n_hits") / (F.col("n_queries") * 5) >= 0.6).alias(
            "recall_ok"
        ),
    )


# ---------------------------------------------- IVF n_probe curve


@query(
    "sim_ivf_nprobe_curve",
    oracle="""
SELECT 2 AS n_probe, COUNT(*) AS n_queries, 5 AS k,
       TRUE AS recall_ok, TRUE AS monotone_ok
FROM embeddings WHERE vec_id % 50 = 1
UNION ALL
SELECT 4, COUNT(*), 5, TRUE, TRUE
FROM embeddings WHERE vec_id % 50 = 1
UNION ALL
SELECT 8, COUNT(*), 5, TRUE, TRUE
FROM embeddings WHERE vec_id % 50 = 1
""",
    bench=False,  # characterization harness: three IVF runs + the
    # brute-force ground truth per invocation
)
def sim_ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF recall/cost dial as a committed artifact: top-5 recall vs
    brute force at n_probe = 2, 4, 8 of 16 cells — the curve an ops
    team publishes to pick an operating point (scan fraction scales
    with n_probe/n_centroids; measured recall 0.44-0.54 / 0.58-0.62 /
    0.80-0.82 across sf0.001-0.01). Two driver-checked properties per
    row: recall clears a floor set under the measured band (0.30 /
    0.45 / 0.65 — only a real index regression dips under), and the
    curve is MONOTONE non-decreasing in n_probe (more cells probed can
    only add candidates; a violation means probe routing is broken)."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        brute_force_topk_arrow,
    )

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 50 == 1).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # r13: vectorized ground-truth stage (bit-identical ranking); the
    # ground truth feeds all three recall joins, so it is cached and
    # materialized ONCE (k·|queries| rows), and the three independent
    # per-n_probe hit counts run overlapped from a thread pool (guide
    # §2.6 — they were three serial driver-blocking actions; wall time
    # becomes ~the slowest branch). Each branch's plan is unchanged, so
    # every count — and the returned booleans — is identical.
    from concurrent.futures import ThreadPoolExecutor

    brute = (
        brute_force_topk_arrow(e, q, k=5).select("query_id", "vec_id").cache()
    )
    try:
        nq = q.count()
        floors = {2: 0.30, 4: 0.45, 8: 0.65}

        def hits_for(n_probe: int) -> int:
            ann = ivf_topk(
                e, q, k=5, n_centroids=16, n_probe=n_probe
            ).select("query_id", "vec_id")
            return ann.join(brute, ["query_id", "vec_id"]).count()

        probe_ns = (2, 4, 8)
        target = thread_target(spark, hits_for)
        with ThreadPoolExecutor(max_workers=3) as pool:
            hit_counts = list(pool.map(target, probe_ns))
        recalls = {
            n_probe: hits / (nq * 5)
            for n_probe, hits in zip(probe_ns, hit_counts)
        }
    finally:
        brute.unpersist()
    monotone = recalls[2] <= recalls[4] <= recalls[8]
    rows = [
        (n_probe, nq, 5, recalls[n_probe] >= floors[n_probe], monotone)
        for n_probe in (2, 4, 8)
    ]
    return e.sparkSession.createDataFrame(
        rows,
        "n_probe int, n_queries long, k int, recall_ok boolean,"
        " monotone_ok boolean",
    )


# ----------------------------------------------- LOO kNN accuracy


@query(
    "sim_knn_loo_accuracy",
    # Fully value-oracled: deterministic brute-force neighbors (rounded
    # cosine, vec_id tiebreak), majority vote with lowest-label
    # tiebreak, exact integer accuracy.
    oracle="""
WITH e AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings),
p AS (
    SELECT a.vec_id, a.label AS true_label, b.label AS nbr_label,
           ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
               ROUND(list_inner_product(a.v, b.v)
                     / (SQRT(list_inner_product(a.v, a.v))
                        * SQRT(list_inner_product(b.v, b.v))), 6) DESC,
               b.vec_id) AS rn
    FROM e a JOIN e b ON a.vec_id <> b.vec_id),
votes AS (
    SELECT vec_id, true_label, nbr_label, COUNT(*) AS c
    FROM p WHERE rn <= 5 GROUP BY 1, 2, 3),
pred AS (
    SELECT vec_id, true_label, nbr_label AS pred_label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY c DESC, nbr_label) AS pr
        FROM votes)
    WHERE pr = 1)
SELECT COUNT(*) AS n_vecs,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
            AS BIGINT) AS n_correct,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
            * 1000000 // COUNT(*) AS BIGINT) AS accuracy_ppm
FROM pred
""",
    bench=False,  # leave-one-out over all vectors is deliberately
    # quadratic — the correctness anchor; the scale path swaps the
    # brute-force neighbor stage for the IVF/PQ shortlist
)
def sim_knn_loo_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN classification accuracy over the embedding
    labels — the standard intrinsic quality number for an embedding
    space ("do neighbors share labels?"), reported in exact ppm.
    Majority vote breaks ties toward the lowest label; neighbors order
    by (rounded cosine, vec_id) — the same total-order discipline as
    every ranking in the catalog, so both engines replay the identical
    vote.

    Scale shape: deliberately the quadratic anchor (bench-skipped, like
    `dedup_embedding_cosine`): every vector scores every other. The
    production path swaps the neighbor stage for the IVF/PQ shortlist
    (`ivfpq_topk`) — the vote and accuracy stages are unchanged."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        as_double,
        dot,
        l2_norm,
    )

    # the cosine_pairs precedent: norms are bound ONCE
    # per row BEFORE the n² theta join, so each pair costs one zip_with
    # dot instead of three interpreted array folds (cosine() recomputes
    # both norms per pair — measured 2.6x on the pair sweep when
    # cosine_pairs made the same change). The per-pair expression stays
    # dot/(na*nb), the identical IEEE tree, so the 6dp-rounded neighbor
    # ranking — and the exact-ppm oracle hash — are unchanged.
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    ).withColumn("__n", l2_norm(F.col("v")))
    a = e.select(
        F.col("vec_id"),
        F.col("label").alias("true_label"),
        F.col("v"),
        F.col("__n").alias("__na"),
    )
    b = e.select(
        F.col("vec_id").alias("b_id"),
        F.col("label").alias("nbr_label"),
        F.col("v").alias("bv"),
        F.col("__n").alias("__nb"),
    )
    p = (
        a.join(b, F.col("vec_id") != F.col("b_id"))
        .select(
            "vec_id",
            "true_label",
            "nbr_label",
            F.round(
                dot(F.col("v"), F.col("bv"))
                / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("cos"),
            "b_id",
        )
    )
    top5 = top_k_per_group(
        p, ["vec_id"], [F.col("cos").desc(), F.col("b_id")], 5, "rn"
    )
    votes = top5.groupBy("vec_id", "true_label", "nbr_label").agg(
        F.count(F.lit(1)).alias("c")
    )
    w_v = Window.partitionBy("vec_id").orderBy(
        F.col("c").desc(), "nbr_label"
    )
    pred = (
        votes.withColumn("pr", F.row_number().over(w_v))
        .filter(F.col("pr") == 1)
        .select(
            "vec_id",
            "true_label",
            F.col("nbr_label").alias("pred_label"),
        )
    )
    hit = (F.col("pred_label") == F.col("true_label")).cast("long")
    return pred.agg(
        F.count(F.lit(1)).alias("n_vecs"),
        F.sum(hit).alias("n_correct"),
        F.expr(
            "sum(case when pred_label = true_label then 1 else 0 end)"
            " * 1000000 DIV count(1)"
        )
        .cast("bigint")
        .alias("accuracy_ppm"),
    )


@query(
    "sim_gram_matrix",
    oracle="""
WITH x AS (
    SELECT vec_id, i,
           CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)
               AS v6
    FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM embeddings)
SELECT a.i AS i, b.i AS j, n.n_vectors,
       CAST(SUM(a.v6 * b.v6) AS BIGINT) AS gram_micro2
FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
CROSS JOIN n
GROUP BY 1, 2, 3
""",
)
def sim_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle Gram matrix Σ x xᵀ of the embedding corpus in
    exact micro² integers — the one-pass precursor to PCA / whitening /
    covariance-based drift monitors (subtract the mean outer product to
    get covariance; power-iterate for the top component). Elements are
    floored to micro integers so the d(d+1)/2 cell sums are EXACT
    (DECIMAL(38,0) on Spark, HUGEINT on DuckDB) — the float version
    would be partitioning-dependent in the last ulps.

    Scale shape (r12 opt): per-task partial Grams via one NumPy int64
    matmul per Arrow batch (``operators/gram.py::gram_cells`` — exact
    Python-int accumulation across batches, guide §4.2), then ONE hash
    aggregate over (#tasks × d(d+1)/2) partial cells — arithmetic
    identical to the previous posexplode + self-equi-join form (which
    pushed 20.5 M joined rows through the row pipeline at sf0.1), with
    the per-partition partial combine done by vectorized native code.
    Output stays d(d+1)/2 = 2080 cells for d = 64, corpus-size-
    independent. Measured interleaved A/B at sf0.1: 2.04 → 0.57 s."""
    from featurestore_for_joycastle_java_spark.operators.gram import (
        gram_cells,
    )

    e = load_table(spark, sf_dir, "embeddings")
    n = e.agg(F.count(F.lit(1)).alias("n_vectors"))
    return (
        gram_cells(e, upper_only=True)
        .groupBy("i", "j")
        .agg(F.sum("g").alias("__g"))
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            "n_vectors",
            F.col("__g").cast("bigint").alias("gram_micro2"),
        )
    )


def _pc1_oracle(iterations: int) -> str:
    """Declarative replay of the integer power iteration on the Gram
    matrix — identical arithmetic to ``sim_power_iteration_pc1`` (the
    sign-factored renormalization makes DuckDB's floor `//` coincide
    with Spark's truncating DIV, since both see non-negative
    operands)."""
    cte = [
        """
WITH x AS (
    SELECT vec_id, i,
           CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)
               AS v6
    FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
g AS (
    SELECT a.i AS i, b.i AS j, SUM(a.v6 * b.v6) AS g
    FROM x a JOIN x b ON a.vec_id = b.vec_id GROUP BY 1, 2),
v0 AS (SELECT DISTINCT i AS node, CAST(1000000 AS HUGEINT) AS v FROM g)"""
    ]
    for k in range(1, iterations + 1):
        prev = f"v{k - 1}"
        cte.append(
            f"""
r{k} AS (SELECT g.i AS node, SUM(g.g * p.v) AS raw
         FROM g JOIN {prev} p ON p.node = g.j GROUP BY 1),
m{k} AS (SELECT GREATEST(MAX(ABS(raw)), 1) AS m FROM r{k}),
v{k} AS (SELECT node,
                CASE WHEN raw >= 0 THEN (raw * 1000000) // m
                     ELSE -(((-raw) * 1000000) // m) END AS v
         FROM r{k}, m{k})"""
        )
    return (
        ",".join(cte)
        + f"""
SELECT node AS dim, CAST(v AS BIGINT) AS pc1_micro FROM v{iterations}
"""
    )


@query("sim_power_iteration_pc1", oracle=_pc1_oracle(3))
def sim_power_iteration_pc1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PC1 power-iteration kernel on the embedding corpus' Gram
    matrix — the declarative PCA step that ``sim_gram_matrix``
    promises. The Gram matrix G = Σ x xᵀ is PSD, so repeated
    application of G drives any non-orthogonal start toward the
    principal eigenvector (von Mises & Pollaczek-Geiringer 1929) at
    rate (λ₂/λ₁)^k — the query's CONTRACT is the exact k = 3 iterate,
    the building block a caller loops to convergence on a spiked
    spectrum (this synthetic fixture is near-isotropic, λ₂/λ₁ ≈ 0.93
    measured, so no small k converges here; real embedding corpora are
    heavily spiked, Rudelson & Vershynin 2007). The direction is
    scale-free, so each step renormalizes by the exact integer MAX-ABS
    instead of the float L2 norm (the ``hits_int`` trick, extended to
    signed components): every score is an exact integer, the oracle
    replays all iterations bit-for-bit — no tolerance — and
    tests/test_round10b.py replays the loop a THIRD way in pure-Python
    bigint arithmetic.

        raw(i) = Σ_j G(i,j) · v(j)      (exact DECIMAL(38,0) sum)
        v'(i)  = sign(raw) · (|raw| · S) DIV max|raw|   (S = 1e6)

    Overflow envelope: |G(i,j)| ≤ n·S² and |raw| ≤ d·n·S³ ≈ 3e23 at
    sf0.1 — far past BIGINT, hence DECIMAL(38,0) (HUGEINT on the
    oracle); the ·S renormalization peaks near 3e29, still inside 38
    digits.

    Scale shape: the d×d Gram build is the only corpus-sized work — one
    co-partitioned self-equi-join on vec_id + ONE combine-friendly
    aggregate to d² = 4096 cells (corpus-size-independent). The three
    iterations then touch d² × d rows — driver-trivial but kept
    declarative, with a 1-row broadcast max frame, run through the
    engine's one fixpoint loop (``operators/iterate.py``). On a
    1000-executor run the Gram partials combine per-partition and the
    eigen-iteration costs nothing."""
    # the d×d Gram build runs through operators/gram.py::gram_cells
    # (per-task NumPy int64 matmul partials, exact Python-int accumulation)
    from featurestore_for_joycastle_java_spark.operators.gram import (
        gram_cells,
    )

    e = load_table(spark, sf_dir, "embeddings")
    cells = (
        gram_cells(e, upper_only=False)
        .groupBy("i", "j")
        .agg(F.sum("g").alias("g"))
        .localCheckpoint(eager=True)
    )
    v = cells.select(F.col("i").alias("node")).distinct().select(
        "node", F.lit(1000000).cast("decimal(38,0)").alias("v")
    )

    def step(v: DataFrame) -> DataFrame:
        raw = (
            cells.join(v, cells.j == v.node)
            .groupBy("i")
            .agg(
                F.sum((F.col("g") * F.col("v")).cast("decimal(38,0)"))
                .alias("raw")
            )
        )
        # GREATEST(·, 1): an all-zero Gram (degenerate input — empty or
        # all-zero embeddings) has every raw = 0; without the floor the
        # renormalizer divides by zero (found by the hypothesis property
        # test on random integer matrices), with it the iterate settles
        # at the correct all-zero vector
        m = raw.agg(
            F.greatest(
                F.max(F.abs(F.col("raw"))),
                F.lit(1).cast("decimal(38,0)"),
            ).alias("m")
        )
        return raw.crossJoin(F.broadcast(m)).select(
            F.col("i").alias("node"),
            F.when(
                F.col("raw") >= 0,
                F.expr("(raw * 1000000) DIV m"),
            )
            .otherwise(-F.expr("((-raw) * 1000000) DIV m"))
            .cast("decimal(38,0)")
            .alias("v"),
        )

    v, _ = fixpoint("sim_power_iteration_pc1", v, step, max_rounds=3)
    return v.select(
        F.col("node").alias("dim"), F.col("v").cast("bigint").alias("pc1_micro")
    )


@query(
    "sim_centroid_drift",
    oracle="""
WITH x AS (
    SELECT vec_id, label, vec_id % 2 AS split, i,
           CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)
               AS v6
    FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
s AS (
    SELECT label, split, i,
           CAST(SUM(v6) AS BIGINT) AS sv,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM x GROUP BY 1, 2, 3),
m AS (SELECT label, split, i, CAST(sv // n AS BIGINT) AS mean6, n FROM s),
j AS (
    SELECT a.label, a.i,
           ABS(a.mean6 - b.mean6) AS shift6,
           a.n AS n_even, b.n AS n_odd
    FROM m a JOIN m b ON a.label = b.label AND a.i = b.i
    WHERE a.split = 0 AND b.split = 1)
SELECT label, n_even, n_odd,
       CAST(SUM(shift6) AS BIGINT) AS l1_shift_micro,
       CAST(MAX(shift6) AS BIGINT) AS linf_shift_micro
FROM j GROUP BY 1, 2, 3
""",
)
def sim_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-centroid drift monitor: split the corpus into two
    deterministic halves (vec_id parity — standing in for
    yesterday/today batches), compute each label's per-dimension
    centroid in exact floor-divided micro units, and report the L1 and
    L∞ distance between the two half-centroids per label. The
    embedding-space analogue of ``quality_psi_drift``: PSI watches one
    scalar's distribution, this watches where each class's mass SITS in
    representation space — the signal that a retrained encoder or a
    data-mix change moved a class before any scalar feature shows it.

    Division note (module docstring): centroid means use the shared
    truncate-toward-zero semantics of Spark's ``DIV`` and DuckDB's
    ``//`` on possibly-negative sums — identical by verification, not
    coincidence (see module docstring).

    Plan shape: one posexplode pass, ONE combine-friendly (label,
    split, dim) aggregate — exact BIGINT sums, partition-parallel — a
    self-equi-join on (label, dim) over the tiny centroid frame
    (labels × splits × dims rows, corpus-size-independent), one final
    per-label aggregate. The corpus is touched once."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id",
        "label",
        (F.col("vec_id") % 2).alias("split"),
        F.posexplode("embedding").alias("pos", "val"),
    ).select(
        "label",
        "split",
        (F.col("pos") + 1).alias("i"),
        F.floor(F.col("val").cast("double") * F.lit(1000000.0))
        .cast("bigint")
        .alias("v6"),
    )
    s = x.groupBy("label", "split", "i").agg(
        F.sum("v6").cast("bigint").alias("sv"),
        F.count(F.lit(1)).alias("n"),
    )
    m = s.select(
        "label",
        "split",
        "i",
        F.expr("sv DIV n").alias("mean6"),
        "n",
    )
    a = m.filter(F.col("split") == 0).select(
        "label", "i", F.col("mean6").alias("__ma"), F.col("n").alias("n_even")
    )
    b = m.filter(F.col("split") == 1).select(
        F.col("label").alias("__lb"),
        F.col("i").alias("__ib"),
        F.col("mean6").alias("__mb"),
        F.col("n").alias("n_odd"),
    )
    j = a.join(
        b,
        (F.col("label") == F.col("__lb")) & (F.col("i") == F.col("__ib")),
    ).select(
        "label",
        "n_even",
        "n_odd",
        F.abs(F.col("__ma") - F.col("__mb")).alias("shift6"),
    )
    return j.groupBy("label", "n_even", "n_odd").agg(
        F.sum("shift6").cast("bigint").alias("l1_shift_micro"),
        F.max("shift6").cast("bigint").alias("linf_shift_micro"),
    )


@query(
    "sim_covariance_matrix",
    oracle="""
WITH x AS (
    SELECT vec_id, i,
           CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)
               AS v6
    FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
n AS (SELECT CAST(COUNT(*) AS HUGEINT) AS nv FROM embeddings),
s AS (SELECT i, CAST(SUM(v6) AS HUGEINT) AS sv FROM x GROUP BY 1),
g AS (
    SELECT a.i AS i, b.i AS j, CAST(SUM(a.v6 * b.v6) AS HUGEINT) AS gram
    FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
    GROUP BY 1, 2),
c AS (
    SELECT g.i, g.j, n.nv,
           n.nv * g.gram - sa.sv * sb.sv AS cov_n2
    FROM g JOIN s sa ON sa.i = g.i
           JOIN s sb ON sb.i = g.j
           CROSS JOIN n)
SELECT i, j, CAST(nv AS BIGINT) AS n_vectors,
       CAST(CASE WHEN cov_n2 >= 0 THEN cov_n2 // (nv * nv)
                 ELSE -((-cov_n2) // (nv * nv)) END AS BIGINT)
           AS cov_micro2
FROM c
""",
)
def sim_covariance_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle covariance matrix of the embedding corpus, exact
    to the declared unit: n²·Cov(i,j) = n·Σxᵢxⱼ − ΣxᵢΣxⱼ is an EXACT
    integer (micro²-scaled; DECIMAL(38,0)/HUGEINT — n·gram reaches
    ~2.5e19 at sf0.1), reported as cov_micro2 = that DIV n²
    (sign-factored, truncation identical on both engines). The
    mean-centered companion of ``sim_gram_matrix``: the Gram matrix
    feeds MIPS/whitening, the covariance feeds PCA-on-centered-data and
    covariance-drift monitors — and the n²-scaling identity is what
    makes EXACT distributed centering possible (centering first would
    need float means; scaling by n first keeps everything integer).

    Scale shape (r12 opt): the Gram product pass runs through
    ``operators/gram.py::gram_cells`` — per-task NumPy int64 matmul
    partials, exact Python-int accumulation, one final hash aggregate
    (identical integers to the previous posexplode + self-equi-join
    form; guide §4.2) — plus a broadcast join against the d-row
    dimension sums, which stay the declarative posexplode aggregate.
    Corpus touched twice (sums + products); both passes
    partial-aggregate cleanly across 1000 executors. Measured
    interleaved A/B at sf0.1: 2.11 → 0.74 s."""
    from featurestore_for_joycastle_java_spark.operators.gram import (
        gram_cells,
    )

    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("i"),
        F.floor(F.col("val").cast("double") * F.lit(1000000.0))
        .cast("bigint")
        .alias("v6"),
    )
    n = e.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("nv"))
    s = x.groupBy("i").agg(F.sum("v6").cast("decimal(38,0)").alias("sv"))
    g = (
        gram_cells(e, upper_only=True)
        .groupBy("i", "j")
        .agg(F.sum("g").alias("gram"))
    )
    sa = s.select(F.col("i").alias("__ia"), F.col("sv").alias("__sa"))
    sb = s.select(F.col("i").alias("__ib"), F.col("sv").alias("__sb"))
    c = (
        g.join(F.broadcast(sa), F.col("i") == F.col("__ia"))
        .join(F.broadcast(sb), F.col("j") == F.col("__ib"))
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            "nv",
            (
                F.col("nv") * F.col("gram") - F.col("__sa") * F.col("__sb")
            )
            .cast("decimal(38,0)")
            .alias("cov_n2"),
        )
    )
    return c.select(
        "i",
        "j",
        F.col("nv").cast("bigint").alias("n_vectors"),
        F.expr(
            "CAST(CASE WHEN cov_n2 >= 0 THEN cov_n2 DIV (nv * nv)"
            " ELSE -((-cov_n2) DIV (nv * nv)) END AS BIGINT)"
        ).alias("cov_micro2"),
    )


@query(
    "sim_triplet_margin_accuracy",
    oracle="""
WITH x AS (
    SELECT vec_id, label, i,
           CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 10000.0) AS BIGINT)
               AS v4
    FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS u(i)),
nrm AS (SELECT vec_id, CAST(SUM(v4 * v4) AS HUGEINT) AS n2
        FROM x GROUP BY 1),
nl AS (SELECT CAST(COUNT(DISTINCT label) AS BIGINT) AS n_labels
       FROM embeddings),
pos AS (
    SELECT vec_id AS a_id, label,
           LEAD(vec_id) OVER (PARTITION BY label ORDER BY vec_id) AS p_id
    FROM embeddings),
neg AS (
    SELECT p.a_id, p.label, p.p_id,
           (SELECT MIN(e2.vec_id) FROM embeddings e2, nl
            WHERE e2.label = (p.label + 1) % nl.n_labels
              AND e2.vec_id > p.a_id) AS n_id
    FROM pos p WHERE p.p_id IS NOT NULL),
t AS (SELECT a_id, label, p_id, n_id FROM neg WHERE n_id IS NOT NULL),
dap AS (
    SELECT t.a_id, CAST(SUM(xa.v4 * xp.v4) AS HUGEINT) AS dot_ap
    FROM t JOIN x xa ON xa.vec_id = t.a_id
           JOIN x xp ON xp.vec_id = t.p_id AND xp.i = xa.i
    GROUP BY 1),
dan AS (
    SELECT t.a_id, CAST(SUM(xa.v4 * xn.v4) AS HUGEINT) AS dot_an
    FROM t JOIN x xa ON xa.vec_id = t.a_id
           JOIN x xn ON xn.vec_id = t.n_id AND xn.i = xa.i
    GROUP BY 1),
j AS (
    SELECT t.label, dap.dot_ap, dan.dot_an, np.n2 AS np2, nn.n2 AS nn2
    FROM t JOIN dap ON dap.a_id = t.a_id
           JOIN dan ON dan.a_id = t.a_id
           JOIN nrm np ON np.vec_id = t.p_id
           JOIN nrm nn ON nn.vec_id = t.n_id),
v AS (
    SELECT label,
           CASE WHEN dot_ap >= 0 AND dot_an < 0 THEN 1
                WHEN dot_ap < 0 AND dot_an >= 0 THEN 0
                WHEN dot_ap >= 0 AND dot_an >= 0 THEN
                     CASE WHEN dot_ap * dot_ap * nn2
                               > dot_an * dot_an * np2
                          THEN 1 ELSE 0 END
                ELSE CASE WHEN dot_ap * dot_ap * nn2
                               < dot_an * dot_an * np2
                          THEN 1 ELSE 0 END
           END AS ok
    FROM j)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_triplets,
       CAST(SUM(ok) AS BIGINT) AS n_correct,
       CAST((SUM(ok) * 1000000) // COUNT(*) AS BIGINT) AS accuracy_ppm
FROM v GROUP BY 1
""",
)
def sim_triplet_margin_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Triplet accuracy of the embedding space (Schroff et al. 2015,
    FaceNet's offline-eval form): for each anchor, pos = the next
    same-label vector by id, neg = the next vector of the successor
    label — deterministic triplets, no RNG — and the share where
    cos(anchor, pos) > cos(anchor, neg). The comparison is EXACT with
    zero floats: the anchor norm cancels, and the remaining inequality
    dot_ap/√|p| > dot_an/√|n| is sign-cased and cross-multiplied into
    an exact integer comparison dot²·norm² — components are
    floored to 1e4 units so the worst-case dot²·norm² ≈ 2.6e29 stays
    inside DECIMAL(38,0)/HUGEINT for ANY input (1e6 units would
    overflow at |v| = 1), so no sqrt, no tolerance, no engine
    disagreement is even possible. Encoder QA in one query: labels
    whose accuracy_ppm sits near 500000 are not clustered.

    Plan shape: pos pairing is one per-label LEAD window; neg pairing
    is a forward as-of on vec_id into the successor label (oracle: a
    correlated MIN — same semantics); the two dot products are
    dimension-equi-joins producing 64 rows per triplet (linear), with
    norms from one precomputed d-collapse. Everything partial-
    aggregates; triplet count = corpus count minus label boundaries."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "vec_id", F.posexplode("embedding").alias("pos", "val")
    ).select(
        "vec_id",
        (F.col("pos") + 1).alias("i"),
        F.floor(F.col("val").cast("double") * F.lit(10000.0))
        .cast("bigint")
        .alias("v4"),
    )
    x = x.localCheckpoint(eager=True)
    nrm = x.groupBy("vec_id").agg(
        F.sum(F.col("v4") * F.col("v4")).cast("decimal(38,0)").alias("n2")
    )
    nl = e.agg(F.countDistinct("label").alias("n_labels"))
    w_lbl = Window.partitionBy("label").orderBy("vec_id")
    pos = e.select(
        F.col("vec_id").alias("a_id"),
        "label",
        F.lead("vec_id").over(w_lbl).alias("p_id"),
    ).filter(F.col("p_id").isNotNull())
    # forward as-of into the successor label: for each anchor, the
    # smallest vec_id > a_id among label (l+1) % n_labels — the
    # union+window as-of idiom (operators/asof.py), inlined because the
    # "time" axis here is the id
    cand = e.crossJoin(F.broadcast(nl)).select(
        F.col("vec_id").alias("n_id"),
        ((F.col("label") + F.col("n_labels") - 1) % F.col("n_labels")).alias(
            "__from_lbl"
        ),
    )
    probes = pos.select(
        F.col("a_id"), F.col("label").alias("__from_lbl"), F.col("p_id")
    )
    merged = probes.select(
        "__from_lbl",
        F.col("a_id").alias("__t"),
        F.col("a_id"),
        "p_id",
        F.lit(None).cast("long").alias("n_id"),
    ).unionByName(
        cand.select(
            "__from_lbl",
            F.col("n_id").alias("__t"),
            F.lit(None).cast("long").alias("a_id"),
            F.lit(None).cast("long").alias("p_id"),
            "n_id",
        )
    )
    w_asof = (
        Window.partitionBy("__from_lbl")
        .orderBy(F.col("__t").desc(), F.col("n_id").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    t = (
        merged.withColumn("__next", F.min("n_id").over(w_asof))
        .filter(F.col("a_id").isNotNull() & F.col("__next").isNotNull())
        .select("a_id", F.col("__from_lbl").alias("label"), "p_id",
                F.col("__next").alias("n_id"))
    )
    t = t.localCheckpoint(eager=True)
    xa = x.select(F.col("vec_id").alias("__aid"), "i", F.col("v4").alias("va"))
    xp = x.select(F.col("vec_id").alias("__pid"),
                  F.col("i").alias("__ip"), F.col("v4").alias("vp"))
    xn = x.select(F.col("vec_id").alias("__nid"),
                  F.col("i").alias("__in"), F.col("v4").alias("vn"))
    dap = (
        t.join(xa, t.a_id == xa.__aid)
        .join(xp, (t.p_id == xp.__pid) & (F.col("i") == F.col("__ip")))
        .groupBy("a_id")
        .agg(F.sum(F.col("va") * F.col("vp")).cast("decimal(38,0)").alias("dot_ap"))
    )
    dan = (
        t.join(xa, t.a_id == xa.__aid)
        .join(xn, (t.n_id == xn.__nid) & (F.col("i") == F.col("__in")))
        .groupBy(F.col("a_id").alias("__a2"))
        .agg(F.sum(F.col("va") * F.col("vn")).cast("decimal(38,0)").alias("dot_an"))
    )
    np2 = nrm.select(F.col("vec_id").alias("__np_id"), F.col("n2").alias("np2"))
    nn2 = nrm.select(F.col("vec_id").alias("__nn_id"), F.col("n2").alias("nn2"))
    j = (
        t.join(dap, "a_id")
        .join(dan, t.a_id == F.col("__a2"))
        .join(np2, t.p_id == F.col("__np_id"))
        .join(nn2, t.n_id == F.col("__nn_id"))
    )
    v = j.select(
        "label",
        F.expr(
            "CASE WHEN dot_ap >= 0 AND dot_an < 0 THEN 1"
            " WHEN dot_ap < 0 AND dot_an >= 0 THEN 0"
            " WHEN dot_ap >= 0 AND dot_an >= 0 THEN"
            "   CASE WHEN dot_ap * dot_ap * nn2 > dot_an * dot_an * np2"
            "        THEN 1 ELSE 0 END"
            " ELSE CASE WHEN dot_ap * dot_ap * nn2 < dot_an * dot_an * np2"
            "      THEN 1 ELSE 0 END END"
        ).alias("ok"),
    )
    return v.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triplets"),
        F.sum("ok").cast("bigint").alias("n_correct"),
        F.expr("CAST((SUM(ok) * 1000000) DIV COUNT(*) AS BIGINT)").alias(
            "accuracy_ppm"
        ),
    )
