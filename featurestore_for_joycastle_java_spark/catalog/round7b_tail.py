"""Round-7b tail: the six registrations that close the round7b batch —
``text_zipf_fit`` plus the five bench-skipped measurement harnesses.

Split out of ``catalog/round7b.py`` (registration order unchanged —
this module imports immediately after it) so the r10 rotation is a pure
``_CATALOG_MODULES`` reorder: these six queries head the r10 driver
window, while round7b's 50 r9-window queries stay below it. See the
rotation plan in ``registry.py`` and ``tests/test_survey_registry.py::
test_r10_window_arithmetic_holds``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.session import thread_target
from featurestore_for_joycastle_java_spark.sources import load_table



@query(
    "text_zipf_fit",
    oracle="""
WITH t AS (
    SELECT unnest(list_filter(string_split(lower(text), ' '),
                              x -> x <> '')) AS tok
    FROM documents),
c AS (SELECT tok, COUNT(*) AS f FROM t GROUP BY 1),
r AS (
    SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS rnk
    FROM c
    ORDER BY f DESC, tok
    LIMIT 100),
x AS (
    SELECT LN(CAST(rnk AS DOUBLE)) AS lx, LN(CAST(f AS DOUBLE)) AS ly
    FROM r),
s AS (
    SELECT COUNT(*) AS n, SUM(lx) AS sx, SUM(ly) AS sy,
           SUM(lx * lx) AS sxx, SUM(lx * ly) AS sxy
    FROM x)
SELECT CAST(n AS BIGINT) AS n_ranks,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
           AS zipf_slope,
       ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
           AS intercept
FROM s
""",
)
def text_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: least-squares slope of ln(frequency) vs ln(rank)
    over the top-100 tokens — natural language sits near slope -1;
    strong departures mark templated/boilerplate or synthetic text, the
    corpus-level smell test next to the per-doc quality scores
    (`text_lm_quality`, `text_repetition`). Closed-form OLS over 100
    points; rank ties break on the token string in both engines.

    Scale shape: one combine-friendly token count, a top-100
    TakeOrderedAndProject, and a 100-row scalar regression — the fit
    frame is constant-size at any corpus scale."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), " "), lambda x: x != ""
            )
        ).alias("tok")
    )
    c = t.groupBy("tok").agg(F.count(F.lit(1)).alias("f"))
    r = (
        c.orderBy(F.col("f").desc(), "tok")
        .limit(100)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.col("f").desc(), "tok")
            ),
        )
    )
    x = r.select(
        F.log(F.col("rnk").cast("double")).alias("lx"),
        F.log(F.col("f").cast("double")).alias("ly"),
    )
    s = x.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").alias("n_ranks"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "intercept"
        ),
    )


# ===== bench-skipped measurement harnesses =====
# Registered LAST within the module (the round7-style rotation move,
# VERDICT r7 ask): the r9 driver window takes round7b's first 50
# registrations, and these five bench=False harnesses yield their
# slots to production queries; they land driver rows in r10.


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


# ------------------------------------------------- sharded export

#: sf_dir -> export scratch dir (one write per process, atexit-cleaned —
#: the same persist-once pattern as round7's signature scratches).
_EXPORT_SCRATCH: dict[str, str] = {}


@query(
    "train_export_shards",
    # The manifest the engine reads back FROM THE FILES must equal the
    # manifest the oracle derives declaratively from the base table —
    # the export round-trip (shard routing, line rendering, no loss, no
    # duplication) is the thing under test. Lines are TSV (doc_id \t
    # text): deterministic to render in both engines, unlike JSON
    # escaping.
    oracle="""
WITH l AS (
    SELECT doc_id % 8 AS shard_id,
           doc_id || chr(9) || text AS line
    FROM documents)
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       COUNT(*) AS n_docs,
       CAST(SUM(CAST('0x' || substr(md5(line), 1, 10) AS BIGINT))
            % 1099511627776 AS BIGINT) AS checksum
FROM l GROUP BY 1
""",
    bench=False,  # eager file write at construction (once per process)
)
def train_export_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded training-corpus export with a verified manifest: docs
    route to 8 shards (doc_id mod — content-addressed routing keeps
    re-exports stable), each shard lands as TSV text files via a
    partitioned write, and the returned manifest (per shard: doc count
    + order-independent 40-bit checksum) is computed by READING THE
    FILES BACK — so the oracle comparison proves the whole export
    round-trip: routing, rendering, no loss, no duplication. This is
    the handoff artifact a training job validates before consuming a
    corpus drop (cf. `train_dataset_card` for the human-facing half).

    Scale shape: one partitioned text write (shard = directory,
    append-free overwrite), one read-back with partition discovery, one
    combine-friendly manifest agg using the `diag_table_checksum`
    summation. Eager at construction (once per process, atexit-cleaned
    scratch), listed in the plan-lint eager set."""
    import atexit
    import os
    import shutil
    import tempfile

    docs = load_table(spark, sf_dir, "documents")
    out = _EXPORT_SCRATCH.get(sf_dir)
    if out is None:
        root = tempfile.mkdtemp(prefix="fs_export_")
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        out = os.path.join(root, "shards")
        (
            docs.select(
                (F.col("doc_id") % 8).alias("shard_id"),
                F.concat_ws(
                    "\t", F.col("doc_id").cast("string"), F.col("text")
                ).alias("value"),
            )
            .repartition("shard_id")
            .write.mode("overwrite")
            .partitionBy("shard_id")
            .text(out)
        )
        _EXPORT_SCRATCH[sf_dir] = out
    lines = spark.read.text(out)  # partition col shard_id discovered
    fp = F.conv(
        F.substring(F.md5(F.col("value")), 1, 10), 16, 10
    ).cast("decimal(38,0)")
    return lines.groupBy(F.col("shard_id").cast("long").alias("shard_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(fp) % F.lit(1099511627776).cast("decimal(38,0)"))
        .cast("long")
        .alias("checksum"),
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
        ivf_topk,
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

    # r13 (guide §2.4 / the cosine_pairs precedent): norms are bound ONCE
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
    w_n = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("b_id")
    )
    top5 = p.withColumn("rn", F.row_number().over(w_n)).filter(
        F.col("rn") <= 5
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


