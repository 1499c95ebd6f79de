"""Round-10c additions: seven queries completing families round 10/10b
opened — inference machinery for ranking metrics (DeLong's AUC standard
error), the log-loss companion to the Brier decomposition, the exact
covariance matrix beside the Gram matrix, a Markov-chain stationarity
kernel beside the other integer power iterations, RAKE keyword scoring
beside TextRank, Wilson score intervals for rates, and the
Wald-Wolfowitz runs test completing the reference-free drift battery.
(Neighborhood Jaccard was considered and dropped: the registered
``graph_link_common_neighbors`` already emits ``jaccard_ppm``.)

Same house rules as ``round10b`` (see its module docstring for the
division-semantics note): exact integer/micro arithmetic wherever the
statistic allows; where a transcendental is intrinsic (ln, sqrt) it is
applied to EXACT integer inputs per bounded cell and micro-rounded
immediately — never accumulated in floats across rows (the
``eval_feature_auc`` / ``agg_ordered_listagg`` discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from featurestore_for_joycastle_java_spark.operators.iterate import fixpoint
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import load_table

#: RAKE stopword list — deliberately the same closed-class probe as
#: round10's Gopher rules so the two text gates share one vocabulary
#: contract (inlined in the oracle SQL, so it must stay in sync).
_RAKE_STOPS = ["the", "a", "and", "of", "to", "in", "is", "for", "on", "with"]


@query(
    "eval_auc_delong_se",
    oracle="""
WITH e AS (
    SELECT value AS v,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
    FROM events),
g AS (
    SELECT v, CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(COUNT(*) - SUM(y) AS BIGINT) AS n_neg
    FROM e GROUP BY 1),
c AS (
    SELECT v, n_pos, n_neg,
           COALESCE(SUM(n_neg) OVER (
               ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS cumneg,
           COALESCE(SUM(n_pos) OVER (
               ORDER BY v DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS cumpos_above
    FROM g),
p AS (
    SELECT 2 * cumneg + n_neg AS vv, 2 * cumpos_above + n_pos AS ww,
           n_pos, n_neg
    FROM c),
s AS (
    SELECT CAST(SUM(n_pos) AS HUGEINT) AS n1,
           CAST(SUM(n_neg) AS HUGEINT) AS n0,
           CAST(SUM(n_pos * vv) AS HUGEINT) AS s10,
           CAST(SUM(CAST(n_pos AS HUGEINT) * vv * vv) AS HUGEINT) AS ss10,
           CAST(SUM(n_neg * ww) AS HUGEINT) AS s01,
           CAST(SUM(CAST(n_neg AS HUGEINT) * ww * ww) AS HUGEINT) AS ss01
    FROM p),
d AS (
    SELECT n1, n0, s10,
           n1 * ss10 - s10 * s10 AS ssq10,
           n0 * ss01 - s01 * s01 AS ssq01
    FROM s)
SELECT CAST(n1 AS BIGINT) AS n_pos, CAST(n0 AS BIGINT) AS n_neg,
       CAST((s10 * 1000000) // (n1 * 2 * n0) AS BIGINT) AS auc_micro,
       CAST(FLOOR(1000000.0 * SQRT(
            CAST(ssq10 AS DOUBLE)
              / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)
                 * CAST(n1 - 1 AS DOUBLE)
                 * 4.0 * CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE))
            + CAST(ssq01 AS DOUBLE)
              / (CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)
                 * CAST(n0 - 1 AS DOUBLE)
                 * 4.0 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE))))
            AS BIGINT) AS se_micro
FROM d
""",
)
def eval_auc_delong_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DeLong's standard error for the ROC-AUC (DeLong, DeLong &
    Clarke-Pearson 1988, Biometrics 44) of `value` predicting the
    purchase label — the inference layer the registered
    ``eval_feature_auc`` point estimate lacks: without an SE, comparing
    two features' AUCs is numerology. The per-observation placement
    values are kept EXACT: every positive at score v has placement
    (2·neg_below + neg_at)/(2·n_neg), so the ×(2n0) integer V = 2·cumneg
    + n_neg is shared by all positives at v — first and second moments
    of the placements are exact integer sums over the DISTINCT-SCORE
    frame (ss·n − s² as DECIMAL(38,0)/HUGEINT; products reach ~1e19 at
    sf0.1), and only the final variance assembly touches doubles: exact
    integers cast to IEEE doubles, one SQRT, micro-floored — fully
    deterministic across engines.

    Scale shape: identical to ``eval_feature_auc`` — one map-side
    combined groupBy collapses the fact table to distinct scores, two
    cumulative windows over that bounded frame (one ascending for
    positives' neg-below, one descending for negatives' pos-above), one
    final aggregate. No per-row ranks, no pair joins."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    g = ev.groupBy("v").agg(
        F.sum("y").cast("bigint").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).cast("bigint").alias("n_neg"),
    )
    w_up = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    w_dn = Window.orderBy(F.col("v").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    c = g.select(
        "n_pos",
        "n_neg",
        (
            2 * F.coalesce(F.sum("n_neg").over(w_up), F.lit(0))
            + F.col("n_neg")
        ).alias("vv"),
        (
            2 * F.coalesce(F.sum("n_pos").over(w_dn), F.lit(0))
            + F.col("n_pos")
        ).alias("ww"),
    )
    s = c.agg(
        F.sum("n_pos").cast("decimal(38,0)").alias("n1"),
        F.sum("n_neg").cast("decimal(38,0)").alias("n0"),
        F.sum(F.col("n_pos") * F.col("vv"))
        .cast("decimal(38,0)")
        .alias("s10"),
        F.sum(
            (F.col("n_pos") * F.col("vv") * F.col("vv")).cast(
                "decimal(38,0)"
            )
        ).alias("ss10"),
        F.sum(F.col("n_neg") * F.col("ww"))
        .cast("decimal(38,0)")
        .alias("s01"),
        F.sum(
            (F.col("n_neg") * F.col("ww") * F.col("ww")).cast(
                "decimal(38,0)"
            )
        ).alias("ss01"),
    )
    d = s.select(
        "n1",
        "n0",
        "s10",
        (F.col("n1") * F.col("ss10") - F.col("s10") * F.col("s10"))
        .cast("decimal(38,0)")
        .alias("ssq10"),
        (F.col("n0") * F.col("ss01") - F.col("s01") * F.col("s01"))
        .cast("decimal(38,0)")
        .alias("ssq01"),
    )
    return d.select(
        F.col("n1").cast("bigint").alias("n_pos"),
        F.col("n0").cast("bigint").alias("n_neg"),
        F.expr("CAST((s10 * 1000000) DIV (n1 * 2 * n0) AS BIGINT)").alias(
            "auc_micro"
        ),
        F.expr(
            "CAST(FLOOR(1000000.0 * SQRT("
            " CAST(ssq10 AS DOUBLE)"
            "   / (CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE)"
            "      * CAST(n1 - 1 AS DOUBLE)"
            "      * 4.0 * CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE))"
            " + CAST(ssq01 AS DOUBLE)"
            "   / (CAST(n0 AS DOUBLE) * CAST(n0 AS DOUBLE)"
            "      * CAST(n0 - 1 AS DOUBLE)"
            "      * 4.0 * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE))))"
            " AS BIGINT)"
        ).alias("se_micro"),
    )


@query(
    "eval_log_loss",
    oracle="""
WITH e AS (
    SELECT CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v6,
           CASE WHEN event_type = 'purchase' THEN CAST(1 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS y
    FROM events),
m AS (SELECT MAX(v6) AS max6 FROM e),
s AS (SELECT LEAST(999999, GREATEST(1, (v6 * 1000000) // m.max6))
           AS p_ppm, y
      FROM e, m),
cell AS (
    SELECT p_ppm, y, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM s GROUP BY 1, 2),
t AS (
    SELECT cnt,
           CAST(ROUND(-1000000.0 * (
               CAST(y AS DOUBLE) * LN(CAST(p_ppm AS DOUBLE) / 1000000.0)
               + (1.0 - CAST(y AS DOUBLE))
                 * LN(1.0 - CAST(p_ppm AS DOUBLE) / 1000000.0)), 0)
                AS BIGINT) AS term_micro
    FROM cell)
SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows,
       CAST(SUM(cnt * term_micro) AS BIGINT) AS logloss_sum_micro,
       CAST(SUM(cnt * term_micro) // SUM(cnt) AS BIGINT)
           AS logloss_mean_micro
FROM t
""",
)
def eval_log_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log loss (binary cross-entropy) of the max-normalized event
    value as a pseudo-probability of the purchase label — the proper
    scoring rule that punishes confident mistakes unboundedly, beside
    its bounded quadratic sibling ``eval_brier_decomposition`` (same
    score construction: ppm max-normalization, purchase label; scores
    clamped to [1, 999999] ppm — the standard eps-clip).

    Transcendental discipline: ln is intrinsic here, so it is applied
    per DISTINCT (score, label) CELL — exact integer inputs, one LN,
    micro-rounded immediately — and the corpus total is an exact
    integer sum of cell term × count. No float ever accumulates across
    rows, so engine-order differences cannot surface (the residual risk
    is a micro-rounding tie on one cell's 16th significant digit —
    measure-zero, the ``eval_js_divergence`` precedent).

    Plan shape: 1-row broadcast max, one hash aggregate to the bounded
    cell frame, one final aggregate. Two passes over events, zero
    joins beyond the broadcast.

    Overflow envelope (r11 audit, the ``eval_kendall_tau`` discipline):
    the largest intermediate is Σ(cnt·term_micro) ≤ n·|ln ε|·10⁶ ≈
    n·1.4×10⁷, so int64 holds to n ≈ 6×10¹¹ rows — beyond any single
    evaluation slice; escalate the product sum to decimal(38,0)/HUGEINT
    if ever scoring a full multi-trillion-row corpus in one pass."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.floor(F.col("value") * 1000000.0).cast("bigint").alias("v6"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("bigint")
        .alias("y"),
    )
    m = e.agg(F.max("v6").alias("max6"))
    s = e.crossJoin(F.broadcast(m)).select(
        F.expr(
            "LEAST(999999L, GREATEST(1L, (v6 * 1000000) DIV max6))"
        ).alias("p_ppm"),
        "y",
    )
    cell = s.groupBy("p_ppm", "y").agg(F.count(F.lit(1)).alias("cnt"))
    t = cell.select(
        "cnt",
        F.expr(
            "CAST(ROUND(-1000000.0 * ("
            " CAST(y AS DOUBLE) * LN(CAST(p_ppm AS DOUBLE) / 1000000.0)"
            " + (1.0 - CAST(y AS DOUBLE))"
            "   * LN(1.0 - CAST(p_ppm AS DOUBLE) / 1000000.0)), 0)"
            " AS BIGINT)"
        ).alias("term_micro"),
    )
    return t.agg(
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.sum(F.col("cnt") * F.col("term_micro"))
        .cast("bigint")
        .alias("logloss_sum_micro"),
        F.expr(
            "CAST(SUM(cnt * term_micro) DIV SUM(cnt) AS BIGINT)"
        ).alias("logloss_mean_micro"),
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


def _markov_oracle(iterations: int) -> str:
    """Declarative replay of the integer Markov power step — per-edge
    floored contribution (pi_a * c_ab) // r_a, exact sums, MAX
    renormalization — identical arithmetic to
    ``feature_markov_stationary``."""
    cte = [
        """
WITH o AS (
    SELECT user_id, event_type, ts, event_id,
           LEAD(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS nxt
    FROM events),
c AS (
    SELECT event_type AS a, nxt AS b, CAST(COUNT(*) AS BIGINT) AS c
    FROM o WHERE nxt IS NOT NULL GROUP BY 1, 2),
r AS (SELECT a, CAST(SUM(c) AS BIGINT) AS ra FROM c GROUP BY 1),
st AS (SELECT DISTINCT event_type AS state FROM events),
p0 AS (SELECT state, CAST(1000000 AS BIGINT) AS p FROM st)"""
    ]
    for k in range(1, iterations + 1):
        prev = f"p{k - 1}"
        cte.append(
            f"""
w{k} AS (SELECT c.b AS state,
                CAST(SUM((p.p * c.c) // r.ra) AS BIGINT) AS raw
         FROM c JOIN {prev} p ON p.state = c.a
                JOIN r ON r.a = c.a
         GROUP BY 1),
m{k} AS (SELECT MAX(raw) AS mx FROM w{k}),
p{k} AS (SELECT st.state,
                COALESCE((w.raw * 1000000) // m.mx, 0) AS p
         FROM st LEFT JOIN w{k} w ON w.state = st.state
         CROSS JOIN m{k} m)"""
        )
    return (
        ",".join(cte)
        + f"""
SELECT state, p AS stationary_micro FROM p{iterations}
"""
    )


@query("feature_markov_stationary", oracle=_markov_oracle(3))
def feature_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The k = 3 power-iteration iterate toward the stationary
    distribution of the per-user event-type Markov chain — 'where does
    a user's behavior settle': transition counts come from consecutive
    event pairs per user (the ``feature_event_transitions`` pairing),
    and pi' (b) = Σ_a pi(a)·P(a,b) runs in the same integer discipline
    as the engine's other power iterations (per-edge floored
    contribution (pi·c) DIV rowsum — exact BIGINTs — then MAX
    renormalization; like ``sim_power_iteration_pc1``, the CONTRACT is
    the exact iterate, with convergence governed by the chain's
    spectral gap). States = event types, so the iteration frame is
    tiny; determinism is what the integer arithmetic buys.

    Plan shape: one per-user LEAD window (partition-parallel across
    users) collapses events to the |states|² transition-count frame;
    the loop then costs nothing at any corpus size. The window shuffle
    on user_id is the only corpus-sized exchange."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    o = ev.select(
        "event_type", F.lead("event_type").over(w).alias("nxt")
    ).filter(F.col("nxt").isNotNull())
    c = o.groupBy(
        F.col("event_type").alias("a"), F.col("nxt").alias("b")
    ).agg(F.count(F.lit(1)).alias("c"))
    r = c.groupBy("a").agg(F.sum("c").alias("ra"))
    cr = c.join(F.broadcast(r), "a").localCheckpoint(eager=True)
    st = ev.select(F.col("event_type").alias("state")).distinct()
    st = st.localCheckpoint(eager=True)
    p = st.select("state", F.lit(1000000).cast("bigint").alias("p"))

    def step(p: DataFrame) -> DataFrame:
        wsum = (
            cr.join(p, cr.a == p.state)
            .select(
                F.col("b").alias("state2"),
                F.expr("(p * c) DIV ra").alias("t"),
            )
            .groupBy("state2")
            .agg(F.sum("t").cast("bigint").alias("raw"))
        )
        mx = wsum.agg(F.max("raw").alias("mx"))
        return (
            st.join(wsum, st.state == wsum.state2, "left")
            .crossJoin(F.broadcast(mx))
            .select(
                "state",
                F.coalesce(F.expr("(raw * 1000000) DIV mx"), F.lit(0))
                .cast("bigint")
                .alias("p"),
            )
        )

    p, _ = fixpoint("feature_markov_stationary", p, step, max_rounds=3)
    return p.select("state", F.col("p").alias("stationary_micro"))


@query(
    "text_keyword_rake",
    oracle="""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
    FROM documents),
pos AS (
    SELECT doc_id, i, toks[i] AS w,
           toks[i] IN ('the','a','and','of','to','in','is','for','on','with')
               AS is_stop
    FROM t, UNNEST(generate_series(1, CAST(len(toks) AS BIGINT))) AS u(i)),
ph AS (
    SELECT doc_id, i, w, is_stop,
           SUM(CASE WHEN is_stop THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS phrase_id
    FROM pos),
ns AS (SELECT doc_id, phrase_id, w FROM ph WHERE NOT is_stop),
plen AS (
    SELECT doc_id, phrase_id, CAST(COUNT(*) AS BIGINT) AS plen
    FROM ns GROUP BY 1, 2)
SELECT ns.w AS word,
       CAST(COUNT(*) AS BIGINT) AS freq,
       CAST(SUM(plen) AS BIGINT) AS degree,
       CAST((SUM(plen) * 1000000) // COUNT(*) AS BIGINT) AS rake_micro
FROM ns JOIN plen USING (doc_id, phrase_id)
GROUP BY 1
""",
)
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword scoring (Rose et al. 2010, "Automatic Keyword
    Extraction from Individual Documents"): split each document into
    candidate phrases at stopwords, then score every content word by
    degree/frequency — degree = total length of the phrases it appears
    in (favoring words that live in long multi-word phrases), frequency
    = raw occurrences. The frequency-based counterpart of the
    graph-based ``text_textrank_keywords``; the two disagree exactly
    where RAKE's phrase-cohesion assumption and TextRank's centrality
    assumption diverge, which is why pipelines run both. Integer ppm
    ratio, same 10-word closed-class stoplist as round10's Gopher rules
    (one vocabulary contract across the text gates).

    Plan shape: one posexplode, one per-document cumulative window
    (partition-parallel) assigns phrase ids, one (doc, phrase) count,
    one equi-join back, one word aggregate — all hash operations on
    corpus-bounded frames; no pair or phrase materialization beyond the
    counts."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "filter(split(lower(text), ' '), x -> x <> '')"
        ).alias("toks"),
    )
    t = d.select("doc_id", F.posexplode("toks").alias("pos", "w"))
    t = t.withColumn("is_stop", F.col("w").isin(_RAKE_STOPS))
    w_doc = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    t = t.withColumn(
        "phrase_id", F.sum(F.col("is_stop").cast("int")).over(w_doc)
    )
    ns = t.filter(~F.col("is_stop")).select("doc_id", "phrase_id", "w")
    plen = ns.groupBy("doc_id", "phrase_id").agg(
        F.count(F.lit(1)).alias("plen")
    )
    return (
        ns.join(plen, ["doc_id", "phrase_id"])
        .groupBy(F.col("w").alias("word"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("degree"),
            F.expr(
                "CAST((SUM(plen) * 1000000) DIV COUNT(*) AS BIGINT)"
            ).alias("rake_micro"),
        )
    )


@query(
    "eval_wilson_interval",
    oracle="""
WITH e AS (
    SELECT event_type,
           CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v6
    FROM events),
g AS (SELECT CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(v6) AS BIGINT) AS sum6 FROM e),
t AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(*) FILTER (WHERE v6 * g.ng > g.sum6) AS BIGINT) AS k
    FROM e, g GROUP BY 1, g.ng, g.sum6)
SELECT event_type, n, k,
       CAST((k * 1000000) // n AS BIGINT) AS phat_ppm,
       CAST(FLOOR(1000000.0 * GREATEST(0.0,
            ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
              + 3.8416 / (2.0 * CAST(n AS DOUBLE)))
             - 1.96 * SQRT((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                           * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                           / CAST(n AS DOUBLE)
                           + 3.8416 / (4.0 * CAST(n AS DOUBLE)
                                       * CAST(n AS DOUBLE))))
            / (1.0 + 3.8416 / CAST(n AS DOUBLE)))) AS BIGINT)
           AS wilson_lo_micro,
       CAST(FLOOR(1000000.0 * LEAST(1.0,
            ((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)
              + 3.8416 / (2.0 * CAST(n AS DOUBLE)))
             + 1.96 * SQRT((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                           * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))
                           / CAST(n AS DOUBLE)
                           + 3.8416 / (4.0 * CAST(n AS DOUBLE)
                                       * CAST(n AS DOUBLE))))
            / (1.0 + 3.8416 / CAST(n AS DOUBLE)))) AS BIGINT)
           AS wilson_hi_micro
FROM t
""",
)
def eval_wilson_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score interval (Wilson 1927, JASA 22; z = 1.96) for each
    event type's 'above-global-mean value' rate — the
    boundary-respecting binomial CI that the naive Wald interval gets
    wrong near 0/1 and at small n (Brown, Cai & DasGupta 2001). The
    threshold test is EXACT integer arithmetic with no division
    (v6·n_global > sum6 ⟺ v6 > mean), so k and n are exact; the
    interval assembly is pure IEEE double arithmetic on those two
    integers with literal constants (1.96, z² = 3.8416) written
    identically in both engines, micro-floored. The per-rate inference
    companion of ``eval_auc_delong_se``'s per-ranking inference.

    Plan shape: one 1-row broadcast global aggregate, one per-type
    conditional aggregate. Zero joins beyond the broadcast, one pass
    over events per aggregate."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        F.floor(F.col("value") * 1000000.0).cast("bigint").alias("v6"),
    )
    g = e.agg(
        F.count(F.lit(1)).alias("ng"), F.sum("v6").alias("sum6")
    )
    t = (
        e.crossJoin(F.broadcast(g))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.count(
                F.when(F.col("v6") * F.col("ng") > F.col("sum6"), 1)
            )
            .cast("bigint")
            .alias("k"),
        )
    )
    wilson = (
        "((CAST(k AS DOUBLE) / CAST(n AS DOUBLE)"
        "  + 3.8416 / (2.0 * CAST(n AS DOUBLE)))"
        " {sign} 1.96 * SQRT((CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
        "               * (1.0 - CAST(k AS DOUBLE) / CAST(n AS DOUBLE))"
        "               / CAST(n AS DOUBLE)"
        "               + 3.8416 / (4.0 * CAST(n AS DOUBLE)"
        "                           * CAST(n AS DOUBLE))))"
        " / (1.0 + 3.8416 / CAST(n AS DOUBLE))"
    )
    return t.select(
        "event_type",
        "n",
        "k",
        F.expr("CAST((k * 1000000) DIV n AS BIGINT)").alias("phat_ppm"),
        F.expr(
            "CAST(FLOOR(1000000.0 * GREATEST(0.0, "
            + wilson.format(sign="-")
            + ")) AS BIGINT)"
        ).alias("wilson_lo_micro"),
        F.expr(
            "CAST(FLOOR(1000000.0 * LEAST(1.0, "
            + wilson.format(sign="+")
            + ")) AS BIGINT)"
        ).alias("wilson_hi_micro"),
    )


@query(
    "ts_runs_test",
    oracle="""
WITH d AS (
    SELECT event_type, DATE_TRUNC('day', ts) AS day,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2),
tot AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nd,
           CAST(SUM(cnt) AS BIGINT) AS sc
    FROM d GROUP BY 1),
sgn AS (
    SELECT d.event_type, d.day,
           (d.cnt * t.nd > t.sc) AS above
    FROM d JOIN tot t USING (event_type)),
runs AS (
    SELECT event_type, above,
           LAG(above) OVER (PARTITION BY event_type ORDER BY day) AS prev
    FROM sgn),
agg AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(COUNT(*) FILTER (WHERE above) AS BIGINT) AS n_above,
           CAST(COUNT(*) FILTER (WHERE NOT above) AS BIGINT) AS n_below,
           CAST(1 + COUNT(*) FILTER (WHERE prev IS NOT NULL
                                     AND above <> prev) AS BIGINT)
               AS n_runs
    FROM runs GROUP BY 1)
SELECT event_type, n_days, n_above, n_below, n_runs,
       CASE WHEN n_above > 0 AND n_below > 0 AND n_days > 1
            THEN CAST(FLOOR(1000000.0 *
                 (CAST(n_runs AS DOUBLE)
                  - (1.0 + 2.0 * CAST(n_above AS DOUBLE)
                         * CAST(n_below AS DOUBLE)
                         / CAST(n_days AS DOUBLE)))
                 / SQRT(2.0 * CAST(n_above AS DOUBLE)
                        * CAST(n_below AS DOUBLE)
                        * (2.0 * CAST(n_above AS DOUBLE)
                           * CAST(n_below AS DOUBLE)
                           - CAST(n_days AS DOUBLE))
                        / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)
                           * CAST(n_days - 1 AS DOUBLE)))) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS z_micro
FROM agg
""",
)
def ts_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test (Wald & Wolfowitz 1940, Ann. Math.
    Stat. 11) on each event type's daily count sequence, dichotomized
    about the type's own mean with EXACT integer comparison (cnt·n >
    Σcnt — no division): too FEW runs means positively autocorrelated
    drift, too MANY means oscillation. Completes the reference-free
    drift battery — ``ts_mann_kendall`` detects monotone trend,
    ``ts_record_highs`` detects growth, the runs test detects ANY
    departure from exchangeability of the above/below sequence. The z
    assembly is pure IEEE doubles on exact integer inputs (one SQRT),
    micro-floored, degenerate-type guarded to 0.

    Plan shape: collapse-first (the MK discipline) to (type × day),
    one broadcast per-type totals join, one per-type LAG window, one
    final aggregate — everything after the rollup is calendar-bounded
    and partition-parallel across types."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    tot = d.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("nd"), F.sum("cnt").alias("sc")
    )
    sgn = d.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "day",
        (F.col("cnt") * F.col("nd") > F.col("sc")).alias("above"),
    )
    w = Window.partitionBy("event_type").orderBy("day")
    runs = sgn.withColumn("prev", F.lag("above").over(w))
    agg = runs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.count(F.when(F.col("above"), 1)).cast("bigint").alias("n_above"),
        F.count(F.when(~F.col("above"), 1)).cast("bigint").alias("n_below"),
        (
            1
            + F.count(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("above") != F.col("prev")),
                    1,
                )
            )
        )
        .cast("bigint")
        .alias("n_runs"),
    )
    return agg.select(
        "event_type",
        "n_days",
        "n_above",
        "n_below",
        "n_runs",
        F.expr(
            "CASE WHEN n_above > 0 AND n_below > 0 AND n_days > 1"
            " THEN CAST(FLOOR(1000000.0 *"
            " (CAST(n_runs AS DOUBLE)"
            "  - (1.0 + 2.0 * CAST(n_above AS DOUBLE)"
            "         * CAST(n_below AS DOUBLE)"
            "         / CAST(n_days AS DOUBLE)))"
            " / SQRT(2.0 * CAST(n_above AS DOUBLE)"
            "        * CAST(n_below AS DOUBLE)"
            "        * (2.0 * CAST(n_above AS DOUBLE)"
            "           * CAST(n_below AS DOUBLE)"
            "           - CAST(n_days AS DOUBLE))"
            "        / (CAST(n_days AS DOUBLE) * CAST(n_days AS DOUBLE)"
            "           * CAST(n_days - 1 AS DOUBLE)))) AS BIGINT)"
            " ELSE 0L END"
        ).alias("z_micro"),
    )
