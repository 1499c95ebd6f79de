"""Evaluation queries (SURVEY.md §2.3): ranking metrics (AUC with DeLong
SE, NDCG, average precision, lift), calibration (Brier, log loss,
calibration bins), agreement and correlation (kappa, Kendall, Spearman,
mutual information, JS divergence), confusion thresholds, regression
fits, and two-sample / independence tests (Welch, Mann-Whitney,
McNemar, chi², Wilson intervals)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from featurestore_for_joycastle_java_spark.operators.ranks import (
    global_row_number,
    grouped_prefix_sum,
)
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import load_table


@query(
    "eval_feature_auc",
    # Mann-Whitney AUC in EXACT integers: per distinct score v, the
    # positive mass there pairs with negatives strictly below (beats
    # them) and negatives at v (half credit): Σ n_pos(v)·(2·cumneg<(v) +
    # n_neg(v)) = 2·U; AUC = that / (2·P·N) — ONE double division at the
    # end, no float accumulation, no per-row ranks.
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
               AND 1 PRECEDING), 0) AS cumneg
    FROM g)
SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       CAST(SUM(n_neg) AS BIGINT) AS n_neg,
       CAST(SUM(n_pos * (2 * cumneg + n_neg)) AS BIGINT) AS u2,
       CAST(SUM(n_pos * (2 * cumneg + n_neg)) AS DOUBLE)
           / (2.0 * CAST(SUM(n_pos) AS DOUBLE)
                  * CAST(SUM(n_neg) AS DOUBLE)) AS auc
FROM c
""",
)
def eval_feature_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Univariate feature screening: exact ROC-AUC of `value` as a
    predictor of the purchase label (Mann-Whitney U with average-rank
    tie handling) — the metric a feature store uses to rank candidate
    features before training anything. Scale shape: one map-side-
    combined groupBy on the score VALUE collapses the fact table to the
    distinct-score frame; the cumulative window runs over that frame
    (bounded by score cardinality, not rows — same class as the global-
    rank twin; bucket the score first if its cardinality explodes). All
    pair-counting in exact BIGINTs; AUC is one final division."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    g = ev.groupBy("v").agg(
        F.sum("y").alias("n_pos"),
        (F.count(F.lit(1)) - F.sum("y")).alias("n_neg"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "n_pos",
        "n_neg",
        F.coalesce(F.sum("n_neg").over(w), F.lit(0)).alias("cumneg"),
    )
    u2 = F.sum(
        F.col("n_pos") * (F.lit(2) * F.col("cumneg") + F.col("n_neg"))
    )
    return c.agg(
        F.sum("n_pos").alias("n_pos"),
        F.sum("n_neg").alias("n_neg"),
        u2.alias("u2"),
    ).select(
        "n_pos",
        "n_neg",
        "u2",
        (
            F.col("u2").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            )
        ).alias("auc"),
    )


@query(
    "eval_feature_corr",
    # Pearson r from five EXACT wide-integer sums (DECIMAL(38,0) /
    # HUGEINT): n·Σxy−Σx·Σy and the variance terms are exact integers
    # converted to double ONCE, then one identical IEEE expression.
    # Never F.corr/corr(): float running sums are order-dependent.
    oracle="""
WITH e AS (
    SELECT CAST(FLOOR(value * 1000000.0) AS BIGINT) AS x,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS y
    FROM events),
s AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(x) AS HUGEINT) AS sx,
           CAST(SUM(y) AS HUGEINT) AS sy,
           CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
           CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
           CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
    FROM e)
SELECT CAST(n AS BIGINT) AS n,
       CAST(n * sxy - sx * sy AS DOUBLE)
           / (SQRT(CAST(n * sxx - sx * sx AS DOUBLE))
              * SQRT(CAST(n * syy - sy * sy AS DOUBLE))) AS corr_value_hour
FROM s
""",
)
def eval_feature_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Pearson correlation between event value and hour-of-day —
    the pairwise-screening companion to `eval_feature_auc` (is a
    candidate feature redundant with a calendar effect?). The engine's
    `corr()` runs float running sums (order-dependent — unverifiable);
    this computes the five moment sums as exact wide integers in ONE
    map-side-combined pass and spends doubles only on the final closed
    form. Same one-pass shape at any scale."""
    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") * F.lit(1e6)).cast("bigint").alias("x"),
        F.hour("ts").cast("bigint").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec(F.col("x")) * F.col("y")).alias("sxy"),
        F.sum(dec(F.col("x")) * F.col("x")).alias("sxx"),
        F.sum(dec(F.col("y")) * F.col("y")).alias("syy"),
    )
    n, sx, sy = dec(F.col("n")), dec(F.col("sx")), dec(F.col("sy"))
    num = (n * F.col("sxy") - sx * sy).cast("double")
    dx = F.sqrt((n * F.col("sxx") - sx * sx).cast("double"))
    dy = F.sqrt((n * F.col("syy") - sy * sy).cast("double"))
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        (num / (dx * dy)).alias("corr_value_hour"),
    )


@query(
    "eval_calibration_bins",
    # Pure-integer calibration: score_ppm = v6·1e6 DIV max6 (exact),
    # deciles from score_ppm, per-bin rates in ppm floor division — not
    # one float anywhere.
    oracle="""
WITH e AS (
    SELECT CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v6,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
    FROM events),
m AS (SELECT MAX(v6) AS max6 FROM e),
s AS (
    SELECT LEAST(9, (v6 * 1000000 // m.max6) // 100000) AS bin,
           (v6 * 1000000 // m.max6) AS score_ppm, y
    FROM e, m),
g AS (
    SELECT bin,
           COUNT(*) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_ppm,
           CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS avg_score_ppm
    FROM s GROUP BY 1)
SELECT CAST(bin AS BIGINT) AS bin, n, n_pos, pos_rate_ppm, avg_score_ppm
FROM g
""",
)
def eval_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration / reliability bins: scores (value, max-normalized)
    cut into deciles; per bin the observed positive rate vs the mean
    score — the curve that says whether a score can be read as a
    probability (the third leg of the eval family: AUC = ranking,
    correlation = redundancy, calibration = probability quality). Every
    number is exact integer arithmetic (scaled-ppm floor division) —
    one groupBy after a broadcast max, nothing else."""
    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("value") * F.lit(1e6)).cast("bigint").alias("v6"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
    )
    m = ev.agg(F.max("v6").alias("max6"))
    s = ev.crossJoin(F.broadcast(m)).select(
        F.expr("(v6 * 1000000) DIV max6").alias("score_ppm"), "y"
    )
    g = s.select(
        F.least(F.lit(9), F.expr("score_ppm DIV 100000")).alias("bin"),
        "score_ppm",
        "y",
    ).groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("y").alias("n_pos"),
        F.expr("(SUM(y) * 1000000) DIV COUNT(*)").alias("pos_rate_ppm"),
        F.expr("SUM(score_ppm) DIV COUNT(*)").alias("avg_score_ppm"),
    )
    return g.select(
        F.col("bin").cast("bigint").alias("bin"),
        "n",
        "n_pos",
        "pos_rate_ppm",
        "avg_score_ppm",
    )


@query(
    "eval_linreg_fit",
    # Same five exact wide-integer moments as eval_feature_corr; the
    # closed-form slope/intercept spends doubles only on the final
    # identical IEEE expressions, so both engines agree bit-for-bit.
    oracle="""
WITH e AS (
    SELECT CAST(EXTRACT(hour FROM ts) AS BIGINT) AS x,
           CAST(FLOOR(value * 1000000.0) AS BIGINT) AS y
    FROM events),
s AS (
    SELECT CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(x) AS HUGEINT) AS sx,
           CAST(SUM(y) AS HUGEINT) AS sy,
           CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
           CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
    FROM e)
SELECT CAST(n AS BIGINT) AS n,
       CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE) AS slope_micro_per_hour,
       (CAST(sy AS DOUBLE)
        - (CAST(n * sxy - sx * sy AS DOUBLE)
           / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
           / CAST(n AS DOUBLE) AS intercept_micro
FROM s
""",
)
def eval_linreg_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form simple linear regression (value-micro on hour-of-day)
    from exact integer moments — the trend-magnitude companion to
    `eval_feature_corr` (slope answers "how much per hour", corr only
    "which way"). Never an iterative solver and never float running
    sums: one map-side-combined pass accumulates n/Σx/Σy/Σxy/Σx² as
    wide integers; doubles appear only in the final closed form, the
    identical expression on both engines. One-pass at any scale.

    Overflow bound: x ≤ 23 (hour) and |y| ≤ 10⁹ (micro-units of a
    value < 1000), so the widest intermediate n·Σxy − Σx·Σy is
    ≤ 2·n²·23·10⁹ and DECIMAL(38,0) stays exact while
    **n ≤ ~10¹³ rows** — comfortably past 100 TB of events. Overflow
    beyond that is loud (null / ANSI exception), never wrapped."""
    ev = load_table(spark, sf_dir, "events").select(
        F.hour("ts").cast("bigint").alias("x"),
        F.floor(F.col("value") * F.lit(1e6)).cast("bigint").alias("y"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(dec(F.col("x")) * F.col("y")).alias("sxy"),
        F.sum(dec(F.col("x")) * F.col("x")).alias("sxx"),
    )
    n, sx, sy = dec(F.col("n")), dec(F.col("sx")), dec(F.col("sy"))
    slope = (n * F.col("sxy") - sx * sy).cast("double") / (
        n * F.col("sxx") - sx * sx
    ).cast("double")
    intercept = (
        sy.cast("double") - slope * sx.cast("double")
    ) / n.cast("double")
    return s.select(
        F.col("n").cast("bigint").alias("n"),
        slope.alias("slope_micro_per_hour"),
        intercept.alias("intercept_micro"),
    )


# ----------------------------------------------------------------- eval


@query(
    "eval_chi2_independence",
    # Per-cell contribution (n·O − r·c)²/(n·r·c) is computed as an
    # integer ppm floor on wide decimals, then SUMMED AS INTEGERS —
    # never a float sum over cells (order-dependent). The double chi²
    # is derived from the integer ppm once.
    oracle="""
WITH o AS (
    SELECT event_type, EXTRACT(hour FROM ts) AS hour,
           CAST(COUNT(*) AS HUGEINT) AS obs
    FROM events GROUP BY 1, 2),
r AS (SELECT event_type, CAST(SUM(obs) AS HUGEINT) AS rt FROM o GROUP BY 1),
c AS (SELECT hour, CAST(SUM(obs) AS HUGEINT) AS ct FROM o GROUP BY 1),
g AS (SELECT CAST(SUM(obs) AS HUGEINT) AS n,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nr,
             CAST(COUNT(DISTINCT hour) AS BIGINT) AS nc
      FROM o),
cell AS (
    SELECT (g.n * o.obs - r.rt * c.ct) * (g.n * o.obs - r.rt * c.ct)
           * 1000000 // (g.n * r.rt * c.ct) AS ppm
    FROM o JOIN r USING (event_type) JOIN c USING (hour) CROSS JOIN g)
SELECT CAST(g.n AS BIGINT) AS n,
       (g.nr - 1) * (g.nc - 1) AS dof,
       CAST(SUM(cell.ppm) AS BIGINT) AS chi2_ppm,
       CAST(SUM(cell.ppm) AS DOUBLE) / 1000000.0 AS chi2
FROM cell CROSS JOIN g
GROUP BY g.n, g.nr, g.nc
""",
)
def eval_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between event type and hour of
    day — the categorical-association screen beside AUC (ranking), corr
    (linear) and calibration (probability): "does this categorical
    feature carry calendar signal at all?". Each cell's (O−E)²/E is
    computed scale-free as (n·O − r·c)²/(n·r·c) in exact wide-decimal
    arithmetic, floored to integer ppm, and the statistic is an INTEGER
    sum of cell ppms — a float sum over cells would be
    addition-order-dependent and unverifiable cross-engine.

    Scale shape: fact → contingency cells in one map-side-combined
    groupBy (cells = |types|×24, not rows); margins are cell-frame
    aggregates broadcast back. One fact pass at any scale.

    Overflow bound: the widest intermediate is (n·O − r·c)²·10⁶ with
    O, r, c ≤ n, so DECIMAL(38,0) is guaranteed exact while
    n⁴·10⁶ < 10³⁸, i.e. **n ≤ 10⁸ events**. Past that, Spark decimal
    overflow is LOUD, not silently wrong (null, or an exception under
    ANSI mode — never a wrapped value), and the driver compare would
    flag it; the scale-up fix is dropping the ppm factor (n ≤ 10⁹·⁵)
    or computing cells in double and accepting float summation."""
    o = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type", F.hour("ts").cast("bigint").alias("hour"))
        .agg(F.count(F.lit(1)).alias("obs"))
    )
    r = o.groupBy("event_type").agg(F.sum("obs").alias("rt"))
    c = o.groupBy("hour").agg(F.sum("obs").alias("ct"))
    g = o.agg(
        F.sum("obs").alias("n"),
        F.countDistinct("event_type").alias("nr"),
        F.countDistinct("hour").alias("nc"),
    )
    cell = (
        o.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "hour")
        .crossJoin(F.broadcast(g))
        .select(
            F.expr(
                "CAST((CAST(n AS DECIMAL(38,0)) * obs - CAST(rt AS DECIMAL(38,0)) * ct)"
                " * (CAST(n AS DECIMAL(38,0)) * obs - CAST(rt AS DECIMAL(38,0)) * ct)"
                " * 1000000 AS DECIMAL(38,0))"
                " div (CAST(n AS DECIMAL(38,0)) * rt * ct)"
            ).alias("ppm"),
            "n",
            "nr",
            "nc",
        )
    )
    return cell.groupBy("n", "nr", "nc").agg(
        F.sum("ppm").cast("bigint").alias("chi2_ppm")
    ).select(
        F.col("n").cast("bigint").alias("n"),
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("bigint").alias("dof"),
        "chi2_ppm",
        (F.col("chi2_ppm").cast("double") / F.lit(1000000.0)).alias("chi2"),
    )


# ------------------------------------------------------------------ eval


@query(
    "eval_confusion_threshold",
    # Confusion counts are exact integers; precision/recall/F1 are
    # single ppm floor divisions of those counts (F1 simplifies to
    # 2·tp·1e6 DIV (2·tp + fp + fn) — no float intermediate).
    oracle="""
WITH e AS (
    SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
           CASE WHEN value >= 245.0 THEN 1 ELSE 0 END AS yhat
    FROM events),
m AS (
    SELECT CAST(SUM(y * yhat) AS BIGINT) AS tp,
           CAST(SUM((1 - y) * yhat) AS BIGINT) AS fp,
           CAST(SUM(y * (1 - yhat)) AS BIGINT) AS fn,
           CAST(SUM((1 - y) * (1 - yhat)) AS BIGINT) AS tn
    FROM e)
SELECT tp, fp, fn, tn,
       CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_ppm,
       CAST(tp * 1000000 // (tp + fn) AS BIGINT) AS recall_ppm,
       CAST(2 * tp * 1000000 // (2 * tp + fp + fn) AS BIGINT) AS f1_ppm
FROM m
""",
)
def eval_confusion_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix and precision/recall/F1 at a fixed operating
    point (score = event value, threshold 245.0, label = purchase) —
    the deployment-side companion to AUC: AUC says the score RANKS
    well, this says what the chosen cutoff actually does. Counts are
    exact integers from one map-side-combined pass; the three metrics
    are single ppm floor divisions (F1 computed as 2tp/(2tp+fp+fn),
    never from float precision/recall intermediates).

    Scale shape: one fact pass to a 1-row frame; nothing else."""
    e = load_table(spark, sf_dir, "events").select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
        F.when(F.col("value") >= 245.0, 1).otherwise(0).alias("yhat"),
    )
    m = e.agg(
        F.sum(F.col("y") * F.col("yhat")).cast("bigint").alias("tp"),
        F.sum((1 - F.col("y")) * F.col("yhat")).cast("bigint").alias("fp"),
        F.sum(F.col("y") * (1 - F.col("yhat"))).cast("bigint").alias("fn"),
        F.sum((1 - F.col("y")) * (1 - F.col("yhat")))
        .cast("bigint")
        .alias("tn"),
    )
    return m.select(
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr("tp * 1000000 DIV (tp + fp)").cast("bigint").alias(
            "precision_ppm"
        ),
        F.expr("tp * 1000000 DIV (tp + fn)").cast("bigint").alias(
            "recall_ppm"
        ),
        F.expr("2 * tp * 1000000 DIV (2 * tp + fp + fn)")
        .cast("bigint")
        .alias("f1_ppm"),
    )


# ------------------------------------------------------------------ eval


#: floor(1e6 / log2(rank + 1)) for ranks 1..10 — pre-computed so no
#: transcendental runs at query time (the Benford-constants precedent).
_NDCG_W = [
    1000000, 630929, 500000, 430676, 386852,
    356207, 333333, 315464, 301029, 289064,
]


def _ndcg_case(col: str) -> str:
    arms = " ".join(
        f"WHEN {i + 1} THEN {w}" for i, w in enumerate(_NDCG_W)
    )
    return f"CASE {col} {arms} ELSE 0 END"


@query(
    "eval_ndcg_at10",
    # Per-user DCG@10 = Σ rel·w(rank) with integer-ppm log2 discounts;
    # IDCG from the user's total positive count; ndcg = DCG·1e6 DIV
    # IDCG; the corpus metric is the integer mean over scoreable users.
    oracle=f"""
WITH r AS (
    SELECT user_id,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel,
           ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY CAST(FLOOR(value * 1000000.0) AS BIGINT) DESC,
                        event_id) AS rnk
    FROM events),
dcg AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN rnk <= 10 AND rel = 1
                    THEN {_ndcg_case('rnk')} ELSE 0 END) AS BIGINT)
               AS dcg_ppm,
           CAST(SUM(rel) AS BIGINT) AS n_pos
    FROM r GROUP BY 1),
idcg AS (
    SELECT user_id, dcg_ppm,
           CAST(SUM({_ndcg_case('g.i')}) AS BIGINT) AS idcg_ppm
    FROM dcg
    JOIN (SELECT unnest(generate_series(1, 10)) AS i) g
      ON g.i <= LEAST(dcg.n_pos, 10)
    WHERE dcg.n_pos > 0
    GROUP BY 1, 2),
per AS (
    SELECT user_id,
           dcg_ppm * 1000000 // idcg_ppm AS ndcg_ppm
    FROM idcg)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(ndcg_ppm) // COUNT(*) AS BIGINT) AS mean_ndcg_ppm
FROM per
""",
)
def eval_ndcg_at10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the value-score ranking against purchase labels, per
    user, averaged — the graded-ranking metric completing the eval
    family (AUC = pairwise ranking, confusion = operating point,
    calibration = probability, NDCG = top-of-list quality, which is
    what a recommendation surface actually ships). The log2 position
    discounts are pre-computed integer-ppm literals, DCG/IDCG are
    integer sums, and both the per-user NDCG and the corpus mean are
    single floor divisions — bit-exact cross-engine; users with no
    positives are excluded (IDCG undefined).

    Scale shape: the ranking window partitions by user (fully
    parallel, no global window); everything after it is
    map-side-combined aggregation. IDCG needs only the user's positive
    COUNT — the ideal ranking's weights are a prefix sum of constants,
    attached via a broadcast 10-row series."""
    r = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "rel"
        ),
        F.floor(F.col("value") * F.lit(1e6)).cast("bigint").alias("vm"),
        "event_id",
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("vm").desc(), F.col("event_id").asc()
    )
    ranked = r.withColumn("rnk", F.row_number().over(w))
    warr = F.array(*[F.lit(v).cast("bigint") for v in _NDCG_W])
    dcg = ranked.groupBy("user_id").agg(
        F.sum(
            F.when(
                (F.col("rnk") <= 10) & (F.col("rel") == 1),
                F.element_at(warr, F.col("rnk")),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("dcg_ppm"),
        F.sum("rel").cast("bigint").alias("n_pos"),
    )
    # IDCG = prefix sum of the weight constants up to min(n_pos, 10):
    # a 10-row broadcast series joined on i <= least(n_pos, 10)
    series = (
        spark.range(1, 11)
        .select(
            F.col("id").cast("int").alias("i"),
            F.element_at(warr, F.col("id").cast("int")).alias("wi"),
        )
    )
    idcg = (
        dcg.filter(F.col("n_pos") > 0)
        .join(
            F.broadcast(series),
            F.col("i") <= F.least(F.col("n_pos"), F.lit(10)),
        )
        .groupBy("user_id", "dcg_ppm")
        .agg(F.sum("wi").cast("bigint").alias("idcg_ppm"))
    )
    per = idcg.select(
        "user_id", F.expr("dcg_ppm * 1000000 DIV idcg_ppm").alias("ndcg_ppm")
    )
    return per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.expr("sum(ndcg_ppm) DIV count(1)")
        .cast("bigint")
        .alias("mean_ndcg_ppm"),
    )


# ------------------------------------------------------------- Spearman


@query(
    "eval_spearman_corr",
    # Average-rank identity: AVG(row_number) over a tie group of size c
    # starting at position r is r + (c-1)/2 == RANK() + (COUNT() OVER
    # tie - 1)/2 — and both are the same exactly-representable multiple
    # of 0.5 (the integer rank sum is exactly divisible by c), so the
    # two engines agree bit-for-bit before the final round.
    oracle="""
WITH b AS (SELECT l_quantity AS q, l_extendedprice AS p FROM lineitem),
r AS (
    SELECT
        RANK() OVER (ORDER BY q)
            + (COUNT(*) OVER (PARTITION BY q) - 1) / 2.0 AS rq,
        RANK() OVER (ORDER BY p)
            + (COUNT(*) OVER (PARTITION BY p) - 1) / 2.0 AS rp,
        COUNT(*) OVER () AS n
    FROM b)
SELECT CAST(MAX(n) AS BIGINT) AS n,
       ROUND(SUM((rq - (n + 1) / 2.0) * (rp - (n + 1) / 2.0))
             / SQRT(SUM((rq - (n + 1) / 2.0) * (rq - (n + 1) / 2.0))
                    * SUM((rp - (n + 1) / 2.0) * (rp - (n + 1) / 2.0))), 6)
           AS spearman_rho
FROM r
""",
)
def eval_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (Spearman 1904) between order quantity
    and extended price, with proper AVERAGE ranks for ties — the
    monotonic-association complement to ``eval_feature_corr``'s Pearson.

    Scale shape: the oracle's ``RANK() OVER (ORDER BY ...)`` is a
    single-task global window; the engine never ranks rows at all
    (r12 opt, guide §2.3 — shuffle keys, not rows): the average rank
    of a tie group (value v, count c, S rows strictly smaller) is the
    closed form S + (c+1)/2, so per-VALUE groupBy counts (map-side
    combined) + a prefix sum over the DISTINCT values replace the two
    full-corpus range-bucketed ``global_row_number`` passes the r7
    version ran (each of those shuffled every row through a bucketed
    rank window; measured interleaved A/B at sf0.1: 3.56 → 2.84 s).
    Quantity has <= 50 distinct values — a broadcast and a tiny global
    window (the ``dense_rank_low_card`` pattern); price is
    high-cardinality, so its running count goes through the
    range-bucketed ``grouped_prefix_sum`` over the distinct-value
    frame. Exactness is unchanged: S and c are integers, so
    S + (c+1)/2 is the same exactly-representable multiple of 0.5
    that AVG(row_number) produced. Centering uses the closed form mean
    rank (n+1)/2 (sum of average ranks is always n(n+1)/2), so no
    float mean enters the sums; every sum term is an exact multiple
    of 0.25."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").alias("q"),
        F.col("l_extendedprice").alias("p"),
    )
    nn = li.agg(F.count(F.lit(1)).alias("n"))

    cq = li.groupBy("q").agg(F.count(F.lit(1)).alias("_c"))  # <= 50 rows
    w_q = Window.orderBy("q").rowsBetween(Window.unboundedPreceding, -1)
    aq = cq.select(
        "q",
        (
            F.coalesce(F.sum("_c").over(w_q), F.lit(0))
            + (F.col("_c") + 1) / 2.0
        ).alias("rq"),
    )
    cp = li.groupBy("p").agg(F.count(F.lit(1)).alias("_c"))
    ap = grouped_prefix_sum(
        cp.withColumn("_g", F.lit(1)), ["_g"], "p", "_c", out_col="_run"
    ).select("p", (F.col("_run") - (F.col("_c") - 1) / 2.0).alias("rp"))

    joined = (
        li.join(F.broadcast(aq), "q")
        .join(ap, "p")
        .crossJoin(F.broadcast(nn))
    )
    x = F.col("rq") - (F.col("n") + 1) / 2.0
    y = F.col("rp") - (F.col("n") + 1) / 2.0
    return joined.agg(
        F.max("n").alias("n"),
        F.round(
            F.sum(x * y) / F.sqrt(F.sum(x * x) * F.sum(y * y)), 6
        ).alias("spearman_rho"),
    )


# -------------------------------------------------------- JS divergence


@query(
    "eval_js_divergence",
    oracle="""
WITH seg AS (
    SELECT event_type,
           SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS na,
           SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS nb
    FROM events GROUP BY 1),
tot AS (SELECT SUM(na) AS ta, SUM(nb) AS tb FROM seg),
t AS (
    SELECT CAST(na AS DOUBLE) / ta AS p, CAST(nb AS DOUBLE) / tb AS q
    FROM seg, tot)
SELECT COUNT(*) AS n_types,
       ROUND(SUM(0.5 * (CASE WHEN p > 0 THEN p * LN(p / ((p + q) / 2))
                             ELSE 0 END)
               + 0.5 * (CASE WHEN q > 0 THEN q * LN(q / ((p + q) / 2))
                             ELSE 0 END)), 6) AS jsd_nats
FROM t
""",
)
def eval_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence (Lin 1991) between the event-type
    distributions of two user segments (even vs odd user id) — the
    symmetric, always-finite cousin of KL, complementing
    ``quality_psi_drift`` (PSI needs smoothing to survive empty
    buckets; JSD does not).

    Scale shape: one combine-friendly groupBy to <= |event_type| rows,
    a 1-row total broadcast back, and a 5-term final sum — the fact
    table is shuffled zero times beyond the partial-agg exchange."""
    ev = load_table(spark, sf_dir, "events")
    seg = ev.groupBy("event_type").agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0)).alias("nb"),
    )
    tot = seg.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    t = seg.crossJoin(F.broadcast(tot)).select(
        (F.col("na").cast("double") / F.col("ta")).alias("p"),
        (F.col("nb").cast("double") / F.col("tb")).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2
    term = 0.5 * F.when(
        F.col("p") > 0, F.col("p") * F.log(F.col("p") / m)
    ).otherwise(0.0) + 0.5 * F.when(
        F.col("q") > 0, F.col("q") * F.log(F.col("q") / m)
    ).otherwise(0.0)
    return t.agg(
        F.count(F.lit(1)).alias("n_types"),
        F.round(F.sum(term), 6).alias("jsd_nats"),
    )


# ----------------------------------------------------- average precision


@query(
    "eval_avg_precision",
    oracle="""
WITH b AS (
    SELECT event_id,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
           value
    FROM events),
r AS (
    SELECT y,
           ROW_NUMBER() OVER (ORDER BY value DESC, event_id) AS rn,
           SUM(y) OVER (ORDER BY value DESC, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS tp
    FROM b)
SELECT CAST(SUM(y) AS BIGINT) AS n_pos,
       COUNT(*) AS n,
       ROUND(SUM(CASE WHEN y = 1 THEN CAST(tp AS DOUBLE) / rn ELSE 0 END)
             / CAST(SUM(y) AS DOUBLE), 6) AS avg_precision
FROM r
""",
)
def eval_avg_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision (the PR-curve area, as ranking metrics define
    it: mean of precision@k over the positive ranks) for "does event
    value predict a purchase" — the imbalance-robust companion to
    ``eval_feature_auc``'s ROC AUC (Davis & Goadrich, ICML 2006: PR
    dominates ROC under class skew). Ties on the score break on
    event_id in BOTH engines, pinning the permutation AP is defined
    over.

    Scale shape: the oracle's global ROW_NUMBER/cumulative-TP windows
    are single-task; the engine ranks with the range-bucketed
    ``global_row_number`` and reuses the SAME lineage for the
    cumulative true-positive count via ``grouped_prefix_sum`` (one
    logical group — only bucket totals cross the tiny prefix window),
    so no window ever sees the whole fact."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
        (-F.col("value")).alias("_negscore"),
    )
    ranked = global_row_number(ev, "_negscore", ["event_id"], out_col="rn")
    cum = grouped_prefix_sum(
        ranked.withColumn("_g", F.lit(1)),
        ["_g"],
        "_negscore",
        "y",
        out_col="tp_cum",
        tiebreak_cols=["event_id"],
    )
    return cum.agg(
        F.sum("y").alias("n_pos"),
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.sum(
                F.when(
                    F.col("y") == 1,
                    F.col("tp_cum").cast("double") / F.col("rn"),
                ).otherwise(0.0)
            )
            / F.sum("y").cast("double"),
            6,
        ).alias("avg_precision"),
    )


# ------------------------------------------------------- lift deciles


@query(
    "eval_lift_deciles",
    oracle="""
WITH b AS (
    SELECT event_id,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
           value
    FROM events),
d AS (
    SELECT y, NTILE(10) OVER (ORDER BY value DESC, event_id) AS decile
    FROM b),
g AS (
    SELECT decile, COUNT(*) AS n, CAST(SUM(y) AS BIGINT) AS n_pos
    FROM d GROUP BY 1),
t AS (SELECT SUM(n) AS tn, SUM(n_pos) AS tp FROM g)
SELECT CAST(decile AS INTEGER) AS decile, n, n_pos,
       ROUND(CAST(SUM(n_pos) OVER (ORDER BY decile
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS DOUBLE) / tp, 6) AS cum_gain,
       ROUND((CAST(n_pos AS DOUBLE) / n)
             / (CAST(tp AS DOUBLE) / tn), 6) AS lift
FROM g, t
""",
)
def eval_lift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift table / cumulative-gains chart: events ranked by score
    (value) into 10 equal-depth deciles; each decile reports its
    positive (purchase) count, the cumulative share of all positives
    captured down to it (the gains curve), and its lift over the base
    rate — the campaign-targeting report every scoring model ships
    with, next to ROC (``eval_feature_auc``) and PR
    (``eval_avg_precision``).

    Scale shape: deciles come from the range-bucketed global row number
    + closed-form NTILE (no global window over the fact); the gains
    cumsum runs over the 10-row decile frame."""
    from featurestore_for_joycastle_java_spark.operators.ranks import (
        ntile_from_rank,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .alias("y"),
        (-F.col("value")).alias("_negscore"),
    )
    ranked = global_row_number(ev, "_negscore", ["event_id"], out_col="rn")
    tiled = ranked.withColumn(
        "decile", ntile_from_rank(F.col("rn"), F.col("_n_total"), 10)
    )
    g = tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("n_pos")
    )
    t = g.agg(F.sum("n").alias("tn"), F.sum("n_pos").alias("tp"))
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        g.crossJoin(F.broadcast(t))
        .withColumn("cum_pos", F.sum("n_pos").over(w))
        .select(
            "decile",
            "n",
            "n_pos",
            F.round(
                F.col("cum_pos").cast("double") / F.col("tp"), 6
            ).alias("cum_gain"),
            F.round(
                (F.col("n_pos").cast("double") / F.col("n"))
                / (F.col("tp").cast("double") / F.col("tn")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "eval_mutual_information",
    oracle="""
WITH e AS (
    SELECT event_type AS x,
           LEAST(9, CAST(FLOOR(value / 10) AS BIGINT)) AS yb
    FROM events),
j AS (SELECT x, yb, CAST(COUNT(*) AS BIGINT) AS n_xy FROM e GROUP BY 1, 2),
mx AS (SELECT x, CAST(SUM(n_xy) AS BIGINT) AS n_x FROM j GROUP BY 1),
my AS (SELECT yb, CAST(SUM(n_xy) AS BIGINT) AS n_y FROM j GROUP BY 1),
tot AS (SELECT CAST(SUM(n_xy) AS BIGINT) AS n FROM j)
SELECT tot.n AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_cells,
       CAST(SUM(CAST(ROUND((CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE))
            * LN((CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE))
                 / (CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE)))
            * 1000000, 0) AS BIGINT)) AS BIGINT) AS mi_micronats
FROM j JOIN mx USING (x) JOIN my USING (yb) CROSS JOIN tot
GROUP BY tot.n
""",
)
def eval_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(X;Y) in micronats between event_type and the
    decile-binned value (LEAST(9, value DIV 10) — value is ~Exp(50), so
    the cap folds the tail into the top bin), the standard
    feature-vs-target dependence screen (Cover & Thomas ch. 2; what
    sklearn's ``mutual_info_score`` computes on a contingency table).

    Plan shape: ONE hash aggregate builds the contingency table (at most
    |X| x 10 cells — tiny whatever the row count), marginals re-aggregate
    the CELLS not the rows, and both marginals plus the 1-row total
    broadcast back onto the cell frame: events is scanned exactly once.
    Per-cell contributions are micro-rounded before the sum so both
    engines add identical integers."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.col("event_type").alias("x"),
        F.least(
            F.lit(9).cast("bigint"), F.floor(F.col("value") / 10)
        ).alias("yb"),
    )
    j = e.groupBy("x", "yb").agg(F.count(F.lit(1)).alias("n_xy"))
    mx = j.groupBy("x").agg(F.sum("n_xy").cast("bigint").alias("n_x"))
    my = j.groupBy("yb").agg(F.sum("n_xy").cast("bigint").alias("n_y"))
    tot = j.agg(F.sum("n_xy").cast("bigint").alias("n"))
    contrib = (
        F.round(
            (F.col("n_xy").cast("double") / F.col("n").cast("double"))
            * F.log(
                (F.col("n_xy").cast("double") * F.col("n").cast("double"))
                / (F.col("n_x").cast("double") * F.col("n_y").cast("double"))
            )
            * F.lit(1000000),
            0,
        )
        .cast("bigint")
    )
    return (
        j.join(F.broadcast(mx), "x")
        .join(F.broadcast(my), "yb")
        .crossJoin(F.broadcast(tot))
        .groupBy(F.col("n").alias("n_rows"))
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.sum(contrib).cast("bigint").alias("mi_micronats"),
        )
    )


@query(
    "eval_brier_decomposition",
    oracle="""
WITH e AS (
    SELECT CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v6,
           CASE WHEN event_type = 'purchase' THEN CAST(1 AS BIGINT)
                ELSE CAST(0 AS BIGINT) END AS y
    FROM events),
m AS (SELECT MAX(v6) AS max6 FROM e),
s AS (SELECT (v6 * 1000000) // m.max6 AS score_ppm, y FROM e, m),
b AS (
    SELECT LEAST(9, score_ppm // 100000) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_k,
           CAST(SUM(score_ppm) AS BIGINT) AS sum_score,
           CAST(SUM(y) AS BIGINT) AS sum_y
    FROM s GROUP BY 1),
bb AS (
    SELECT bin, n_k, sum_score // n_k AS pbar_ppm,
           (sum_y * 1000000) // n_k AS ybar_k_ppm
    FROM b),
g AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS sum_y,
           CAST(SUM((score_ppm - y * 1000000) * (score_ppm - y * 1000000))
                AS BIGINT) AS brier_num
    FROM s),
gg AS (SELECT n, brier_num, (sum_y * 1000000) // n AS ybar_ppm FROM g)
SELECT gg.n AS n_rows,
       brier_num // (gg.n * 1000000) AS brier_micro,
       CAST(SUM(n_k * (pbar_ppm - ybar_k_ppm) * (pbar_ppm - ybar_k_ppm))
            AS BIGINT) // (gg.n * 1000000) AS reliability_micro,
       CAST(SUM(n_k * (ybar_k_ppm - ybar_ppm) * (ybar_k_ppm - ybar_ppm))
            AS BIGINT) // (gg.n * 1000000) AS resolution_micro,
       (ybar_ppm * (1000000 - ybar_ppm)) // 1000000 AS uncertainty_micro
FROM bb CROSS JOIN gg
GROUP BY gg.n, brier_num, ybar_ppm
""",
)
def eval_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy (1973) decomposition of the Brier score — reliability
    (calibration), resolution, and uncertainty over 10 equal-width score
    bins — for the max-normalized event value as a pseudo-probability of
    the 'purchase' label. The model-eval companion to the registered
    ``eval_calibration_bins``: BS = REL - RES + UNC, the standard
    verification identity (exact over the binned estimator; our
    integer-ppm floors truncate each term independently, identically in
    both engines).

    All-integer ppm arithmetic end-to-end (scores max-normalized to
    [0, 1e6], means as floor-divided ppm) — no doubles anywhere, so the
    oracle match is exact by construction. Plan shape: one 1-row max
    frame broadcast onto the scan, one 10-bin hash aggregate + one
    global aggregate (both map-side combinable), then a 10x1 broadcast
    cross join — two scans of events total, no wide shuffle (the bin
    key has 10 values)."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.floor(F.col("value") * F.lit(1000000.0)).alias("v6"),
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("y"),
    )
    m = e.agg(F.max("v6").alias("__max6"))
    s = e.crossJoin(F.broadcast(m)).select(
        F.expr("(v6 * 1000000) DIV __max6").alias("score_ppm"), "y"
    )
    b = s.groupBy(
        F.least(F.lit(9).cast("bigint"), F.expr("score_ppm DIV 100000")).alias(
            "__bin"
        )
    ).agg(
        F.count(F.lit(1)).alias("__n_k"),
        F.sum("score_ppm").alias("__sum_score"),
        F.sum("y").alias("__sum_y"),
    )
    bb = b.select(
        "__n_k",
        F.expr("__sum_score DIV __n_k").alias("__pbar_ppm"),
        F.expr("(__sum_y * 1000000) DIV __n_k").alias("__ybar_k_ppm"),
    )
    g = s.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("y").alias("__sum_y_t"),
        F.sum(
            F.expr("(score_ppm - y * 1000000) * (score_ppm - y * 1000000)")
        ).alias("__brier_num"),
    )
    gg = g.select(
        "__n",
        "__brier_num",
        F.expr("(__sum_y_t * 1000000) DIV __n").alias("__ybar_ppm"),
    )
    return (
        bb.crossJoin(F.broadcast(gg))
        .groupBy("__n", "__brier_num", "__ybar_ppm")
        .agg(
            F.sum(
                F.expr(
                    "__n_k * (__pbar_ppm - __ybar_k_ppm)"
                    " * (__pbar_ppm - __ybar_k_ppm)"
                )
            ).alias("__rel_num"),
            F.sum(
                F.expr(
                    "__n_k * (__ybar_k_ppm - __ybar_ppm)"
                    " * (__ybar_k_ppm - __ybar_ppm)"
                )
            ).alias("__res_num"),
        )
        .select(
            F.col("__n").alias("n_rows"),
            F.expr("__brier_num DIV (__n * 1000000)").alias("brier_micro"),
            F.expr("__rel_num DIV (__n * 1000000)").alias(
                "reliability_micro"
            ),
            F.expr("__res_num DIV (__n * 1000000)").alias("resolution_micro"),
            F.expr("(__ybar_ppm * (1000000 - __ybar_ppm)) DIV 1000000").alias(
                "uncertainty_micro"
            ),
        )
    )


@query(
    "eval_mann_whitney",
    # rank-sum entirely in integers: average ranks are half-integers, so
    # everything is carried x2 (r1_x2, u1_x2); the only doubles are the
    # final variance/z, micro-rounded per the house pattern.
    oracle="""
WITH e AS (
    SELECT value AS v,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
    FROM events WHERE event_type IN ('purchase', 'click')),
g AS (
    SELECT v, CAST(SUM(a) AS BIGINT) AS c1,
           CAST(SUM(1 - a) AS BIGINT) AS c2
    FROM e GROUP BY 1),
c AS (
    SELECT v, c1, c2, c1 + c2 AS t,
           CAST(COALESCE(SUM(c1 + c2) OVER (ORDER BY v
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS cum_prev
    FROM g),
n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n_a,
             CAST(SUM(c2) AS BIGINT) AS n_b FROM g),
r AS (SELECT CAST(SUM(c1 * (2 * cum_prev + t + 1)) AS BIGINT) AS r1_x2,
             CAST(SUM(t * t * t - t) AS BIGINT) AS tie_cubes
      FROM c),
d AS (
    SELECT n_a, n_b, tie_cubes,
           (2 * n_a * n_b + n_a * (n_a + 1) - r1_x2) AS u1_x2,
           (2 * n_a * n_b + n_a * (n_a + 1) - r1_x2) - n_a * n_b AS numer_x2,
           (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)
           * (CAST(n_a + n_b + 1 AS DOUBLE)
              - CAST(tie_cubes AS DOUBLE)
                / (CAST(n_a + n_b AS DOUBLE) * CAST(n_a + n_b - 1 AS DOUBLE)))
               AS var_u
    FROM n CROSS JOIN r)
SELECT n_a, n_b, u1_x2, tie_cubes,
       CAST(ROUND(CASE WHEN numer_x2 > 0
                       THEN (CAST(numer_x2 - 1 AS DOUBLE) / 2.0) / SQRT(var_u)
                       WHEN numer_x2 < 0
                       THEN (CAST(numer_x2 + 1 AS DOUBLE) / 2.0) / SQRT(var_u)
                       ELSE 0.0 END * 1000000, 0) AS BIGINT) AS z_micro
FROM d
""",
)
def eval_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test (Mann & Whitney 1947) comparing the
    value distribution of 'purchase' vs 'click' events — the
    non-parametric two-sample location test (the KS drift monitor's
    sup-distance sibling, sensitive to median shift rather than any
    shape difference). Average ranks over ties are computed EXACTLY in
    integers by carrying everything doubled (``u1_x2 = 2*U1``); the
    tie-corrected variance and continuity-corrected z are the only
    doubles, micro-rounded.

    Scale shape (same as ``quality_ks_drift``): collapse to the
    distinct-value frame FIRST (one combine-friendly aggregate), then
    rank-cumulate there — the global-order window runs over distinct
    values, not rows, and U falls out of one pass. Verified against an
    independent Python reference in tests."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    e = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("a"),
    )
    g = e.groupBy("v").agg(
        F.sum("a").cast("bigint").alias("c1"),
        F.sum(F.lit(1) - F.col("a")).cast("bigint").alias("c2"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "c1",
        "c2",
        (F.col("c1") + F.col("c2")).alias("t"),
        F.coalesce(F.sum(F.col("c1") + F.col("c2")).over(w), F.lit(0))
        .cast("bigint")
        .alias("cum_prev"),
    )
    r = c.agg(
        F.sum(
            F.col("c1") * (2 * F.col("cum_prev") + F.col("t") + 1)
        )
        .cast("bigint")
        .alias("r1_x2"),
        F.sum(F.expr("t * t * t - t")).cast("bigint").alias("tie_cubes"),
    )
    n = g.agg(
        F.sum("c1").cast("bigint").alias("n_a"),
        F.sum("c2").cast("bigint").alias("n_b"),
    )
    d = n.crossJoin(F.broadcast(r)).select(
        "n_a",
        "n_b",
        "tie_cubes",
        F.expr("2 * n_a * n_b + n_a * (n_a + 1) - r1_x2").alias("u1_x2"),
        F.expr(
            "(2 * n_a * n_b + n_a * (n_a + 1) - r1_x2) - n_a * n_b"
        ).alias("numer_x2"),
        F.expr(
            "(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0)"
            " * (CAST(n_a + n_b + 1 AS DOUBLE)"
            "    - CAST(tie_cubes AS DOUBLE)"
            "      / (CAST(n_a + n_b AS DOUBLE)"
            "         * CAST(n_a + n_b - 1 AS DOUBLE)))"
        ).alias("var_u"),
    )
    return d.select(
        "n_a",
        "n_b",
        "u1_x2",
        "tie_cubes",
        F.round(
            F.expr(
                "CASE WHEN numer_x2 > 0"
                " THEN (CAST(numer_x2 - 1 AS DOUBLE) / 2.0) / SQRT(var_u)"
                " WHEN numer_x2 < 0"
                " THEN (CAST(numer_x2 + 1 AS DOUBLE) / 2.0) / SQRT(var_u)"
                " ELSE 0.0 END"
            )
            * F.lit(1000000),
            0,
        )
        .cast("bigint")
        .alias("z_micro"),
    )


@query(
    "eval_welch_ttest",
    # sums of v6 and v6^2 are exact integers (HUGEINT / DECIMAL(38,0));
    # doubles appear only when forming means/variances from them, with
    # textually identical expressions on both engines.
    oracle="""
WITH e AS (
    SELECT CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v6,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS a
    FROM events WHERE event_type IN ('purchase', 'click')),
s AS (
    SELECT a, CAST(COUNT(*) AS BIGINT) AS n,
           SUM(v6) AS s1, SUM(v6 * v6) AS s2
    FROM e GROUP BY 1),
p AS (
    SELECT MAX(CASE WHEN a = 1 THEN n END) AS n_a,
           MAX(CASE WHEN a = 0 THEN n END) AS n_b,
           MAX(CASE WHEN a = 1 THEN CAST(s1 AS DOUBLE) END) AS sa1,
           MAX(CASE WHEN a = 0 THEN CAST(s1 AS DOUBLE) END) AS sb1,
           MAX(CASE WHEN a = 1 THEN CAST(s2 AS DOUBLE) END) AS sa2,
           MAX(CASE WHEN a = 0 THEN CAST(s2 AS DOUBLE) END) AS sb2,
           MAX(CASE WHEN a = 1 THEN CAST(s1 AS HUGEINT) END) AS ia1,
           MAX(CASE WHEN a = 0 THEN CAST(s1 AS HUGEINT) END) AS ib1
    FROM s),
d AS (
    SELECT n_a, n_b,
           CAST(ia1 // n_a AS BIGINT) AS mean_a_micro,
           CAST(ib1 // n_b AS BIGINT) AS mean_b_micro,
           (sa2 - sa1 * sa1 / CAST(n_a AS DOUBLE))
               / (CAST(n_a AS DOUBLE) - 1.0) AS va,
           (sb2 - sb1 * sb1 / CAST(n_b AS DOUBLE))
               / (CAST(n_b AS DOUBLE) - 1.0) AS vb,
           sa1 / CAST(n_a AS DOUBLE) - sb1 / CAST(n_b AS DOUBLE) AS mdiff
    FROM p)
SELECT n_a, n_b, mean_a_micro, mean_b_micro,
       CAST(ROUND(mdiff / SQRT(va / CAST(n_a AS DOUBLE)
                               + vb / CAST(n_b AS DOUBLE))
                  * 1000000, 0) AS BIGINT) AS t_micro,
       CAST(ROUND((va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE))
                  * (va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE))
                  / ((va / CAST(n_a AS DOUBLE)) * (va / CAST(n_a AS DOUBLE))
                         / (CAST(n_a AS DOUBLE) - 1.0)
                     + (vb / CAST(n_b AS DOUBLE)) * (vb / CAST(n_b AS DOUBLE))
                         / (CAST(n_b AS DOUBLE) - 1.0))
                  * 1000, 0) AS BIGINT) AS df_milli
FROM d
""",
)
def eval_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test (Welch 1947) on the micro-
    integerized value of 'purchase' vs 'click' events, with the
    Welch-Satterthwaite effective degrees of freedom in milli units —
    the parametric companion to ``eval_mann_whitney`` (same contrast,
    mean-shift instead of rank-shift). Order-independence: the naive
    float sum-of-squares would differ across partitionings, so values
    are floored to micro integers and Sum(v6)/Sum(v6^2) are EXACT
    (DECIMAL(38,0) on Spark, HUGEINT on DuckDB); means/variances then
    form from those exact integers with textually identical double
    expressions. One aggregate over the filtered scan, a 2-row pivot,
    zero joins — embarrassingly scalable."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.filter(F.col("event_type").isin("purchase", "click")).select(
        F.floor(F.col("value") * F.lit(1000000.0)).alias("v6"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("a"),
    )
    s = e.groupBy("a").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v6").alias("s1"),
        F.sum((F.col("v6") * F.col("v6")).cast("decimal(38,0)")).alias("s2"),
    )
    p = s.agg(
        F.max(F.when(F.col("a") == 1, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("a") == 0, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("a") == 1, F.col("s1").cast("double"))).alias(
            "sa1"
        ),
        F.max(F.when(F.col("a") == 0, F.col("s1").cast("double"))).alias(
            "sb1"
        ),
        F.max(F.when(F.col("a") == 1, F.col("s2").cast("double"))).alias(
            "sa2"
        ),
        F.max(F.when(F.col("a") == 0, F.col("s2").cast("double"))).alias(
            "sb2"
        ),
        F.max(F.when(F.col("a") == 1, F.col("s1"))).alias("ia1"),
        F.max(F.when(F.col("a") == 0, F.col("s1"))).alias("ib1"),
    )
    d = p.select(
        "n_a",
        "n_b",
        F.expr("CAST(ia1 DIV n_a AS BIGINT)").alias("mean_a_micro"),
        F.expr("CAST(ib1 DIV n_b AS BIGINT)").alias("mean_b_micro"),
        F.expr(
            "(sa2 - sa1 * sa1 / CAST(n_a AS DOUBLE))"
            " / (CAST(n_a AS DOUBLE) - 1.0)"
        ).alias("va"),
        F.expr(
            "(sb2 - sb1 * sb1 / CAST(n_b AS DOUBLE))"
            " / (CAST(n_b AS DOUBLE) - 1.0)"
        ).alias("vb"),
        F.expr(
            "sa1 / CAST(n_a AS DOUBLE) - sb1 / CAST(n_b AS DOUBLE)"
        ).alias("mdiff"),
    )
    return d.select(
        "n_a",
        "n_b",
        "mean_a_micro",
        "mean_b_micro",
        F.round(
            F.expr(
                "mdiff / SQRT(va / CAST(n_a AS DOUBLE)"
                " + vb / CAST(n_b AS DOUBLE))"
            )
            * F.lit(1000000),
            0,
        )
        .cast("bigint")
        .alias("t_micro"),
        F.round(
            F.expr(
                "(va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE))"
                " * (va / CAST(n_a AS DOUBLE) + vb / CAST(n_b AS DOUBLE))"
                " / ((va / CAST(n_a AS DOUBLE)) * (va / CAST(n_a AS DOUBLE))"
                "        / (CAST(n_a AS DOUBLE) - 1.0)"
                "    + (vb / CAST(n_b AS DOUBLE)) * (vb / CAST(n_b AS DOUBLE))"
                "        / (CAST(n_b AS DOUBLE) - 1.0))"
            )
            * F.lit(1000),
            0,
        )
        .cast("bigint")
        .alias("df_milli"),
    )


@query(
    "eval_cohens_kappa",
    oracle="""
WITH e AS (
    SELECT CASE WHEN value >= 50 THEN 1 ELSE 0 END AS ra,
           CASE WHEN event_type IN ('purchase', 'signup') THEN 1 ELSE 0 END
               AS rb
    FROM events),
c AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(ra * rb) AS BIGINT) AS n11,
           CAST(SUM(ra * (1 - rb)) AS BIGINT) AS n10,
           CAST(SUM((1 - ra) * rb) AS BIGINT) AS n01,
           CAST(SUM((1 - ra) * (1 - rb)) AS BIGINT) AS n00
    FROM e)
SELECT n AS n_rows, n11 + n00 AS n_agree,
       ((n11 + n00) * 1000000) // n AS po_ppm,
       (((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) * 1000000)
           // (n * n) AS pe_ppm,
       CAST(ROUND((CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
                   - CAST((n11 + n10) * (n11 + n01)
                          + (n01 + n00) * (n10 + n00) AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                  / (1.0 - CAST((n11 + n10) * (n11 + n01)
                                + (n01 + n00) * (n10 + n00) AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                  * 1000000, 0) AS BIGINT) AS kappa_micro
FROM c
""",
)
def eval_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa (Cohen 1960) — chance-corrected agreement between
    two binary raters, here the value-threshold labeler (value >= 50)
    vs the type-based labeler (purchase/signup) — the standard
    inter-annotator agreement statistic for LLM labeling and
    preference-data pipelines (a judge panel that only reports raw
    agreement ``po`` overstates itself when the base rates are skewed;
    kappa subtracts the chance floor ``pe``). The agreement table is
    exact integers from one aggregate; po/pe are emitted in ppm and
    kappa in micro units from exactly-representable integer ratios
    (n^2 <= 1e24 is beyond int64 only past ~3e9 rows per side — and the
    double formation is exact below 2^53). One scan, one aggregate,
    no joins."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        F.when(F.col("value") >= 50, 1).otherwise(0).alias("ra"),
        F.when(F.col("event_type").isin("purchase", "signup"), 1)
        .otherwise(0)
        .alias("rb"),
    )
    c = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.expr("ra * rb")).cast("bigint").alias("n11"),
        F.sum(F.expr("ra * (1 - rb)")).cast("bigint").alias("n10"),
        F.sum(F.expr("(1 - ra) * rb")).cast("bigint").alias("n01"),
        F.sum(F.expr("(1 - ra) * (1 - rb)")).cast("bigint").alias("n00"),
    )
    return c.select(
        F.col("n").alias("n_rows"),
        F.expr("n11 + n00").alias("n_agree"),
        F.expr("((n11 + n00) * 1000000) DIV n").alias("po_ppm"),
        F.expr(
            "(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))"
            " * 1000000) DIV (n * n)"
        ).alias("pe_ppm"),
        F.round(
            F.expr(
                "(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)"
                " - CAST((n11 + n10) * (n11 + n01)"
                "        + (n01 + n00) * (n10 + n00) AS DOUBLE)"
                "   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
                " / (1.0 - CAST((n11 + n10) * (n11 + n01)"
                "              + (n01 + n00) * (n10 + n00) AS DOUBLE)"
                "   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
            )
            * F.lit(1000000),
            0,
        )
        .cast("bigint")
        .alias("kappa_micro"),
    )


@query(
    "eval_kendall_tau",
    oracle="""
WITH u AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS x,
           CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
               // 10000 AS y
    FROM events GROUP BY 1),
cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY 1, 2),
tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_users,
               CAST(SUM(n) AS BIGINT) * (CAST(SUM(n) AS BIGINT) - 1) // 2
                   AS n_pairs
        FROM cells),
tx AS (SELECT CAST(SUM(gx * (gx - 1) // 2) AS BIGINT) AS ties_x_pairs
       FROM (SELECT CAST(SUM(n) AS BIGINT) AS gx FROM cells GROUP BY x)),
ty AS (SELECT CAST(SUM(gy * (gy - 1) // 2) AS BIGINT) AS ties_y_pairs
       FROM (SELECT CAST(SUM(n) AS BIGINT) AS gy FROM cells GROUP BY y)),
cd AS (
    SELECT CAST(COALESCE(SUM(CASE WHEN a.y < b.y THEN a.n * b.n END), 0)
                AS BIGINT) AS c_pairs,
           CAST(COALESCE(SUM(CASE WHEN a.y > b.y THEN a.n * b.n END), 0)
                AS BIGINT) AS d_pairs
    FROM cells a JOIN cells b ON a.x < b.x)
SELECT tot.n_users, tot.n_pairs, cd.c_pairs, cd.d_pairs,
       tx.ties_x_pairs, ty.ties_y_pairs,
       CASE WHEN (tot.n_pairs - tx.ties_x_pairs) > 0
             AND (tot.n_pairs - ty.ties_y_pairs) > 0
            THEN CAST(FLOOR(
                 CAST((cd.c_pairs - cd.d_pairs) * 1000000 AS DOUBLE)
                 / SQRT(CAST(tot.n_pairs - tx.ties_x_pairs AS DOUBLE)
                        * CAST(tot.n_pairs - ty.ties_y_pairs AS DOUBLE)))
                 AS BIGINT)
            ELSE 0 END AS tau_b_micro,
       CASE WHEN (tot.n_pairs - ty.ties_y_pairs) > 0
            THEN CASE WHEN cd.c_pairs >= cd.d_pairs
                      THEN ((cd.c_pairs - cd.d_pairs) * 1000000)
                           // (tot.n_pairs - ty.ties_y_pairs)
                      ELSE -(((cd.d_pairs - cd.c_pairs) * 1000000)
                             // (tot.n_pairs - ty.ties_y_pairs)) END
            ELSE 0 END AS somers_d_micro,
       CASE WHEN (cd.c_pairs + cd.d_pairs) > 0
            THEN CASE WHEN cd.c_pairs >= cd.d_pairs
                      THEN ((cd.c_pairs - cd.d_pairs) * 1000000)
                           // (cd.c_pairs + cd.d_pairs)
                      ELSE -(((cd.d_pairs - cd.c_pairs) * 1000000)
                             // (cd.c_pairs + cd.d_pairs)) END
            ELSE 0 END AS gamma_micro
FROM tot, tx, ty, cd
""",
)
def eval_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b (Kendall 1945, the tie-adjusted form), Somers' D
    and Goodman-Kruskal gamma between two per-user behavioral metrics —
    activity (event count) vs monetary volume (exact cent-summed value,
    bucketed to 100-value units). The ordinal-association counterpart of
    ``eval_spearman_corr``: concordant/discordant PAIR counts are exact
    integers, so all three statistics share one computation; only
    tau-b's denominator takes the house's single IEEE ``SQRT``
    (micro-floored), while Somers' D and gamma stay in pure
    sign-factored integer division.

    Scale shape — the audit-clean pair stage: users collapse to a
    (x, y) CONTINGENCY CELL frame first (bounded by the bucketing, the
    ``quality_ks_drift`` discipline), and the cell-pair stage joins on
    an arithmetically generated band-pair frame — ``explode(sequence(0,
    max_band))`` twice builds every (band_lo ≤ band_hi) pair WITHOUT any
    cartesian or nested-loop join — then equi-joins cells to each side
    of it by band id. Cross-band pairs satisfy x_a < x_b by
    construction; the same-band case filters x_a < x_b inside the
    hash join. Work is Σ |band_i|·|band_j| = O(cells²) spread across
    hash-partitioned tasks — cells, not users, and never a BNLJ.
    Tie pairs come from marginal group sizes, no pair join at all. At
    2^53 pair counts the double micro-conversion would switch to
    DECIMAL — documented envelope, ~100 M users."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("x"),
        F.expr(
            "CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)"
            " DIV 10000"
        ).alias("y"),
    )
    cells = u.groupBy("x", "y").agg(F.count(F.lit(1)).alias("n"))
    cells = cells.withColumn("bx", F.expr("x DIV 8")).localCheckpoint(
        eager=True
    )
    tot = cells.agg(
        F.sum("n").alias("n_users"),
        F.expr("SUM(n) * (SUM(n) - 1) DIV 2").alias("n_pairs"),
    )
    tx = (
        cells.groupBy("x")
        .agg(F.sum("n").alias("gx"))
        .agg(F.expr("SUM(gx * (gx - 1) DIV 2)").alias("ties_x_pairs"))
    )
    ty = (
        cells.groupBy("y")
        .agg(F.sum("n").alias("gy"))
        .agg(F.expr("SUM(gy * (gy - 1) DIV 2)").alias("ties_y_pairs"))
    )
    mb = cells.agg(F.max("bx").alias("mb"))
    band_pairs = (
        mb.select(F.explode(F.sequence(F.lit(0), F.col("mb"))).alias("b_hi"))
        .select(
            "b_hi",
            F.explode(F.sequence(F.lit(0), F.col("b_hi"))).alias("b_lo"),
        )
    )
    ca = cells.select(
        F.col("x").alias("xa"),
        F.col("y").alias("ya"),
        F.col("n").alias("na"),
        F.col("bx").alias("bxa"),
    )
    cb = cells.select(
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.col("n").alias("nb"),
        F.col("bx").alias("bxb"),
    )
    cd = (
        ca.join(F.broadcast(band_pairs), F.col("bxa") == F.col("b_lo"))
        .join(
            cb,
            (F.col("bxb") == F.col("b_hi"))
            & (
                (F.col("b_lo") < F.col("b_hi"))
                | (F.col("xa") < F.col("xb"))
            ),
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ya") < F.col("yb"),
                        F.col("na") * F.col("nb"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("c_pairs"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("ya") > F.col("yb"),
                        F.col("na") * F.col("nb"),
                    )
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("d_pairs"),
        )
    )
    out = (
        tot.crossJoin(F.broadcast(tx))
        .crossJoin(F.broadcast(ty))
        .crossJoin(F.broadcast(cd))
    )
    return out.select(
        "n_users",
        "n_pairs",
        "c_pairs",
        "d_pairs",
        "ties_x_pairs",
        "ties_y_pairs",
        F.expr(
            "CASE WHEN (n_pairs - ties_x_pairs) > 0"
            " AND (n_pairs - ties_y_pairs) > 0"
            " THEN CAST(FLOOR("
            " CAST((c_pairs - d_pairs) * 1000000 AS DOUBLE)"
            " / SQRT(CAST(n_pairs - ties_x_pairs AS DOUBLE)"
            " * CAST(n_pairs - ties_y_pairs AS DOUBLE)))"
            " AS BIGINT) ELSE 0L END"
        ).alias("tau_b_micro"),
        F.expr(
            "CASE WHEN (n_pairs - ties_y_pairs) > 0 THEN"
            " CASE WHEN c_pairs >= d_pairs"
            " THEN ((c_pairs - d_pairs) * 1000000)"
            " DIV (n_pairs - ties_y_pairs)"
            " ELSE -(((d_pairs - c_pairs) * 1000000)"
            " DIV (n_pairs - ties_y_pairs)) END"
            " ELSE 0L END"
        ).alias("somers_d_micro"),
        F.expr(
            "CASE WHEN (c_pairs + d_pairs) > 0 THEN"
            " CASE WHEN c_pairs >= d_pairs"
            " THEN ((c_pairs - d_pairs) * 1000000)"
            " DIV (c_pairs + d_pairs)"
            " ELSE -(((d_pairs - c_pairs) * 1000000)"
            " DIV (c_pairs + d_pairs)) END"
            " ELSE 0L END"
        ).alias("gamma_micro"),
    )


@query(
    "eval_mcnemar",
    oracle="""
WITH u AS (
    SELECT user_id,
           (COUNT(*) FILTER (WHERE event_type = 'purchase')
            >= COUNT(*) FILTER (WHERE event_type = 'click')) AS ra,
           (COALESCE(SUM(CAST(FLOOR(value * 100) AS BIGINT))
                     FILTER (WHERE event_type = 'purchase'), 0)
            >= COALESCE(SUM(CAST(FLOOR(value * 100) AS BIGINT))
                        FILTER (WHERE event_type = 'click'), 0)) AS rb
    FROM events GROUP BY 1),
t AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(*) FILTER (WHERE ra AND rb) AS BIGINT) AS both_yes,
           CAST(COUNT(*) FILTER (WHERE NOT ra AND NOT rb) AS BIGINT)
               AS both_no,
           CAST(COUNT(*) FILTER (WHERE ra AND NOT rb) AS BIGINT) AS only_a,
           CAST(COUNT(*) FILTER (WHERE NOT ra AND rb) AS BIGINT) AS only_b
    FROM u)
SELECT n_users, both_yes, both_no, only_a, only_b,
       CASE WHEN only_a + only_b > 0
            THEN (GREATEST(ABS(only_a - only_b) - 1, 0)
                  * GREATEST(ABS(only_a - only_b) - 1, 0)
                  * 1000000) // (only_a + only_b)
            ELSE CAST(0 AS BIGINT) END AS chi2_cc_micro
FROM t
""",
)
def eval_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test (McNemar 1947, Psychometrika 12) for two paired
    binary raters over the same users — here two 'purchase-leaning
    user' classifiers, one count-based (purchases ≥ clicks) and one
    value-based (exact cent-summed purchase value ≥ click value). The
    test statistic uses ONLY the disagreement cells b and c — raw
    agreement (``eval_cohens_kappa``'s po) cannot distinguish
    'classifiers disagree symmetrically' from 'one is biased'; McNemar
    can. Continuity-corrected chi² = (|b−c|−1)²/(b+c), all-integer in
    micro units (the GREATEST guard keeps b=c at 0, per Edwards 1948).

    Plan shape: one combine-friendly aggregate per user (conditional
    counts and exact cent sums in a single pass over events), one
    4-cell aggregate over users, zero joins, zero shuffles beyond the
    two hash aggregations. Scales to any corpus trivially."""
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (
            F.count(F.when(F.col("event_type") == "purchase", 1))
            >= F.count(F.when(F.col("event_type") == "click", 1))
        ).alias("ra"),
        (
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "purchase",
                        F.floor(F.col("value") * 100).cast("bigint"),
                    )
                ),
                F.lit(0),
            )
            >= F.coalesce(
                F.sum(
                    F.when(
                        F.col("event_type") == "click",
                        F.floor(F.col("value") * 100).cast("bigint"),
                    )
                ),
                F.lit(0),
            )
        ).alias("rb"),
    )
    t = u.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count(F.when(F.col("ra") & F.col("rb"), 1)).alias("both_yes"),
        F.count(F.when(~F.col("ra") & ~F.col("rb"), 1)).alias("both_no"),
        F.count(F.when(F.col("ra") & ~F.col("rb"), 1)).alias("only_a"),
        F.count(F.when(~F.col("ra") & F.col("rb"), 1)).alias("only_b"),
    )
    return t.select(
        "n_users",
        "both_yes",
        "both_no",
        "only_a",
        "only_b",
        F.expr(
            "CASE WHEN only_a + only_b > 0 THEN"
            " (GREATEST(ABS(only_a - only_b) - 1, 0)"
            " * GREATEST(ABS(only_a - only_b) - 1, 0)"
            " * 1000000) DIV (only_a + only_b)"
            " ELSE 0L END"
        ).alias("chi2_cc_micro"),
    )


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
