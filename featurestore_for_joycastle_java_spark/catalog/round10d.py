"""Round-10d additions: three queries rounding out the robust-stats,
seasonality, and graph families — the exact two-sided trimmed mean
(beside median/MAD/IQR/winsorize), autocorrelation-argmax period
detection (beside the fixed-period weekday seasonality queries), and
multi-source BFS closeness centrality (the 6th graph algorithm, beside
single-source BFS / PageRank / HITS / LPA / CC).

Same house rules as ``round10b``/``round10c``: exact integer/micro
arithmetic, identical aliases both sides, sign-factored division where
a quotient can be negative, collapse-to-bounded-frames before any
window or pair stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import load_table


@query(
    "agg_exact_trimmed_mean",
    oracle="""
WITH v AS (
    SELECT event_type, event_id,
           CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v6
    FROM events),
r AS (
    SELECT event_type, v6,
           CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY v6, event_id) AS BIGINT) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
    FROM v),
t AS (
    SELECT event_type, n, n // 10 AS k,
           CAST(SUM(v6) AS BIGINT) AS sum_all,
           CAST(SUM(CASE WHEN rn > n // 10 AND rn <= n - n // 10
                         THEN v6 ELSE 0 END) AS BIGINT) AS sum_mid
    FROM r GROUP BY 1, 2)
SELECT event_type, n, k AS n_trimmed_each_side,
       CAST(CASE WHEN sum_all >= 0 THEN sum_all // n
                 ELSE -((-sum_all) // n) END AS BIGINT) AS mean_micro,
       CAST(CASE WHEN sum_mid >= 0 THEN sum_mid // (n - 2 * k)
                 ELSE -((-sum_mid) // (n - 2 * k)) END AS BIGINT)
           AS trimmed_mean_micro
FROM t
""",
)
def agg_exact_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10% two-sided trimmed mean per event type (Tukey &
    McLaughlin 1963): drop the lowest and highest ⌊n/10⌋ micro-floored
    values (total order via (value, event_id)), average the middle in
    exact integer arithmetic — 21.2% breakdown robustness between the
    median (50%) and the mean (0%). Completes the robust location
    family: median resists everything, the trimmed mean keeps more
    efficiency under clean data, ``feature_winsorize`` CLAMPS where
    this DROPS — the difference matters exactly when the tails carry
    real mass.

    Plan shape: one per-type rank window (partition-parallel), one
    conditional aggregate against the window-carried per-type count —
    no second pass, no percentile UDAF; the full mean comes from the
    same aggregate for a one-scan comparison column."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1000000.0).cast("bigint").alias("v6"),
    )
    w_rank = Window.partitionBy("event_type").orderBy("v6", "event_id")
    w_all = Window.partitionBy("event_type")
    r = v.select(
        "event_type",
        "v6",
        F.row_number().over(w_rank).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(w_all).cast("bigint").alias("n"),
    )
    t = r.groupBy("event_type", "n").agg(
        F.sum("v6").cast("bigint").alias("sum_all"),
        F.sum(
            F.when(
                (F.col("rn") > F.expr("n DIV 10"))
                & (F.col("rn") <= F.col("n") - F.expr("n DIV 10")),
                F.col("v6"),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("sum_mid"),
    )
    return t.select(
        "event_type",
        "n",
        F.expr("n DIV 10").alias("n_trimmed_each_side"),
        F.expr(
            "CAST(CASE WHEN sum_all >= 0 THEN sum_all DIV n"
            " ELSE -((-sum_all) DIV n) END AS BIGINT)"
        ).alias("mean_micro"),
        F.expr(
            "CAST(CASE WHEN sum_mid >= 0"
            " THEN sum_mid DIV (n - 2 * (n DIV 10))"
            " ELSE -((-sum_mid) DIV (n - 2 * (n DIV 10))) END AS BIGINT)"
        ).alias("trimmed_mean_micro"),
    )


@query(
    "ts_autoperiod",
    oracle="""
WITH d AS (
    SELECT event_type, DATE_TRUNC('day', ts) AS day,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY 1, 2),
ser AS (
    SELECT event_type, cnt,
           CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY day) AS BIGINT) AS t
    FROM d),
tot AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(cnt) AS BIGINT) AS s
    FROM ser GROUP BY 1),
den AS (
    SELECT ser.event_type,
           SUM(CAST(ser.cnt * tot.n - tot.s AS HUGEINT)
               * (ser.cnt * tot.n - tot.s)) AS acf_den
    FROM ser JOIN tot USING (event_type) GROUP BY 1),
lags AS (SELECT UNNEST(generate_series(2, 14)) AS l),
num AS (
    SELECT a.event_type, lags.l,
           SUM(CAST(a.cnt * tot.n - tot.s AS HUGEINT)
               * (b.cnt * tot.n - tot.s)) AS acf_num
    FROM ser a
    JOIN tot USING (event_type)
    CROSS JOIN lags
    JOIN ser b ON b.event_type = a.event_type AND b.t = a.t + lags.l
    GROUP BY 1, 2),
ppm AS (
    SELECT num.event_type, num.l,
           CASE WHEN acf_num >= 0
                THEN (acf_num * 1000000) // acf_den
                ELSE -(((-acf_num) * 1000000) // acf_den) END AS acf_ppm
    FROM num JOIN den USING (event_type))
SELECT p.event_type, tot.n AS n_days,
       CAST(p.l AS BIGINT) AS best_lag,
       CAST(p.acf_ppm AS BIGINT) AS best_acf_ppm
FROM (SELECT event_type, l, acf_ppm,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY acf_ppm DESC, l ASC) AS rk
      FROM ppm) p
JOIN tot USING (event_type)
WHERE p.rk = 1
""",
)
def ts_autoperiod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-period detection per event type: the lag l ∈ [2, 14]
    maximizing the autocorrelation of the daily count series, with the
    ACF kept EXACT by n-scaling — numerator Σ(n·x_t − S)(n·x_{t+l} − S)
    and denominator Σ(n·x_t − S)² are exact integers (n·x − S avoids
    the float mean entirely), the ratio sign-factored to ppm, argmax
    tie-broken to the smallest lag. The squared/product sums escalate
    past BIGINT (ADVICE r10): Spark accumulates them in decimal(38,0)
    and the oracle in HUGEINT, because Σc² ≤ n³C² wraps int64 already
    at C ≈ 4×10⁵ events/day/type over a year (n=365); the decimal
    envelope (n³C²·10⁶ < 10³⁸) holds to C ≈ 10¹²/day — unreachable. (This synthetic fixture's daily
    counts are near-exchangeable — best lags land on noise peaks with
    ACF ≈ 0.16–0.36, measured — so the test pins the exact pure-Python
    replay, not a particular lag.) The self-tuning companion
    of ``ts_weekday_seasonality``/``ts_seasonal_residuals``, which
    ASSUME the period; this one finds it, which is what a monitoring
    pipeline needs when the cadence is unknown (hourly vs daily vs
    weekly jobs).

    Plan shape: collapse-first to (type × day); the lag pairing joins
    on the EQUI key (type, t + l = t2) after a cross join against the
    13-row lag frame — work is types × days × lags, calendar-bounded,
    never corpus-sized; one window argmax over types × lags rows."""
    ev = load_table(spark, sf_dir, "events")
    d = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w_t = Window.partitionBy("event_type").orderBy("day")
    ser = d.select(
        "event_type",
        "cnt",
        F.row_number().over(w_t).cast("bigint").alias("t"),
    )
    tot = ser.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cnt").alias("s")
    )
    st = ser.join(F.broadcast(tot), "event_type").select(
        "event_type",
        "t",
        (F.col("cnt") * F.col("n") - F.col("s")).alias("c"),
        "n",
    )
    # st feeds three branches (denominator, both sides of the lag
    # join); materialize the tiny (types x days) frame once so the
    # day-rollup subtree isn't re-planned per branch — the
    # single-reference discipline from the triangles/rfm restructures
    st = st.localCheckpoint(eager=True)
    # c ≤ n·C fits bigint comfortably; the SQUARED sums do not (n³C²),
    # so the products run in decimal(18,0)² → decimal(37,0), summed to
    # decimal(38,0) — the eval_auc_delong_se escalation pattern.
    den = st.groupBy("event_type").agg(
        F.sum(
            F.col("c").cast("decimal(18,0)")
            * F.col("c").cast("decimal(18,0)")
        ).alias("acf_den")
    )
    lags = spark.range(2, 15).select(F.col("id").alias("l"))
    a = st.select(
        "event_type", "t", F.col("c").alias("ca")
    ).crossJoin(F.broadcast(lags)).select(
        "event_type", "l", (F.col("t") + F.col("l")).alias("t2"), "ca"
    )
    b = st.select(
        F.col("event_type").alias("__et"),
        F.col("t").alias("__tb"),
        F.col("c").alias("cb"),
    )
    num = (
        a.join(
            b,
            (F.col("event_type") == F.col("__et"))
            & (F.col("t2") == F.col("__tb")),
        )
        .groupBy("event_type", "l")
        .agg(
            F.sum(
                F.col("ca").cast("decimal(18,0)")
                * F.col("cb").cast("decimal(18,0)")
            ).alias("acf_num")
        )
    )
    ppm = num.join(F.broadcast(den), "event_type").select(
        "event_type",
        "l",
        F.expr(
            "CASE WHEN acf_num >= 0 THEN (acf_num * 1000000) DIV acf_den"
            " ELSE -(((-acf_num) * 1000000) DIV acf_den) END"
        ).alias("acf_ppm"),
    )
    best = (
        ppm.groupBy("event_type")
        .agg(
            F.max(
                F.struct(F.col("acf_ppm"), (-F.col("l")).alias("nl"))
            ).alias("m")
        )
        .select(
            "event_type",
            (-F.col("m.nl")).cast("bigint").alias("best_lag"),
            F.col("m.acf_ppm").cast("bigint").alias("best_acf_ppm"),
        )
    )
    return best.join(F.broadcast(tot), "event_type").select(
        "event_type",
        F.col("n").alias("n_days"),
        "best_lag",
        "best_acf_ppm",
    )


#: BFS depth bound shared by the engine loop and the oracle's recursive
#: CTE, so an eccentricity > 30 under a future fixture truncates both
#: sides at the same depth instead of making them silently diverge.
_CLOSENESS_MAX_HOPS = 30


def _closeness_oracle(max_hops: int) -> str:
    """Depth-capped recursive-CTE replay of the simultaneous 8-source
    BFS + Wasserman-Faust closeness assembly."""
    return f"""
WITH RECURSIVE
bip AS (
    SELECT DISTINCT l_partkey AS p, l_suppkey AS s
    FROM lineitem WHERE l_quantity >= 49.0),
e AS (
    SELECT a.s AS u, b.s AS v
    FROM bip a JOIN bip b ON a.p = b.p AND a.s < b.s
    GROUP BY 1, 2),
dir AS (
    SELECT u AS src, v AS dst FROM e
    UNION ALL
    SELECT v AS src, u AS dst FROM e),
nodes AS (SELECT DISTINCT src AS node FROM dir),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM nodes),
srcs AS (SELECT node AS root FROM nodes ORDER BY node LIMIT 8),
walk AS (
    SELECT root, root AS node, 0 AS hops FROM srcs
    UNION
    SELECT w.root, d.dst AS node, w.hops + 1 AS hops
    FROM walk w JOIN dir d ON d.src = w.node
    WHERE w.hops < {max_hops}),
dist AS (
    SELECT root, node, CAST(MIN(hops) AS BIGINT) AS h
    FROM walk GROUP BY 1, 2),
agg AS (
    SELECT root,
           CAST(COUNT(*) - 1 AS BIGINT) AS n_reached,
           CAST(SUM(h) AS BIGINT) AS sum_dist
    FROM dist GROUP BY 1)
SELECT agg.root, agg.n_reached, agg.sum_dist,
       CAST(CASE WHEN agg.sum_dist > 0 AND nn.n > 1
            THEN (agg.n_reached * agg.n_reached * 1000000)
                 // ((nn.n - 1) * agg.sum_dist)
            ELSE 0 END AS BIGINT) AS closeness_micro
FROM agg, nn
"""


@query(
    "graph_closeness_multi_bfs",
    oracle=_closeness_oracle(_CLOSENESS_MAX_HOPS),
)
def graph_closeness_multi_bfs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closeness centrality (Bavelas 1950; Wasserman & Faust 1994's
    disconnected-graph correction) for the 8 smallest-keyed suppliers
    in the co-supply graph, by SIMULTANEOUS multi-source BFS: the
    visited set is keyed (root, node), so all 8 frontiers expand in the
    same per-round join — one traversal instead of eight, the batching
    a 1000-executor run wants (Pregel with composite vertex state).
    closeness = ((r−1)/(n−1)) · ((r−1)/Σd) in exact integer micro
    units, where r counts reached nodes and Σd sums hop distances —
    the WF correction keeps disconnected components comparable.

    The traversal is ``operators.graphs.bfs``, bounded by the same
    ``_CLOSENESS_MAX_HOPS`` the oracle's recursive CTE uses, so the two
    sides can never silently diverge on a deeper fixture. The oracle
    replays the same bounded walk as one recursive CTE over
    (root, node, hops)."""
    from featurestore_for_joycastle_java_spark.operators.graphs import (
        bfs,
        cosupply_edges,
        degrees,
    )

    e = cosupply_edges(spark, sf_dir).localCheckpoint(eager=True)
    nodes = degrees(e).select(F.col("x").alias("node")).localCheckpoint(eager=True)
    n_nodes = nodes.count()
    roots = nodes.orderBy("node").limit(8).select(F.col("node").alias("root"))
    visited = bfs(e, roots, _CLOSENESS_MAX_HOPS)
    agg = visited.groupBy("root").agg(
        (F.count(F.lit(1)) - 1).cast("bigint").alias("n_reached"),
        F.sum("hops").cast("bigint").alias("sum_dist"),
    )
    return agg.select(
        "root",
        "n_reached",
        "sum_dist",
        F.expr(
            "CAST(CASE WHEN sum_dist > 0 AND "
            f"{n_nodes} > 1"
            " THEN (n_reached * n_reached * 1000000)"
            f" DIV (({n_nodes} - 1) * sum_dist)"
            " ELSE 0 END AS BIGINT)"
        ).alias("closeness_micro"),
    )
