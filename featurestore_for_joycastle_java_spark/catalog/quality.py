"""Data-quality, profiling and diagnostics queries (SURVEY.md §2.2, §2.3):
column profiles, null/validity rates, drift (PSI, JS), freshness SLAs,
outliers, and the pipeline's own diagnostic counters."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from featurestore_for_joycastle_java_spark.catalog.features import (
    _events_us,
    _split_mid,
)
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import load_table


@query(
    "quality_constraint_checks",
    oracle="""
SELECT * FROM (
SELECT 'events.event_id unique' AS constraint_name,
       CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS n_violations
FROM events
UNION ALL
SELECT 'events.user_id not null',
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
FROM events
UNION ALL
SELECT 'events.value in [0, 1000)',
       CAST(SUM(CASE WHEN value < 0 OR value >= 1000 THEN 1 ELSE 0 END)
            AS BIGINT)
FROM events
UNION ALL
SELECT 'orders.o_custkey references customer',
       CAST(COUNT(*) AS BIGINT)
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_custkey IS NULL
) t
""",
)
def quality_constraint_checks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality gate — the validation pass a feature
    store runs before publishing a table: uniqueness, non-null, value
    range, and referential integrity, each as one aggregate returning a
    violation count (0 = constraint holds; the driver's value hash pins
    every count). Shapes: uniqueness = count vs distinct (one shuffle),
    RI = left-anti against the broadcastable dimension — all
    constant-output regardless of fact size, so the gate costs one scan
    per table at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    u = ev.agg(
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias("n_violations")
    ).select(
        F.lit("events.event_id unique").alias("constraint_name"), "n_violations"
    )
    nn = ev.agg(
        F.sum(F.col("user_id").isNull().cast("long")).alias("n_violations")
    ).select(
        F.lit("events.user_id not null").alias("constraint_name"), "n_violations"
    )
    rng = ev.agg(
        F.sum(
            ((F.col("value") < 0) | (F.col("value") >= 1000)).cast("long")
        ).alias("n_violations")
    ).select(
        F.lit("events.value in [0, 1000)").alias("constraint_name"),
        "n_violations",
    )
    ri = (
        orders.join(
            F.broadcast(cust),
            orders.o_custkey == cust.c_custkey,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_violations"))
        .select(
            F.lit("orders.o_custkey references customer").alias(
                "constraint_name"
            ),
            "n_violations",
        )
    )
    return u.unionByName(nn).unionByName(rng).unionByName(ri)


@query(
    "profile_events_columns",
    # Column profiling with CROSS-ENGINE-EXACT numbers: null counts and
    # distinct counts are integers; min/max of value are exact doubles;
    # no averages of floats (engine-order-dependent) — the profile is
    # hash-comparable without tolerance.
    oracle="""
SELECT 'event_id' AS column_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_nulls,
       CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
       CAST(MIN(event_id) AS DOUBLE) AS min_value,
       CAST(MAX(event_id) AS DOUBLE) AS max_value
FROM events
UNION ALL
SELECT 'user_id', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT user_id) AS BIGINT),
       CAST(MIN(user_id) AS DOUBLE), CAST(MAX(user_id) AS DOUBLE)
FROM events
UNION ALL
SELECT 'value', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       CAST(COUNT(DISTINCT value) AS BIGINT),
       CAST(MIN(value) AS DOUBLE), CAST(MAX(value) AS DOUBLE)
FROM events
""",
)
def profile_events_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column profiler (the DESCRIBE-EXTENDED/data-card pass): per
    numeric column — rows, nulls, exact distinct, min, max. One
    aggregation pass per column over the same cached scan; outputs are
    integers and exact extrema, so the profile hash-matches across
    engines with no tolerance."""
    ev = load_table(spark, sf_dir, "events").cache()

    def prof(col: str) -> DataFrame:
        return ev.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col(col).isNull().cast("long")).alias("n_nulls"),
            F.countDistinct(col).alias("n_distinct"),
            F.min(F.col(col)).cast("double").alias("min_value"),
            F.max(F.col(col)).cast("double").alias("max_value"),
        ).select(
            F.lit(col).alias("column_name"),
            "n_rows",
            "n_nulls",
            "n_distinct",
            "min_value",
            "max_value",
        )

    return prof("event_id").unionByName(prof("user_id")).unionByName(
        prof("value")
    )


@query(
    "quality_psi_drift",
    # Per-(type, bucket) PSI terms — deliberately NOT summed across
    # buckets: the per-bucket term is round(double-expr, 6) of integer
    # counts (deterministic in both engines), whereas a cross-bucket
    # float SUM would be addition-order-dependent. Laplace smoothing
    # (+0.5 per bucket) keeps empty buckets finite.
    oracle="""
WITH e AS (
    SELECT event_type, value, epoch_us(ts) AS t
    FROM events WHERE value IS NOT NULL),
m AS (SELECT MIN(t) + (MAX(t) - MIN(t)) // 2 AS mid FROM e),
a AS (
    SELECT event_type, CAST(FLOOR(value / 5.0) AS BIGINT) AS bucket,
           COUNT(*) AS n_base
    FROM e, m WHERE t < mid GROUP BY 1, 2),
b AS (
    SELECT event_type, CAST(FLOOR(value / 5.0) AS BIGINT) AS bucket,
           COUNT(*) AS n_curr
    FROM e, m WHERE t >= mid GROUP BY 1, 2),
j AS (
    SELECT COALESCE(a.event_type, b.event_type) AS event_type,
           COALESCE(a.bucket, b.bucket) AS bucket,
           COALESCE(n_base, 0) AS n_base,
           COALESCE(n_curr, 0) AS n_curr
    FROM a FULL JOIN b ON a.event_type = b.event_type
                      AND a.bucket = b.bucket),
t AS (
    SELECT *,
           SUM(n_base) OVER w AS tot_a,
           SUM(n_curr) OVER w AS tot_b,
           COUNT(*) OVER w AS nb
    FROM j WINDOW w AS (PARTITION BY event_type))
SELECT event_type, bucket, n_base, n_curr,
       ROUND(((CAST(n_base AS DOUBLE) + 0.5)
                  / (CAST(tot_a AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE))
              - (CAST(n_curr AS DOUBLE) + 0.5)
                  / (CAST(tot_b AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE)))
             * LN(((CAST(n_base AS DOUBLE) + 0.5)
                       / (CAST(tot_a AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE)))
                  / ((CAST(n_curr AS DOUBLE) + 0.5)
                       / (CAST(tot_b AS DOUBLE) + 0.5 * CAST(nb AS DOUBLE)))),
             6) AS psi_term
FROM t
""",
)
def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor: the value distribution
    of each event type in the FIRST half of the time range vs the
    SECOND half, as per-(type, value-bucket) PSI terms
    ``(p - q) * ln(p / q)`` with Laplace-smoothed bucket fractions —
    the standard train/serve data-drift check on a feature pipeline.

    Shape: two bucket-count aggregations (map-side combined; the
    shuffle carries one row per (type, bucket), not per event), a
    full-outer join of the two tiny bucket frames, and per-type totals
    via a window over the BUCKET-level frame (hundreds of rows at any
    data scale). The fact table is scanned twice and aggregated —
    nothing row-level ever joins or windows."""
    e = _events_us(spark, sf_dir).filter(F.col("value").isNotNull())
    before, after = _split_mid(e)
    bucket = F.floor(F.col("value") / 5.0).alias("bucket")
    a = before.groupBy("event_type", bucket).agg(
        F.count(F.lit(1)).alias("n_base")
    )
    b = after.groupBy("event_type", bucket).agg(
        F.count(F.lit(1)).alias("n_curr")
    )
    j = (
        a.join(b, ["event_type", "bucket"], "full")
        .withColumn("n_base", F.coalesce("n_base", F.lit(0)))
        .withColumn("n_curr", F.coalesce("n_curr", F.lit(0)))
    )
    w = Window.partitionBy("event_type")
    t = j.select(
        "event_type",
        "bucket",
        "n_base",
        "n_curr",
        F.sum("n_base").over(w).alias("tot_a"),
        F.sum("n_curr").over(w).alias("tot_b"),
        F.count(F.lit(1)).over(w).alias("nb"),
    )
    nb_d = F.col("nb").cast("double")
    p = (F.col("n_base").cast("double") + 0.5) / (
        F.col("tot_a").cast("double") + 0.5 * nb_d
    )
    q = (F.col("n_curr").cast("double") + 0.5) / (
        F.col("tot_b").cast("double") + 0.5 * nb_d
    )
    return t.select(
        "event_type",
        "bucket",
        "n_base",
        "n_curr",
        F.round((p - q) * F.log(p / q), 6).alias("psi_term"),
    )


@query(
    "profile_key_skew",
    oracle="""
WITH c AS (
    SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1)
SELECT CAST(SUM(n) AS BIGINT) AS n_rows,
       COUNT(*) AS n_keys,
       MAX(n) AS max_cnt,
       ROUND(CAST(SUM(n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS avg_cnt,
       ROUND(CAST(MAX(n) AS DOUBLE) * CAST(COUNT(*) AS DOUBLE)
             / CAST(SUM(n) AS DOUBLE), 6) AS skew_ratio,
       (SELECT MIN(o_custkey) FROM c WHERE n = (SELECT MAX(n) FROM c))
           AS hot_key
FROM c
""",
)
def profile_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join/shuffle-key skew diagnostic for ``orders.o_custkey``: row
    and key counts, the hottest key's share vs a uniform spread
    (skew_ratio = max/avg), and the hot key itself (deterministic min on
    count ties). This is the measurement that decides between a plain
    shuffle join, salting, and AQE skew handling — the repo's salted
    operators assume it. One count-by-key pass plus a single-row
    summary; the hot key falls out of the same min-struct trick as
    ``agg_mode_per_group``, so no second pass and nothing but one row
    ever leaves the aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    c = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    s = c.agg(
        F.sum("n").alias("n_rows"),
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_cnt"),
        F.min(
            F.struct(
                (-F.col("n")).alias("neg_n"),
                F.col("o_custkey").alias("k"),
            )
        ).alias("s"),
    )
    return s.select(
        "n_rows",
        "n_keys",
        "max_cnt",
        F.round(
            F.col("n_rows").cast("double") / F.col("n_keys").cast("double"),
            6,
        ).alias("avg_cnt"),
        F.round(
            F.col("max_cnt").cast("double")
            * F.col("n_keys").cast("double")
            / F.col("n_rows").cast("double"),
            6,
        ).alias("skew_ratio"),
        F.col("s.k").alias("hot_key"),
    )


@query(
    "quality_anomaly_mad",
    # All arithmetic on floor(value·1e6) BIGINTs: medians interpolate
    # integers (or exact-half devs) at factor 0.5 → dyadic doubles,
    # exactly representable in both engines; 3·1.4826 enters as one
    # double literal so the threshold multiply is a single identical
    # IEEE op. (quantile_cont's a+(b-a)·0.5 equals (a+b)/2 exactly for
    # same-scale dyadics — no formula-difference hazard.)
    oracle="""
WITH e AS (
    SELECT event_type,
           CAST(FLOOR(value * 1000000.0) AS BIGINT) AS v6
    FROM events),
m AS (
    SELECT event_type, quantile_cont(v6, 0.5) AS med6
    FROM e GROUP BY 1),
d AS (
    SELECT e.event_type, ABS(e.v6 - m.med6) AS dev6, m.med6
    FROM e JOIN m USING (event_type)),
md AS (
    SELECT event_type, quantile_cont(dev6, 0.5) AS mad6
    FROM d GROUP BY 1)
SELECT d.event_type,
       ANY_VALUE(d.med6) / 1000000.0 AS median_v,
       ANY_VALUE(md.mad6) / 1000000.0 AS mad_v,
       CAST(SUM(CASE WHEN d.dev6 > 4.4478 * md.mad6 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers
FROM d JOIN md USING (event_type)
GROUP BY 1
""",
)
def quality_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection per event type: median / MAD instead of
    mean / stddev (one extreme value cannot drag the threshold — the
    z-score detector's known blind spot, complementing
    ``feature_anomaly_zscore``). Flags |x − median| > 3·1.4826·MAD
    (1.4826 scales MAD to σ under normality). Two grouped exact medians
    over ≤|types| partitions with tiny broadcast stats frames between —
    no fact-table window; scaled-integer values keep every median and
    threshold bit-deterministic (see oracle note)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value") * F.lit(1e6)).cast("bigint").alias("v6"),
    )
    m = ev.groupBy("event_type").agg(
        F.percentile("v6", F.lit(0.5)).alias("med6")
    )
    d = ev.join(F.broadcast(m), "event_type").select(
        "event_type", "med6", F.abs(F.col("v6") - F.col("med6")).alias("dev6")
    )
    md = d.groupBy("event_type").agg(
        F.percentile("dev6", F.lit(0.5)).alias("mad6")
    )
    return (
        d.join(F.broadcast(md), "event_type")
        .groupBy("event_type")
        .agg(
            (F.any_value("med6") / F.lit(1e6)).alias("median_v"),
            (F.any_value("mad6") / F.lit(1e6)).alias("mad_v"),
            F.sum(
                F.when(
                    F.col("dev6") > F.lit(4.4478) * F.col("mad6"), 1
                ).otherwise(0)
            ).alias("n_outliers"),
        )
    )


@query(
    "quality_k_anonymity",
    oracle="""
WITH g AS (
    SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
    FROM customer GROUP BY 1, 2)
SELECT COUNT(*) AS n_groups,
       MIN(n) AS min_group_size,
       CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_small_groups,
       CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
           AS n_rows_at_risk
FROM g
""",
)
def quality_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over the quasi-identifier pair (nation, market
    segment): how many equivalence classes fall under k=5, and how many
    rows sit in them — the re-identification risk measurement that
    gates sharing a 'de-identified' extract (pseudonymized ids,
    `quality_pii_pseudonymize`, do NOT protect rows whose QI combination
    is near-unique). One map-side-combined groupBy + a one-row summary;
    generalization/suppression decisions consume this measurement."""
    cust = load_table(spark, sf_dir, "customer")
    g = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("n").alias("min_group_size"),
        F.sum(F.when(F.col("n") < 5, 1).otherwise(0)).alias(
            "n_small_groups"
        ),
        F.sum(F.when(F.col("n") < 5, F.col("n")).otherwise(0)).alias(
            "n_rows_at_risk"
        ),
    )


@query(
    "quality_ks_drift",
    # KS distance without a single float comparison: sup|F1−F2| =
    # max|cum1·n2 − cum2·n1| / (n1·n2) — the max is over exact integer
    # cross-products on the distinct-value frame; one division at the
    # end. Split = first vs second half of the observed time range (the
    # PSI monitor's convention).
    oracle="""
WITH b AS (
    SELECT MIN(epoch_us(ts)) AS lo, MAX(epoch_us(ts)) AS hi FROM events),
e AS (
    SELECT value AS v,
           CASE WHEN epoch_us(ts) * 2 < b.lo + b.hi THEN 0 ELSE 1 END
               AS half
    FROM events, b),
g AS (
    SELECT v,
           CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS c1,
           CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c2
    FROM e GROUP BY 1),
c AS (
    SELECT SUM(c1) OVER (ORDER BY v) AS cum1,
           SUM(c2) OVER (ORDER BY v) AS cum2
    FROM g),
n AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c2) AS BIGINT) AS n2 FROM g)
SELECT n.n1 AS n_first,
       n.n2 AS n_second,
       CAST(MAX(ABS(c.cum1 * n.n2 - c.cum2 * n.n1)) AS BIGINT) AS ks_num,
       CAST(MAX(ABS(c.cum1 * n.n2 - c.cum2 * n.n1)) AS DOUBLE)
           / (CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE)) AS ks_stat
FROM c, n
GROUP BY n.n1, n.n2
""",
)
def quality_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kolmogorov-Smirnov drift statistic for the value distribution,
    first half vs second half of the time range — the distribution-free
    companion to the binned PSI monitor (`quality_psi_drift`): PSI needs
    bucket choices, KS is the exact sup-distance between the two
    empirical CDFs. Same scale shape as the AUC screen: collapse to the
    distinct-value frame first, cumulate there, and keep the sup-search
    in integer cross-products (|cum1·n2 − cum2·n1|) so the max is exact
    — floats appear only in the final division."""
    ev = load_table(spark, sf_dir, "events").select(
        "value", F.unix_micros(F.col("ts")).alias("t")
    )
    b = ev.agg(
        F.min("t").alias("lo"), F.max("t").alias("hi")
    )
    e = ev.crossJoin(F.broadcast(b)).select(
        F.col("value").alias("v"),
        F.when(
            F.col("t") * 2 < F.col("lo") + F.col("hi"), 0
        )
        .otherwise(1)
        .alias("half"),
    )
    g = e.groupBy("v").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c2"),
    )
    w = Window.orderBy("v")
    c = g.select(
        F.sum("c1").over(w).alias("cum1"),
        F.sum("c2").over(w).alias("cum2"),
    )
    n = g.agg(F.sum("c1").alias("n1"), F.sum("c2").alias("n2"))
    # cross-products in DECIMAL(38,0) (DuckDB side rides HUGEINT): at
    # extreme row counts cum·n exceeds int64, and Spark would overflow
    # silently under ANSI-off
    num = F.abs(
        F.col("cum1").cast("decimal(38,0)") * F.col("n2")
        - F.col("cum2").cast("decimal(38,0)") * F.col("n1")
    )
    return (
        c.crossJoin(F.broadcast(n))
        .groupBy("n1", "n2")
        .agg(F.max(num).cast("bigint").alias("ks_num"))
        .select(
            F.col("n1").alias("n_first"),
            F.col("n2").alias("n_second"),
            "ks_num",
            (
                F.col("ks_num").cast("double")
                / (F.col("n1").cast("double") * F.col("n2").cast("double"))
            ).alias("ks_stat"),
        )
    )


@query(
    "quality_pii_pseudonymize",
    # DuckDB regexp_replace is single-match unless the 'g' flag is
    # passed; Spark's is global-by-default — the flag keeps them equal.
    oracle="""
SELECT c_custkey,
       regexp_replace(c_name, '[0-9]+', '<ID>', 'g') AS masked_name,
       md5(c_name) AS name_token,
       LEN(regexp_replace(c_name, '[^0-9]', '', 'g')) AS n_digits
FROM customer
""",
)
def quality_pii_pseudonymize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Direct-identifier hygiene for shared corpora: mask digit runs in
    the name (safe display form), emit a deterministic md5 surrogate
    (joinable across tables without exposing the identifier), and count
    masked digits (the redaction audit metric). All engine-native string
    ops — stateless, shuffle-free, and the surrogate keeps referential
    integrity for downstream feature joins. In production the token
    would be keyed HMAC; md5 here keeps the pipeline shape while staying
    oracle-replayable."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.regexp_replace("c_name", "[0-9]+", "<ID>").alias("masked_name"),
        F.md5(F.col("c_name").cast("binary")).alias("name_token"),
        F.length(F.regexp_replace("c_name", "[^0-9]", "")).alias(
            "n_digits"
        ),
    )


# --------------------------------------------------------------- quality


_BENFORD_PPM = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]


@query(
    "quality_benford_digits",
    # Benford expectations log10(1+1/d) are pre-computed integer ppm
    # LITERALS (no log10 at query time — transcendental results differ
    # across engines); shares are integer ppm floors.
    oracle="""
WITH d AS (
    SELECT CAST(substr(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT)
                            AS VARCHAR), 1, 1) AS BIGINT) AS digit
    FROM lineitem),
c AS (
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1),
t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
SELECT c.digit, c.n,
       CAST(c.n * 1000000 // t.total AS BIGINT) AS share_ppm,
       CAST(CASE c.digit
            WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
            WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
            WHEN 7 THEN 57992 WHEN 8 THEN 51153 ELSE 45757
            END AS BIGINT) AS benford_ppm,
       CAST(ABS(c.n * 1000000 // t.total
                - CASE c.digit
                  WHEN 1 THEN 301030 WHEN 2 THEN 176091 WHEN 3 THEN 124939
                  WHEN 4 THEN 96910 WHEN 5 THEN 79181 WHEN 6 THEN 66947
                  WHEN 7 THEN 57992 WHEN 8 THEN 51153 ELSE 45757
                  END) AS BIGINT) AS dev_ppm
FROM c CROSS JOIN t
""",
)
def quality_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of extended price — the
    fraud/synthetic-data screen: organically-generated positive amounts
    follow P(d) = log10(1+1/d); flat or spiked digit distributions
    flag fabricated or clamped data (here the TPC-H price formula
    itself fails Benford — which is the point of the audit: it DETECTS
    synthetic generation). Expectations are pre-computed integer-ppm
    constants (no log10 at query time — libm transcendentals differ
    across engines); observed shares are integer ppm floors.

    Scale shape: one map-side-combined groupBy to a 9-row frame; the
    total attaches by broadcast. One fact pass, 9 output rows, at any
    scale."""
    d = load_table(spark, sf_dir, "lineitem").select(
        F.substring(
            F.floor("l_extendedprice").cast("bigint").cast("string"), 1, 1
        )
        .cast("bigint")
        .alias("digit")
    )
    c = d.groupBy("digit").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    t = c.agg(F.sum("n").cast("bigint").alias("total"))
    bexp = F.element_at(
        F.array(*[F.lit(v).cast("bigint") for v in _BENFORD_PPM]),
        F.col("digit").cast("int"),
    )
    share = F.expr("n * 1000000 DIV total").cast("bigint")
    return (
        c.crossJoin(F.broadcast(t))
        .select(
            "digit",
            "n",
            share.alias("share_ppm"),
            bexp.alias("benford_ppm"),
            F.abs(share - bexp).cast("bigint").alias("dev_ppm"),
        )
    )


# --------------------------------------------------------------- quality


@query(
    "quality_freshness_sla",
    # Integer minute lags between each source's newest event and the
    # globally freshest one; the SLA verdict is a plain integer compare.
    # Lag = (epoch_us(global) − epoch_us(last)) DIV 60e6 — ELAPSED
    # minutes, identical on both engines; DuckDB's date_diff('minute')
    # counts minute-BOUNDARY crossings instead and is avoided.
    oracle="""
WITH m AS (
    SELECT event_type, MAX(ts) AS last_ts FROM events GROUP BY 1),
g AS (SELECT MAX(last_ts) AS global_ts FROM m)
SELECT m.event_type,
       strftime(m.last_ts, '%Y-%m-%d %H:%M:%S') AS last_event,
       CAST((epoch_us(g.global_ts) - epoch_us(m.last_ts)) // 60000000
            AS BIGINT) AS lag_minutes,
       CAST(CASE WHEN (epoch_us(g.global_ts) - epoch_us(m.last_ts))
                      // 60000000 <= 120
            THEN 1 ELSE 0 END AS BIGINT) AS sla_ok
FROM m CROSS JOIN g
""",
)
def quality_freshness_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source freshness lag: how far each event type's newest event
    trails the globally freshest one, with a 2-hour SLA verdict — the
    first dashboard a data-ops oncall reads (a silent upstream is
    invisible to row-level quality checks; it shows up ONLY as
    staleness). Integer minute arithmetic on identical timestamps;
    timestamps rendered as strings at the boundary (the repo's date
    discipline).

    Scale shape: one map-side-combined MAX per source; the global max
    is an aggregate of that |sources|-row frame attached by broadcast.
    One fact pass."""
    m = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.max("ts").alias("last_ts"))
    )
    g = m.agg(F.max("last_ts").alias("global_ts"))
    lag = F.expr(
        "(unix_micros(global_ts) - unix_micros(last_ts)) DIV 60000000"
    )
    return m.crossJoin(F.broadcast(g)).select(
        "event_type",
        F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_event"),
        lag.cast("bigint").alias("lag_minutes"),
        F.when(lag <= 120, 1).otherwise(0).cast("bigint").alias("sla_ok"),
    )


# ---------------------------------------------------------------------------
# Single-pass table profiler
# ---------------------------------------------------------------------------


_PROFILE_COLS = [
    # (name, kind) — kind picks which min/max lane the column reports in.
    ("o_orderkey", "num"),
    ("o_custkey", "num"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "num"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _profile_oracle() -> str:
    parts = []
    for c, kind in _PROFILE_COLS:
        if kind == "num":
            mn = f"ROUND(CAST(MIN({c}) AS DOUBLE), 6)"
            mx = f"ROUND(CAST(MAX({c}) AS DOUBLE), 6)"
            ms = "CAST(NULL AS VARCHAR)"
            xs = "CAST(NULL AS VARCHAR)"
        elif kind == "ts":
            mn = "CAST(NULL AS DOUBLE)"
            mx = "CAST(NULL AS DOUBLE)"
            ms = f"strftime(MIN({c}), '%Y-%m-%d %H:%M:%S')"
            xs = f"strftime(MAX({c}), '%Y-%m-%d %H:%M:%S')"
        else:
            mn = "CAST(NULL AS DOUBLE)"
            mx = "CAST(NULL AS DOUBLE)"
            ms = f"MIN({c})"
            xs = f"MAX({c})"
        parts.append(
            f"SELECT '{c}' AS column_name, COUNT(*) AS n_rows,\n"
            f"       COUNT(*) - COUNT({c}) AS n_nulls,\n"
            f"       COUNT(DISTINCT {c}) AS n_distinct,\n"
            f"       {mn} AS min_num, {mx} AS max_num,\n"
            f"       {ms} AS min_str, {xs} AS max_str\n"
            f"FROM orders"
        )
    return "\nUNION ALL\n".join(parts) + "\nORDER BY column_name"


@query("profile_table_stats", oracle=_profile_oracle())
def profile_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan table profiler — the data-quality summary every
    ingestion pipeline runs before training (per-column row/null/distinct
    counts plus typed min/max), computed in ONE scan of the table.

    Shape: unpivot each row to one (column_name, value) entry per
    profiled column map-side (the ``stack``/explode long form), then
    aggregate in TWO hash levels — level 1 groups by (column, canonical
    value key) so duplicates collapse under map-side combine, level 2
    reduces the |columns| x |distinct| frame to one row per column
    (n_rows = Σcnt, n_nulls = Σcnt over null keys, n_distinct = row
    count, min/max = min/max of the per-value typed lanes). Every stage
    is partially aggregated (map-side combined) and fully parallel —
    the string-typed min/max lanes make Spark pick SortAggregate over
    HashAggregate, but that sort is per-partition over combined
    partials, not a single-task barrier.

    Why not one wide agg with N ``count(distinct)``? Catalyst rewrites
    multiple distinct aggregates via Expand(xN+1) feeding a
    SINGLE-PARTITION SortAggregate — measured 5.4 s at sf0.1 vs 2.7 s
    for this shape, and at 100 TB that final single-task sort over the
    expanded fact is the "last reducer" scale-killer. The two-level
    form shuffles only per-task-distinct partial rows and its final
    stages see |columns| x |distinct| and |columns| rows respectively.
    (The ~2 %-error one-liner alternative stays
    ``approx_count_distinct`` in a plain wide agg.)

    Canonical value key: ``CAST(value AS STRING)`` — injective per
    column (long/double/timestamp/string renderings are value-faithful
    in Spark 3+), so level-2 ``count(dk)`` equals the exact
    ``COUNT(DISTINCT col)``. Floating columns add ``+ 0.0`` first:
    IEEE addition of +0.0 is exact for every value but normalizes -0.0
    to +0.0, matching how Spark's own aggregation keys (and DuckDB's
    DISTINCT) treat the two zeros as one value — without it the string
    keys '-0.0'/'0.0' would double-count. (All NaNs render as one
    'NaN' string, which already matches grouping semantics.)

    Reference scope: the reference pipeline has no profiler; this is the
    north-star data-pipeline surface (SURVEY.md §2.3 family).
    """
    t = load_table(spark, sf_dir, "orders")
    # null lanes cast to the COLUMN's actual type (the fixture's
    # o_orderdate is TIMESTAMP_NTZ — a bare "timestamp" null would force
    # an implicit NTZ->TZ coercion inside the array unification, making
    # the rendered min/max session-timezone-dependent)
    ts_type = next(
        t.schema[c].dataType for c, kind in _PROFILE_COLS if kind == "ts"
    )
    entries = []
    for c, kind in _PROFILE_COLS:
        col = F.col(c)
        is_float = t.schema[c].dataType.simpleString() in ("double", "float")
        dk = (col + F.lit(0.0)) if is_float else col
        entries.append(
            F.struct(
                F.lit(c).alias("column_name"),
                dk.cast("string").alias("dk"),
                (
                    col.cast("double")
                    if kind == "num"
                    else F.lit(None).cast("double")
                ).alias("vnum"),
                (col if kind == "ts" else F.lit(None).cast(ts_type)).alias(
                    "vts"
                ),
                (
                    col if kind == "str" else F.lit(None).cast("string")
                ).alias("vstr"),
            )
        )
    long_form = t.select(
        F.explode(F.array(*entries)).alias("e")
    ).select("e.*")

    # level 1: one row per (column, distinct value) — map-side combine
    # collapses repeats before the shuffle; the typed lanes are constant
    # per key, so min == the value itself
    per_value = long_form.groupBy("column_name", "dk").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.min("vnum").alias("vnum"),
        F.min("vts").alias("vts"),
        F.min("vstr").alias("vstr"),
    )

    # level 2: |columns| groups — trivially small at any scale
    stats = per_value.groupBy("column_name").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("dk").isNull(), F.col("cnt"))), F.lit(0)
        )
        .cast("long")
        .alias("n_nulls"),
        F.count("dk").alias("n_distinct"),
        F.round(F.min("vnum"), 6).alias("min_num"),
        F.round(F.max("vnum"), 6).alias("max_num"),
        F.min("vts").alias("__mn_ts"),
        F.max("vts").alias("__mx_ts"),
        F.min("vstr").alias("__mn_str"),
        F.max("vstr").alias("__mx_str"),
    )

    ts_cols = [c for c, kind in _PROFILE_COLS if kind == "ts"]
    is_ts = F.col("column_name").isin(ts_cols)
    return stats.select(
        "column_name",
        "n_rows",
        "n_nulls",
        "n_distinct",
        "min_num",
        "max_num",
        F.when(is_ts, F.date_format("__mn_ts", "yyyy-MM-dd HH:mm:ss"))
        .otherwise(F.col("__mn_str"))
        .alias("min_str"),
        F.when(is_ts, F.date_format("__mx_ts", "yyyy-MM-dd HH:mm:ss"))
        .otherwise(F.col("__mx_str"))
        .alias("max_str"),
    ).orderBy("column_name")


# ---------------------------------------------------------------------------
# Data-quality expectations + join-key skew diagnostic
# ---------------------------------------------------------------------------


@query(
    "quality_expectations",
    oracle="""
SELECT * FROM (
SELECT 'completeness_custkey' AS rule, COUNT(*) AS n_rows,
       CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT) AS n_violations,
       COUNT(*) - COUNT(o_custkey) = 0 AS passed
FROM orders
UNION ALL
SELECT 'unique_orderkey', COUNT(*),
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT),
       COUNT(*) - COUNT(DISTINCT o_orderkey) = 0
FROM orders
UNION ALL
SELECT 'range_totalprice', COUNT(*),
       CAST(SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
                      OR o_totalprice > 600000 THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN o_totalprice IS NULL OR o_totalprice < 0
                 OR o_totalprice > 600000 THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'set_orderstatus', COUNT(*),
       CAST(SUM(CASE WHEN o_orderstatus IS NULL
                      OR o_orderstatus NOT IN ('F','O','P')
                THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN o_orderstatus IS NULL
                 OR o_orderstatus NOT IN ('F','O','P')
           THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'fk_custkey_customer', (SELECT COUNT(*) FROM orders),
       CAST((SELECT COUNT(*) FROM orders o
             LEFT JOIN customer c ON o.o_custkey = c.c_custkey
             WHERE c.c_custkey IS NULL) AS BIGINT),
       (SELECT COUNT(*) FROM orders o
        LEFT JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE c.c_custkey IS NULL) = 0
) ORDER BY rule
""",
)
def quality_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectation suite (the Deequ / Great-Expectations
    pattern): declarative rules evaluated as ONE aggregate pass over the
    fact table — completeness, uniqueness, numeric range, value-set
    membership — plus one referential-integrity check as a broadcast
    anti-join count.

    Scale shape: the four row-local rules share a single scan (each is a
    map-side-combined aggregate expression; the uniqueness rule is the
    only distinct aggregate, so no Expand is planned). The FK rule is a
    LEFT ANTI join from the 100 TB fact to the dimension key set —
    broadcast when the dim fits (here), shuffle-hash on the key
    otherwise; either way the violation COUNT is the only driver-side
    value. Output is one row per rule so a scheduler can gate a pipeline
    on ``passed`` without re-reading anything.
    """
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")

    bad_price = F.when(
        F.col("o_totalprice").isNull()
        | (F.col("o_totalprice") < 0)
        | (F.col("o_totalprice") > 600000),
        1,
    ).otherwise(0)
    bad_status = F.when(
        F.col("o_orderstatus").isNull()
        | ~F.col("o_orderstatus").isin("F", "O", "P"),
        1,
    ).otherwise(0)
    wide = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("v_complete"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey"))
        .cast("long")
        .alias("v_unique"),
        F.sum(bad_price).cast("long").alias("v_range"),
        F.sum(bad_status).cast("long").alias("v_set"),
    )
    local = wide.selectExpr(
        "stack(4, "
        "'completeness_custkey', n, v_complete, "
        "'unique_orderkey', n, v_unique, "
        "'range_totalprice', n, v_range, "
        "'set_orderstatus', n, v_set"
        ") AS (rule, n_rows, n_violations)"
    )
    orphans = (
        orders.join(
            F.broadcast(cust),
            orders.o_custkey == cust.c_custkey,
            "left_anti",
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_violations"))
        .crossJoin(orders.agg(F.count(F.lit(1)).alias("n_rows")))
        .select(
            F.lit("fk_custkey_customer").alias("rule"),
            "n_rows",
            "n_violations",
        )
    )
    return (
        local.unionByName(orphans)
        .withColumn("passed", F.col("n_violations") == 0)
        .orderBy("rule")
    )


@query(
    "diag_key_skew",
    oracle="""
WITH per_key AS (
    SELECT o_custkey AS cust_key, COUNT(*) AS n_orders
    FROM orders GROUP BY o_custkey),
tot AS (
    SELECT SUM(n_orders) AS total, AVG(n_orders) AS mean_per_key
    FROM per_key)
SELECT cust_key, n_orders,
       ROUND(CAST(n_orders AS DOUBLE) / total, 6) AS share,
       ROUND(CAST(n_orders AS DOUBLE) / mean_per_key, 6) AS skew_x
FROM per_key, tot
ORDER BY n_orders DESC, cust_key
LIMIT 10
""",
)
def diag_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic: the 10 heaviest ``o_custkey`` values
    with their row share and skew factor (count / mean-count-per-key) —
    the number you read BEFORE choosing salted vs AQE-skew-join for a
    100 TB join (the engine's salted paths: ``join_salted_skew``,
    ``agg_salted_distinct``).

    Shape: one map-side-combined groupBy to per-key counts, the global
    total/mean as a second tiny aggregate over the per-key frame
    (broadcast back via crossJoin — 1 row), and a TakeOrderedAndProject
    top-10. Nothing materializes the full key histogram on the driver.
    Ties broken by key for deterministic output.
    """
    per_key = (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("cust_key"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    tot = per_key.agg(
        F.sum("n_orders").alias("total"),
        F.avg("n_orders").alias("mean_per_key"),
    )
    return (
        per_key.crossJoin(F.broadcast(tot))
        .select(
            "cust_key",
            "n_orders",
            F.round(F.col("n_orders") / F.col("total"), 6).alias("share"),
            F.round(F.col("n_orders") / F.col("mean_per_key"), 6).alias(
                "skew_x"
            ),
        )
        .orderBy(F.desc("n_orders"), "cust_key")
        .limit(10)
    )


@query(
    "quality_delete_propagation",
    oracle="""
SELECT * FROM (
SELECT 'customer' AS table_name,
       (SELECT COUNT(*) FROM customer) AS n_before,
       (SELECT COUNT(*) FROM customer WHERE c_custkey % 100 = 0)
           AS n_deleted,
       (SELECT COUNT(*) FROM customer WHERE c_custkey % 100 <> 0)
           AS n_after
UNION ALL
SELECT 'orders',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders WHERE o_custkey % 100 = 0),
       (SELECT COUNT(*) FROM orders WHERE o_custkey % 100 <> 0)
) ORDER BY table_name
""",
)
def quality_delete_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation audit: a deletion list (here the
    deterministic ``c_custkey % 100 = 0`` cohort standing in for a GDPR
    erasure queue) is propagated to every table keyed by the subject, and
    the audit reports per-table before/deleted/after counts — the numbers
    a compliance job must log before rewriting files.

    Shape: the deletion list is TINY relative to the corpus, so each fact
    table pays exactly one scan joined LEFT against the broadcast list
    (count(*) vs count(matched key) gives deleted vs surviving in the
    same aggregate — no second pass, no anti-join re-scan). At 100 TB the
    actual rewrite is the storage layer's job (Delta/Iceberg delete
    vectors or copy-on-write compaction, cf. ``layout_compaction_bins``);
    this query is the O(one scan per table) accounting step that gates it.
    Null keys never match the list (SQL join semantics), so they are
    counted as surviving — the conservative choice for erasure.
    """
    dele = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") % 100 == 0)
        .select(F.col("c_custkey").alias("del_key"))
        # an erasure queue can carry the same subject twice; a duplicate
        # key on the build side would multiply fact rows through the
        # LEFT join and double-count n_deleted
        .distinct()
    )

    def audit(df: DataFrame, key: str, name: str) -> DataFrame:
        return (
            df.join(
                F.broadcast(dele), F.col(key) == F.col("del_key"), "left"
            )
            .agg(
                F.count(F.lit(1)).alias("n_before"),
                F.count("del_key").alias("n_deleted"),
            )
            .select(
                F.lit(name).alias("table_name"),
                "n_before",
                "n_deleted",
                (F.col("n_before") - F.col("n_deleted")).alias("n_after"),
            )
        )

    cust = audit(load_table(spark, sf_dir, "customer"), "c_custkey", "customer")
    orde = audit(load_table(spark, sf_dir, "orders"), "o_custkey", "orders")
    return cust.unionByName(orde).orderBy("table_name")


@query(
    "profile_null_patterns",
    oracle="""
WITH e AS (
    SELECT CASE WHEN event_id % 13 = 0 THEN NULL ELSE user_id END AS u,
           CASE WHEN event_id % 11 = 0 THEN NULL ELSE value END AS v,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE props END AS p
    FROM events)
SELECT u IS NULL AS null_user, v IS NULL AS null_value,
       p IS NULL AS null_props,
       COUNT(*) AS n_rows,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / (SELECT COUNT(*) FROM events), 6) AS share
FROM e
GROUP BY 1, 2, 3
ORDER BY null_user, null_value, null_props
""",
)
def profile_null_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Missingness-pattern fingerprint: which COMBINATIONS of columns are
    null together, with row counts and shares — the diagnostic that
    separates "5 % of each column is missing independently" from "5 % of
    ROWS are missing everything" (joint patterns drive imputation and
    upstream-bug triage; Little & Rubin's missing-data taxonomy starts
    here).

    The fixture is fully dense, so a deterministic null mask (event_id
    mod 13/11/7 for user/value/props) is injected identically in engine
    and oracle — the query's subject is the PATTERN aggregation, which
    the mask makes 8-way non-trivial (incl. the joint 1001st row where
    7·11·13 | event_id).

    Shape: one scan, one groupBy over at most 2^k patterns (k = audited
    columns) — map-side combine collapses each partition to ≤2^k rows, so
    the shuffle is bytes regardless of table size. For wide tables pack
    the k flags into one LONG bitmask (same plan, one column); the share
    denominator is a 1-row broadcast subquery, not a window over the
    fact.
    """
    ev = load_table(spark, sf_dir, "events")
    masked = ev.select(
        F.when(F.col("event_id") % 13 == 0, None)
        .otherwise(F.col("user_id"))
        .alias("u"),
        F.when(F.col("event_id") % 11 == 0, None)
        .otherwise(F.col("value"))
        .alias("v"),
        F.when(F.col("event_id") % 7 == 0, None)
        .otherwise(F.col("props"))
        .alias("p"),
    )
    total = ev.agg(F.count(F.lit(1)).alias("__total"))
    return (
        masked.groupBy(
            F.col("u").isNull().alias("null_user"),
            F.col("v").isNull().alias("null_value"),
            F.col("p").isNull().alias("null_props"),
        )
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .crossJoin(F.broadcast(total))
        .select(
            "null_user",
            "null_value",
            "null_props",
            "n_rows",
            F.round(F.col("n_rows") / F.col("__total"), 6).alias("share"),
        )
        .orderBy("null_user", "null_value", "null_props")
    )


@query(
    "diag_join_cardinality",
    oracle="""
WITH co AS (
    SELECT o_orderkey AS k, COUNT(*) AS c FROM orders GROUP BY 1),
cl AS (
    SELECT l_orderkey AS k, COUNT(*) AS c FROM lineitem GROUP BY 1)
SELECT (SELECT COUNT(*) FROM orders) AS n_orders,
       (SELECT COUNT(*) FROM lineitem) AS n_lineitem,
       CAST((SELECT COALESCE(SUM(co.c * cl.c), 0)
             FROM co JOIN cl ON co.k = cl.k) AS BIGINT) AS n_join_predicted,
       (SELECT COUNT(*) FROM orders o JOIN lineitem l
        ON o.o_orderkey = l.l_orderkey) AS n_join_actual,
       CAST((SELECT COALESCE(SUM(co.c * cl.c), 0)
             FROM co JOIN cl ON co.k = cl.k) AS BIGINT)
           = (SELECT COUNT(*) FROM orders o JOIN lineitem l
              ON o.o_orderkey = l.l_orderkey) AS match_exact
""",
)
def diag_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality prediction WITHOUT running the join: |A ⋈ B| =
    Σ_k c_A(k)·c_B(k) over the two key histograms — the estimate a
    planner (or an engineer deciding whether a 100 TB fact-to-fact join
    is feasible) computes before committing the shuffle. The query emits
    the prediction AND the measured join count with an equality bit; the
    identity is exact, so the oracle pins both numbers.

    Scale shape: the two histograms are map-side-combined groupBys that
    shrink each fact to its key cardinality, and the histogram join is
    keys-sized, not rows-sized — at 100 TB that is the difference between
    a diagnostic you run casually and the join itself. The measured
    column exists as the correctness anchor; drop it in production and
    only the histogram stage remains. Sketch variant for unbounded key
    cardinality: per-key counts → count-min (cf. ``agg_countmin_user_
    counts``), prediction = Σ over heavy hitters + tail bound.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    co = orders.groupBy(F.col("o_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c_o")
    )
    cl = li.groupBy(F.col("l_orderkey").alias("k")).agg(
        F.count(F.lit(1)).alias("c_l")
    )
    pred = co.join(cl, "k").agg(
        F.coalesce(F.sum(F.col("c_o") * F.col("c_l")), F.lit(0))
        .cast("long")
        .alias("n_join_predicted")
    )
    actual = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .agg(F.count(F.lit(1)).alias("n_join_actual"))
    )
    return (
        orders.agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(li.agg(F.count(F.lit(1)).alias("n_lineitem")))
        .crossJoin(F.broadcast(pred))
        .crossJoin(F.broadcast(actual))
        .withColumn(
            "match_exact",
            F.col("n_join_predicted") == F.col("n_join_actual"),
        )
    )


@query(
    "profile_observe_metrics",
    oracle="""
SELECT (SELECT COUNT(*) FROM orders) AS n_input,
       (SELECT CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                    AS BIGINT) FROM orders) AS n_nonpositive,
       (SELECT COUNT(DISTINCT o_orderstatus) FROM orders) AS n_status,
       (SELECT COUNT(*) FROM (
            SELECT o_orderstatus FROM orders GROUP BY o_orderstatus))
           AS n_result_rows
""",
)
def profile_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metrics piggybacking via the ``Observation`` API: a production
    aggregation runs ONCE, and QC counters (input rows, non-positive
    prices, distinct statuses) ride along as ``observe`` accumulators on
    the SAME scan — zero extra passes, exact values, no sampling. The
    query returns the observed metrics plus the result-set size, so the
    oracle can pin that observation semantics equal a (conceptually
    second-scan) declarative restatement.

    This is the 100 TB answer to "instrument the pipeline without
    doubling its cost": every Spark action already streams each row
    through the plan, and ``CollectMetrics`` taps that stream with
    aggregate expressions evaluated JVM-side (plan node below the agg —
    no Python, no second job). Contrast `profile_table_stats`, which IS
    the second scan when no production query is in flight to ride on.
    """
    from pyspark.sql import Observation

    obs = Observation("qc")
    observed = load_table(spark, sf_dir, "orders").observe(
        obs,
        F.count(F.lit(1)).alias("n_input"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_nonpositive"),
        # DISTINCT aggregates are rejected in observed metrics
        # (INVALID_OBSERVED_METRICS): CollectMetrics must be a mergeable
        # accumulator. approx_count_distinct (HLL) is the sanctioned
        # form -- exact here (3 statuses is far under HLL's sparse-mode
        # exactness threshold), approximate-by-design at high cardinality.
        F.approx_count_distinct("o_orderstatus").alias("n_status"),
    )
    # the "production" query: per-status rollup (its action triggers the
    # observation; result size carried into the output)
    result = observed.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n")
    )
    n_result_rows = result.count()
    got = obs.get
    return spark.createDataFrame(
        [
            (
                got["n_input"],
                got["n_nonpositive"],
                got["n_status"],
                n_result_rows,
            )
        ],
        "n_input long, n_nonpositive long, n_status long, "
        "n_result_rows long",
    )


@query(
    "diag_table_diff",
    # The "new version" is derived from orders deterministically:
    # %97==0 rows deleted, %101==0 rows repriced (+10), keys+2M added
    # for %503==0 — so the diff is declaratively restatable.
    oracle="""
WITH v2 AS (
    SELECT o_orderkey, o_totalprice + 10.0 AS o_totalprice
    FROM orders WHERE o_orderkey % 97 <> 0 AND o_orderkey % 101 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice
    FROM orders WHERE o_orderkey % 97 <> 0 AND o_orderkey % 101 <> 0
    UNION ALL
    SELECT o_orderkey + 2000000, o_totalprice
    FROM orders WHERE o_orderkey % 503 = 0),
j AS (
    SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS okey,
           CASE WHEN b.o_orderkey IS NULL THEN 'removed'
                WHEN a.o_orderkey IS NULL THEN 'added'
                WHEN a.o_totalprice <> b.o_totalprice THEN 'changed'
                ELSE 'unchanged' END AS change_type
    FROM orders a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey)
SELECT change_type, COUNT(*) AS n_rows,
       MIN(okey) AS min_key, MAX(okey) AS max_key
FROM j GROUP BY 1 ORDER BY 1
""",
)
def diag_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset version diff (the data-reconciliation op behind "what
    changed between yesterday's snapshot and today's"): FULL OUTER join
    on the key classifies every row as added / removed / changed /
    unchanged, rolled up with per-class key ranges for the audit log.

    Shape: ONE co-partitioned full-outer join on the key (both sides
    shuffle once on o_orderkey; with both snapshots bucketed on the key
    — `layout_bucketed_join` — even that shuffle disappears), then a
    4-group aggregate. 'changed' compares the tracked column directly
    here; for wide tables the standard trick is comparing a precomputed
    per-row content hash so the join carries 2 columns, not 50. At
    100 TB this query is why snapshots keep PRIMARY-KEY layout: the
    diff is a merge-scan, never a rebuild.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    v2 = (
        orders.filter(
            (F.col("o_orderkey") % 97 != 0)
        ).select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 101 == 0,
                F.col("o_totalprice") + 10.0,
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
        )
    ).unionByName(
        orders.filter(F.col("o_orderkey") % 503 == 0).select(
            (F.col("o_orderkey") + 2000000).alias("o_orderkey"),
            "o_totalprice",
        )
    )
    a = orders.alias("a")
    b = v2.alias("b")
    j = a.join(
        b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer"
    ).select(
        F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias(
            "okey"
        ),
        F.when(F.col("b.o_orderkey").isNull(), "removed")
        .when(F.col("a.o_orderkey").isNull(), "added")
        .when(
            F.col("a.o_totalprice") != F.col("b.o_totalprice"), "changed"
        )
        .otherwise("unchanged")
        .alias("change_type"),
    )
    return (
        j.groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("okey").alias("min_key"),
            F.max("okey").alias("max_key"),
        )
        .orderBy("change_type")
    )


# ---------------------------------------------------------- l-diversity


@query(
    "quality_l_diversity",
    oracle="""
SELECT c_nationkey, c_mktsegment,
       COUNT(*) AS n_rows,
       COUNT(DISTINCT CAST(FLOOR(c_acctbal / 100.0) AS BIGINT))
           AS l_distinct,
       COUNT(DISTINCT CAST(FLOOR(c_acctbal / 100.0) AS BIGINT)) >= 3
           AS is_diverse
FROM customer
GROUP BY 1, 2
""",
)
def quality_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (Machanavajjhala et al., ICDE 2006): within each
    quasi-identifier group (nation x market segment) the sensitive
    attribute ($100 account-balance bucket) must take >= l distinct
    values, or the group is re-identifiable even when k-anonymous —
    the companion gate to ``quality_k_anonymity`` (which only counts
    group SIZE).

    Scale shape: a single exact distinct-count aggregation — Spark
    expands COUNT DISTINCT to a two-stage partial agg (map-side dedup
    per group before the exchange); one shuffle on the group key."""
    c = load_table(spark, sf_dir, "customer")
    sens = F.floor(F.col("c_acctbal") / 100.0).cast("long")
    return c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(sens).alias("l_distinct"),
        (F.countDistinct(sens) >= 3).alias("is_diverse"),
    )


# ------------------------------------------------------ table checksums


@query(
    "diag_table_checksum",
    # 40-bit row fingerprints summed under an order-INDEPENDENT exact
    # aggregate (DuckDB sums in int128; Spark in DECIMAL(38,0)), then
    # reduced mod 2^40 — overflow-free at any realistic row count.
    # Doubles enter the canonical rendering as exact integer cents.
    oracle="""
WITH c AS (
    SELECT 'customer' AS table_name, COUNT(*) AS n_rows,
           CAST(SUM(CAST('0x' || substr(md5(concat_ws('|',
               c_custkey, c_name, c_nationkey, c_mktsegment,
               CAST(ROUND(c_acctbal * 100) AS BIGINT))), 1, 10)
               AS BIGINT)) % 1099511627776 AS BIGINT) AS checksum
    FROM customer),
o AS (
    SELECT 'orders' AS table_name, COUNT(*) AS n_rows,
           CAST(SUM(CAST('0x' || substr(md5(concat_ws('|',
               o_orderkey, o_custkey, o_orderstatus,
               CAST(ROUND(o_totalprice * 100) AS BIGINT),
               strftime(o_orderdate, '%Y-%m-%d'))), 1, 10)
               AS BIGINT)) % 1099511627776 AS BIGINT) AS checksum
    FROM orders)
SELECT * FROM c UNION ALL SELECT * FROM o
""",
)
def diag_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table content checksums — the cross-system
    reconciliation primitive ("is the replica byte-identical?") that a
    sort-then-hash cannot provide at scale: each row maps to a 40-bit
    md5 fingerprint of a CANONICAL rendering (keys and strings verbatim,
    money as exact integer cents, dates as ISO strings — never raw
    float-to-string, which engines render differently), and fingerprints
    combine under SUM, which commutes — so the checksum is partition-
    order-free and two tables compare with one number each.

    Scale shape: embarrassingly parallel map + a 1-row exact agg per
    table (Spark sums in DECIMAL(38,0): 2^40-bit values cannot overflow
    38 digits under ~1e26 rows); no shuffle beyond the final combine."""
    cents = lambda col: F.round(F.col(col) * 100).cast("long")  # noqa: E731

    def chk(df, cols, name):
        fp = F.conv(
            F.substring(F.md5(F.concat_ws("|", *cols)), 1, 10), 16, 10
        ).cast("decimal(38,0)")
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(fp) % F.lit(1099511627776).cast("decimal(38,0)"))
            .cast("long")
            .alias("checksum"),
        ).select(F.lit(name).alias("table_name"), "n_rows", "checksum")

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    c = chk(
        cust,
        [
            F.col("c_custkey"),
            F.col("c_name"),
            F.col("c_nationkey"),
            F.col("c_mktsegment"),
            cents("c_acctbal"),
        ],
        "customer",
    )
    o = chk(
        orders,
        [
            F.col("o_orderkey"),
            F.col("o_custkey"),
            F.col("o_orderstatus"),
            cents("o_totalprice"),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
        ],
        "orders",
    )
    return c.unionAll(o)


# -------------------------------------------------- column entropy


@query(
    "profile_column_entropy",
    oracle="""
WITH et AS (
    SELECT event_type AS v, COUNT(*) AS c FROM events GROUP BY 1),
etn AS (SELECT SUM(c) AS n FROM et),
uu AS (
    SELECT user_id AS v, COUNT(*) AS c FROM events GROUP BY 1),
uun AS (SELECT SUM(c) AS n FROM uu)
SELECT 'event_type' AS column_name,
       COUNT(*) AS n_distinct,
       ROUND(-SUM((CAST(c AS DOUBLE) / n) * LN(CAST(c AS DOUBLE) / n)), 6)
           AS entropy_nats
FROM et, etn
UNION ALL
SELECT 'user_id',
       COUNT(*),
       ROUND(-SUM((CAST(c AS DOUBLE) / n) * LN(CAST(c AS DOUBLE) / n)), 6)
FROM uu, uun
""",
)
def profile_column_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy per column — the information-theoretic row the
    profiler family lacked: near-zero entropy marks constant/degenerate
    columns (drop candidates), entropy near ln(n_distinct) marks uniform
    keys (good partition candidates), and entropy deltas across loads
    are a drift smell cheaper than a full histogram diff. Reported in
    nats next to the exact distinct count.

    Scale shape: one combine-friendly count per column (map-side
    partials), a 1-row total broadcast, then the entropy fold over the
    |distinct| frame; columns audit independently and union at the
    end."""
    ev = load_table(spark, sf_dir, "events")

    def ent(col: str):
        c = ev.groupBy(F.col(col).alias("v")).agg(
            F.count(F.lit(1)).alias("c")
        )
        n = c.agg(F.sum("c").alias("n"))
        p = F.col("c").cast("double") / F.col("n")
        return (
            c.crossJoin(F.broadcast(n))
            .agg(
                F.count(F.lit(1)).alias("n_distinct"),
                F.round(-F.sum(p * F.log(p)), 6).alias("entropy_nats"),
            )
            .select(
                F.lit(col).alias("column_name"),
                "n_distinct",
                "entropy_nats",
            )
        )

    return ent("event_type").unionAll(ent("user_id"))


# ------------------------------------------------ totals reconciliation


@query(
    "quality_totals_reconcile",
    oracle="""
WITH l AS (
    SELECT l_orderkey,
           SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                          * (1 + l_tax) * 100) AS BIGINT)) AS line_cents
    FROM lineitem GROUP BY 1),
j AS (
    SELECT o.o_orderkey,
           CAST(ROUND(o.o_totalprice * 100) AS BIGINT) AS header_cents,
           l.line_cents
    FROM orders o LEFT JOIN l ON l.l_orderkey = o.o_orderkey)
SELECT COUNT(*) AS n_orders,
       CAST(SUM(CASE WHEN line_cents IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_headerless_lines,
       CAST(SUM(CASE WHEN line_cents IS NOT NULL
                      AND ABS(header_cents - line_cents) <= 1
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_consistent,
       CAST(SUM(CASE WHEN line_cents IS NOT NULL
                     THEN ABS(header_cents - line_cents) ELSE 0 END)
            AS BIGINT) AS total_abs_diff_cents,
       CAST(MAX(CASE WHEN line_cents IS NOT NULL
                     THEN ABS(header_cents - line_cents) END)
            AS BIGINT) AS max_abs_diff_cents
FROM j
""",
)
def quality_totals_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-vs-detail reconciliation: does each order header's total
    equal the sum of its lines under the TPC-H net formula
    (extended * (1-disc) * (1+tax))? Reports order counts, headers with
    no lines, within-a-cent matches, and the exact aggregate drift in
    integer cents — the invoice-reconciliation audit every finance
    pipeline runs (on THIS synthetic fixture headers are independent of
    lines, so the audit exactly quantifies that: 0 consistent, 257
    line-less orders at sf0.01 — a deterministic finding, not a broken
    check).

    Scale shape: one combine-friendly per-order rollup of the fact, one
    LEFT join to headers on the order key (co-partitioned; zero-shuffle
    with bucketed snapshots), one scalar agg. All integer cents — the
    per-line rounding is applied identically in both engines BEFORE the
    sum, so the comparison is exact."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    l = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100
            ).cast("long")
        ).alias("line_cents")
    )
    j = orders.select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias(
            "header_cents"
        ),
    ).join(l, F.col("l_orderkey") == F.col("o_orderkey"), "left")
    diff = F.abs(F.col("header_cents") - F.col("line_cents"))
    return j.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("line_cents").isNull().cast("long")).alias(
            "n_headerless_lines"
        ),
        F.sum(
            (F.col("line_cents").isNotNull() & (diff <= 1)).cast("long")
        ).alias("n_consistent"),
        F.sum(
            F.when(F.col("line_cents").isNotNull(), diff).otherwise(0)
        ).alias("total_abs_diff_cents"),
        F.max(
            F.when(F.col("line_cents").isNotNull(), diff)
        ).alias("max_abs_diff_cents"),
    )


# --------------------------------------------- duplicate rate by source


@query(
    "quality_duplicate_rate_by_source",
    oracle="""
WITH f AS (
    SELECT doc_id, source,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents),
g AS (SELECT fp, COUNT(*) AS cnt FROM f GROUP BY 1)
SELECT f.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN g.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_docs,
       CAST(SUM(CASE WHEN g.cnt > 1 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS dup_rate_ppm
FROM f JOIN g USING (fp)
GROUP BY 1
""",
)
def quality_duplicate_rate_by_source(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Per-source exact-duplicate exposure: the share of each source's
    documents whose normalized fingerprint appears more than once
    ANYWHERE in the corpus (cross-source copies count for both sides) —
    the curation dashboard number that decides which feeds need
    dedup attention first, upstream of the pair-level operators
    (`dedup_exact_groups` etc.). Rates in exact integer ppm.

    Scale shape: fingerprints are a projection; one combine-friendly
    count per fingerprint; one hash join fp -> count; one rollup per
    source. Never materializes pairs."""
    from featurestore_for_joycastle_java_spark.operators.text import (
        fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id", "source", fingerprint(F.col("text")).alias("fp")
    )
    g = f.groupBy("fp").agg(F.count(F.lit(1)).alias("cnt"))
    j = f.join(g, "fp")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("cnt") > 1).cast("long")).alias("n_dup_docs"),
        F.expr(
            "sum(case when cnt > 1 then 1 else 0 end) * 1000000"
            " DIV count(1)"
        )
        .cast("bigint")
        .alias("dup_rate_ppm"),
    )


# ------------------------------------------------- sequence gap audit


@query(
    "quality_sequence_gaps",
    oracle="""
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT event_id) AS n_distinct_ids,
       CAST(MIN(event_id) AS BIGINT) AS min_id,
       CAST(MAX(event_id) AS BIGINT) AS max_id,
       CAST(MAX(event_id) - MIN(event_id) + 1 - COUNT(DISTINCT event_id)
            AS BIGINT) AS n_missing_ids,
       COUNT(*) - COUNT(DISTINCT event_id) AS n_duplicate_ids
FROM events
""",
)
def quality_sequence_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-completeness audit for monotonically-keyed feeds (CDC
    offsets, event ids, invoice numbers): missing ids = span minus
    distinct count, duplicate ids = rows minus distinct — the two
    numbers that catch producer resets and replay bugs BEFORE any
    per-gap investigation (enumerating the gaps themselves is the
    follow-up query, islands-style, only worth running when this one
    is non-zero).

    Scale shape: one exact-distinct aggregate over the key — a single
    scan + the count-distinct Expand; every output is integer."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("event_id").alias("n_distinct_ids"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
        (
            F.max("event_id")
            - F.min("event_id")
            + 1
            - F.countDistinct("event_id")
        ).alias("n_missing_ids"),
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias(
            "n_duplicate_ids"
        ),
    )


@query(
    "quality_outlier_iqr",
    oracle="""
WITH v AS (
    SELECT event_type, event_id,
           CAST(FLOOR(value * 1000000) AS BIGINT) AS v6
    FROM events),
ranked AS (
    SELECT event_type, v6,
           CAST(ROW_NUMBER() OVER (PARTITION BY event_type
                                   ORDER BY v6, event_id) AS BIGINT) AS r
    FROM v),
cnt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM v GROUP BY 1),
q AS (
    SELECT rk.event_type, c.n,
           CAST(SUM(CASE WHEN r = (n - 1) // 4 + 1
                         THEN (4 - (n - 1) % 4) * v6
                         WHEN r = (n - 1) // 4 + 2
                         THEN ((n - 1) % 4) * v6
                         ELSE 0 END) AS BIGINT) AS q1_x4,
           CAST(SUM(CASE WHEN r = (3 * (n - 1)) // 4 + 1
                         THEN (4 - (3 * (n - 1)) % 4) * v6
                         WHEN r = (3 * (n - 1)) // 4 + 2
                         THEN ((3 * (n - 1)) % 4) * v6
                         ELSE 0 END) AS BIGINT) AS q3_x4
    FROM ranked rk JOIN cnt c USING (event_type)
    GROUP BY 1, 2),
f AS (
    SELECT event_type, n, q1_x4, q3_x4,
           q3_x4 - q1_x4 AS iqr_x4,
           2 * q1_x4 - 3 * (q3_x4 - q1_x4) AS fence_lo_x8,
           2 * q3_x4 + 3 * (q3_x4 - q1_x4) AS fence_hi_x8
    FROM q)
SELECT f.event_type, f.n, f.q1_x4, f.q3_x4, f.iqr_x4,
       CAST(COUNT(*) FILTER (WHERE 8 * v.v6 < f.fence_lo_x8) AS BIGINT)
           AS n_low,
       CAST(COUNT(*) FILTER (WHERE 8 * v.v6 > f.fence_hi_x8) AS BIGINT)
           AS n_high
FROM f JOIN v ON v.event_type = f.event_type
GROUP BY 1, 2, 3, 4, 5
""",
)
def quality_outlier_iqr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey IQR outlier fences per event type (Tukey 1977, Exploratory
    Data Analysis): exact linear-interpolated quartiles kept as ×4
    integers (position (n−1)/4 → ⌊·⌋ and the ×4 fractional weight, so
    no float interpolation semantics can diverge — the
    ``agg_exact_median`` ×2 trick at quartile granularity), fences
    q1 − 1.5·IQR and q3 + 1.5·IQR as ×8 integers, and the count of
    values outside each fence (compared as 8·v vs fence_x8 — all
    integer, all exact). The robust complement to
    ``quality_anomaly_mad``: MAD flags deviation from the median, IQR
    fences flag tail mass, and both survive the heavy tails that
    z-scores (``feature_anomaly_zscore``) chase.

    Plan shape: values are micro-floored once; the rank is a
    per-event-type window (parallel across types); the two quartile
    order statistics come out of ONE conditional aggregate against the
    broadcast per-type count (no sort-collect, no percentile UDAF), and
    the outlier count is a second hash join + aggregate. At 100 TB the
    per-type window sort is the cost — the same shape Spark's own
    percentile_approx would shuffle, but exact."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        "event_id",
        F.floor(F.col("value") * 1000000).cast("bigint").alias("v6"),
    )
    w = Window.partitionBy("event_type").orderBy("v6", "event_id")
    ranked = v.withColumn("r", F.row_number().over(w).cast("bigint"))
    cnt = v.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    q = (
        ranked.join(F.broadcast(cnt), "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN r = (n - 1) DIV 4 + 1"
                    " THEN (4 - (n - 1) % 4) * v6"
                    " WHEN r = (n - 1) DIV 4 + 2"
                    " THEN ((n - 1) % 4) * v6"
                    " ELSE 0L END"
                )
            )
            .cast("bigint")
            .alias("q1_x4"),
            F.sum(
                F.expr(
                    "CASE WHEN r = (3 * (n - 1)) DIV 4 + 1"
                    " THEN (4 - (3 * (n - 1)) % 4) * v6"
                    " WHEN r = (3 * (n - 1)) DIV 4 + 2"
                    " THEN ((3 * (n - 1)) % 4) * v6"
                    " ELSE 0L END"
                )
            )
            .cast("bigint")
            .alias("q3_x4"),
        )
    )
    f = q.select(
        "event_type",
        "n",
        "q1_x4",
        "q3_x4",
        (F.col("q3_x4") - F.col("q1_x4")).alias("iqr_x4"),
        (2 * F.col("q1_x4") - 3 * (F.col("q3_x4") - F.col("q1_x4"))).alias(
            "fence_lo_x8"
        ),
        (2 * F.col("q3_x4") + 3 * (F.col("q3_x4") - F.col("q1_x4"))).alias(
            "fence_hi_x8"
        ),
    )
    return (
        v.join(F.broadcast(f), "event_type")
        .groupBy("event_type", "n", "q1_x4", "q3_x4", "iqr_x4")
        .agg(
            F.count(
                F.when(8 * F.col("v6") < F.col("fence_lo_x8"), 1)
            )
            .cast("bigint")
            .alias("n_low"),
            F.count(
                F.when(8 * F.col("v6") > F.col("fence_hi_x8"), 1)
            )
            .cast("bigint")
            .alias("n_high"),
        )
    )


@query(
    "quality_functional_dependency",
    oracle="""
WITH pairs AS (
    SELECT 'l_orderkey->l_suppkey' AS fd,
           CAST(l_orderkey AS VARCHAR) AS lhs,
           CAST(l_suppkey AS VARCHAR) AS rhs
    FROM lineitem
    UNION ALL
    SELECT 'l_partkey->l_suppkey',
           CAST(l_partkey AS VARCHAR), CAST(l_suppkey AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_orderkey->l_returnflag',
           CAST(l_orderkey AS VARCHAR), l_returnflag
    FROM lineitem),
g AS (
    SELECT fd, lhs, rhs, CAST(COUNT(*) AS BIGINT) AS n
    FROM pairs GROUP BY 1, 2, 3),
grp AS (
    SELECT fd, lhs,
           CAST(SUM(n) AS BIGINT) AS n_rows,
           CAST(MAX(n) AS BIGINT) AS n_major,
           CAST(COUNT(*) AS BIGINT) AS n_rhs
    FROM g GROUP BY 1, 2)
SELECT fd,
       CAST(COUNT(*) AS BIGINT) AS n_lhs_groups,
       CAST(COUNT(*) FILTER (WHERE n_rhs > 1) AS BIGINT)
           AS n_violating_groups,
       CAST(SUM(n_rows) AS BIGINT) AS n_rows,
       CAST(SUM(n_rows - n_major) AS BIGINT) AS n_violating_rows,
       CAST((SUM(n_major) * 1000000) // SUM(n_rows) AS BIGINT)
           AS confidence_ppm
FROM grp GROUP BY 1
""",
)
def quality_functional_dependency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Approximate-functional-dependency profiling (TANE, Huhtanen et
    al. 1999; g3 error of Kivinen & Mannila 1995) for three candidate
    FDs on lineitem: per candidate, the number of violating LHS groups,
    the g3 violation count (rows that must be removed to make the FD
    hold = group size minus its majority RHS), and the confidence
    (1 − g3/n) in exact ppm. The fixture makes all three outcomes
    appear: order→returnflag holds strongly (few lines per order),
    order→suppkey is moderate, part→suppkey is weak — FD profiling is
    how a pipeline discovers which 'keys' are actually keys before
    trusting joins or dedup rules on them.

    Plan shape: one union-of-projections pass (column-pruned scans),
    one (fd, lhs, rhs) hash aggregate, one (fd, lhs) re-aggregate of
    the GROUPS (never the rows), one per-fd rollup — the
    ``eval_mutual_information`` collapse discipline applied to FD
    counting."""
    li = load_table(spark, sf_dir, "lineitem")
    pairs = (
        li.select(
            F.lit("l_orderkey->l_suppkey").alias("fd"),
            F.col("l_orderkey").cast("string").alias("lhs"),
            F.col("l_suppkey").cast("string").alias("rhs"),
        )
        .unionByName(
            li.select(
                F.lit("l_partkey->l_suppkey").alias("fd"),
                F.col("l_partkey").cast("string").alias("lhs"),
                F.col("l_suppkey").cast("string").alias("rhs"),
            )
        )
        .unionByName(
            li.select(
                F.lit("l_orderkey->l_returnflag").alias("fd"),
                F.col("l_orderkey").cast("string").alias("lhs"),
                F.col("l_returnflag").alias("rhs"),
            )
        )
    )
    g = pairs.groupBy("fd", "lhs", "rhs").agg(F.count(F.lit(1)).alias("n"))
    grp = g.groupBy("fd", "lhs").agg(
        F.sum("n").alias("n_rows_g"),
        F.max("n").alias("n_major"),
        F.count(F.lit(1)).alias("n_rhs"),
    )
    return grp.groupBy("fd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lhs_groups"),
        F.count(F.when(F.col("n_rhs") > 1, 1))
        .cast("bigint")
        .alias("n_violating_groups"),
        F.sum("n_rows_g").cast("bigint").alias("n_rows"),
        F.sum(F.col("n_rows_g") - F.col("n_major"))
        .cast("bigint")
        .alias("n_violating_rows"),
        F.expr(
            "CAST((SUM(n_major) * 1000000) DIV SUM(n_rows_g) AS BIGINT)"
        ).alias("confidence_ppm"),
    )
