"""Training-data queries (SURVEY.md §2.3): corpus prep (exact and
near-dup), curation funnels, contamination checks, document chunking,
stratified / weighted / k-fold sampling, sequence packing, length
buckets, mixture and curriculum weighting, preference pairs, z-score
features, dataset cards and shard export — the shapes an LLM-pretraining
or feature-ML pipeline runs between "corpus" and "batches"."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from featurestore_for_joycastle_java_spark.catalog.text import _nll_frame
from featurestore_for_joycastle_java_spark.operators import dedup as D
from featurestore_for_joycastle_java_spark.operators.ranks import (
    global_row_number,
)
from featurestore_for_joycastle_java_spark.operators.relational import (
    exact_sum,
)
from featurestore_for_joycastle_java_spark.operators.text import tokens
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import build_once, load_table


@query(
    "train_doc_chunks",
    oracle="""
WITH t AS (
    SELECT doc_id,
           list_filter(str_split(lower(text), ' '), x -> x <> '') AS tk
    FROM documents),
s AS (
    SELECT doc_id, tk,
           UNNEST(generate_series(1, len(tk), 25)) AS start
    FROM t WHERE len(tk) > 0)
SELECT doc_id,
       CAST((start - 1) // 25 AS INT) AS chunk_id,
       CAST(LEAST(50, len(tk) - start + 1) AS INT) AS n_chunk_tokens,
       array_to_string(list_slice(tk, start, start + 49), ' ') AS chunk_text
FROM s
""",
)
def train_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking (size 50 tokens, stride 25 — 50%
    overlap, trailing remainder kept): the corpus→context-window step of a
    pretraining pipeline. One explode per document, no shuffle at all —
    chunking is embarrassingly parallel over input splits.

    The token array is bound once via the single-element outer transform
    (same no-CSE-across-lambdas trap documented in operators.text.shingles).
    """
    docs = load_table(spark, sf_dir, "documents")

    def build(tk):
        starts = F.sequence(F.lit(1), F.greatest(F.size(tk), F.lit(1)), F.lit(25))
        return F.transform(
            starts,
            lambda s: F.struct(
                ((s - 1) / 25).cast("int").alias("chunk_id"),
                F.least(F.lit(50), F.size(tk) - s + 1)
                .cast("int")
                .alias("n_chunk_tokens"),
                F.concat_ws(" ", F.slice(tk, s, 50)).alias("chunk_text"),
            ),
        )

    chunked = docs.select(
        "doc_id",
        F.explode(
            F.element_at(F.transform(F.array(tokens(F.col("text"))), build), 1)
        ).alias("c"),
    ).filter(F.col("c.n_chunk_tokens") > 0)
    return chunked.select("doc_id", "c.chunk_id", "c.n_chunk_tokens", "c.chunk_text")


@query(
    "train_stratified_sample",
    oracle="""
WITH b AS (
    SELECT event_type,
           CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 6)) AS BIGINT)
               % 1000 AS bucket,
           CASE WHEN event_type IN ('click', 'view') THEN 100 ELSE 1000 END
               AS rate_mille
    FROM events)
SELECT event_type,
       CAST(ANY_VALUE(rate_mille) AS INT) AS rate_mille,
       CAST(COUNT(*) AS BIGINT) AS n_total,
       CAST(SUM(CASE WHEN bucket < rate_mille THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept
FROM b
GROUP BY event_type
""",
)
def train_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified downsampling: md5(event_id) → bucket in
    [0,1000), keep the row iff bucket < the stratum's rate (high-volume
    click/view strata at 10%, the rest kept whole) — the class-rebalancing
    step of a training-set export, summarized per stratum.

    Unlike df.sample/sampleBy this is reproducible across engines, runs,
    AND repartitions (the hash depends only on the row key, not on
    partition/seed state), and it needs no sampling state: at 100 TB it is
    a stateless map-side filter; this summary's single shuffle is just the
    5-key count."""
    ev = load_table(spark, sf_dir, "events")
    bucket = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 1000
    )
    rate = (
        F.when(F.col("event_type").isin("click", "view"), F.lit(100))
        .otherwise(F.lit(1000))
    )
    return (
        ev.select("event_type", bucket.alias("bucket"), rate.alias("rate_mille"))
        .groupBy("event_type")
        .agg(
            F.any_value("rate_mille").cast("int").alias("rate_mille"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                F.when(F.col("bucket") < F.col("rate_mille"), 1).otherwise(0)
            ).alias("n_kept"),
        )
    )


@query(
    "train_pack_sequences",
    oracle="""
WITH t AS (
    SELECT doc_id, source,
           len(list_filter(str_split(lower(text), ' '), x -> x <> ''))
               AS n_tok
    FROM documents),
c AS (
    SELECT doc_id, source, n_tok,
           SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
    FROM t)
SELECT source,
       CAST((cum - n_tok) // 2048 AS INT) AS bin_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM c
GROUP BY 1, 2
""",
)
def train_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-based sequence packing: within each source shard, docs in
    doc_id order are assigned to the bin their STARTING token offset
    falls in (``(cum - n_tok) // 2048``) — so a doc straddling a 2048
    boundary stays in the bin it started and bins may overflow by up to
    one doc (the trainer truncates or spills). This is deliberately NOT
    greedy-reset packing: offset binning is a stateless projection over
    one running sum, where greedy reset would need sequential state per
    shard. The batch-packing step before tokenized examples hit the
    trainer.

    The running sum partitions by source, so the window shuffles once on
    the shard key and each shard packs independently — the same layout a
    1000-executor job would use; no global order is ever imposed."""
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id", "source", F.size(tokens(F.col("text"))).alias("n_tok")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    return (
        c.groupBy(
            "source",
            ((F.col("cum") - F.col("n_tok")) / 2048).cast("int").alias("bin_id"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


@query(
    "train_zscore_features",
    oracle="""
WITH stats AS (
    SELECT c_nationkey,
           COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(23,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(c_acctbal * c_acctbal AS DECIMAL(29,8))) AS DOUBLE)
               AS sx2
    FROM customer
    GROUP BY c_nationkey)
SELECT c_custkey, c.c_nationkey,
       ROUND((c_acctbal - sx / n)
             / SQRT((sx2 - sx * sx / n) / (n - 1)), 6) AS z_acctbal
FROM customer c
JOIN stats s ON s.c_nationkey = c.c_nationkey
""",
)
def train_zscore_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score normalization (feature scaling before training):
    group moments from exact fixed-point sums, broadcast back onto the
    fact side — at 100 TB the stats side is |groups| rows, so the fact
    table never shuffles. The per-row arithmetic is the same IEEE double
    op sequence in both engines over identical exact inputs, then an
    explicit 6dp round."""
    cust = load_table(spark, sf_dir, "customer")
    c = F.col("c_acctbal")
    stats = (
        cust.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum(c).alias("sx"),
            exact_sum(c * c, dp=8).alias("sx2"),
        )
        .withColumnRenamed("c_nationkey", "s_nationkey")
    )
    mean = F.col("sx") / F.col("n")
    std = F.sqrt(
        (F.col("sx2") - F.col("sx") * F.col("sx") / F.col("n"))
        / (F.col("n") - F.lit(1))
    )
    return (
        cust.join(
            F.broadcast(stats), F.col("s_nationkey") == F.col("c_nationkey")
        )
        .select(
            "c_custkey",
            "c_nationkey",
            F.round((c - mean) / std, 6).alias("z_acctbal"),
        )
    )


@query(
    "train_source_mix",
    oracle="""
SELECT doc_id, source, bucket
FROM (SELECT doc_id, source,
             ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
                 % 100 AS bucket,
             CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 80
                         WHEN 'src2' THEN 60 WHEN 'src3' THEN 40
                         WHEN 'src4' THEN 20 ELSE 10 END AS rate
      FROM documents)
WHERE bucket < rate
""",
)
def train_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing — the pretraining-mix staple: sample each
    source at its own rate (here src0..src4 at 100/80/60/40/20%, long
    tail at 10%) with a content-addressed md5 bucket, so the mix is
    deterministic across reruns, re-shards, and engines (no seeded
    sample()). Narrow per-row expressions only — no shuffle at all, and
    the rate table is a literal CASE, so at 100 TB this is a pure scan
    whose output size is the weighted sum of the inputs."""
    d = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    rate = (
        F.when(F.col("source") == "src0", 100)
        .when(F.col("source") == "src1", 80)
        .when(F.col("source") == "src2", 60)
        .when(F.col("source") == "src3", 40)
        .when(F.col("source") == "src4", 20)
        .otherwise(10)
    )
    return (
        d.select("doc_id", "source", bucket.alias("bucket"), rate.alias("rate"))
        .filter(F.col("bucket") < F.col("rate"))
        .drop("rate")
    )


@query(
    "train_dataset_card",
    oracle="""
SELECT source,
       COUNT(*) AS n_docs,
       CAST(SUM(LEN(list_filter(str_split(lower(text), ' '), x -> x <> '')))
           AS BIGINT) AS total_tokens,
       CAST(SUM(OCTET_LENGTH(ENCODE(text))) AS BIGINT) AS total_bytes,
       CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
       ROUND(CAST(SUM(LEN(list_filter(str_split(lower(text), ' '),
                                      x -> x <> ''))) AS DOUBLE)
             / COUNT(*), 6) AS avg_tokens
FROM documents
GROUP BY source
""",
)
def train_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-composition card: per-source doc/token/byte totals and
    language coverage — the report every corpus release ships with. One
    map-side-combined groupBy on the (low-cardinality) source key; token
    counts are codegen HOFs, so the scan stays JVM-side."""
    d = load_table(spark, sf_dir, "documents")
    n_tok = F.size(tokens(F.col("text"))).cast("long")
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).alias("total_tokens"),
        F.sum(F.octet_length("text").cast("long")).alias("total_bytes"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(F.sum(n_tok).cast("double") / F.count(F.lit(1)), 6).alias(
            "avg_tokens"
        ),
    )


@query(
    "train_corpus_prep",
    oracle=r"""
WITH t AS (
    SELECT doc_id, source,
           len(list_filter(string_split(lower(text), ' '), x -> x <> ''))
               AS n_tok,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
    FROM documents),
q AS (SELECT * FROM t WHERE n_tok >= 30),
d AS (SELECT *, MIN(doc_id) OVER (PARTITION BY fp) AS min_id FROM q),
dd AS (SELECT * FROM d WHERE doc_id = min_id),
k AS (
    SELECT *,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
               % 1000 AS bucket,
           CASE WHEN source IN ('src0', 'src1') THEN 1000 ELSE 500 END AS rate
    FROM dd),
kk AS (SELECT * FROM k WHERE bucket < rate)
SELECT c.source,
       c.n_candidates,
       COALESCE(d2.n_after_dedup, 0) AS n_after_dedup,
       COALESCE(k2.n_kept, 0) AS n_kept,
       COALESCE(k2.n_tokens_kept, 0) AS n_tokens_kept
FROM (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM q GROUP BY 1) c
LEFT JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_after_dedup
           FROM dd GROUP BY 1) d2 USING (source)
LEFT JOIN (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
                  CAST(SUM(n_tok) AS BIGINT) AS n_tokens_kept
           FROM kk GROUP BY 1) k2 USING (source)
""",
)
def train_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus preparation — the composite a pretraining data
    job actually runs, every stage the scale path:

    1. quality gate: whitespace-token count >= 30 (stateless map filter,
       pushable);
    2. exact dedup across sources: keep the min-doc_id copy per content
       fingerprint (one shuffle on the md5 key — uniform at 100 TB);
    3. deterministic stratified downsample: md5(doc_id) bucket < rate
       (src0/src1 kept whole, the long tail at 50%) — reproducible across
       engines, runs, and repartitions, no sampler state;
    4. per-source composition card: candidates -> post-dedup -> kept ->
       kept tokens (exact BIGINT counts).

    Each stage is separately oracle-checked elsewhere (text_stats,
    dedup_exact_*, train_stratified_sample); this query pins their
    COMPOSITION, where stage-ordering bugs (sample-before-dedup,
    dedup-across-filtered-out-docs) would hide."""
    from featurestore_for_joycastle_java_spark.operators.text import (
        fingerprint,
    )
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        "doc_id",
        "source",
        F.size(tokens(F.col("text"))).alias("n_tok"),
        fingerprint(F.col("text")).alias("fp"),
    )
    q = t.filter(F.col("n_tok") >= 30)
    # SINGLE-PASS shape: annotate every candidate row with its stage
    # outcomes (dedup keeper? sampled?), then ONE conditional aggregation
    # per source — one fingerprint-window shuffle + one agg shuffle total,
    # instead of re-deriving the lineage per summary column
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 1000
    )
    rate = F.when(F.col("source").isin("src0", "src1"), 1000).otherwise(500)
    flagged = q.select(
        "source",
        "n_tok",
        (
            F.col("doc_id")
            == F.min("doc_id").over(Window.partitionBy("fp"))
        ).alias("is_keeper"),
        (bucket < rate).alias("is_sampled"),
    )
    keeper = F.when(F.col("is_keeper"), 1).otherwise(0)
    kept = F.when(F.col("is_keeper") & F.col("is_sampled"), 1).otherwise(0)
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(keeper).alias("n_after_dedup"),
        F.sum(kept).alias("n_kept"),
        F.sum(
            F.when(F.col("is_keeper") & F.col("is_sampled"), F.col("n_tok"))
            .otherwise(0)
        ).alias("n_tokens_kept"),
    )


_NEARDUP_PREP_ORACLE = """
WITH RECURSIVE
t AS (
    SELECT doc_id, source, n_chars,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
    FROM documents),
q AS (SELECT doc_id, source, n_chars, len(toks) AS n_tok, toks
      FROM t WHERE len(toks) >= 30),
s AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(toks) - 1),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
    FROM q),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE ROUND(1.0 - CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / (LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh))), 6)
          <= 0.4),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs),
reach AS (
    SELECT doc_id AS node, doc_id AS comp FROM q
    UNION
    SELECT e.dst AS node, r.comp AS comp
    FROM reach r JOIN edges e ON e.src = r.node),
cc AS (SELECT node AS doc_id, MIN(comp) AS component FROM reach GROUP BY 1),
surv AS (
    SELECT q.doc_id, q.source, q.n_tok,
           (ROW_NUMBER() OVER (PARTITION BY cc.component
                               ORDER BY q.n_chars DESC, q.doc_id) = 1)
               AS is_surv
    FROM q JOIN cc USING (doc_id)),
k AS (
    SELECT *,
           CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT)
               % 1000 AS bucket,
           CASE WHEN source IN ('src0', 'src1') THEN 1000 ELSE 500 END AS rate
    FROM surv)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       CAST(SUM(CASE WHEN is_surv THEN 1 ELSE 0 END) AS BIGINT)
           AS n_survivors,
       CAST(SUM(CASE WHEN is_surv AND bucket < rate THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN is_surv AND bucket < rate THEN n_tok ELSE 0 END)
            AS BIGINT) AS n_tokens_kept
FROM k GROUP BY 1
"""


@query(
    "train_corpus_prep_neardup",
    # LSH candidate recall is 1.0 at fixture scales (pair set == exact
    # all-pairs shingle jaccard — established by dedup_minhash_lsh's exact
    # oracle; gating to a subset of docs only removes pairs), so the WHOLE
    # near-dup pipeline replays exactly: gate -> shingle-jaccard pairs ->
    # recursive-CTE components -> survivor window -> md5-bucket sample ->
    # per-source card.
    #
    # SCALE-COUPLED, NOT STRUCTURAL: band recall is 1-(1-s^r)^b < 1, so
    # the equality with the exact-all-pairs oracle is an empirical fact of
    # the swept scales (sf0.001/0.01/0.1), not a theorem. After any
    # fixture regen or at a NEW scale factor, a value-hash failure HERE is
    # the index dropping a borderline pair, not an engine bug — re-run
    # tools/driver_sim.py at that scale before treating it as one.
    oracle=_NEARDUP_PREP_ORACLE,
)
def train_corpus_prep_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus preparation on the NEAR-dup path — the composite
    ``train_corpus_prep`` (exact dedup) upgraded to the pipeline a
    pretraining job actually needs at 100 TB, every stage the scale path:

    1. quality gate: whitespace-token count >= 30 (stateless, pushable);
    2. near-dup clustering across sources: MinHash-LSH candidate pairs
       (banded equal-hash join, never all-pairs) -> distributed min-label
       connected components;
    3. survivor retention: longest doc per cluster, min-doc_id tiebreak
       (one window over the clustered docs);
    4. deterministic stratified downsample of survivors: md5(doc_id)
       bucket < per-source rate — reproducible across engines, runs, and
       repartitions;
    5. per-source composition card: candidates -> survivors -> kept ->
       kept tokens (exact BIGINT counts).

    Stage-ordering bugs (sample-before-dedup, dedup across gated-out
    docs, survivor picked before clustering) all flip the card and fail
    the value hash."""
    docs = load_table(spark, sf_dir, "documents")
    # the gated scan feeds three plan branches (LSH signature build, CC
    # node set, retention join) — cache it once instead of re-tokenizing
    # the corpus per branch (same lifetime note as the minhash cache)
    gated = (
        docs.withColumn("n_tok", F.size(tokens(F.col("text"))))
        .filter(F.col("n_tok") >= 30)
        .cache()
    )
    pairs = D.minhash_lsh_pairs(gated, "doc_id", "text", max_jaccard_distance=0.4)
    cc = D.connected_components(gated, pairs, id_col="doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 1000
    )
    rate = F.when(F.col("source").isin("src0", "src1"), 1000).otherwise(500)
    flagged = (
        gated.select("doc_id", "source", "n_chars", "n_tok")
        .join(cc, "doc_id")
        .select(
            "source",
            "n_tok",
            (F.row_number().over(w) == 1).alias("is_surv"),
            (bucket < rate).alias("is_sampled"),
        )
    )
    kept = F.col("is_surv") & F.col("is_sampled")
    return flagged.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("is_surv"), 1).otherwise(0)).alias("n_survivors"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tok")).otherwise(0)).alias("n_tokens_kept"),
    )


@query(
    "train_weighted_sample",
    # Temperature-weighted source mixing: shares q_s = sqrt(c_s) / Σ_t
    # sqrt(c_t) (alpha = 0.5 flattens the source distribution), target
    # corpus = half the docs, per-source keep rate = min(1, q_s·N/2 /
    # c_s), membership decided by a 48-bit md5 uniform — fully
    # deterministic and replayed verbatim by the oracle. The only
    # cross-engine float hazard, the Σ sqrt(c_t) denominator, is a
    # SEQUENTIAL fold over the source-name-ordered count list in BOTH
    # engines (the EWMA IEEE-fold pattern), so every double matches
    # bit-for-bit.
    oracle="""
WITH c AS (
    SELECT source, COUNT(*) AS c FROM documents GROUP BY 1),
d AS (
    SELECT list_reduce(
               list_transform(list({'s': source, 'c': c} ORDER BY source),
                              r -> SQRT(CAST(r.c AS DOUBLE))),
               (a, x) -> a + x) AS denom,
           CAST(SUM(c) AS DOUBLE) AS n_all
    FROM c),
r AS (
    SELECT c.source, c.c,
           LEAST(1.0, (SQRT(CAST(c.c AS DOUBLE)) / d.denom)
                          * (0.5 * d.n_all) / CAST(c.c AS DOUBLE)) AS rate
    FROM c, d),
k AS (
    SELECT doc_id, source,
           CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                     AS BIGINT) AS DOUBLE) / 281474976710656.0 AS u
    FROM documents)
SELECT r.source,
       CAST(r.c AS BIGINT) AS n_total,
       ROUND(r.rate, 6) AS rate,
       CAST(SUM(CASE WHEN k.u < r.rate THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept
FROM k JOIN r USING (source)
GROUP BY 1, 2, 3
""",
)
def train_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted corpus mixing (multilingual-LM style): keep
    probability per source ∝ count^0.5 share, scaled to a half-size
    target corpus and capped at 1 — upsamples (keeps whole) small
    sources, downsamples dominant ones. Membership is an md5-keyed
    48-bit uniform per doc: reproducible across engines, runs and
    repartitions, stateless map-side filter at 100 TB (the rates frame
    is per-source tiny and broadcast). Summarized per source; the
    oracle recomputes rates AND membership exactly (see fold note)."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source").agg(F.count(F.lit(1)).alias("c"))
    d = c.agg(
        F.aggregate(
            F.transform(
                F.sort_array(F.collect_list(F.struct("source", "c"))),
                lambda s: F.sqrt(s["c"].cast("double")),
            ),
            F.lit(0.0),
            lambda a, x: a + x,
        ).alias("denom"),
        F.sum("c").cast("double").alias("n_all"),
    )
    rate = F.least(
        F.lit(1.0),
        (F.sqrt(F.col("c").cast("double")) / F.col("denom"))
        * (F.lit(0.5) * F.col("n_all"))
        / F.col("c").cast("double"),
    )
    r = c.crossJoin(F.broadcast(d)).select("source", "c", rate.alias("rate"))
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
        ).cast("double")
        / F.lit(281474976710656.0)
    )
    k = docs.select("source", u.alias("u"))
    return (
        k.join(F.broadcast(r), "source")
        .groupBy("source")
        .agg(
            F.any_value("c").alias("n_total"),
            F.round(F.any_value("rate"), 6).alias("rate"),
            F.sum(F.when(F.col("u") < F.col("rate"), 1).otherwise(0)).alias(
                "n_kept"
            ),
        )
    )


@query(
    "train_length_bucket_stats",
    oracle="""
WITH b AS (
    SELECT (n_chars - 1) // 256 AS bucket_id, n_chars
    FROM documents WHERE n_chars > 0)
SELECT bucket_id,
       (bucket_id + 1) * 256 AS cap,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(SUM((bucket_id + 1) * 256 - n_chars) AS BIGINT) AS pad_chars,
       CAST((SUM((bucket_id + 1) * 256 - n_chars) * 1000000)
            // ((bucket_id + 1) * 256 * COUNT(*)) AS BIGINT) AS pad_ppm
FROM b
GROUP BY 1
""",
)
def train_length_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching audit for sequence packing: docs bucket
    by 256-char bands; per bucket, the padding a bucket-capped batch
    would waste (pad-to-cap vs pad-to-global-max is the batching
    decision this measures — `train_pack_sequences` is the other
    strategy). pad_ppm is PURE integer arithmetic (scaled ppm floor
    division) — no float anywhere. One map-side-combined groupBy on a
    derived key; trivially partition-parallel at any scale."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    b = docs.select(
        F.expr("(n_chars - 1) DIV 256").alias("bucket_id"), "n_chars"
    )
    cap = (F.col("bucket_id") + 1) * 256
    return (
        b.groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.sum(cap - F.col("n_chars")).alias("pad_chars"),
        )
        .select(
            "bucket_id",
            cap.alias("cap"),
            "n_docs",
            "total_chars",
            "pad_chars",
            F.expr(
                "(pad_chars * 1000000) DIV ((bucket_id + 1) * 256 * n_docs)"
            ).alias("pad_ppm"),
        )
    )


@query(
    "train_contamination_check",
    oracle="""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
    FROM documents),
s AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(toks) - 3),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2],
                              toks[i+3], toks[i+4]))) AS sh
    FROM t WHERE len(toks) >= 5),
b AS (
    SELECT doc_id, UNNEST(sh) AS g FROM s WHERE doc_id % 97 = 0),
tr AS (
    SELECT doc_id, UNNEST(sh) AS g FROM s WHERE doc_id % 97 <> 0),
hits AS (
    SELECT DISTINCT tr.doc_id AS train_id, b.doc_id AS bench_id
    FROM tr JOIN b USING (g))
SELECT (SELECT COUNT(*) FROM s WHERE doc_id % 97 = 0) AS n_benchmark,
       (SELECT COUNT(*) FROM s WHERE doc_id % 97 <> 0) AS n_training,
       (SELECT COUNT(DISTINCT train_id) FROM hits) AS n_contaminated,
       (SELECT COUNT(*) FROM hits) AS n_doc_pairs
""",
)
def train_contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination audit: which training documents share a
    5-token shingle with any held-out benchmark document (deterministic
    1/97 doc slice stands in for the benchmark) — the pre-training
    check that keeps eval numbers honest. Inverted-index join on the
    shingle (the dedup family's engine — never doc×doc), distinct at
    the (train, bench) pair level, summarized to the four numbers a
    pipeline gates on. At 100 TB the shingle join is the same
    near-linear shape as MinHash candidate generation; hash the
    shingles (md5_hash60) if string shuffle width ever dominates."""
    from featurestore_for_joycastle_java_spark.operators import text as T

    docs = load_table(spark, sf_dir, "documents")
    s = docs.select(
        "doc_id", T.shingles(F.col("text"), k=5).alias("sh")
    ).filter(F.size("sh") >= 1)
    s = s.cache()
    is_bench = F.col("doc_id") % 97 == 0
    b = s.filter(is_bench).select(
        F.col("doc_id").alias("bench_id"), F.explode("sh").alias("g")
    )
    tr = s.filter(~is_bench).select(
        F.col("doc_id").alias("train_id"), F.explode("sh").alias("g")
    )
    hits = tr.join(b, "g").select("train_id", "bench_id").distinct()
    counts = s.agg(
        F.sum(F.when(is_bench, 1).otherwise(0)).alias("n_benchmark"),
        F.sum(F.when(is_bench, 0).otherwise(1)).alias("n_training"),
    )
    h = hits.agg(
        F.countDistinct("train_id").alias("n_contaminated"),
        F.count(F.lit(1)).alias("n_doc_pairs"),
    )
    return counts.crossJoin(h)


# -------------------------------------------------------------- training


@query(
    "train_kfold_assign",
    # Fold = md5(user_id) first-8-hex mod 5 (the repo's cross-engine
    # hash pattern) — deterministic, reproducible, and GROUP-level:
    # every event of a user lands in the same fold by construction.
    oracle="""
WITH f AS (
    SELECT user_id,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 5 AS fold
    FROM (SELECT DISTINCT user_id FROM events)),
e AS (
    SELECT e.user_id, f.fold,
           CAST(FLOOR(e.value * 1000000.0) AS BIGINT) AS vm,
           CASE WHEN e.event_type = 'purchase' THEN 1 ELSE 0 END AS pos
    FROM events e JOIN f USING (user_id))
SELECT fold,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(vm) AS BIGINT) AS sum_value_micro,
       CAST(SUM(pos) * 1000000 // COUNT(*) AS BIGINT) AS pos_ppm
FROM e GROUP BY 1
""",
)
def train_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP 5-fold cross-validation assignment: the fold is a
    deterministic hash of the USER, so all of a user's events share a
    fold — row-level fold hashing leaks user-specific signal from
    train folds into the validation fold (the same user on both
    sides), which this construction rules out. Output is the per-fold
    balance sheet (users, events, value mass, positive ppm) a CV
    harness checks before trusting fold symmetry.

    Scale shape: fold derives from a hash of the join key itself, so
    the event→fold attach is a broadcast of the user-dim frame (or at
    extreme user cardinality, recomputing md5 per event row — shown
    here as the dim join because real feature stores carry more
    per-user state than the hash); one map-side-combined groupBy to 5
    rows."""
    users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            (
                F.conv(
                    F.substring(F.md5(F.col("user_id").cast("string")), 1, 8),
                    16,
                    10,
                ).cast("bigint")
                % 5
            ).alias("fold"),
        )
    )
    e = (
        load_table(spark, sf_dir, "events")
        .select(
            "user_id",
            F.floor(F.col("value") * F.lit(1e6)).cast("bigint").alias("vm"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("pos"),
        )
        .join(F.broadcast(users), "user_id")
    )
    return e.groupBy("fold").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("vm").cast("bigint").alias("sum_value_micro"),
        F.expr("sum(pos) * 1000000 DIV count(1)")
        .cast("bigint")
        .alias("pos_ppm"),
    )


@query(
    "train_token_budget_mix",
    # The running sum is order-deterministic (doc_id unique within a
    # source) and pure integer; the kept set is the maximal prefix whose
    # PRIOR cumulative stays under the budget (greedy fill — the last
    # kept doc may overflow).
    oracle="""
WITH t AS (
    SELECT source, doc_id,
           len(list_filter(string_split(lower(text), ' '), x -> x <> ''))
               AS n_tok
    FROM documents),
c AS (
    SELECT source, doc_id, n_tok,
           SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
    FROM t)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs_total,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens_total,
       CAST(SUM(CASE WHEN cum - n_tok < 500 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_docs_kept,
       CAST(SUM(CASE WHEN cum - n_tok < 500 THEN n_tok ELSE 0 END)
            AS BIGINT) AS n_tokens_kept
FROM c GROUP BY 1
""",
)
def train_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing: each source contributes documents in
    deterministic (doc_id) order until its 500-token budget is filled —
    the per-source allocation step of training-mixture construction
    (fixed token budgets per domain, greedy prefix fill; the companion
    to the temperature-weighted `train_weighted_sample`).

    Scale shape: the per-source running sum uses
    ``operators.ranks.grouped_prefix_sum`` — the two-pass range-bucketed
    prefix sum — so NO window ever sees a whole source (a 100 TB corpus
    with 5 sources would put 20 TB through one task under a plain
    ``Window.partitionBy(source)``); the fact shuffles once on
    (source, bucket) and the offsets frame is sources × 32 rows. The
    final rollup is an ordinary map-side-combined groupBy."""
    from featurestore_for_joycastle_java_spark.operators.ranks import (
        grouped_prefix_sum,
    )
    from featurestore_for_joycastle_java_spark.operators.text import (
        token_count,
    )

    t = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tok"),
    )
    c = grouped_prefix_sum(
        t, ["source"], "doc_id", "n_tok", out_col="cum"
    )
    kept = (F.col("cum") - F.col("n_tok")) < 500
    return c.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_total"),
        F.sum("n_tok").cast("bigint").alias("n_tokens_total"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("bigint").alias("n_docs_kept"),
        F.sum(F.when(kept, F.col("n_tok")).otherwise(0))
        .cast("bigint")
        .alias("n_tokens_kept"),
    )


# --------------------------------------------------- curriculum deciles

#: Unigram-LM NLL scoring CTE shared with text_lm_quality's oracle.
_NLL = """
t AS (
    SELECT doc_id,
           unnest(list_filter(string_split(lower(text), ' '),
                              x -> x <> '')) AS tok
    FROM documents),
c AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY 1),
g AS (SELECT COUNT(*) AS n_total, COUNT(DISTINCT tok) AS v FROM t),
nll AS (
    SELECT t.doc_id, COUNT(*) AS n_tokens,
           ROUND(-AVG(LN(CAST(c.c + 1 AS DOUBLE) / (g.n_total + g.v))), 6)
               AS nll_nats
    FROM t JOIN c USING (tok) CROSS JOIN g
    GROUP BY t.doc_id)
"""


@query(
    "train_curriculum_buckets",
    oracle=f"""
WITH {_NLL},
d AS (
    SELECT doc_id, n_tokens, nll_nats,
           NTILE(10) OVER (ORDER BY nll_nats, doc_id) AS decile
    FROM nll)
SELECT CAST(decile AS INTEGER) AS decile,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       ROUND(AVG(nll_nats), 6) AS avg_nll,
       MIN(nll_nats) AS min_nll,
       MAX(nll_nats) AS max_nll
FROM d GROUP BY 1
""",
)
def train_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum-learning schedule (Bengio et al., ICML 2009): order the
    corpus easy-to-hard by LM negative log-likelihood and cut it into 10
    equal-depth difficulty stages, reporting each stage's document and
    TOKEN budget (training schedules are token-denominated). Composes
    ``text_lm_quality``'s scorer — deciles are over the same rounded
    score the driver already hash-pins, with doc_id tiebreak so bucket
    boundaries are total-ordered.

    Scale shape: NTILE over a global order is the usual trap; this uses
    the two-pass range-bucketed ``global_row_number`` + the exact
    closed-form ``ntile_from_rank`` (no whole-corpus window), then one
    combine-friendly rollup to 10 rows."""
    from featurestore_for_joycastle_java_spark.operators.ranks import (
        ntile_from_rank,
    )

    nll = _nll_frame(load_table(spark, sf_dir, "documents"))
    ranked = global_row_number(nll, "nll_nats", ["doc_id"], out_col="rn")
    tiled = ranked.withColumn(
        "decile", ntile_from_rank(F.col("rn"), F.col("_n_total"), 10)
    )
    return tiled.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("nll_nats"), 6).alias("avg_nll"),
        F.min("nll_nats").alias("min_nll"),
        F.max("nll_nats").alias("max_nll"),
    )


# -------------------------------------------- temperature source mixing


@query(
    "train_mixture_temperature",
    oracle="""
WITH s AS (
    SELECT source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS n_chars
    FROM documents GROUP BY 1),
t AS (SELECT SUM(n_docs) AS total FROM s),
w AS (
    SELECT source, n_docs, n_chars,
           POW(CAST(n_docs AS DOUBLE) / total, 0.7) AS raw_w
    FROM s, t),
z AS (SELECT SUM(raw_w) AS zsum FROM w)
SELECT source, n_docs, n_chars,
       ROUND(CAST(n_docs AS DOUBLE) / (SELECT total FROM t), 6)
           AS nat_share,
       ROUND(raw_w / zsum, 6) AS temp_share
FROM w, z
""",
)
def train_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled corpus mixing (the alpha-sampling of
    multilingual LM training — mC4/XLM-R use alpha ~= 0.3-0.7):
    per-source sampling weights proportional to share^0.7, which
    up-weights tail sources relative to natural sampling without
    letting the head dominate. Reports natural vs temperature shares
    side by side plus the char budget each source brings — this is the
    knob file a data-mixing job consumes, complementing
    ``train_source_mix`` (fixed target ratios) and
    ``train_token_budget_mix`` (budget-capped).

    Scale shape: one combine-friendly groupBy to |sources| rows; the
    total and the normalizer are 1-row broadcasts; pow/divide run on
    the tiny frame only."""
    docs = load_table(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    t = s.agg(F.sum("n_docs").alias("total"))
    w = s.crossJoin(F.broadcast(t)).withColumn(
        "raw_w",
        F.pow(F.col("n_docs").cast("double") / F.col("total"), 0.7),
    )
    z = w.agg(F.sum("raw_w").alias("zsum"))
    return (
        w.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_docs",
            "n_chars",
            F.round(
                F.col("n_docs").cast("double") / F.col("total"), 6
            ).alias("nat_share"),
            F.round(F.col("raw_w") / F.col("zsum"), 6).alias("temp_share"),
        )
    )


# --------------------------------------------------- preference pairs


@query(
    "train_preference_pairs",
    oracle="""
WITH p AS (
    SELECT user_id, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY value DESC, event_id DESC) AS rn_hi,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY value ASC, event_id ASC) AS rn_lo
    FROM events WHERE event_type = 'purchase'),
hi AS (SELECT user_id, event_id AS chosen_id, value AS chosen_value
       FROM p WHERE rn_hi = 1),
lo AS (SELECT user_id, event_id AS rejected_id, value AS rejected_value
       FROM p WHERE rn_lo = 1)
SELECT hi.user_id, hi.chosen_id, hi.chosen_value,
       lo.rejected_id, lo.rejected_value,
       hi.chosen_value - lo.rejected_value AS margin
FROM hi JOIN lo ON hi.user_id = lo.user_id
WHERE hi.chosen_value > lo.rejected_value
""",
)
def train_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction (the RLHF/DPO data-prep shape): per
    prompt-group (user), the best and worst responses (highest / lowest
    purchase value, total-order tiebreak on event_id) become a
    (chosen, rejected) pair with its margin; groups whose extremes tie
    produce no pair (a zero-margin pair teaches nothing). Values and
    margins pass through as raw doubles — one subtraction, identical in
    both engines, no rounding.

    Scale shape: two per-entity windows on the same (user) shuffle, two
    1-row-per-group filters, one join on the group key — linear, no
    group ever materializes beyond its own rows."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    w_hi = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id").desc()
    )
    w_lo = Window.partitionBy("user_id").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    p = ev.select(
        "user_id",
        "event_id",
        "value",
        F.row_number().over(w_hi).alias("rn_hi"),
        F.row_number().over(w_lo).alias("rn_lo"),
    )
    hi = p.filter(F.col("rn_hi") == 1).select(
        "user_id",
        F.col("event_id").alias("chosen_id"),
        F.col("value").alias("chosen_value"),
    )
    lo = p.filter(F.col("rn_lo") == 1).select(
        "user_id",
        F.col("event_id").alias("rejected_id"),
        F.col("value").alias("rejected_value"),
    )
    return (
        hi.join(lo, "user_id")
        .filter(F.col("chosen_value") > F.col("rejected_value"))
        .select(
            "user_id",
            "chosen_id",
            "chosen_value",
            "rejected_id",
            "rejected_value",
            (F.col("chosen_value") - F.col("rejected_value")).alias(
                "margin"
            ),
        )
    )


# ------------------------------------------------ curation funnel


@query(
    "train_curation_funnel",
    oracle="""
WITH f AS (
    SELECT doc_id, source,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           len(list_filter(string_split(lower(text), ' '),
                           x -> x <> '')) AS n_tokens
    FROM documents),
surv AS (
    SELECT doc_id, source, n_tokens,
           doc_id = MIN(doc_id) OVER (PARTITION BY fp) AS is_survivor
    FROM f),
t AS (
    SELECT doc_id,
           unnest(list_filter(string_split(lower(text), ' '),
                              x -> x <> '')) AS tok
    FROM documents),
c AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY 1),
g AS (SELECT COUNT(*) AS n_total, COUNT(DISTINCT tok) AS v FROM t),
nll AS (
    SELECT t.doc_id,
           ROUND(-AVG(LN(CAST(c.c + 1 AS DOUBLE) / (g.n_total + g.v))), 6)
               AS nll_nats
    FROM t JOIN c USING (tok) CROSS JOIN g GROUP BY t.doc_id),
staged AS (
    SELECT s.doc_id, s.source, s.n_tokens, s.is_survivor,
           s.is_survivor AND nll.nll_nats <= 3.41 AS quality_ok
    FROM surv s JOIN nll ON nll.doc_id = s.doc_id),
budgeted AS (
    SELECT *,
           CASE WHEN quality_ok THEN
               SUM(CASE WHEN quality_ok THEN n_tokens ELSE 0 END)
                   OVER (PARTITION BY source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               END AS cum_tokens
    FROM staged)
SELECT source,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN is_survivor THEN 1 ELSE 0 END) AS BIGINT)
           AS n_after_dedup,
       CAST(SUM(CASE WHEN quality_ok THEN 1 ELSE 0 END) AS BIGINT)
           AS n_after_quality,
       CAST(SUM(CASE WHEN quality_ok AND cum_tokens <= 800
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN quality_ok AND cum_tokens <= 800
                     THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept
FROM budgeted
GROUP BY source
""",
)
def train_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE LLM-corpus curation pipeline as one accountable funnel:
    exact-dedup survivors -> LM-quality gate (unigram NLL <= 3.41, the
    ~p90 of this corpus) -> per-source token budget (first 800 tokens
    per source in doc_id order), with per-source counts at EVERY stage
    — the number the data lead actually reviews ("where did my
    documents go?"). Composes `dedup_exact_survivors`,
    `text_lm_quality`, and `train_token_budget_mix`'s budget rule into
    one lineage with exact integer accounting.

    Scale shape: survivor flags are one fp-keyed window (bounded dup
    groups); NLL is the shared scorer (one token explode, one hash
    join); the budget prefix sum partitions per source ordered by
    doc_id (the scale-safe variant is `grouped_prefix_sum`, used by
    `train_token_budget_mix`; a plain per-source window is kept here
    because the funnel's unit of work is the per-source slice and the
    two are proven equivalent in tests/test_round7.py)."""
    from featurestore_for_joycastle_java_spark.operators.text import (
        fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id",
        "source",
        fingerprint(F.col("text")).alias("fp"),
        F.size(tokens(F.col("text"))).alias("n_tokens"),
    )
    w_fp = Window.partitionBy("fp")
    surv = f.withColumn(
        "is_survivor", F.col("doc_id") == F.min("doc_id").over(w_fp)
    )
    nll = _nll_frame(docs).select("doc_id", "nll_nats")
    staged = surv.join(nll, "doc_id").withColumn(
        "quality_ok", F.col("is_survivor") & (F.col("nll_nats") <= 3.41)
    )
    w_b = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    budgeted = staged.withColumn(
        "cum_tokens",
        F.when(
            F.col("quality_ok"),
            F.sum(
                F.when(F.col("quality_ok"), F.col("n_tokens")).otherwise(0)
            ).over(w_b),
        ),
    )
    kept = F.col("quality_ok") & (F.col("cum_tokens") <= 800)
    return budgeted.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(F.col("is_survivor").cast("long")).alias("n_after_dedup"),
        F.sum(F.col("quality_ok").cast("long")).alias("n_after_quality"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tokens")).otherwise(0)).alias(
            "tokens_kept"
        ),
    )


# ------------------------------------------------- sharded export

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
    import os

    docs = load_table(spark, sf_dir, "documents")

    def build(root: str) -> str:
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
        return out

    # written once per process; the read discovers partition col shard_id
    lines = spark.read.text(build_once(("export", sf_dir), build))
    fp = F.conv(
        F.substring(F.md5(F.col("value")), 1, 10), 16, 10
    ).cast("decimal(38,0)")
    return lines.groupBy(F.col("shard_id").cast("long").alias("shard_id")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum(fp) % F.lit(1099511627776).cast("decimal(38,0)"))
        .cast("long")
        .alias("checksum"),
    )
