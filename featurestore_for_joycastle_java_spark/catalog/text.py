"""Text-analysis queries over the documents table (SURVEY.md §2.3):
token statistics and frequencies, BPE tokens, language ID, TF-IDF and
BM25 retrieval, phrase matching, quality filters (heuristic, Gopher
rules, CCNet-style unigram-LM perplexity, repetition, rarity), keyword
extraction (TextRank, RAKE), PMI collocations, winnowing fingerprints
and Zipf fits."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from featurestore_for_joycastle_java_spark.operators import text as T
from featurestore_for_joycastle_java_spark.operators.graph import pagerank_int
from featurestore_for_joycastle_java_spark.operators.text import (
    bind_once,
    tokens,
    winnow_fingerprints,
)
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import load_table


def _nll_frame(docs: DataFrame) -> DataFrame:
    """Per-doc unigram-LM scores ``(doc_id, n_tokens, nll_nats)`` —
    shared by ``text_lm_quality`` (the score surface) and
    ``train_curriculum_buckets`` (the consumer)."""
    t = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), " "),
                lambda x: x != "",
            )
        ).alias("tok"),
    )
    c = t.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    g = t.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.countDistinct("tok").alias("v"),
    )
    return (
        t.join(c, "tok")
        .crossJoin(F.broadcast(g))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(
                -F.avg(
                    F.log(
                        (F.col("c") + 1).cast("double")
                        / (F.col("n_total") + F.col("v"))
                    )
                ),
                6,
            ).alias("nll_nats"),
        )
    )


#: Closed-class stopword probe of the Gopher rules and RAKE, so the two
#: text gates share one vocabulary contract (inlined in their oracle SQL,
#: so it must stay in sync). Rae et al. 2021 (arXiv:2112.11446) use a
#: small closed-class list; ours matches the en-stopword family of
#: ``operators/text.py::LANG_STOPWORDS`` where it intersects the fixture
#: vocabulary, so the >= 2 distinct-stopword rule actually discriminates.
_STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "for", "on", "with"]


# DuckDB twin of operators.text.tokens()
_TOKS = "list_filter(string_split(lower(text), ' '), x -> x <> '')"


def _sw_hits(words: list[str]) -> str:
    arr = "[" + ", ".join(f"'{w}'" for w in words) + "]"
    return f"len(list_filter({_TOKS}, x -> list_contains({arr}, x)))"


@query(
    "text_stats",
    oracle=f"""
SELECT doc_id,
       CAST(LEN({_TOKS}) AS INT) AS n_tokens,
       CAST(LEN(list_distinct({_TOKS})) AS INT) AS n_uniq_tokens,
       CAST(LENGTH(text) AS INT) AS n_chars_calc,
       CAST(list_sum(list_transform({_TOKS}, t -> LENGTH(t))) AS BIGINT)
           AS sum_token_chars,
       CAST(OCTET_LENGTH(ENCODE(text)) AS INT) AS n_bytes
FROM documents
""",
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + basic stats, all in codegen (split + HOFs)."""
    d = load_table(spark, sf_dir, "documents")
    toks = T.tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_uniq_tokens"),
        F.length("text").alias("n_chars_calc"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t).cast("long")),
            F.lit(0).cast("long"),
            lambda a, x: a + x,
        ).alias("sum_token_chars"),
        F.octet_length("text").alias("n_bytes"),
    )


@query(
    "text_quality",
    oracle=f"""
SELECT doc_id,
       ROUND(0.5 * LEAST(CAST(LEN({_TOKS}) AS DOUBLE) / 100.0, 1.0)
           + 0.3 * LEAST(CASE WHEN LEN({_TOKS}) > 0
                 THEN CAST({_sw_hits(T.LANG_STOPWORDS["en"])} AS DOUBLE)
                      / LEN({_TOKS}) ELSE 0.0 END * 5.0, 1.0)
           + 0.2 * (1.0 - CASE WHEN LENGTH(text) > 0
                 THEN CAST(LENGTH(regexp_replace(text,
                      '[^.,!?;:''"()-]', '', 'g')) AS DOUBLE) / LENGTH(text)
                 ELSE 0.0 END), 6) AS quality,
       CAST(LEN({_TOKS}) AS INT) >= 50 AS long_enough
FROM documents
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length/stopword/punctuation heuristic in [0,1]."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        T.quality_score(F.col("text")).alias("quality"),
        (T.token_count(F.col("text")) >= 50).alias("long_enough"),
    )


_LANG_CASE = f"""
CASE WHEN regexp_matches(text, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
     WHEN {_sw_hits(T.LANG_STOPWORDS["en"])} >= {_sw_hits(T.LANG_STOPWORDS["fr"])}
          AND {_sw_hits(T.LANG_STOPWORDS["en"])} >= {_sw_hits(T.LANG_STOPWORDS["es"])}
          AND {_sw_hits(T.LANG_STOPWORDS["en"])} >= {_sw_hits(T.LANG_STOPWORDS["de"])}
         THEN 'en'
     WHEN {_sw_hits(T.LANG_STOPWORDS["fr"])} >= {_sw_hits(T.LANG_STOPWORDS["es"])}
          AND {_sw_hits(T.LANG_STOPWORDS["fr"])} >= {_sw_hits(T.LANG_STOPWORDS["de"])}
         THEN 'fr'
     WHEN {_sw_hits(T.LANG_STOPWORDS["es"])} >= {_sw_hits(T.LANG_STOPWORDS["de"])}
         THEN 'es'
     ELSE 'de'
END
"""


@query(
    "text_lang_id",
    oracle=f"""
SELECT lang_pred, lang AS lang_label, COUNT(*) AS n_docs
FROM (SELECT {_LANG_CASE} AS lang_pred, lang FROM documents)
GROUP BY lang_pred, lang
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs the labeled lang column (confusion
    counts). The fixture text is synthetic English-ish tokens for every
    label, so the interesting part is determinism, not accuracy."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            T.lang_id(F.col("text")).alias("lang_pred"),
            F.col("lang").alias("lang_label"),
        )
        .groupBy("lang_pred", "lang_label")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# BPE-ish pre-tokenizer (GPT-2 style, simplified): a token is an optionally
# space-prefixed letter run, digit run, or punctuation run, else a whitespace
# run. Deliberately lookahead-free so Java regex (Spark) and RE2 (DuckDB)
# produce identical leftmost-first matches.
_BPE_PAT = r" ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


@query(
    "text_bpe_tokens",
    oracle=f"""
SELECT doc_id,
       CAST(LEN(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+'))
           AS INT) AS n_pieces,
       CAST(LEN(list_filter(
               regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\\s]+|\\s+'),
               x -> NOT regexp_matches(x, '^\\s+$')))
           AS INT) AS n_word_pieces,
       CAST(LEN({_TOKS}) AS INT) AS n_ws_tokens
FROM documents
""",
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (north star: "whitespace + a BPE-ish
    regex"): a GPT-2-style pre-tokenizer regex (letter/digit/punct runs
    with optional leading space) next to plain whitespace tokens. All in
    codegen — ``regexp_extract_all`` + higher-order ``filter``, no UDF."""
    d = load_table(spark, sf_dir, "documents")
    pieces = F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)
    return d.select(
        "doc_id",
        F.size(pieces).alias("n_pieces"),
        F.size(
            F.filter(pieces, lambda x: ~x.rlike(r"^\s+$"))
        ).alias("n_word_pieces"),
        T.token_count(F.col("text")).alias("n_ws_tokens"),
    )


@query(
    "text_tfidf",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, UNNEST({_TOKS}) AS term FROM documents),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks GROUP BY 1, 2),
dfq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM documents),
scored AS (
    SELECT t.doc_id, t.term, t.tf, d.df,
           ROUND(t.tf * LN(CAST(n.n_docs AS DOUBLE) / d.df), 6) AS tfidf
    FROM tf t JOIN dfq d USING (term) CROSS JOIN n),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rk
    FROM scored)
SELECT doc_id, term, tf, df, tfidf FROM ranked WHERE rk <= 5
""",
)
def text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document. Plan shape for scale: tf is one
    map-side-combined groupBy on (doc, term); df is a second combine on
    term; the corpus size joins in as a broadcast 1-row aggregate (no
    driver-side count()); ranking is a bounded per-doc window. Ordering
    is on the ROUNDED score with a term tie-break so both engines pick
    the identical top-5 set."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(T.tokens(F.col("text"))).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term")
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .drop("rk")
    )


@query(
    "text_fingerprint",
    oracle="""
SELECT doc_id,
       md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
FROM documents
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprint (md5 of normalized text) — the exact-dedup key,
    reproducible across engines by construction."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("doc_id", T.fingerprint(F.col("text")).alias("fp"))


@query(
    "text_token_freq",
    oracle="""
SELECT tok, COUNT(*) AS n
FROM (SELECT UNNEST(list_filter(string_split(lower(text), ' '),
                    x -> x <> '')) AS tok
      FROM documents)
GROUP BY tok
ORDER BY n DESC, tok
LIMIT 20
""",
)
def text_token_freq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode / lateral-view surface: global token frequency top-20
    (deterministic tiebreak on the token)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("tok"))
        .limit(20)
    )


@query(
    "text_winnow_pairs",
    # Winnowing is deterministic given the token stream and the (k, w)
    # parameters, and the shingle hash is the portable md5-prefix — the
    # oracle replays the full pipeline with DuckDB list ops: positional
    # 3-token shingles -> 60-bit hashes -> min per 4-wide window ->
    # distinct fingerprints -> pair counts.
    oracle="""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
    FROM documents),
h AS (
    SELECT doc_id,
           list_transform(range(1, len(toks) - 1),
               i -> CAST(('0x' || substr(md5(concat_ws(' ', toks[i],
                          toks[i+1], toks[i+2])), 1, 15)) AS BIGINT)) AS hs
    FROM t WHERE len(toks) >= 3),
w AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, greatest(len(hs) - 3, 1) + 1),
               i -> list_min(hs[i:i+3]))) AS fps
    FROM h),
f AS (SELECT doc_id, unnest(fps) AS fp FROM w)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
""",
)
def text_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local-similarity candidate pairs via winnowing fingerprints
    (Schleimer/Wilkerson/Aiken, the MOSS algorithm): any shared token run
    of ≥ k+w-1 = 6 tokens guarantees a shared fingerprint — the
    partial-overlap signal whole-doc hashing and bag-of-shingles Jaccard
    both miss. Fingerprint selection is all higher-order functions on one
    row (no explode until the index); the pair join shuffles on
    fingerprint values — one uniform shuffle, the exact-dedup shape.
    Pairs sharing ≥ 2 fingerprints are reported with their shared count."""
    docs = load_table(spark, sf_dir, "documents")
    # the fingerprint index feeds BOTH sides of the self-join — cache it
    # once instead of running the tokenize→shingle-hash→window cascade
    # twice (same lifetime note as the minhash shingle cache: blocks are
    # LRU-evictable and unpersist with the plan's garbage collection)
    fps = docs.select(
        "doc_id",
        F.explode(winnow_fingerprints(F.col("text"), k=3, w=4)).alias("fp"),
    ).cache()
    a, b = fps.alias("a"), fps.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )


@query(
    "text_repetition",
    # Spark computes the top-bigram run length with a per-row HOF fold
    # over the SORTED bigram list (array_sort → aggregate with a
    # (prev, run, best) struct accumulator) — zero shuffle, zero explode.
    # The oracle reaches the same numbers the relational way (unnest →
    # count per gram → max), which is exactly the cross-check you want:
    # two different algorithms, one answer.
    oracle="""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS tk
    FROM documents),
g AS (
    SELECT doc_id, len(tk) AS n_tokens,
           list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i + 1])
               AS g2
    FROM t WHERE len(tk) >= 2),
ex AS (SELECT doc_id, n_tokens, len(g2) AS n_2grams, unnest(g2) AS gram FROM g),
cnt AS (SELECT doc_id, n_tokens, n_2grams, gram, COUNT(*) AS c
        FROM ex GROUP BY 1, 2, 3, 4)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_2grams AS BIGINT) AS n_2grams,
       ROUND(1.0 - COUNT(*) / CAST(n_2grams AS DOUBLE), 6) AS dup_2gram_frac,
       ROUND(MAX(c) / CAST(n_2grams AS DOUBLE), 6) AS top_2gram_frac,
       ROUND(MAX(c) / CAST(n_2grams AS DOUBLE), 6) > 0.18 AS is_repetitive
FROM cnt GROUP BY doc_id, n_tokens, n_2grams
""",
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per document: duplicate-
    bigram fraction and top-bigram fraction (fraction of all bigrams that
    are the single most frequent one), with the published 0.18
    top-2-gram gate as a boolean. ENTIRELY per-row Catalyst HOFs —
    bigrams via transform over an index sequence, distinct count via
    array_distinct, top run via a fold over the sorted list — so the
    operator is embarrassingly parallel: no explode, no shuffle, linear
    scan of the corpus. The quality-gate shape a 100 TB pretraining
    pipeline runs over every document. Docs with < 2 tokens have no
    bigrams and are excluded (structural, both engines)."""
    from featurestore_for_joycastle_java_spark.operators.text import tokens

    docs = load_table(spark, sf_dir, "documents")
    base = docs.select("doc_id", tokens(F.col("text")).alias("tk")).filter(
        F.size("tk") >= 2
    )
    tk = F.col("tk")
    g2 = F.transform(
        F.sequence(F.lit(0), F.size(tk) - 2),
        lambda i: F.concat_ws(" ", F.get(tk, i), F.get(tk, i + 1)),
    )
    base = base.select("doc_id", F.size(tk).alias("n_tokens"), g2.alias("g2"))
    acc0 = F.struct(
        F.lit("").alias("prev"),
        F.lit(0).cast("int").alias("run"),
        F.lit(0).cast("int").alias("best"),
    )

    def step(acc, x):
        run = F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
        )

    top_c = F.aggregate(F.array_sort("g2"), acc0, step, lambda acc: acc["best"])
    n2 = F.size("g2")
    top_frac = F.round(top_c / n2.cast("double"), 6)
    return base.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        n2.cast("bigint").alias("n_2grams"),
        F.round(
            F.lit(1.0) - F.size(F.array_distinct("g2")) / n2.cast("double"), 6
        ).alias("dup_2gram_frac"),
        top_frac.alias("top_2gram_frac"),
        (top_frac > 0.18).alias("is_repetitive"),
    )


@query(
    "text_bm25_topk",
    # Float discipline (the tfidf precedent: both engines' ln agreed on
    # fixture inputs, pinned by that query since r1): per-term idf and
    # the per-doc score are built in ONE fixed term order (join to an
    # ordered term dim, aggregate via a sorted-struct fold), outputs
    # rounded at 6dp with doc_id tie-break so both engines pick the
    # identical top set.
    oracle="""
WITH q(term, ord) AS (
    SELECT * FROM (VALUES ('spark', 1), ('stream', 2), ('join', 3))),
toks AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x <> '')
               AS toks
    FROM documents),
dl AS (
    SELECT doc_id, LEN(toks) AS dl FROM toks),
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
           LN((CAST(s.n_docs AS DOUBLE)
               - CAST(d.df AS DOUBLE) + 0.5)
              / (CAST(d.df AS DOUBLE) + 0.5) + 1.0) AS idf
    FROM q
    JOIN (SELECT term, COUNT(*) AS df FROM tf WHERE tf > 0 GROUP BY 1) d
        USING (term)
    CROSS JOIN stats s),
scored AS (
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
    HAVING SUM(tf.tf) > 0)
SELECT doc_id, score
FROM scored
ORDER BY score DESC, doc_id
LIMIT 20
""",
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval scoring (k1=1.2, b=0.75) for a fixed 3-term query
    over the corpus, top-20 — the lexical-retrieval op the text family
    lacked (TF-IDF ranks a doc's own terms; BM25 ranks DOCS for a
    query — the RAG/eval-retrieval read). Scale shape: tokens bind
    once, per-(doc, term) tf is a filtered HOF count against a
    broadcast 3-row term dim (no explode of the corpus), idf and avgdl
    ride 1-row/3-row broadcast stats, and the per-doc score folds the
    ≤3 term contributions in FIXED term order (sorted-struct fold — the
    EWMA pattern) so the float sum is bit-deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    from featurestore_for_joycastle_java_spark.operators import text as T

    terms = ["spark", "stream", "join"]
    q = spark.createDataFrame(
        [(t, i + 1) for i, t in enumerate(terms)], "term string, ord int"
    )
    toks = docs.select("doc_id", T.tokens(F.col("text")).alias("toks"))
    dl = toks.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = toks.crossJoin(F.broadcast(q)).select(
        "doc_id",
        "term",
        "ord",
        F.size(
            F.filter(F.col("toks"), lambda x: x == F.col("term"))
        ).alias("tf"),
    )
    df_ = tf.filter(F.col("tf") > 0).groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    idf = (
        q.join(df_, "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            F.log(
                (
                    F.col("n_docs").cast("double")
                    - F.col("df").cast("double")
                    + F.lit(0.5)
                )
                / (F.col("df").cast("double") + F.lit(0.5))
                + F.lit(1.0)
            ).alias("idf"),
        )
    )
    contrib = F.col("idf") * (F.col("tf").cast("double") * F.lit(2.2)) / (
        F.col("tf").cast("double")
        + F.lit(1.2)
        * (
            F.lit(0.25)
            + F.lit(0.75) * F.col("dl").cast("double") / F.col("avgdl")
        )
    )
    scored = (
        tf.join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .join(F.broadcast(idf), "term")
        .select("doc_id", "ord", "tf", contrib.alias("v"))
        .groupBy("doc_id")
        .agg(
            F.round(
                F.aggregate(
                    F.transform(
                        F.sort_array(
                            F.collect_list(F.struct("ord", "v"))
                        ),
                        lambda s: s["v"],
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                ),
                6,
            ).alias("score"),
            F.sum("tf").alias("tf_total"),
        )
        .filter(F.col("tf_total") > 0)
        .drop("tf_total")
    )
    return scored.orderBy(F.col("score").desc(), "doc_id").limit(20)


@query(
    "text_rarity",
    # Rare = corpus count < 1% of all tokens (integer comparison —
    # scale-invariant, no float threshold); ppm is integer floor
    # division on nonnegative integers, identical both engines.
    oracle="""
WITH t AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
c AS (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY 1),
tot AS (
    SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c)
SELECT t.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(c.cnt) AS BIGINT) AS sum_freq,
       CAST((SUM(CASE WHEN c.cnt * 100 < tot.total THEN 1 ELSE 0 END)
             * 1000000) // COUNT(*) AS BIGINT) AS rare_ppm
FROM t JOIN c USING (tok) CROSS JOIN tot
GROUP BY 1
""",
)
def text_rarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rare-token quality scoring — the integer-exact core of
    CCNet-style LM filtering: per document, total corpus frequency of
    its tokens and the ppm share of rare tokens (corpus count < 1% of
    all tokens). Documents dominated by rare tokens are
    noise/boilerplate candidates; unlike log-prob scoring this stays in
    exact integers (no transcendental functions, whose libm results
    differ across engines), so the oracle matches bit-for-bit.

    Scale shape: the vocabulary frame is Zipf-small relative to the
    corpus (here 31 tokens; at web scale still millions of rows vs
    billions of docs) → broadcast to the exploded token stream; one
    map-side-combined groupBy per doc. The 1-row total attaches via the
    scalar-stats broadcast cross join."""
    toks = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    c = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    tot = c.agg(F.sum("cnt").alias("total"))
    return (
        toks.join(F.broadcast(c), "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("cnt").cast("bigint").alias("sum_freq"),
            F.expr(
                "(sum(CASE WHEN cnt * 100 < total THEN 1 ELSE 0 END)"
                " * 1000000) DIV count(1)"
            )
            .cast("bigint")
            .alias("rare_ppm"),
        )
    )


@query(
    "text_phrase_match",
    oracle="""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
    FROM documents)
SELECT doc_id,
       CAST(LEN(list_filter(range(1, LEN(toks)),
                i -> toks[i] = 'hash' AND toks[i+1] = 'join'))
            AS BIGINT) AS n_occurrences
FROM t
WHERE LEN(list_filter(range(1, LEN(toks)),
          i -> toks[i] = 'hash' AND toks[i+1] = 'join')) > 0
ORDER BY doc_id
""",
)
def text_phrase_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase search: every document containing the
    exact phrase "hash join", with its occurrence count — resolved by
    JOINING the two terms' posting lists on (doc, adjacent position),
    the classic positional-inverted-index algorithm (Manning/Raghavan/
    Schütze IR ch. 2), never a LIKE scan over the full text.

    Shape: a per-doc HOF extracts (term, pos) structs for ONLY the
    phrase's terms before anything explodes — the exploded posting frame
    is O(df(hash) + df(join)), not O(total tokens) — then one equi-join
    on (doc_id, pos+1) and a count per doc. At 100 TB the posting lists
    are the PERSISTED inverted index (built once, cf. ``text_bm25_topk``'s
    term dimension): a phrase query touches two postings and joins them
    co-partitioned on doc_id, cost independent of corpus text volume.
    The oracle replays the phrase predicate declaratively per document.
    """
    docs = load_table(spark, sf_dir, "documents")
    postings = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "filter(transform(filter(split(lower(text), ' '), "
                "x -> x <> ''), (t, i) -> struct(t AS term, i AS pos)), "
                "s -> s.term IN ('hash', 'join'))"
            )
        ).alias("s"),
    ).select("doc_id", F.col("s.term").alias("term"), F.col("s.pos").alias("pos"))
    first = postings.filter(F.col("term") == "hash").select(
        "doc_id", "pos"
    )
    second = postings.filter(F.col("term") == "join").select(
        F.col("doc_id").alias("doc_id2"), F.col("pos").alias("pos2")
    )
    return (
        first.join(
            second,
            (F.col("doc_id") == F.col("doc_id2"))
            & (F.col("pos2") == F.col("pos") + 1),
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy("doc_id")
    )


# ------------------------------------------------- unigram LM quality


@query(
    "text_lm_quality",
    oracle="""
WITH t AS (
    SELECT doc_id,
           unnest(list_filter(string_split(lower(text), ' '),
                              x -> x <> '')) AS tok
    FROM documents),
c AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY 1),
g AS (SELECT COUNT(*) AS n_total, COUNT(DISTINCT tok) AS v FROM t),
s AS (
    SELECT t.doc_id,
           LN(CAST(c.c + 1 AS DOUBLE) / (g.n_total + g.v)) AS lp
    FROM t JOIN c USING (tok) CROSS JOIN g)
SELECT doc_id, COUNT(*) AS n_tokens, ROUND(-AVG(lp), 6) AS nll_nats
FROM s GROUP BY 1
""",
)
def text_lm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-model quality scoring, CCNet-style (Wenzek et al., LREC
    2020): train an add-one-smoothed unigram LM on the corpus itself,
    then score every document by its mean token negative log-likelihood
    — high NLL marks gibberish/outlier documents for the quality filter,
    the statistical upgrade over ``text_quality``'s surface ratios.

    Scale shape: tokens materialize once (explode), the unigram table is
    a combine-friendly count, the (N, V) normalizer is a 1-row broadcast,
    and scoring is one hash join token->count followed by a per-doc agg
    — no per-row Python; at 100 TB the unigram table itself may stop
    being broadcastable, which is why the score join is a plain shuffle
    hash join on the token key."""
    return _nll_frame(load_table(spark, sf_dir, "documents"))


# ------------------------------------------------------ PMI collocations

#: Shared token/bigram CTE (mirrors the engine's split-lower-nonempty
#: tokenization used across the text family).
_PMI_CTE = """
t AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
    FROM documents),
uni AS (
    SELECT unnest(toks) AS w FROM t),
bi AS (
    SELECT unnest(list_transform(range(1, len(toks)),
                  i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS b
    FROM t WHERE len(toks) >= 2)
"""


@query(
    "text_collocations_pmi",
    oracle=f"""
WITH {_PMI_CTE},
uc AS (SELECT w, COUNT(*) AS c FROM uni GROUP BY 1),
un AS (SELECT COUNT(*) AS n_uni FROM uni),
bc AS (SELECT b.w1 AS w1, b.w2 AS w2, COUNT(*) AS c_ab FROM bi GROUP BY 1, 2),
bn AS (SELECT COUNT(*) AS n_bi FROM bi)
SELECT bc.w1, bc.w2, bc.c_ab,
       ROUND(LN((CAST(bc.c_ab AS DOUBLE) / bn.n_bi)
                / ((CAST(a.c AS DOUBLE) / un.n_uni)
                   * (CAST(b.c AS DOUBLE) / un.n_uni))), 6) AS pmi
FROM bc
JOIN uc a ON a.w = bc.w1
JOIN uc b ON b.w = bc.w2
CROSS JOIN un CROSS JOIN bn
WHERE bc.c_ab >= 5
ORDER BY bc.c_ab DESC, bc.w1, bc.w2
LIMIT 30
""",
)
def text_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: adjacent-token bigrams scored by pointwise
    mutual information (Church & Hanks, CL 1990) — PMI >> 0 marks pairs
    that co-occur far above chance ("new york", not "of the"); the
    count >= 5 support floor removes PMI's low-frequency blowup. Top-30
    ordered by the EXACT count (floats never decide order), PMI rounded
    on both sides.

    Scale shape: bigrams come from zipping each token array with its
    own tail (one explode, no self-join); unigram and bigram counts are
    combine-friendly aggs; the two count joins are plain shuffle hash
    joins on the word key (a 100 TB vocabulary outgrows broadcast);
    normalizers are 1-row broadcasts; top-30 is TakeOrderedAndProject."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.filter(
            F.split(F.lower(F.col("text")), " "), lambda x: x != ""
        ).alias("toks")
    )
    uni = toks.select(F.explode("toks").alias("w"))
    bi = (
        toks.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice(F.col("toks"), 1, F.size("toks") - 1).alias(
                        "w1"
                    ),
                    F.expr("slice(toks, 2, size(toks) - 1)").alias("w2"),
                )
            ).alias("b")
        )
        .select(F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    un = uni.agg(F.count(F.lit(1)).alias("n_uni"))
    bc = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c_ab"))
    bn = bi.agg(F.count(F.lit(1)).alias("n_bi"))
    scored = (
        bc.filter(F.col("c_ab") >= 5)
        .join(uc.select(F.col("w").alias("w1"), F.col("c").alias("ca")), "w1")
        .join(uc.select(F.col("w").alias("w2"), F.col("c").alias("cb")), "w2")
        .crossJoin(F.broadcast(un))
        .crossJoin(F.broadcast(bn))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab").cast("double") / F.col("n_bi"))
                    / (
                        (F.col("ca").cast("double") / F.col("n_uni"))
                        * (F.col("cb").cast("double") / F.col("n_uni"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.col("c_ab").desc(), "w1", "w2").limit(30)


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


@query(
    "text_gopher_rules",
    oracle="""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
    FROM documents),
s AS (
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(toks, x -> length(x))) AS BIGINT)
               AS sum_len,
           CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))
               AS BIGINT) AS n_alpha,
           CAST(len(list_intersect(toks,
               ['the','a','and','of','to','in','is','for','on','with']))
               AS BIGINT) AS n_stop_distinct
    FROM t)
SELECT doc_id, n_words,
       CASE WHEN n_words > 0 THEN (sum_len * 100) // n_words
            ELSE CAST(0 AS BIGINT) END AS mean_word_len_x100,
       CASE WHEN n_words > 0 THEN (n_alpha * 1000000) // n_words
            ELSE CAST(0 AS BIGINT) END AS alpha_ppm,
       n_stop_distinct,
       (n_words BETWEEN 50 AND 100000
        AND (CASE WHEN n_words > 0 THEN (sum_len * 100) // n_words
                  ELSE CAST(0 AS BIGINT) END) BETWEEN 300 AND 1000
        AND (CASE WHEN n_words > 0 THEN (n_alpha * 1000000) // n_words
                  ELSE CAST(0 AS BIGINT) END) >= 800000
        AND n_stop_distinct >= 2) AS keep
FROM s
""",
)
def text_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al. 2021,
    arXiv:2112.11446 §A1.1): word count in [50, 100000], mean word
    length in [3, 10] chars, >= 80% of words containing an alphabetic
    character, and at least 2 distinct stopwords present — ``keep`` is
    the conjunction, emitted alongside every rule input so a pipeline
    can audit WHICH rule rejected a document.

    Ratios are integer (x100 chars / ppm) so the oracle replays exactly.
    Plan shape: pure per-row narrow HOF arithmetic over the token array
    — the array is bound ONCE via ``bind_once`` (Catalyst does no CSE
    across HOF lambda boundaries), zero shuffles, trivially
    data-parallel at any scale."""
    d = load_table(spark, sf_dir, "documents")

    def build(tk):
        n_words = F.size(tk).cast("bigint")
        sum_len = F.aggregate(
            tk, F.lit(0).cast("bigint"), lambda acc, x: acc + F.length(x)
        )
        n_alpha = F.size(
            F.filter(tk, lambda x: x.rlike("[a-z]"))
        ).cast("bigint")
        n_stop = F.size(
            F.array_intersect(tk, F.array(*[F.lit(s) for s in _STOPWORDS]))
        ).cast("bigint")
        return F.struct(
            n_words.alias("n_words"),
            sum_len.alias("sum_len"),
            n_alpha.alias("n_alpha"),
            n_stop.alias("n_stop_distinct"),
        )

    s = d.select(
        "doc_id", bind_once(tokens(F.col("text")), build).alias("s")
    ).select("doc_id", "s.*")
    mean_expr = (
        "CASE WHEN n_words > 0 THEN (sum_len * 100) DIV n_words "
        "ELSE CAST(0 AS BIGINT) END"
    )
    alpha_expr = (
        "CASE WHEN n_words > 0 THEN (n_alpha * 1000000) DIV n_words "
        "ELSE CAST(0 AS BIGINT) END"
    )
    return s.select(
        "doc_id",
        "n_words",
        F.expr(mean_expr).alias("mean_word_len_x100"),
        F.expr(alpha_expr).alias("alpha_ppm"),
        "n_stop_distinct",
        (
            F.col("n_words").between(50, 100000)
            & F.expr(mean_expr).between(300, 1000)
            & (F.expr(alpha_expr) >= 800000)
            & (F.col("n_stop_distinct") >= 2)
        ).alias("keep"),
    )


def _textrank_oracle(iterations: int) -> str:
    """Declarative replay of integer PageRank (damping 85/100, teleport
    floor 150000) over the undirected adjacent-token co-occurrence
    graph — arithmetic identical to ``operators/graph.py::
    pagerank_int``."""
    cte = [
        """
WITH t AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
    FROM documents),
p AS (
    SELECT toks[i] AS w1, toks[i + 1] AS w2
    FROM t, UNNEST(generate_series(1, CAST(len(toks) AS BIGINT) - 1)) AS u(i)
    WHERE len(toks) >= 2),
uw AS (SELECT DISTINCT least(w1, w2) AS a, greatest(w1, w2) AS b
       FROM p WHERE w1 <> w2),
e AS (SELECT a AS src, b AS dst FROM uw UNION ALL SELECT b, a FROM uw),
deg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY 1),
nodes AS (SELECT DISTINCT src AS node FROM e),
r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS r FROM nodes)"""
    ]
    for k in range(1, iterations + 1):
        prev = f"r{k - 1}"
        cte.append(
            f"""
s{k} AS (SELECT e.dst AS node, CAST(SUM(p.r // d.deg) AS BIGINT) AS insum
         FROM e JOIN {prev} p ON p.node = e.src
                JOIN deg d ON d.src = e.src
         GROUP BY 1),
r{k} AS (SELECT n.node,
                150000 + (85 * COALESCE(s.insum, 0)) // 100 AS r
         FROM nodes n LEFT JOIN s{k} s ON s.node = n.node)"""
        )
    return (
        ",".join(cte)
        + f"""
SELECT node AS word, r AS rank_micro FROM r{iterations}
"""
    )


@query("text_textrank_keywords", oracle=_textrank_oracle(3))
def text_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword scoring (Mihalcea & Tarau 2004, "TextRank:
    Bringing Order into Text", EMNLP) over the corpus: build the
    undirected co-occurrence graph of ADJACENT tokens (window = 2, the
    paper's default), run PageRank, rank words by centrality. Re-uses
    ``operators/graph.py::pagerank_int`` verbatim — the integer
    arithmetic that made ``graph_pagerank_int`` exactly replayable makes
    the oracle here a pure SQL unroll too, so every word's score matches
    bit-for-bit. Emits ALL scored words (the vocabulary is the bounded
    dimension); callers take their top-k.

    Plan shape: one HOF pass builds adjacent pairs per document with
    ``transform(sequence(...))`` — no self-join on position — then the
    distinct undirected edge set collapses the corpus to vocab² at most
    (in practice ~vocab · avg-degree), and the O(k·|E|) PageRank loop
    runs on a graph whose size is vocabulary-, not corpus-, bounded:
    exactly what a 100 TB corpus wants (the explode shuffles token
    pairs once; everything after is small)."""
    d = load_table(spark, sf_dir, "documents").select(
        tokens(F.col("text")).alias("toks")
    )
    pairs = (
        d.filter(F.size("toks") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1),"
                    " k -> struct(toks[k - 1] AS w1, toks[k] AS w2))"
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    uw = (
        pairs.filter(F.col("w1") != F.col("w2"))
        .select(
            F.least("w1", "w2").alias("a"), F.greatest("w1", "w2").alias("b")
        )
        .distinct()
    )
    e = uw.select(F.col("a").alias("src"), F.col("b").alias("dst")).union(
        uw.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    # Materialize the vocab-sized edge list BEFORE entering the loop:
    # pagerank_int narrows spark.sql.shuffle.partitions for its tiny
    # iteration frames and derives degrees/nodes/cached-edges from its
    # input — without this checkpoint the corpus-sized explode+distinct
    # would re-run several times UNDER the narrowed width (measured at
    # sf0.1: 74 s → 4 s with the checkpoint). One corpus pass, then the
    # loop touches only the word graph.
    e = e.localCheckpoint(eager=True)
    r = pagerank_int(e, iterations=3)
    return r.select(F.col("node").alias("word"), "rank_micro")


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
    t = t.withColumn("is_stop", F.col("w").isin(_STOPWORDS))
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
