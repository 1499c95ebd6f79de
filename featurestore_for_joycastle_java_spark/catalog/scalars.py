"""Scalar function surface (SURVEY.md §2.2): string / date / math / array /
conditional / JSON / map expressions as JVM-side builtins, plus the
Python UDF, Pandas UDF and UDTF surface.

Cross-engine gotchas encoded in the oracles:
- DuckDB length/strpos/year/... return BIGINT where Spark returns INT —
  oracle casts to match Spark;
- DuckDB dayofweek is 0=Sunday, Spark is 1=Sunday — oracle adds 1;
- floor/ceil: Spark → BIGINT, DuckDB → DOUBLE — oracle casts;
- round() is intentionally NOT oracle-tested on arbitrary doubles (HALF_UP
  vs half-away rounding can disagree on non-representable midpoints);
- float array elements are cast to DOUBLE on BOTH sides (exact widening)
  and summed in explicit fixed order, never via list_sum (accumulator type
  unspecified)."""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from featurestore_for_joycastle_java_spark.catalog.relational import _views
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import load_table


@query(
    "scalar_string_funcs",
    oracle="""
SELECT p_partkey,
       UPPER(p_name) AS name_upper,
       LOWER(p_brand) AS brand_lower,
       CAST(LENGTH(p_name) AS INT) AS name_len,
       SUBSTR(p_name, 1, 8) AS name_prefix,
       CONCAT_WS('-', p_brand, p_type) AS brand_type,
       REPLACE(p_type, 'ECONOMY', 'ECO') AS type_short,
       REGEXP_REPLACE(p_name, '[aeiou]', '', 'g') AS name_novowel,
       CAST(STRPOS(p_name, 'a') AS INT) AS first_a,
       LPAD(CAST(p_size AS VARCHAR), 4, '0') AS size_padded,
       TRIM(CONCAT(' ', p_brand, ' ')) AS brand_trim
FROM part
""",
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function battery over part. Note Spark regexp_replace is
    global by default; DuckDB needs the 'g' flag to match."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.replace(F.col("p_type"), F.lit("ECONOMY"), F.lit("ECO")).alias("type_short"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("name_novowel"),
        F.instr(F.col("p_name"), "a").alias("first_a"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size_padded"),
        F.trim(F.concat(F.lit(" "), F.col("p_brand"), F.lit(" "))).alias("brand_trim"),
    )


@query(
    "scalar_date_funcs",
    oracle="""
SELECT o_orderkey,
       CAST(YEAR(o_orderdate) AS INT) AS order_year,
       CAST(MONTH(o_orderdate) AS INT) AS order_month_num,
       CAST(DAY(o_orderdate) AS INT) AS order_day,
       CAST(QUARTER(o_orderdate) AS INT) AS order_quarter,
       CAST(DAYOFWEEK(o_orderdate) + 1 AS INT) AS order_dow,
       strftime(o_orderdate, '%Y-%m') AS order_month,
       strftime(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month_start,
       CAST(DATE_DIFF('day', o_orderdate, TIMESTAMP '2002-01-01') AS INT)
           AS days_to_2002,
       strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS due_date
FROM orders
""",
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function battery over orders. Dates always rendered as
    strings (date_format/strftime) — raw timestamp outputs don't survive
    cross-engine hashing (ns vs us precision)."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month_num"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        F.quarter("o_orderdate").alias("order_quarter"),
        F.dayofweek("o_orderdate").alias("order_dow"),
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.datediff(
            F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days_to_2002"),
        F.date_format(F.date_add(F.col("o_orderdate").cast("date"), 30), "yyyy-MM-dd").alias(
            "due_date"
        ),
    )


@query(
    "scalar_math_funcs",
    oracle="""
SELECT l_orderkey, l_linenumber,
       ABS(l_discount - 0.05) AS disc_dev,
       CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
       SQRT(l_quantity) AS qty_sqrt,
       ROUND(LN(l_extendedprice), 6) AS price_ln,
       l_discount * l_discount AS disc_sq,
       CAST(l_orderkey % 7 AS BIGINT) AS key_mod7,
       CAST(SIGN(l_discount - 0.05) AS DOUBLE) AS disc_sign,
       GREATEST(l_tax, l_discount) AS max_rate,
       LEAST(l_tax, l_discount) AS min_rate
FROM lineitem
""",
)
def scalar_math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function battery. sqrt/abs/multiply are IEEE-exact cross-
    engine; ln (libm) gets rounded to 6; round() itself excluded (HALF_UP
    vs half-away divergence on midpoints)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("disc_dev"),
        F.floor("l_extendedprice").alias("price_floor"),
        F.ceil("l_extendedprice").alias("price_ceil"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.round(F.log("l_extendedprice"), 6).alias("price_ln"),
        (F.col("l_discount") * F.col("l_discount")).alias("disc_sq"),
        (F.col("l_orderkey") % 7).alias("key_mod7"),
        F.signum(F.col("l_discount") - 0.05).alias("disc_sign"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
        F.least("l_tax", "l_discount").alias("min_rate"),
    )


@query(
    "scalar_array_funcs",
    oracle="""
SELECT vec_id,
       CAST(LEN(embedding) AS INT) AS dim,
       CAST(embedding[1] AS DOUBLE) AS first_val,
       CAST(embedding[1] AS DOUBLE) + CAST(embedding[2] AS DOUBLE)
         + CAST(embedding[3] AS DOUBLE) + CAST(embedding[4] AS DOUBLE)
           AS head4_sum,
       CAST(LEN(list_filter(embedding, x -> x > 0)) AS INT) AS n_positive
FROM embeddings
""",
)
def scalar_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array/higher-order functions over the embedding column — size,
    element access, lambda filter. All Catalyst-native (no UDF). Elements
    cast float→double on BOTH sides (exact widening); head4_sum is an
    explicit fixed-order chain, not list_sum (unspecified accumulator)."""
    e = load_table(spark, sf_dir, "embeddings")
    el = lambda i: F.element_at("embedding", i).cast("double")  # noqa: E731
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        el(1).alias("first_val"),
        (el(1) + el(2) + el(3) + el(4)).alias("head4_sum"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
    )


@query(
    "scalar_conditional",
    oracle="""
SELECT o_orderkey,
       CASE
           WHEN o_totalprice >= 300000 THEN 'high'
           WHEN o_totalprice >= 100000 THEN 'mid'
           ELSE 'low'
       END AS price_band,
       COALESCE(NULLIF(o_orderstatus, 'P'), 'PENDING') AS status_label,
       CAST(o_orderstatus = 'F' AS BOOLEAN) AS is_finished,
       IF(o_orderpriority LIKE '1-%' OR o_orderpriority LIKE '2-%',
          1, 0) AS is_urgent
FROM orders
""",
)
def scalar_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional expressions: CASE/WHEN bands, coalesce/nullif, boolean
    projection, LIKE predicates."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") >= 300000, "high")
        .when(F.col("o_totalprice") >= 100000, "mid")
        .otherwise("low")
        .alias("price_band"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("PENDING")).alias(
            "status_label"
        ),
        (F.col("o_orderstatus") == "F").alias("is_finished"),
        F.when(
            F.col("o_orderpriority").like("1-%")
            | F.col("o_orderpriority").like("2-%"),
            1,
        )
        .otherwise(0)
        .alias("is_urgent"),
    )


@query(
    "scalar_json_map",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k,
       to_json(struct_pack(k2 := CAST(json_extract_string(props, '$.k') AS INT) * 2))
           AS k2_json,
       (map(['base','double'],
            [value, value * 2])['double'])[1] AS mapped_double
FROM events
""",
)
def scalar_json_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON + map scalar surface: from_json struct extraction, to_json
    re-serialization (both engines emit compact {"k":v}), map build +
    key lookup."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json("props", "k int")["k"]
    m = F.map_from_arrays(
        F.array(F.lit("base"), F.lit("double")),
        F.array(F.col("value"), F.col("value") * 2),
    )
    return ev.select(
        "event_id",
        k.alias("k"),
        F.to_json(F.struct((k * 2).alias("k2"))).alias("k2_json"),
        F.element_at(m, "double").alias("mapped_double"),
    )


@query(
    "udf_pandas_scalar",
    oracle="""
SELECT event_id,
       value * 0.5 + (user_id % 7) * 1.5 AS engineered_score
FROM events
""",
)
def udf_pandas_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Pandas UDF (Arrow-vectorized): elementwise feature formula.
    Exists to exercise the UDF surface — the same formula in pure
    expressions would be the production choice (see oracle); elementwise
    IEEE ops make it bit-exact either way."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def engineered(value: pd.Series, user_mod: pd.Series) -> pd.Series:
        return value * 0.5 + user_mod * 1.5

    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        engineered(F.col("value"), (F.col("user_id") % 7).cast("double")).alias(
            "engineered_score"
        ),
    )


@query(
    "udf_grouped_agg",
    oracle="""
SELECT event_type,
       COUNT(*) AS n,
       ROUND(SUM(value * user_id) / SUM(CAST(user_id AS DOUBLE)), 4)
           AS weighted_mean
FROM events
GROUP BY event_type
""",
)
def udf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map Pandas UDF (applyInPandas): per-group weighted mean in
    pandas/numpy. 4dp snap absorbs pandas' pairwise-summation vs SQL's
    sequential-summation ulps."""

    def wmean(pdf: pd.DataFrame) -> pd.DataFrame:
        w = pdf["user_id"].astype("float64")
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n": [len(pdf)],
                "weighted_mean": [round((pdf["value"] * w).sum() / w.sum(), 4)],
            }
        )

    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").applyInPandas(
        wmean, "event_type string, n long, weighted_mean double"
    )


@query(
    "udtf_token_hist",
    oracle="""
SELECT doc_id, tok, n
FROM (SELECT doc_id, tok, COUNT(*) AS n
      FROM (SELECT doc_id,
                   UNNEST(list_filter(string_split(lower(text), ' '),
                                      x -> x <> '')) AS tok
            FROM documents WHERE doc_id < 200)
      GROUP BY doc_id, tok)
""",
)
def udtf_token_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 3.5+): per-document token histogram via
    a lateral table function. ``useArrow=True`` (r4) moves the Python
    boundary onto Arrow batches — rows still evaluate one ``eval`` call
    each, but serialization is columnar instead of pickled-per-row, the
    same 10-100× transfer win as pandas_udf. The production-scale
    equivalent remains the pure-Catalyst explode in text_token_freq
    (same oracle family); this registration exists to cover the UDTF
    door with its fastest available transport."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="tok string, n long", useArrow=True)
    class TokenHist:
        def eval(self, text: str):
            from collections import Counter

            counts = Counter(t for t in (text or "").lower().split(" ") if t)
            for tok, n in sorted(counts.items()):
                yield tok, n

    spark.udtf.register("token_hist", TokenHist)
    _views(spark, sf_dir, "documents")
    return spark.sql(
        """
        SELECT d.doc_id, t.tok, t.n
        FROM documents d, LATERAL token_hist(d.text) t
        WHERE d.doc_id < 200
        """
    )


@query(
    "scalar_try_funcs",
    # Under Spark 4's ANSI-on default, plain CAST/divide THROW on bad
    # input — the try_* family is the engine-hardening surface ETL needs
    # (null-on-error, row survives). DuckDB mirrors with TRY_CAST and an
    # explicit zero guard.
    oracle="""
SELECT doc_id,
       TRY_CAST(lang AS INT) AS lang_int,
       TRY_CAST(SUBSTR(lang, 1, 1) AS INT) AS first_digit,
       CASE WHEN n_chars % 7 = 0 THEN NULL
            ELSE CAST(n_chars AS DOUBLE) / CAST(n_chars % 7 AS DOUBLE)
       END AS ratio7
FROM documents
""",
)
def scalar_try_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe scalar surface: `try_cast` on non-numeric strings and
    `try_divide` with a zero denominator yield NULL instead of failing
    the job — load-bearing under Spark 4's ANSI-mode default, where the
    plain forms THROW and one malformed row would kill a 100 TB ETL.
    The rows all survive; the NULLs mark the failures for quarantine."""
    docs = load_table(spark, sf_dir, "documents")
    # Column.try_cast exists in the DataFrame API; the SQL expression
    # form covers the function spelling
    return docs.select(
        "doc_id",
        F.col("lang").try_cast("int").alias("lang_int"),
        F.expr("try_cast(substring(lang, 1, 1) AS INT)").alias(
            "first_digit"
        ),
        F.try_divide(
            F.col("n_chars").cast("double"),
            (F.col("n_chars") % 7).cast("double"),
        ).alias("ratio7"),
    )


# ------------------------------------------------------------- UDF doors


@query(
    "udf_arrow_map",
    # The oracle replays the same arithmetic in pure SQL: char length
    # and the split-token count via length-difference — exact integers,
    # so the Arrow path's results are bit-checkable.
    oracle="""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_udf,
       CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)
           AS n_words_udf
FROM documents
""",
)
def udf_arrow_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`mapInArrow` door: per-document character and word counts
    computed in Python over zero-copy Arrow record batches — the
    fourth Python-execution surface (pandas scalar UDF, grouped-agg
    UDF, Arrow UDTF, and now raw-Arrow batch map), for transforms that
    want columnar batch access without a pandas conversion (pandas
    copies strings into Python objects; `pyarrow.compute` kernels stay
    in Arrow buffers end-to-end).

    The batch function is a pure function of its batch (no state, no
    ordering assumption), so partitioning and batch sizing are free to
    vary — the contract that makes the operator embarrassingly
    parallel at any scale. Results are verified bit-exactly against a
    pure-SQL replay, pinning the Arrow path's semantics (UTF-8 char
    length, separator-count word arithmetic) to the engine's."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in it:
            text = rb.column(rb.schema.get_field_index("text"))
            n_chars = pc.cast(pc.utf8_length(text), pa.int64())
            n_words = pc.cast(
                pc.add(pc.count_substring(text, pattern=" "), 1), pa.int64()
            )
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index("doc_id")),
                    n_chars,
                    n_words,
                ],
                names=["doc_id", "n_chars_udf", "n_words_udf"],
            )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.mapInArrow(
        batches, "doc_id long, n_chars_udf long, n_words_udf long"
    )


@query(
    "udtf_table_arg_stats",
    oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(len(list_filter(string_split(text, ' '), x -> x <> '')))
            AS BIGINT) AS total_toks
FROM documents GROUP BY 1
""",
)
def udtf_table_arg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polymorphic Python UDTF with a TABLE argument (Spark 4:
    ``f(TABLE(t) PARTITION BY col)``) — the sixth API door next to the
    scalar pandas UDF, grouped-agg UDF, Arrow lateral UDTF,
    ``mapInArrow`` and the Python Data Source: Catalyst shuffles the
    input on the PARTITION BY key and feeds each group to ONE UDTF
    instance (``eval`` per row, ``terminate`` per group), i.e. the
    groupBy-apply topology expressed as a SQL table function. The
    Python body computes per-source doc/token totals — deliberately
    SQL-replayable so the door itself (partitioning contract, instance
    lifecycle, row batching) is what the oracle checks. Production use
    of this door is group-wise Python that SQL can't express (per-group
    model scoring, sequence alignment); the per-group state here is two
    counters, so memory is O(1) per instance at any group size."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="source string, n_docs long, total_toks long")
    class SourceStats:
        def __init__(self):
            self.src = None
            self.n = 0
            self.toks = 0

        def eval(self, row):
            self.src = row["source"]
            self.n += 1
            self.toks += len([t for t in row["text"].split(" ") if t])

        def terminate(self):
            if self.src is not None:
                yield self.src, self.n, self.toks

    spark.udtf.register("source_stats", SourceStats)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "__docs_tblarg"
    )
    return spark.sql(
        "SELECT source, n_docs, total_toks "
        "FROM source_stats(TABLE(__docs_tblarg) PARTITION BY source)"
    )


# --------------------------------------------------- bitwise scalars


@query(
    "scalar_bitwise_funcs",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderkey & 255 AS BIGINT) AS low_byte,
       CAST(o_orderkey | 4096 AS BIGINT) AS with_flag,
       CAST(xor(o_orderkey, 21845) AS BIGINT) AS xored,
       CAST(o_orderkey << 2 AS BIGINT) AS shl2,
       CAST(o_orderkey >> 3 AS BIGINT) AS shr3,
       bit_count(o_orderkey) AS popcount
FROM orders WHERE o_orderkey <= 1000
""",
)
def scalar_bitwise_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise scalar family — AND/OR/XOR, shifts, popcount — the ops
    behind flag words, bitmap fragments, and hash mixing (`layout_
    morton_keys` interleaves with exactly these). All integer-exact;
    completes the scalar-function inventory next to the string / date /
    math / array / map / json / conditional / try families."""
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") <= 1000
    )
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(255).cast("long").alias("low_byte"),
        k.bitwiseOR(4096).cast("long").alias("with_flag"),
        k.bitwiseXOR(21845).cast("long").alias("xored"),
        F.shiftleft(k, 2).cast("long").alias("shl2"),
        F.shiftright(k, 3).cast("long").alias("shr3"),
        F.bit_count(k).alias("popcount"),
    )
