"""Deduplication and entity-resolution queries over documents, embeddings
and customers (SURVEY.md §2.3): exact and normalized-fingerprint dedup,
shingle-Jaccard, MinHash/LSH, SimHash and embedding near-dup pairs,
containment and substring n-gram signals, SemDeDup (lowid, k-means,
constant-cell-size and two-level), incremental dedup against a
persisted index, and entity-resolution clusters, golden records and
blocking metrics."""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from featurestore_for_joycastle_java_spark.operators import (
    dedup as D,
    similarity as S,
)
from featurestore_for_joycastle_java_spark.operators.similarity import (
    cosine_pairs,
    semdedup_survivors,
)
from featurestore_for_joycastle_java_spark.operators.text import shingles
from featurestore_for_joycastle_java_spark.registry import query
from featurestore_for_joycastle_java_spark.sources import build_once, load_table


#: Cross-engine content fingerprint: md5 of the trimmed, lower-cased,
#: whitespace-collapsed text.
_FP = "md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))"


#: Shingle CTE of the near-dup oracles (3-token shingles, distinct,
#: docs with >= 3 tokens).
_SHINGLES = """
t AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
    FROM documents),
s AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, len(toks) - 1),
               i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))) AS sh
    FROM t WHERE len(toks) >= 3)
"""


#: Rounded Jaccard distance of two shingle sets (oracle SQL).
_SH_DIST = """ROUND(1.0 - CAST(LEN(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / (LEN(a.sh) + LEN(b.sh) - LEN(list_intersect(a.sh, b.sh))), 6)"""


def _recrawl_batch(docs: DataFrame) -> DataFrame:
    """Synthetic ingestion batch for the exact-dedup probe (the fixture
    has no exact duplicates, so the batch manufactures the three cases
    the operator must separate — derived IDENTICALLY in the oracle):
    - re-crawls of every 7th doc (case + whitespace variants — the
      normalizing fingerprint must collapse them onto the original);
    - novel docs (every doc_id % 7 == 1 doc with a suffix token);
    - a second copy of each novel doc (batch-INTERNAL duplicate — must
      resolve to the first copy, not to the corpus)."""
    recrawl = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit(" "), F.upper("text"), F.lit("  ")).alias("text"),
    )
    novel = docs.filter(F.col("doc_id") % 7 == 1).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xnovel")).alias("text"),
    )
    novel2 = docs.filter(F.col("doc_id") % 7 == 1).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xnovel")).alias("text"),
    )
    return recrawl.unionByName(novel).unionByName(novel2)


#: Target SemDeDup cell size m-bar, shared by the flat constant-cell-size
#: and the two-level harnesses, so the two differ in exactly one
#: variable: the fit/assign hierarchy.
_CELL_SIZE = 32


def _semdedup_oracle(n_cells: str, all_assigned: bool = False) -> str:
    """DuckDB oracle of the SemDeDup recall harnesses. k-means cells are
    not SQL-replayable, so it checks the parts that ARE exact: corpus
    size, the harness's cell count (``n_cells`` is the SELECT item that
    derives it) and the GLOBAL near-dup drop set (all-pairs rounded
    cosine, the engine-stable 6dp predicate). It emits TRUE for the
    invariants the Spark side must prove: containment (every cell-local
    drop is a genuine global near-dup — exact by semantics, for any
    clustering), a recall floor on how much of the global drop set the
    clustering catches and, with ``all_assigned``, that every vector
    carries a non-null cell."""
    assigned = "       TRUE AS all_assigned,\n" if all_assigned else ""
    return f"""
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
{n_cells},
       (SELECT COUNT(*) FROM g) AS n_global_drops,
{assigned}       TRUE AS drops_contained,
       TRUE AS recall_ok
"""


#: The k = max(4, ceil(n / m-bar)) cell count as an oracle SELECT item;
#: _CELL_SIZE is interpolated so the Python k-derivation and the
#: oracle's can never drift apart if the knob moves.
_CELLSIZE_N_CELLS = f"""\
       CAST(GREATEST(4, ((SELECT COUNT(*) FROM e) + {_CELL_SIZE - 1})
            // {_CELL_SIZE}) AS INT) AS n_cells"""


def _semdedup_recall(
    spark: SparkSession,
    sf_dir: str,
    k_rule: Callable[[int], int],
    survivor_args: Callable[[int], dict],
) -> tuple[DataFrame, int]:
    """The shared body of the SemDeDup recall harnesses: count the
    embeddings, size k = ``k_rule(n)``, run ``semdedup_survivors``
    (threshold 0.4, seeded k-means, plus ``survivor_args(k)``), and LEFT
    JOIN the per-vector verdicts to the GLOBAL near-dup drop set. The
    count is reused as ``corpus_rows`` so sizing pays no second scan.

    Returns ``(counts, k)``. ``counts`` is one aggregate row:
    ``n_vectors``, ``n_global_drops``, ``__caught`` / ``__escaped``
    (cell-local drops inside / outside the global set) and
    ``__unassigned`` (vectors with a null cell)."""
    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    k = k_rule(n)
    sd = semdedup_survivors(
        e,
        "vec_id",
        "embedding",
        threshold=0.4,
        centroids="kmeans",
        seed=42,
        corpus_rows=n,
        **survivor_args(k),
    )
    gdrops = (
        cosine_pairs(e, "vec_id", "embedding", threshold=0.4)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__g", F.lit(True))
    )
    dropped = ~F.col("survivor")
    in_global = F.col("__g").isNotNull()
    counts = sd.join(gdrops, "vec_id", "left").agg(
        F.count(F.lit(1)).alias("n_vectors"),
        F.sum(F.when(F.col("cent_id").isNull(), 1).otherwise(0)).alias(
            "__unassigned"
        ),
        F.sum(F.when(dropped & in_global, 1).otherwise(0)).alias("__caught"),
        F.sum(F.when(dropped & ~in_global, 1).otherwise(0)).alias(
            "__escaped"
        ),
        F.sum(F.when(in_global, 1).otherwise(0)).alias("n_global_drops"),
    )
    return counts, k


def _recall_ok(floor: float) -> Column:
    """Caught share of the global drop set >= ``floor``. Zero global
    drops satisfy it vacuously: the bare ratio would be NULL under
    Spark's non-ANSI division, while the oracle emits TRUE."""
    return (
        F.when(F.col("n_global_drops") == 0, F.lit(True))
        .otherwise(F.col("__caught") / F.col("n_global_drops") >= floor)
        .alias("recall_ok")
    )


_TOKSET = "list_distinct(list_filter(string_split(lower(text), ' '), x -> x <> ''))"


@query(
    "dedup_exact_groups",
    oracle=f"""
SELECT {_FP} AS fp,
       MIN(doc_id) AS keep_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY fp
""",
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the content fingerprint — keeper id +
    copy count per identical normalized text."""
    return D.exact_dedup_groups(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    )


@query(
    "dedup_exact_survivors",
    oracle=f"""
SELECT doc_id, source
FROM (SELECT doc_id, source,
             MIN(doc_id) OVER (PARTITION BY {_FP}) AS keep_id
      FROM documents)
WHERE doc_id = keep_id
""",
)
def dedup_exact_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the deterministic min-id row per content group
    (dropDuplicates keeps an arbitrary winner; this doesn't)."""
    return D.exact_dedup(
        load_table(spark, sf_dir, "documents"), "doc_id", "text"
    ).select("doc_id", "source")


@query(
    "dedup_jaccard_pairs",
    oracle=f"""
WITH t AS (
    SELECT doc_id, {_TOKSET} AS toks
    FROM documents WHERE source = 'src0')
SELECT a.doc_id AS id_a,
       b.doc_id AS id_b,
       ROUND(CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / (LEN(a.toks) + LEN(b.toks) - LEN(list_intersect(a.toks, b.toks))),
             6) AS jaccard
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE ROUND(CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / (LEN(a.toks) + LEN(b.toks) - LEN(list_intersect(a.toks, b.toks))), 6)
      >= 0.6
""",
)
def dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard near-dup pairs within one source — the
    inverted-index self-join (explode → equi-join on token → pair counts).
    Bounded scope on purpose: this is the verification tool; the corpus-
    wide path is MinHash LSH below. Threshold applied on the 6dp-rounded
    value so the pair SET matches the oracle exactly."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("source") == "src0")
    return D.token_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.6, small_vocab_max=1024
    )


@query(
    "dedup_minhash_lsh",
    # The output is EXACT-verified shingle-jaccard on LSH candidates, so
    # it equals the exact all-pairs answer whenever candidate recall is
    # 1.0 — which it is on the fixtures (verified pair-set equality at
    # sf0.001 and sf0.01; banding theory gives ~0.89 per-pair floor at
    # similarity exactly 0.6 and ~1.0 at the 0.8+ the near-dup generator
    # produces). The oracle therefore replays exact all-pairs shingle
    # jaccard; a recall drop would surface as a hash mismatch.
    oracle=f"""
WITH {_SHINGLES}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       {_SH_DIST} AS jaccard_dist
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE {_SH_DIST} <= 0.4
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalyst-native MinHash LSH over 3-token shingles — the 100 TB
    dedup path: 128-perm xxhash64 signatures (one explode + one agg),
    banded equal-hash candidate join (near-linear), exact shingle-Jaccard
    verify on candidates only. Seedless → bit-identical across runs."""
    docs = load_table(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, "doc_id", "text", max_jaccard_distance=0.4)


# dedup_simhash_pairs (rows-only) was replaced by the boolean-oracled
# dedup_simhash_check; the xxhash64 banding operator remains
# dedup.simhash_near_pairs (reference-checked in tests/test_dedup.py),
# and the value-oracled pair surface is dedup_simhash_md5.


@query(
    "dedup_embedding_cosine",
    oracle="""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings)
SELECT a.vec_id AS id_a,
       b.vec_id AS id_b,
       ROUND(list_inner_product(a.v, b.v)
             / (SQRT(list_inner_product(a.v, a.v))
                * SQRT(list_inner_product(b.v, b.v))), 6) AS cos_sim
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE ROUND(list_inner_product(a.v, b.v)
      / (SQRT(list_inner_product(a.v, a.v))
         * SQRT(list_inner_product(b.v, b.v))), 6) >= 0.4
""",
    bench=False,  # exact all-pairs: the oracle for the LSH path, not a bench query
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (exact all-pairs ≥ 0.4) — the
    correctness anchor for LSH similarity. zip_with+aggregate cosine is
    bit-identical to DuckDB list_inner_product (verified empirically),
    so the oracle is exact."""
    e = load_table(spark, sf_dir, "embeddings")
    return cosine_pairs(e, threshold=0.4)


@query(
    "dedup_cc_clusters",
    oracle=f"""
WITH RECURSIVE
t AS (
    SELECT doc_id, {_TOKSET} AS toks
    FROM documents WHERE source IN ('src0', 'src1', 'src2')),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE ROUND(CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / (LEN(a.toks) + LEN(b.toks) - LEN(list_intersect(a.toks, b.toks))), 6)
          >= 0.6),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs),
reach AS (
    SELECT doc_id AS node, doc_id AS comp FROM t
    UNION
    SELECT e.dst AS node, r.comp AS comp
    FROM reach r JOIN edges e ON e.src = r.node),
cc AS (SELECT node AS doc_id, MIN(comp) AS component FROM reach GROUP BY 1)
SELECT doc_id, component,
       CAST(COUNT(*) OVER (PARTITION BY component) AS BIGINT) AS n_members
FROM cc
""",
)
def dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, not just pairs: exact Jaccard edges (≥0.6,
    three sources) fed into iterative min-label propagation — the step a
    real corpus dedup needs between candidate pairs and "keep one doc per
    group". The oracle computes the same fixpoint via a recursive CTE;
    both converge to the unique min-reachable-id labeling, so the match
    is exact despite completely different algorithms. Isolated docs form
    singleton clusters (n_members = 1)."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1", "src2")
    )
    edges = D.token_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.6, small_vocab_max=1024
    )
    cc = D.connected_components(docs, edges, id_col="doc_id")
    from pyspark.sql import Window

    return cc.withColumn(
        "n_members",
        F.count(F.lit(1)).over(Window.partitionBy("component")),
    )


@query(
    "dedup_pipeline_lsh",
    # Same reasoning as dedup_minhash_lsh: exact-verified LSH candidates
    # equal the exact pair set at fixture scales (recall 1.0, verified
    # sf0.001 + sf0.01), so the WHOLE pipeline — candidates → connected
    # components → survivor retention — replays as all-pairs shingle
    # jaccard + recursive CTE + retention window. Every stage is now
    # oracle-checked end-to-end (r1 left this rows-only).
    oracle=f"""
WITH RECURSIVE
{_SHINGLES.strip().rstrip()},
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM s a JOIN s b ON a.doc_id < b.doc_id
    WHERE {_SH_DIST} <= 0.4),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs),
reach AS (
    SELECT doc_id AS node, doc_id AS comp FROM documents
    UNION
    SELECT e.dst AS node, r.comp AS comp
    FROM reach r JOIN edges e ON e.src = r.node),
cc AS (SELECT node AS doc_id, MIN(comp) AS component FROM reach GROUP BY 1)
SELECT d.doc_id, cc.component, d.source,
       (ROW_NUMBER() OVER (PARTITION BY cc.component
                           ORDER BY d.n_chars DESC, d.doc_id) = 1)
           AS is_survivor
FROM documents d JOIN cc ON d.doc_id = cc.doc_id
""",
)
def dedup_pipeline_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale dedup pipeline END-TO-END: MinHash-LSH candidate
    pairs (near-linear, exact-verified) → connected-components clustering
    → survivor retention. Survivor = longest doc per cluster (quality
    heuristic), min doc_id tie-break — both deterministic, so reruns and
    engines agree on the exact keep/purge sets. Every stage is the scale
    path: banded LSH instead of all-pairs, diameter-bounded label
    propagation instead of a driver-side union-find, one window over the
    clustered docs for retention."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_lsh_pairs(
        docs, "doc_id", "text", max_jaccard_distance=0.4
    )
    cc = D.connected_components(docs, pairs, id_col="doc_id")
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", "n_chars")
        .join(cc, "doc_id")
        .withColumn("is_survivor", F.row_number().over(w) == 1)
        .select("doc_id", "component", "source", "is_survivor")
    )


@query(
    "dedup_pipeline_exact",
    oracle="""
WITH RECURSIVE
t AS (
    SELECT doc_id,
           list_distinct(list_filter(string_split(lower(text), ' '),
                                     x -> x <> '')) AS toks
    FROM documents WHERE source IN ('src0', 'src1', 'src2')),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM t a JOIN t b ON a.doc_id < b.doc_id
    WHERE ROUND(CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
          / (LEN(a.toks) + LEN(b.toks) - LEN(list_intersect(a.toks, b.toks))), 6)
          >= 0.6),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs),
reach AS (
    SELECT doc_id AS node, doc_id AS comp FROM t
    UNION
    SELECT e.dst AS node, r.comp AS comp
    FROM reach r JOIN edges e ON e.src = r.node),
cc AS (SELECT node AS doc_id, MIN(comp) AS component FROM reach GROUP BY 1)
SELECT d.doc_id, cc.component, d.source,
       (ROW_NUMBER() OVER (PARTITION BY cc.component
                           ORDER BY d.n_chars DESC, d.doc_id) = 1)
           AS is_survivor
FROM documents d JOIN cc ON d.doc_id = cc.doc_id
""",
    bench=False,  # quadratic exact-verify twin of dedup_pipeline_lsh —
    # correctness anchor, not an operational path (cf. dedup_embedding_cosine)
)
def dedup_pipeline_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end dedup pipeline with a FULL oracle (r1's
    ``dedup_pipeline_lsh`` is rows-only because LSH candidate recall is
    engine-local): exact-Jaccard edges (>= 0.6, three sources) -> min-label
    connected components -> survivor retention (longest doc per cluster,
    min doc_id tiebreak). Same clustering + retention code path as the LSH
    pipeline, so the stages LSH can't oracle-check get their exact check
    here; the oracle replays every stage as a recursive CTE + window."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1", "src2")
    )
    edges = D.token_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.6, small_vocab_max=1024
    )
    cc = D.connected_components(docs, edges, id_col="doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        docs.select("doc_id", "source", "n_chars")
        .join(cc, "doc_id")
        .withColumn("is_survivor", F.row_number().over(w) == 1)
        .select("doc_id", "component", "source", "is_survivor")
    )


@query(
    "dedup_simhash_md5",
    # With n_bands=4 and max_hamming=3, pigeonhole makes banding recall
    # exactly 1 (3 flipped bits touch at most 3 of 4 bands), so the banded
    # output EQUALS the all-pairs answer — which is what the oracle
    # replays: md5-prefix 60-bit token hashes -> per-bit votes -> simhash
    # -> hamming <= 3 over all pairs. Full value parity, unlike the
    # engine-local xxhash64 twin (checked by ``dedup_simhash_check``).
    oracle="""
WITH tok AS (
    SELECT doc_id,
           unnest(list_filter(string_split(lower(text), ' '), x -> x <> ''))
               AS t
    FROM documents),
h AS (
    SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
    FROM tok),
v AS (
    SELECT doc_id, b.bit,
           SUM(CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
    FROM h CROSS JOIN range(60) AS b(bit)
    GROUP BY 1, 2),
sh AS (
    SELECT doc_id,
           SUM(CASE WHEN vote > 0 THEN CAST(1 AS BIGINT) << bit
                    ELSE CAST(0 AS BIGINT) END) AS simhash
    FROM v GROUP BY 1)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
""",
)
def dedup_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs on the CROSS-ENGINE 60-bit hash
    (``md5_hash60``: first 15 hex chars of md5 as an integer): explode
    tokens, 60 per-bit signed votes (map-side combined — the shuffle
    carries 60 longs per doc, not the tokens), banded candidate join,
    bit_count(xor) verify. Same scalable shape as the xxhash64 variant;
    the portable hash buys a full DuckDB value oracle."""
    from featurestore_for_joycastle_java_spark.operators.text import md5_hash60

    docs = load_table(spark, sf_dir, "documents")
    return D.simhash_near_pairs(
        docs,
        "doc_id",
        "text",
        max_hamming=3,
        n_bands=4,
        bits=60,
        token_hash=md5_hash60,
    )


@query(
    "dedup_embedding_srp",
    # FULL index replay, the sim_srp_topk pattern self-joined: the
    # md5-parity hyperplanes are a public spec, so the oracle rebuilds
    # them, recomputes every bucket code, the equal-(table,code) candidate
    # self-join, and the exact cosine verify — the whole near-dup index,
    # not a recall floor. Whatever the index's recall, both engines see
    # the SAME candidates, so the match is exact by construction.
    oracle="""
WITH e AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
    FROM embeddings),
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
cand AS (
    SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
    FROM cc a JOIN cc b ON a.tbl = b.tbl AND a.code = b.code
                        AND a.vec_id < b.vec_id)
SELECT c.id_a, c.id_b,
       ROUND(list_inner_product(ea.v, eb.v)
             / (SQRT(list_inner_product(ea.v, ea.v))
                * SQRT(list_inner_product(eb.v, eb.v))), 6) AS cos_sim
FROM cand c
JOIN e ea ON c.id_a = ea.vec_id
JOIN e eb ON c.id_b = eb.vec_id
WHERE ROUND(list_inner_product(ea.v, eb.v)
      / (SQRT(list_inner_product(ea.v, ea.v))
         * SQRT(list_inner_product(eb.v, eb.v))), 6) >= 0.4
""",
)
def dedup_embedding_srp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup PAIRS via SRP-LSH buckets — the 100 TB twin of
    the exact all-pairs anchor ``dedup_embedding_cosine`` (bench=False,
    quadratic): candidates only from equal (table, code) buckets of the
    corpus's own codes, exact cosine verify ≥ 0.4 on candidates only.
    Never all-pairs — the self-join shuffles on bucket values, so
    candidate volume is Σ_buckets m² (tune n_bits with corpus size), not
    n². 8 tables × 8 bits (256 buckets/table): the r4-initial 16×6 split
    the clustered fixture corpus into only 64 buckets/table and admitted
    24 % of ALL pairs as candidates (471 k of 2 M) — index parameters are
    the knob that keeps the candidate join linear-ish, and 4× more
    buckets at half the hyperplane count cut candidates ~5× and the
    encode fold 96→64 planes. Recall is a similarity-dependent index
    property, exactly replayed by the oracle: low at the 0.4 decision
    boundary (borderline-cos pairs rarely share buckets) and ≈0.93+ in
    the ≥0.9 band where true duplicates live — the operating regime of a
    dedup pass."""
    e = load_table(spark, sf_dir, "embeddings")
    return S.srp_near_pairs(
        e, "vec_id", "embedding", threshold=0.4, n_tables=8, n_bits=8, dim=64
    )


@query(
    "dedup_simhash_check",
    # The xxhash64 SimHash index is engine-local, but one property of it
    # is NOT hash-dependent: identical token multisets give identical
    # per-bit votes, hence identical simhash, hence hamming 0 — and
    # banding catches hamming 0 unconditionally (all bands equal). So
    # every exact-duplicate pair (fingerprint-equal, ≥1 token) MUST
    # appear in the banded output. The oracle computes the ground-truth
    # exact-dup pair count independently (md5 fingerprint join) and
    # asserts the containment booleans by construction — a broken hash,
    # vote, band split, or verify filter loses hamming-0 pairs and flips
    # n_missed/contains_exact_dups, failing the value hash.
    oracle="""
WITH d AS (
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents
    WHERE len(list_filter(string_split(lower(text), ' '), x -> x <> '')) >= 1),
pairs AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b
    FROM d a JOIN d b ON a.fp = b.fp AND a.doc_id < b.doc_id)
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_dup_pairs,
       CAST(0 AS BIGINT) AS n_missed,
       TRUE AS contains_exact_dups
FROM pairs
""",
    bench=False,  # verification harness (simhash + fingerprint ground
    # truth); the operational banded path is benched as dedup_simhash_md5
)
def dedup_simhash_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 SimHash banding, checked by a structural containment
    bound: the banded near-dup output must contain EVERY exact-duplicate
    pair (hamming 0 is caught unconditionally by pigeonhole — identical
    normalized text ⇒ identical votes ⇒ identical hash). Ground truth is
    restricted to docs with ≥1 token on both sides (a token-less doc has
    no simhash row — structural, engine-independent). Replaces r1's
    rows-only ``dedup_simhash_pairs`` registration; the cross-engine
    value-oracled pair surface is ``dedup_simhash_md5``."""
    from featurestore_for_joycastle_java_spark.operators.text import (
        fingerprint,
        tokens,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh_pairs = D.simhash_near_pairs(
        docs, "doc_id", "text", max_hamming=3
    ).select("id_a", "id_b")
    gated = docs.filter(F.size(tokens(F.col("text"))) >= 1).select(
        "doc_id", fingerprint(F.col("text")).alias("fp")
    )
    a, b = gated.alias("a"), gated.alias("b")
    exact = a.join(
        b,
        (F.col("a.fp") == F.col("b.fp"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
    )
    missed = exact.join(sh_pairs, ["id_a", "id_b"], "left_anti").agg(
        F.count(F.lit(1)).alias("n_missed")
    )
    n_exact = exact.agg(F.count(F.lit(1)).alias("n_exact_dup_pairs"))
    return n_exact.crossJoin(missed).select(
        "n_exact_dup_pairs",
        "n_missed",
        (F.col("n_missed") == 0).alias("contains_exact_dups"),
    )


@query(
    "dedup_ngram_jaccard",
    # Character trigrams: substr positions 1..len-2 of the lowered text;
    # docs shorter than 3 chars get an empty set. Quadratic verify scope
    # on one source (the scale path stays MinHash LSH).
    oracle="""
WITH t AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, GREATEST(len(lower(text)) - 2, 0) + 1),
               i -> substr(lower(text), i, 3))) AS gs
    FROM documents WHERE source = 'src1')
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(LEN(list_intersect(a.gs, b.gs)) AS DOUBLE)
             / (LEN(a.gs) + LEN(b.gs) - LEN(list_intersect(a.gs, b.gs))),
             6) AS jaccard
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE LEN(list_intersect(a.gs, b.gs)) >= 1
  AND ROUND(CAST(LEN(list_intersect(a.gs, b.gs)) AS DOUBLE)
            / (LEN(a.gs) + LEN(b.gs) - LEN(list_intersect(a.gs, b.gs))),
            6) >= 0.6
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character n-gram (trigram) Jaccard near-dup pairs — the dedup
    family word tokenization misses (typos, spacing, inflection share
    most trigrams but few exact tokens). Same inverted-index engine as
    the token path (``token_jaccard_pairs`` with the ``char_ngrams``
    tokenizer, r5): length-band prune before the pair shuffle, cached
    gram index feeding both join sides. Completes the north-star dedup
    list (exact / MinHash-LSH / SimHash / n-gram Jaccard /
    embedding-cosine) with its n-gram member."""
    from featurestore_for_joycastle_java_spark.operators.dedup import (
        token_jaccard_pairs,
    )
    from featurestore_for_joycastle_java_spark.operators.text import char_ngrams

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source") == "src1"
    )
    return token_jaccard_pairs(
        docs, "doc_id", "text", threshold=0.6, tokenizer=char_ngrams
    )


@query(
    "dedup_canonicalize",
    oracle="""
WITH g AS (
    SELECT md5(text) AS h,
           MIN(doc_id) AS canon_id,
           COUNT(*) AS n_members,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           array_to_string(list_sort(list(DISTINCT source)), ',')
               AS sources
    FROM documents
    GROUP BY 1)
SELECT canon_id, n_members, total_chars, sources
FROM g WHERE n_members >= 2
""",
)
def dedup_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write AFTER dedup: collapse each exact-duplicate group into
    one canonical record — survivor id (min), member count, merged
    metadata (summed sizes, sorted distinct source list) — the record
    the corpus actually keeps. `dedup_exact_survivors` picks rows;
    this MERGES group metadata so provenance survives the collapse.
    One md5-keyed shuffle with map-side combine; the set-valued merge
    (collect_set) is bounded by the tiny source vocabulary."""
    docs = load_table(spark, sf_dir, "documents")
    g = docs.groupBy(F.md5(F.col("text").cast("binary")).alias("h")).agg(
        F.min("doc_id").alias("canon_id"),
        F.count(F.lit(1)).alias("n_members"),
        F.sum("n_chars").alias("total_chars"),
        F.array_join(F.array_sort(F.collect_set("source")), ",").alias(
            "sources"
        ),
    )
    return g.filter(F.col("n_members") >= 2).select(
        "canon_id", "n_members", "total_chars", "sources"
    )


@query(
    "dedup_hamming1_neighbors",
    # Lossless blocking: pad to even length (sentinel outside the
    # alphabet), then a single substitution changes exactly one of the
    # even-position / odd-position character subsequences — the pair
    # shares the other one, plus length. Verify = levenshtein == 1 on
    # the RAW names with RAW-length equality (same-length strings: edit
    # distance 1 ⟺ Hamming distance 1). The raw length — not the padded
    # length — rides in the block key AND the verify (r5 ADVICE fix:
    # padded-length matching made an odd-length name a "neighbor" of an
    # even-length name one char longer, an insertion pair).
    # The oracle replays blocking + verify; the blocking's losslessness
    # is the pigeonhole argument above, and tests/test_round5d.py pins
    # it against a brute-force quadratic check on a slice plus a
    # mixed-length fixture.
    oracle="""
WITH s AS (
    SELECT c_custkey, c_name AS raw,
           CASE WHEN length(c_name) % 2 = 1
                THEN c_name || chr(1) ELSE c_name END AS nm
    FROM customer),
k AS (
    SELECT c_custkey, raw, 1 AS side,
           regexp_replace(nm, '(.)(.)', '\\1', 'g') AS kf
    FROM s
    UNION ALL
    SELECT c_custkey, raw, 2,
           regexp_replace(nm, '(.)(.)', '\\2', 'g')
    FROM s),
cand AS (
    SELECT DISTINCT a.c_custkey AS k1, b.c_custkey AS k2,
           a.raw AS n1, b.raw AS n2
    FROM k a JOIN k b
      ON a.side = b.side AND a.kf = b.kf
     AND length(a.raw) = length(b.raw)
     AND a.c_custkey < b.c_custkey),
v AS (
    SELECT k1, k2 FROM cand WHERE levenshtein(n1, n2) = 1),
u AS (
    SELECT k1 AS c_custkey FROM v
    UNION ALL
    SELECT k2 FROM v)
SELECT c_custkey, CAST(COUNT(*) AS BIGINT) AS n_ham1
FROM u GROUP BY 1
""",
)
def dedup_hamming1_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-substitution neighbor detection on customer names — the
    fixed-width-identifier near-collision audit (one mistyped digit in
    an ID): per customer, how many other names differ in exactly one
    character.

    Algorithm: PassJoin-style partition signatures (Li, Deng, Feng,
    PVLDB 2011) specialized to tau=1, with INTERLEAVED partitions (the
    even-position and odd-position character subsequences) instead of
    prefix/suffix halves — fixed-width keys share long constant
    prefixes ("Customer#…"), which would put every row in one prefix
    block (quadratic); interleaving spreads the varying digits across
    both signatures, so blocks stay small (max block 200 of 15 000 at
    sf0.1). A substituted character lies in exactly one subsequence, so
    any Hamming-1 pair shares the other signature — the blocking is
    lossless, candidates are Σ per-block pairs (never n²), and the
    exact `levenshtein == 1` verify touches candidates only.

    Plan notes (what made this fast, measured at sf0.1): the block join
    runs on ONE xxhash64 bigint of (side, length, kf) rather than a
    3-condition string/length key (hash collisions only ever ADD
    candidates, which the exact verify then rejects — results
    unchanged); the signature frame is explicitly hash-partitioned on
    the block key BEFORE the self-join — AQE sizes the join stage from
    the 30 k signature rows and would coalesce it to 2 tasks, but the
    join fans out ~60× (1.86 M candidate pairs at sf0.1) and the
    verify runs inside that stage, so the explicit repartition is what
    keeps the expensive stage at full width (the
    AQE-can't-see-the-explosion pitfall); the verify uses the
    THRESHOLDED levenshtein (banded DP, O(L·1) per pair, Spark 4) not
    the full O(L²) matrix; and the verify filter runs BEFORE the
    pair-dedup, so the distinct shuffles only true Hamming-1 pairs. A
    pair can only appear on both sides if both signatures match, i.e.
    identical names (Hamming 0), which the verify drops — distinct
    stays for the hash-collision path only. Together: 8.9 s → ~1 s at
    sf0.1."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_name").alias("raw"),
        F.when(
            F.length("c_name") % 2 == 1,
            F.concat(F.col("c_name"), F.expr("chr(1)")),
        )
        .otherwise(F.col("c_name"))
        .alias("nm"),
    )
    parts = []
    for side, repl in ((1, "$1"), (2, "$2")):
        parts.append(
            c.select(
                "c_custkey",
                "raw",
                F.xxhash64(
                    F.lit(side),
                    # RAW length in the block key: padded length would
                    # block an odd-length name with the even-length name
                    # one char longer (insertion pair, not Hamming-1).
                    F.length("raw"),
                    F.regexp_replace("nm", "(.)(.)", repl),
                ).alias("blk"),
            )
        )
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    k = parts[0].unionAll(parts[1]).repartition(n_shuffle, "blk")
    a, b = k.alias("a"), k.alias("b")
    cand = a.join(
        b,
        (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        F.col("a.c_custkey").alias("k1"),
        F.col("b.c_custkey").alias("k2"),
        F.col("a.raw").alias("n1"),
        F.col("b.raw").alias("n2"),
    )
    # Verify on the RAW names with explicit raw-length equality (the
    # block key hashes raw length, but a hash collision could still pair
    # different lengths; the equality guard keeps the verify exact).
    v = (
        cand.filter(
            (F.length("n1") == F.length("n2"))
            & (F.levenshtein("n1", "n2", 1) == 1)
        )
        .select("k1", "k2")
        .distinct()
    )
    u = v.select(F.col("k1").alias("c_custkey")).unionAll(
        v.select(F.col("k2").alias("c_custkey"))
    )
    return u.groupBy("c_custkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ham1")
    )


@query(
    "dedup_incremental_exact",
    oracle=f"""
WITH batch AS (
    SELECT doc_id + 1000000 AS doc_id,
           ' ' || upper(text) || '  ' AS text
    FROM documents WHERE doc_id % 7 = 0
    UNION ALL
    SELECT doc_id + 1000000, text || ' xnovel'
    FROM documents WHERE doc_id % 7 = 1
    UNION ALL
    SELECT doc_id + 2000000, text || ' xnovel'
    FROM documents WHERE doc_id % 7 = 1),
idx AS (
    SELECT {_FP} AS fp, MIN(doc_id) AS base_min
    FROM documents GROUP BY 1),
bfp AS (
    SELECT doc_id, {_FP} AS fp FROM batch),
pm AS (
    SELECT doc_id, fp,
           MIN(doc_id) OVER (PARTITION BY fp ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmin
    FROM bfp)
SELECT p.doc_id,
       LEAST(i.base_min, p.pmin) AS dup_of,
       LEAST(i.base_min, p.pmin) IS NULL AS accept
FROM pm p LEFT JOIN idx i USING (fp)
""",
)
def dedup_incremental_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental EXACT dedup — the fingerprint twin of
    ``dedup_incremental_batch``: the corpus's normalized-content md5
    index (fp -> min doc_id) is PERSISTED once; each ingestion batch
    fingerprints itself, resolves batch-internal duplicates with a
    preceding-min window over its own fp groups, and left-joins the
    index — ``dup_of`` = the smallest matching id (corpus beats batch,
    earlier batch row beats later), ``accept`` = no match anywhere.

    Scale shape: the probe is one batch-sized window plus ONE hash join
    of batch fingerprints against the persisted index — the corpus is
    never rescanned, the classic Bloom-fronted exact-dedup ingest path
    (the index itself is the exact tier). Batch = a synthetic re-crawl
    (see ``_recrawl_batch``) because the fixture has no exact dups."""
    from featurestore_for_joycastle_java_spark.operators.text import (
        fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents")

    def build(root: str) -> str:
        fp_path = os.path.join(root, "fp_index")
        (
            docs.select(
                fingerprint(F.col("text")).alias("fp"), F.col("doc_id")
            )
            .groupBy("fp")
            .agg(F.min("doc_id").alias("keep_id"))
            .write.mode("overwrite")
            .parquet(fp_path)
        )
        return fp_path

    # the corpus index is persisted once per process
    idx = spark.read.parquet(build_once(("fpidx", sf_dir), build))
    return D.exact_dedup_incremental(_recrawl_batch(docs), idx).select(
        "doc_id", "dup_of", "accept"
    )


@query(
    "dedup_containment_pairs",
    # Asymmetric by design: C(A,B) = |A∩B| / |A| — both directions
    # emitted, no a<b normalization; the 6dp round happens before the
    # threshold so the pair SET matches the oracle exactly (the
    # dedup_jaccard_pairs precedent). Bounded scope (one source) like
    # the other exact pair anchors; the corpus-scale path reuses the
    # MinHash/LSH machinery with a containment verify.
    oracle="""
WITH t AS (
    SELECT doc_id,
           list_distinct(list_filter(string_split(lower(text), ' '),
                                     x -> x <> '')) AS toks
    FROM documents WHERE source = 'src0')
SELECT a.doc_id AS id_contained, b.doc_id AS id_container,
       ROUND(CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / LEN(a.toks), 6) AS containment
FROM t a JOIN t b ON a.doc_id != b.doc_id
WHERE ROUND(CAST(LEN(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / LEN(a.toks), 6) >= 0.9
""",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set CONTAINMENT pairs (C(A,B) = |A∩B|/|A| >= 0.9) within
    one source — the asymmetric cousin of Jaccard that catches what
    symmetric similarity misses: a document swallowed inside a larger
    one (boilerplate wrappers, quoted articles, template expansions)
    scores low Jaccard but containment ~1. Emits ORDERED pairs
    (contained, container) in both directions where they hold.

    Scale shape: same inverted-index equi-join as
    ``dedup_jaccard_pairs`` (explode → token join → per-pair overlap
    counts) — candidate pairs share >= 1 token, never all-pairs; the
    denominator is the CONTAINED side's set size only. Bounded to one
    source as the exact anchor; corpus-wide, the LSH banding machinery
    applies with a containment verify on candidates."""
    from featurestore_for_joycastle_java_spark.operators.text import tokens

    t = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("source") == "src0")
        .select(
            "doc_id", F.array_distinct(tokens(F.col("text"))).alias("toks")
        )
        .filter(F.size("toks") > 0)
    )
    ex = t.select("doc_id", F.explode("toks").alias("tok"))
    a, b = ex.alias("a"), ex.alias("b")
    overlap = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_contained"),
            F.col("b.doc_id").alias("id_container"),
        )
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sizes = t.select("doc_id", F.size("toks").alias("n_toks"))
    return (
        overlap.join(
            sizes.withColumnRenamed("doc_id", "id_contained"), "id_contained"
        )
        .select(
            "id_contained",
            "id_container",
            F.round(
                F.col("n_inter") / F.col("n_toks").cast("double"), 6
            ).alias("containment"),
        )
        .filter(F.col("containment") >= 0.9)
    )


@query(
    "er_customer_clusters",
    # Recursive-CTE CC over the same blocked match predicate — engine
    # (iterative min-label propagation) and oracle converge to the same
    # unique min-reachable-id fixpoint (dedup_cc_clusters pattern).
    oracle="""
WITH RECURSIVE
r AS (
    SELECT c_custkey AS record_id, c_name AS nm,
           c_nationkey AS nk, c_acctbal AS ab
    FROM customer
    UNION ALL
    SELECT c_custkey + 1000000, substr(c_name, 1, 17) || 'X',
           c_nationkey, c_acctbal
    FROM customer WHERE c_custkey % 50 = 0),
pairs AS (
    SELECT a.record_id AS id_a, b.record_id AS id_b
    FROM r a JOIN r b
      ON a.record_id < b.record_id
     AND a.nk = b.nk
     AND substr(a.nm, 10, 4) = substr(b.nm, 10, 4)
    WHERE levenshtein(a.nm, b.nm) <= 1 AND a.ab = b.ab),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs),
reach AS (
    SELECT record_id AS node, record_id AS comp FROM r
    UNION
    SELECT e.dst AS node, q.comp AS comp
    FROM reach q JOIN edges e ON e.src = q.node),
cc AS (SELECT node AS record_id, MIN(comp) AS cluster_id
       FROM reach GROUP BY 1)
SELECT record_id, cluster_id,
       CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
           AS n_members,
       record_id >= 1000000 AS is_synthetic
FROM cc
""",
)
def er_customer_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over STRUCTURED records — the record-linkage
    workflow (Fellegi-Sunter framing, modern blocking practice): a dirty
    re-registration batch (every 50th customer re-enters with a
    corrupted name, deterministic in both engines) is resolved against
    the master by blocking → multi-field fuzzy scoring → connected
    components → cluster ids.

    Stages and their 100 TB shape:
    - BLOCK on (nationkey, 4-digit name prefix): the self-join is an
      equi-join on the block key — Σ block² comparisons, never n² (the
      same inverted-index discipline as the document-dedup family, but
      over typed fields).
    - SCORE within block: thresholded ``levenshtein(name) ≤ 1`` AND
      exact ``acctbal`` agreement — a compound predicate, because name
      edit distance alone is useless here (every customer name is lev-1
      from its key-neighbors: single-field fuzzy matching is the classic
      ER mistake this query's fixture makes visible).
    - CLUSTER with the generic CC operator (min-label propagation,
      O(log diameter) rounds) rather than assuming matches form neat
      pairs — real linkage graphs chain (A~B~C), and survivorship needs
      the component, not the edge. Oracle replays the fixpoint as a
      recursive CTE.
    """
    from pyspark.sql import Window

    records, cc = _er_records_and_clusters(spark, sf_dir)
    w = Window.partitionBy("cluster_id")
    return cc.select(
        "record_id",
        "cluster_id",
        F.count(F.lit(1)).over(w).alias("n_members"),
        (F.col("record_id") >= 1000000).alias("is_synthetic"),
    )


def _er_records_and_clusters(spark, sf_dir):
    """Shared ER pipeline: (records, record->cluster labels). Blocking,
    compound scoring, and CC exactly as documented on
    ``er_customer_clusters``."""
    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("record_id"),
        F.col("c_name").alias("nm"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_acctbal").alias("ab"),
    )
    dirty = cust.filter(F.col("c_custkey") % 50 == 0).select(
        (F.col("c_custkey") + 1000000).alias("record_id"),
        F.concat(F.substring("c_name", 1, 17), F.lit("X")).alias("nm"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_acctbal").alias("ab"),
    )
    records = base.unionByName(dirty)
    blocked = records.withColumn("blk", F.substring("nm", 10, 4))
    a = blocked.alias("a")
    b = blocked.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.nk") == F.col("b.nk"))
            & (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.record_id") < F.col("b.record_id")),
        )
        # acctbal equality FIRST (codegen And short-circuits left-to-
        # right, the rare balance match gates the string verify); the
        # 3-arg levenshtein itself short-circuits above the threshold
        # (returns -1), so far pairs never pay full edit-distance
        .filter(
            (F.col("a.ab") == F.col("b.ab"))
            & (F.levenshtein(F.col("a.nm"), F.col("b.nm"), 1) >= 0)
        )
        .select(
            F.col("a.record_id").alias("id_a"),
            F.col("b.record_id").alias("id_b"),
        )
    )
    cc = D.connected_components(
        records.select("record_id"), edges, id_col="record_id"
    ).withColumnRenamed("component", "cluster_id")
    return records, cc


@query(
    "er_golden_record",
    oracle="""
WITH RECURSIVE
r AS (
    SELECT c_custkey AS record_id, c_name AS nm,
           c_nationkey AS nk, c_acctbal AS ab
    FROM customer
    UNION ALL
    SELECT c_custkey + 1000000, substr(c_name, 1, 17) || 'X',
           c_nationkey, c_acctbal
    FROM customer WHERE c_custkey % 50 = 0),
pairs AS (
    SELECT a.record_id AS id_a, b.record_id AS id_b
    FROM r a JOIN r b
      ON a.record_id < b.record_id
     AND a.nk = b.nk
     AND substr(a.nm, 10, 4) = substr(b.nm, 10, 4)
    WHERE levenshtein(a.nm, b.nm) <= 1 AND a.ab = b.ab),
edges AS (
    SELECT id_a AS src, id_b AS dst FROM pairs
    UNION ALL
    SELECT id_b AS src, id_a AS dst FROM pairs),
reach AS (
    SELECT record_id AS node, record_id AS comp FROM r
    UNION
    SELECT e.dst AS node, q.comp AS comp
    FROM reach q JOIN edges e ON e.src = q.node),
cc AS (SELECT node AS record_id, MIN(comp) AS cluster_id
       FROM reach GROUP BY 1)
SELECT cc.cluster_id,
       arg_min(r.nm, r.record_id) AS canonical_name,
       ROUND(MAX(r.ab), 2) AS canonical_acctbal,
       CAST(COUNT(*) AS BIGINT) AS n_sources
FROM cc JOIN r USING (record_id)
GROUP BY cc.cluster_id
HAVING COUNT(*) > 1
ORDER BY cc.cluster_id
""",
)
def er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship — the second half of master-data consolidation: for
    every multi-record entity cluster from `er_customer_clusters`, build
    the GOLDEN record with field-level survivorship rules (name = the
    oldest source's via ``min_by`` on record id — "system of record
    wins"; balance = MAX across sources — "most favorable value";
    n_sources for lineage). Clusters of one are pass-throughs and are
    excluded — the golden-record table is the consolidation DELTA a
    merge job applies.

    Shape: the cluster labels come from the shared blocked-CC pipeline
    (O(Σ block²) + O(log diameter) rounds); survivorship itself is ONE
    groupBy over the labeled records with ``min_by``/``max`` — rule
    changes (most-recent wins, majority vote, source priority) swap
    aggregate expressions, not pipeline structure.
    """
    records, cc = _er_records_and_clusters(spark, sf_dir)
    labeled = cc.join(records, "record_id")
    return (
        labeled.groupBy("cluster_id")
        .agg(
            F.min_by("nm", "record_id").alias("canonical_name"),
            F.round(F.max("ab"), 2).alias("canonical_acctbal"),
            F.count(F.lit(1)).alias("n_sources"),
        )
        .filter(F.col("n_sources") > 1)
        .orderBy("cluster_id")
    )


@query(
    "dedup_incremental_batch",
    # The engine output is EXACT-verified shingle-jaccard on candidates
    # probed incrementally, so (same recall argument as dedup_minhash_lsh:
    # candidate recall is 1.0 on the fixtures, banding floor ~0.9998 at
    # the generator's 0.8+ similarity) it equals the exact all-pairs
    # answer restricted to pairs with >= 1 new-batch member — which is
    # what the oracle computes declaratively. The full-rebuild composition
    # law (incremental == rebuild restricted to >=1-new) is pinned
    # engine-vs-engine in tests/test_round7.py.
    oracle=f"""
WITH {_SHINGLES}
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       {_SH_DIST} AS jaccard_dist
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)
  AND {_SH_DIST} <= 0.4
""",
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup: the docs with ``doc_id % 5 = 0`` arrive
    as today's ingestion batch; the other 80 % are the existing corpus
    whose 64-perm MinHash signatures are PERSISTED (parquet scratch,
    written once per process and read back — the index-on-storage half of
    the workflow). The probe bands the batch, joins batch bands against
    the corpus band index (one hash join — the corpus never self-joins),
    and exact-verifies shingle Jaccard on candidates only, fetching raw
    text solely for candidate ids. Emits every near-dup pair with >= 1
    new member. See ``operators.dedup.minhash_lsh_pairs_incremental``
    for the composition law and the 100 TB cost argument."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    base = docs.filter(F.col("doc_id") % 5 != 0)

    def build(root: str) -> str:
        sig_path = os.path.join(root, "base_sigs")
        D.minhash_signatures(
            base, "doc_id", "text", shingle_k=3, num_perm=64
        ).write.mode("overwrite").parquet(sig_path)
        return sig_path

    # the corpus signatures are persisted once per process
    base_sigs = spark.read.parquet(build_once(("sigs", sf_dir), build))

    return D.minhash_lsh_pairs_incremental(
        base,
        new,
        "doc_id",
        "text",
        base_sigs=base_sigs,
        max_jaccard_distance=0.4,
        shingle_k=3,
        num_perm=64,
        n_bands=16,
    )


@query(
    "dedup_semdedup",
    # lowid centroids make the whole index SQL-replayable (the
    # sim_ivf_topk pattern): assignment ties broken by lowest cent_id on
    # the UNROUNDED cosine (the engine fold keeps the first strict max in
    # cent_id order; Spark's HOF cosine is bit-identical to DuckDB's
    # list_inner_product on double-cast input — verified for the IVF
    # family); the near-dup predicate uses the 6dp-ROUNDED cosine so the
    # pair set is engine-stable. The k-means production variant is the
    # same operator with centroids="kmeans" (recall-style checks only).
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
dropped AS (
    SELECT DISTINCT b.vec_id
    FROM assigned a JOIN assigned b
      ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    WHERE ROUND(list_inner_product(a.v, b.v)
          / (SQRT(list_inner_product(a.v, a.v))
             * SQRT(list_inner_product(b.v, b.v))), 6) >= 0.4)
SELECT s.vec_id, s.cent_id,
       d.vec_id IS NULL AS survivor
FROM assigned s LEFT JOIN dropped d ON s.vec_id = d.vec_id
""",
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style embedding-cluster dedup (Abbas et al., 2023):
    16 cells, intra-cluster cosine >= 0.4 prune, keep-lowest-id
    canonicalization — per-vector (vec_id, cent_id, survivor). The
    deterministic lowid-centroid variant so the full index replays in
    SQL; ``semdedup_survivors(centroids="kmeans")`` is the production
    fit. Candidate pairs = Σ m_i² (~7.8 k on the 500-vec fixture vs
    124 750 all-pairs, a 16× prune — asserted in tests)."""
    e = load_table(spark, sf_dir, "embeddings")
    return semdedup_survivors(
        e, "vec_id", "embedding", n_centroids=16, threshold=0.4
    )


# ---------------------------------------- dup pairs: same vs cross source


@query(
    "dedup_same_vs_cross_source",
    oracle="""
WITH f AS (
    SELECT doc_id, source,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
    FROM documents),
p AS (
    SELECT CASE WHEN a.source = b.source THEN 'same_source'
                ELSE 'cross_source' END AS pair_class
    FROM f a JOIN f b ON a.fp = b.fp AND a.doc_id < b.doc_id)
SELECT pair_class, COUNT(*) AS n_pairs
FROM p GROUP BY 1
""",
)
def dedup_same_vs_cross_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-provenance classification: exact-dup pairs split into
    same-source (a feed re-emitting its own documents — fix the
    producer) vs cross-source (mirrors/syndication — fix the mixing
    weights). The remediation differs completely, which is why the
    split matters more than the total (`quality_duplicate_rate_by_source`
    gives the per-feed exposure; this says WHERE the copies come from).

    Scale shape: the fingerprint equi-join materializes pairs only
    within duplicate groups (Σ group² over groups with > 1 member —
    duplicate groups are small by construction after the first dedup
    pass); one combine-friendly class count."""
    from featurestore_for_joycastle_java_spark.operators.text import (
        fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents")
    f = docs.select(
        "doc_id", "source", fingerprint(F.col("text")).alias("fp")
    )
    a = f.select(
        F.col("fp"),
        F.col("doc_id").alias("id_a"),
        F.col("source").alias("src_a"),
    )
    b = f.select(
        F.col("fp"),
        F.col("doc_id").alias("id_b"),
        F.col("source").alias("src_b"),
    )
    p = a.join(b, "fp").filter(F.col("id_a") < F.col("id_b"))
    return (
        p.select(
            F.when(F.col("src_a") == F.col("src_b"), "same_source")
            .otherwise("cross_source")
            .alias("pair_class")
        )
        .groupBy("pair_class")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
    )


# --------------------------------------------- ER agreement patterns


@query(
    "er_agreement_patterns",
    oracle="""
WITH c AS (
    SELECT c_custkey, c_name, c_nationkey, c_mktsegment,
           CAST(FLOOR(c_acctbal / 100.0) AS BIGINT) AS bal_bucket,
           substr(c_name, -2) AS name_tail
    FROM customer),
p AS (
    SELECT levenshtein(a.c_name, b.c_name) <= 2 AS name_agree,
           a.bal_bucket = b.bal_bucket AS bal_agree
    FROM c a JOIN c b
      ON a.c_nationkey = b.c_nationkey
     AND a.c_mktsegment = b.c_mktsegment
     AND a.name_tail = b.name_tail
     AND a.c_custkey < b.c_custkey),
t AS (SELECT COUNT(*) AS total FROM p)
SELECT p.name_agree, p.bal_agree,
       COUNT(*) AS n_pairs,
       CAST(COUNT(*) * 1000000 // t.total AS BIGINT) AS share_ppm
FROM p, t
GROUP BY 1, 2, t.total
""",
)
def er_agreement_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement-pattern census over blocked candidate pairs — the
    Fellegi-Sunter/Splink INPUT: how many candidate pairs agree on each
    field combination (name within levenshtein 2, same $100 balance
    bucket). The EM step that turns this census into m/u probabilities
    is driver-side arithmetic on these 4 rows; the distributed work is
    exactly this count, which is why it is the query worth pinning.

    Scale shape: candidates come from a compound equi-join block
    (nation x segment x name-tail) — Sigma block^2 never n^2, the same
    inverted-index discipline as `er_customer_clusters` (tightening the
    block key is the dial as data grows); pattern rollup is a
    combine-friendly 4-group agg with exact integer shares."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 100.0).cast("long").alias(
            "bal_bucket"
        ),
        F.substring(F.col("c_name"), -2, 2).alias("name_tail"),
    )
    a = c.alias("a")
    b = c.alias("b")
    p = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
        & (F.col("a.name_tail") == F.col("b.name_tail"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        # 3-arg bounded levenshtein (returns -1 above the threshold):
        # O(len*2) banded DP per pair instead of the full O(len^2)
        # matrix — equivalent to `levenshtein(...) <= 2`
        (
            F.levenshtein(F.col("a.c_name"), F.col("b.c_name"), 2) >= 0
        ).alias("name_agree"),
        (F.col("a.bal_bucket") == F.col("b.bal_bucket")).alias(
            "bal_agree"
        ),
    )
    t = p.agg(F.count(F.lit(1)).alias("total"))
    return (
        p.crossJoin(F.broadcast(t))
        .groupBy("name_agree", "bal_agree")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.expr("count(1) * 1000000 DIV first(total)")
            .cast("bigint")
            .alias("share_ppm"),
        )
    )


@query(
    "dedup_semdedup_kmeans",
    oracle=_semdedup_oracle(
        """\
       CAST(GREATEST(4, FLOOR(SQRT((SELECT COUNT(*) FROM e)))) AS INT)
           AS n_cells"""
    ),
    bench=False,  # recall-verification harness (kmeans fit + quadratic
    # ground truth); the operational semdedup path is benched as
    # dedup_semdedup and its scaling as SCALETEST's kmeans-sqrt curve
)
def dedup_semdedup_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at the production parametrization (Abbas et al., 2023,
    arXiv:2303.09540): data-adaptive k-means centroids with k ~ sqrt(n)
    cells and a bounded training sample (``fit_sample = 64k``; below the
    40-points-per-centroid floor at fixture scale, so the fit is the
    seeded full-corpus k-means|| and the query is deterministic — at
    100 TB the same knob caps training at O(sample*k) while assignment
    stays one broadcast scan). This is the geometry SCALETEST_r08
    measured at alpha 0.92 under 2x/4x/8x corpus growth, vs alpha 1.40
    for the registered lowid/fixed-16-cell oracle variant
    (``dedup_semdedup``) — fixed low-id centroids don't track the data,
    so cells unbalance and the Sigma m_i^2 pair stage bends quadratic
    (see ``operators/similarity.py::semdedup_survivors`` for the full
    k-vs-n trade).

    Checked facts: ``n_global_drops`` is value-matched against DuckDB's
    exact all-pairs drop set (quadratic — bench=False verification
    harness, like ``sim_ivf_kmeans_recall``); ``drops_contained`` proves
    every cell-local drop is a genuine global near-dup (exact by
    semantics — a same-cell pair IS a pair); ``recall_ok`` floors the
    caught fraction at 0.25 (measured 0.371 / 0.321 / 0.303 at
    sf0.001/0.01/0.1, stable across local[8]/local[32] — vs ~1/k ~ 0.045
    for random cells, i.e. the clustering does ~7x better than chance on
    these weak-structure fixtures; floor just under the measured band so
    a clustering regression can't hide beneath it)."""
    counts, k = _semdedup_recall(
        spark,
        sf_dir,
        lambda n: max(4, int(n**0.5)),
        lambda k: {"n_centroids": k, "fit_sample": 64 * k},
    )
    return counts.select(
        "n_vectors",
        F.lit(k).cast("int").alias("n_cells"),
        "n_global_drops",
        (F.col("__escaped") == 0).alias("drops_contained"),
        _recall_ok(0.25),
    )


@query(
    "dedup_substring_ngrams",
    oracle="""
WITH t AS (
    SELECT doc_id,
           list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
    FROM documents),
w AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(1, CAST(len(toks) AS BIGINT) - 6),
               i -> array_to_string(toks[i:i+7], ' '))) AS grams
    FROM t),
g AS (SELECT doc_id, UNNEST(grams) AS gram FROM w),
dup AS (SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
per AS (
    SELECT g.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
    FROM g JOIN dup USING (gram) GROUP BY 1)
SELECT w.doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       CAST(COALESCE(per.n_dup, 0) AS BIGINT) AS n_dup_grams,
       CASE WHEN len(grams) > 0
            THEN (CAST(COALESCE(per.n_dup, 0) AS BIGINT) * 1000000)
                 // CAST(len(grams) AS BIGINT)
            ELSE CAST(0 AS BIGINT) END AS dup_ppm
FROM w LEFT JOIN per USING (doc_id)
""",
)
def dedup_substring_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document duplicated-substring coverage — the ExactSubstr-style
    dedup signal of Lee et al. 2022 (arXiv:2107.06499, "Deduplicating
    Training Data Makes Language Models Better"), discretized to token
    8-grams: for each document, how many of its distinct 8-token spans
    also occur in at least one OTHER document, and that count as a ppm
    ratio of its span vocabulary. Pipelines threshold ``dup_ppm`` to drop
    or trim boilerplate-heavy documents.

    Plan shape: ``shingles(k=8)`` builds the distinct span set per row
    with HOFs (no explode until the inverted index is actually needed),
    then ONE explode feeds both the span-frequency aggregate and the
    join-back — two hash shuffles on the gram key, pairs never
    materialized.

    Shuffle-key default, MEASURED (SCALETEST_r12, ask #5): raw gram
    string vs ``xxhash64(gram)`` at 2x/4x/8x/16x of sf0.1 — the hash
    saves only 2–4% on local[32] (34.2 vs 35.6 s at 16x, alpha 0.97 vs
    0.98), because a single-host shuffle is CPU/hash-bound, not
    byte-bound. The raw string therefore STAYS the default (exact
    oracle replay, zero collision surface); ``xxhash64``-before-shuffle
    is the opt-in for real clusters, where the ~50-byte→8-byte key
    shrink cuts NETWORK shuffle bytes ~2.5x on this pipeline's two
    gram-keyed exchanges — a win the local measurement structurally
    cannot show."""
    d = load_table(spark, sf_dir, "documents")
    # The gram-set frame feeds THREE plan branches (the inverted index's
    # explode twice — dup + join-back — and the final n_grams select);
    # cache it so tokenize + distinct-8-gram construction runs once, not
    # three times (r12 opt, the minhash shingle-cache pattern; measured
    # interleaved A/B at sf0.1: 3.86 → 2.21 s). Same lifetime note as
    # minhash_lsh_pairs: blocks free with the plan via ContextCleaner.
    base = d.select(
        "doc_id", shingles(F.col("text"), k=8).alias("grams")
    ).cache()
    ex = base.select("doc_id", F.explode("grams").alias("gram"))
    dup = (
        ex.groupBy("gram")
        .agg(F.countDistinct("doc_id").alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("gram")
    )
    per = ex.join(dup, "gram").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("__n_dup")
    )
    return (
        base.select(
            "doc_id", F.size("grams").cast("bigint").alias("n_grams")
        )
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            F.coalesce(F.col("__n_dup"), F.lit(0))
            .cast("bigint")
            .alias("n_dup_grams"),
            F.expr(
                "CASE WHEN n_grams > 0 THEN "
                "(CAST(COALESCE(__n_dup, 0) AS BIGINT) * 1000000) DIV n_grams "
                "ELSE CAST(0 AS BIGINT) END"
            ).alias("dup_ppm"),
        )
    )


@query(
    "er_blocking_metrics",
    oracle="""
WITH r AS (
    SELECT c_custkey AS record_id, c_name AS nm,
           c_nationkey AS nk, c_acctbal AS ab
    FROM customer
    UNION ALL
    SELECT c_custkey + 1000000, substr(c_name, 1, 17) || 'X',
           c_nationkey, c_acctbal
    FROM customer WHERE c_custkey % 50 = 0),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_records FROM r),
truth AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_true
    FROM customer WHERE c_custkey % 50 = 0),
cand AS (
    SELECT a.record_id AS id_a, b.record_id AS id_b,
           (levenshtein(a.nm, b.nm) <= 1 AND a.ab = b.ab) AS matched
    FROM r a JOIN r b
      ON a.nk = b.nk AND substr(a.nm, 10, 4) = substr(b.nm, 10, 4)
     AND a.record_id < b.record_id),
agg AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cand,
           CAST(COUNT(*) FILTER (
               WHERE id_b = id_a + 1000000 AND id_a % 50 = 0)
               AS BIGINT) AS n_true_cand,
           CAST(COUNT(*) FILTER (WHERE matched) AS BIGINT) AS n_matched,
           CAST(COUNT(*) FILTER (
               WHERE matched AND id_b = id_a + 1000000 AND id_a % 50 = 0)
               AS BIGINT) AS n_true_matched
    FROM cand)
SELECT n.n_records, truth.n_true AS n_true_pairs,
       agg.n_cand AS n_candidate_pairs, agg.n_matched AS n_matched_pairs,
       CAST((agg.n_true_cand * 1000000) // truth.n_true AS BIGINT)
           AS pair_completeness_ppm,
       CAST(1000000 - (agg.n_cand * 1000000)
            // (n.n_records * (n.n_records - 1) // 2) AS BIGINT)
           AS reduction_ratio_ppm,
       CAST(CASE WHEN agg.n_matched > 0
            THEN (agg.n_true_matched * 1000000) // agg.n_matched
            ELSE 0 END AS BIGINT) AS precision_ppm,
       CAST((agg.n_true_matched * 1000000) // truth.n_true AS BIGINT)
           AS recall_ppm
FROM n, truth, agg
""",
)
def er_blocking_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking- and matcher-quality metrics for the ER pipeline that
    ``er_customer_clusters`` runs (same fixture contract: every 50th
    customer re-enters with a corrupted name; same (nationkey, 4-char
    name slice) blocking; same levenshtein≤1 ∧ exact-acctbal compound
    matcher — the constructions are kept textually in sync): pair
    completeness (how much ground truth the blocking keeps), reduction
    ratio (how much of the n(n−1)/2 pair space it prunes), and the
    matcher's precision/recall against the known synthetic-pair truth —
    the Christen 2012 ("Data Matching", ch. 7) diagnostic quartet. An
    ER pipeline that reports clusters without these numbers can't tell
    'the blocking dropped the matches' from 'the matcher rejected
    them'; this query separates the two failure modes, all in exact
    integer ppm.

    Scale shape: the candidate join is the SAME bounded block join the
    clustering query pays (Σ block² — never n²); truth and totals are
    single aggregates; everything meets in 1-row broadcast frames."""
    cust = load_table(spark, sf_dir, "customer")
    base = cust.select(
        F.col("c_custkey").alias("record_id"),
        F.col("c_name").alias("nm"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_acctbal").alias("ab"),
    )
    dirty = cust.filter(F.col("c_custkey") % 50 == 0).select(
        (F.col("c_custkey") + 1000000).alias("record_id"),
        F.concat(F.substring("c_name", 1, 17), F.lit("X")).alias("nm"),
        F.col("c_nationkey").alias("nk"),
        F.col("c_acctbal").alias("ab"),
    )
    r = base.unionByName(dirty)
    n = r.agg(F.count(F.lit(1)).alias("n_records"))
    truth = cust.filter(F.col("c_custkey") % 50 == 0).agg(
        F.count(F.lit(1)).alias("n_true")
    )
    blocked = r.withColumn("blk", F.substring("nm", 10, 4))
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = a.join(
        b,
        (F.col("a.nk") == F.col("b.nk"))
        & (F.col("a.blk") == F.col("b.blk"))
        & (F.col("a.record_id") < F.col("b.record_id")),
    ).select(
        F.col("a.record_id").alias("id_a"),
        F.col("b.record_id").alias("id_b"),
        # acctbal equality FIRST: codegen And short-circuits left-to-
        # right, so the (rare) balance match gates the bounded
        # levenshtein instead of every candidate pair paying it
        (
            (F.col("a.ab") == F.col("b.ab"))
            & (F.levenshtein(F.col("a.nm"), F.col("b.nm"), 1) >= 0)
        ).alias("matched"),
    )
    agg = cand.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cand"),
        F.count(
            F.when(
                (F.col("id_b") == F.col("id_a") + 1000000)
                & (F.col("id_a") % 50 == 0),
                1,
            )
        )
        .cast("bigint")
        .alias("n_true_cand"),
        F.count(F.when(F.col("matched"), 1)).cast("bigint").alias("n_matched"),
        F.count(
            F.when(
                F.col("matched")
                & (F.col("id_b") == F.col("id_a") + 1000000)
                & (F.col("id_a") % 50 == 0),
                1,
            )
        )
        .cast("bigint")
        .alias("n_true_matched"),
    )
    return (
        n.crossJoin(F.broadcast(truth))
        .crossJoin(F.broadcast(agg))
        .select(
            "n_records",
            F.col("n_true").alias("n_true_pairs"),
            F.col("n_cand").alias("n_candidate_pairs"),
            F.col("n_matched").alias("n_matched_pairs"),
            F.expr(
                "CAST((n_true_cand * 1000000) DIV n_true AS BIGINT)"
            ).alias("pair_completeness_ppm"),
            F.expr(
                "CAST(1000000 - (n_cand * 1000000)"
                " DIV (n_records * (n_records - 1) DIV 2) AS BIGINT)"
            ).alias("reduction_ratio_ppm"),
            F.expr(
                "CAST(CASE WHEN n_matched > 0"
                " THEN (n_true_matched * 1000000) DIV n_matched"
                " ELSE 0 END AS BIGINT)"
            ).alias("precision_ppm"),
            F.expr(
                "CAST((n_true_matched * 1000000) DIV n_true AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


@query(
    "dedup_semdedup_cellsize",
    oracle=_semdedup_oracle(_CELLSIZE_N_CELLS),
    bench=False,  # recall-verification harness (kmeans fit + quadratic
    # ground truth); the operational scaling evidence is SCALETEST's
    # semdedup_kmeans_cellsize curve (tools/scale_curve.py)
)
def dedup_semdedup_cellsize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at constant cell size (Abbas et al., 2023,
    arXiv:2303.09540; the linear-pair-stage parametrization): k-means
    centroids with k = max(4, ceil(n / 32)) cells — cell POPULATION
    held at ~32 as the corpus grows, so the per-cell quadratic compare
    costs Sigma m_i^2 ~ n*32, linear in n. This is the documented
    remedy for SCALETEST_r10's measured 16x bend of the k ~ sqrt(n)
    geometry (2^1.57/octave once Sigma m^2 dominates); the growth
    moves into the n*k broadcast assignment fold, which shuffles
    nothing (see ``operators/similarity.py::semdedup_survivors``).

    Checked facts (the ``dedup_semdedup_kmeans`` harness, same fixture):
    ``n_global_drops`` value-matched against DuckDB's exact all-pairs
    drop set; ``drops_contained`` proves every cell-local drop is a
    genuine global near-dup; ``recall_ok`` floors the caught fraction
    at 0.20 (measured 0.371/0.453/0.286 at sf0.001/0.01/0.1, vs
    ~m-bar/n ~ 0.03 for random cells at sf0.1 — the 0.286 low point is
    sf0.1's k=63, where cells are finer than the sqrt variant's 44 so
    recall sits just under its 0.303; floor set under the measured
    band so a clustering regression can't hide beneath it)."""
    # NO fit_sample: oracle-checked queries keep the full-corpus fit. A
    # sampled fit is partitioning-dependent, so a file-split change could
    # move the clustering and flip recall_ok non-deterministically.
    counts, k = _semdedup_recall(
        spark,
        sf_dir,
        lambda n: max(4, -(-n // _CELL_SIZE)),
        lambda k: {"target_cell_size": _CELL_SIZE},
    )
    return counts.select(
        "n_vectors",
        F.lit(k).cast("int").alias("n_cells"),
        "n_global_drops",
        (F.col("__escaped") == 0).alias("drops_contained"),
        _recall_ok(0.20),
    )


@query(
    "dedup_semdedup_twolevel",
    oracle=_semdedup_oracle(_CELLSIZE_N_CELLS, all_assigned=True),
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
    counts, k = _semdedup_recall(
        spark,
        sf_dir,
        lambda n: max(4, -(-n // _CELL_SIZE)),
        lambda k: {"target_cell_size": _CELL_SIZE, "two_level": True},
    )
    return counts.select(
        "n_vectors",
        F.lit(k).cast("int").alias("n_cells"),
        "n_global_drops",
        (F.col("__unassigned") == 0).alias("all_assigned"),
        (F.col("__escaped") == 0).alias("drops_contained"),
        _recall_ok(0.10),
    )
