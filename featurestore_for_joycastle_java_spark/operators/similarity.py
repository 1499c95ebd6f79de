"""Embedding similarity search (north-star §2.3): brute-force cosine top-k
as the exactness baseline, LSH-bucketed approximate join as the scale path.

Cosine is computed with higher-order functions (zip_with product +
sequential aggregate) — Catalyst-native, no UDF, and (empirically verified,
see catalog/similarity.py) bit-identical to DuckDB's list_inner_product on
double-cast inputs, which is what makes exact oracles possible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from featurestore_for_joycastle_java_spark.operators.relational import (
    top_k_per_group,
)
from featurestore_for_joycastle_java_spark.session import thread_target

#: The columns every top-k entry point reads: the corpus id, the vector
#: (on both sides) and the query id.
_ID_COL, _VEC_COL, _QID_COL = "vec_id", "embedding", "query_id"


def as_double(col) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def dot(a, b) -> Column:
    """Sequential left-to-right double dot product (deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a) -> Column:
    return F.sqrt(dot(a, a))


def unit_vec(col) -> Column:
    """L2-normalized double copy of an array column. On the unit sphere
    squared-euclidean ordering equals cosine ordering
    (||a-b||² = 2-2cosθ), which is what lets euclidean k-means and PQ
    serve a cosine workload — unnormalized ADC measured 0.30 recall@5
    vs 0.84+ after."""
    return _l2_normalized(as_double(col))


def _l2_normalized(v) -> Column:
    """The double array ``v`` divided by its L2 norm, the norm bound ONCE
    per row via the single-element-transform trick (no CSE across HOF
    lambdas — see operators/text.py)."""
    return F.element_at(
        F.transform(
            F.array(F.struct(v.alias("v"), l2_norm(v).alias("n"))),
            lambda s: F.transform(s["v"], lambda x: x / s["n"]),
        ),
        1,
    )


def cosine(a, b) -> Column:
    """NULL when either norm is zero (``try_divide``: plain ``/`` throws
    DIVIDE_BY_ZERO under ANSI), as DuckDB's ``x / 0.0`` is, so a
    zero-norm vector ranks last (DESC NULLS LAST) and fails every
    ``>= threshold`` instead of killing the job."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def top_k_by_cosine(
    scored: DataFrame, query_id_col: str, id_col: str, k: int
) -> DataFrame:
    """The last stage of every cosine top-k: per query, the ``k`` rows of
    ``scored`` (query id, id, ``cos_sim``) with the highest cosine, ties
    to the lower id, ranked 1..k in an int ``rnk``."""
    return top_k_per_group(
        scored, [query_id_col], [F.col("cos_sim").desc(), F.col(id_col)], k, "rnk"
    ).select(query_id_col, id_col, "cos_sim", F.col("rnk").cast("int").alias("rnk"))


def exact_rerank(
    cand: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    k: int,
) -> DataFrame:
    """Exact cosine top-k over candidate (query id, id) pairs: join the
    full query and corpus vectors back onto ``cand`` only, so exact math
    runs on the candidates, never on the corpus × queries product."""
    q = queries.select(
        F.col(query_id_col), as_double(F.col(vec_col)).alias("__qv")
    )
    c = corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("__cv"))
    scored = (
        cand.join(F.broadcast(q), query_id_col)
        .join(c, id_col)
        .select(
            query_id_col,
            id_col,
            F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cos_sim"),
        )
    )
    return top_k_by_cosine(scored, query_id_col, id_col, k)


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k by cosine: broadcast the (small) query set against the
    corpus, score every pair, per-query window top-k.

    Cost is |queries| × |corpus| × dim — linear in the corpus for a
    bounded query batch, and embarrassingly parallel (no shuffle until
    the final per-query top-k, which carries only k×|queries| rows).
    Ranking key is (rounded cosine desc, id) → deterministic under ties.
    For corpus-×-corpus workloads use lsh_topk / IVF instead."""
    q = queries.select(
        F.col(_QID_COL), as_double(F.col(_VEC_COL)).alias("__qv")
    )
    c = corpus.select(F.col(_ID_COL), as_double(F.col(_VEC_COL)).alias("__cv"))
    scored = c.join(F.broadcast(q)).select(
        _QID_COL,
        _ID_COL,
        F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cos_sim"),
    )
    return top_k_by_cosine(scored, _QID_COL, _ID_COL, k)


#: Most (corpus row, query) pairs one ``brute_force_topk_arrow`` slice
#: scores and yields: bounds the dense float64 cosine block and the output
#: RecordBatch (16 bytes of ids and cosine per pair, before Arrow overhead).
_TOPK_ARROW_MAX_PAIRS = 1 << 18


def _topk_arrow_scores(batches, qids, qvecs, qid_arrow, d, id_col, query_id_col):
    """The ``mapInArrow`` body of :func:`brute_force_topk_arrow`: every
    (query, corpus row) cosine of ``batches`` as RecordBatches of
    (query id, corpus id, ``__cos``), each scored from a row slice of at
    most ``max(1, _TOPK_ARROW_MAX_PAIRS // len(qids))`` corpus rows."""
    import numpy as np
    import pyarrow as pa

    nq = len(qids)
    qid_arr = pa.array(qids, type=qid_arrow)
    qmask = np.array([v is not None for v in qvecs], dtype=bool)
    if d is not None and qmask.any():
        qm = np.asarray(
            [v for v in qvecs if v is not None], dtype=np.float64
        )
        # l2_norm replay: sqrt of the left fold of x*x
        qn_acc = np.zeros(qm.shape[0])
        for j in range(d):
            qn_acc = qn_acc + qm[:, j] * qm[:, j]
        qn = np.sqrt(qn_acc)
    step = max(1, _TOPK_ARROW_MAX_PAIRS // max(nq, 1))
    slices = (
        batch.slice(start, step)
        for batch in batches
        for start in range(0, batch.num_rows, step)
    )
    for batch in slices:
        ids, col = batch.column(0), batch.column(1)
        n = len(col)
        if n == 0 or nq == 0:
            continue
        if isinstance(col, pa.ChunkedArray):  # defensive
            col = col.combine_chunks()
        valid = np.ones(n, dtype=bool)
        if col.null_count:
            valid = ~col.is_null().to_numpy(zero_copy_only=False)
        offs = col.offsets.to_numpy()
        # the slice's own elements (``values`` is the whole batch's child)
        vals = col.values.slice(offs[0], offs[-1] - offs[0])
        if vals.null_count:
            raise ValueError(
                "brute_force_topk_arrow: NULL vector elements are "
                "outside the exact-replay contract"
            )
        lens = np.diff(offs)
        if valid.any() and d is not None and (lens[valid] != d).any():
            raise ValueError(
                "brute_force_topk_arrow requires corpus dims == "
                f"query dims ({d}); saw "
                f"{sorted(set(lens[valid].tolist()))[:5]}"
            )
        # cos matrix (n, nq), None where either side is null
        cos = np.full((n, nq), np.nan)
        null_mask = np.zeros((n, nq), dtype=bool)
        null_mask[~valid, :] = True
        null_mask[:, ~qmask] = True
        nv = int(valid.sum())
        if nv and qmask.any() and d is not None:
            flat = vals.to_numpy(zero_copy_only=False)
            starts = (offs[:-1] - offs[0])[valid]
            take = starts[:, None] + np.arange(d)[None, :]
            x = flat[take].astype(np.float64)
            # dot replay: left fold over dims of q_j * c_j
            dots = np.zeros((nv, qm.shape[0]))
            cn_acc = np.zeros(nv)
            for j in range(d):
                dots = dots + x[:, j, None] * qm[None, :, j]
                cn_acc = cn_acc + x[:, j] * x[:, j]
            cn = np.sqrt(cn_acc)
            # cosine replay: dot / (qn * cn) — query norm is the left
            # factor of the denominator, as in cosine()
            den = qn[None, :] * cn[:, None]
            with np.errstate(invalid="ignore", divide="ignore"):
                c_block = dots / den
            block = np.full((nv, nq), np.nan)
            block[:, qmask] = c_block
            cos[valid, :] = block
            # try_divide replay: a zero denominator scores null
            zero = np.zeros((nv, nq), dtype=bool)
            zero[:, qmask] = den == 0
            null_mask[valid, :] |= zero
        rep = np.repeat(np.arange(n), nq)
        til = np.tile(np.arange(nq), n)
        cos_flat = pa.array(
            cos.reshape(-1), type=pa.float64(), mask=null_mask.reshape(-1)
        )
        yield pa.RecordBatch.from_arrays(
            [
                qid_arr.take(pa.array(til)),
                ids.take(pa.array(rep)),
                cos_flat,
            ],
            names=[query_id_col, id_col, "__cos"],
        )


def brute_force_topk_arrow(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k by cosine with the scoring pass vectorized — the
    ground-truth stage of the recall harnesses: the |queries|·|corpus|
    HOF cosine folds become one NumPy pass per Arrow batch against the
    collected query matrix; the 6dp round and the per-query (cos desc,
    id) window top-k stay in Spark, identical to
    :func:`brute_force_topk`.

    Bit-identity: per pair the kernel replays ``dot(q, c) / (l2(q) *
    l2(c))`` as the identical IEEE float64 sequence — dims accumulate in
    a left-to-right fold (a dim-loop over row-vectorized ops, NOT
    ``np.dot``, whose pairwise summation reassociates), norms first, the
    q·c denominator product in HOF argument order — so every emitted
    double equals the HOF fold's and the rounded ranking is the same
    (pinned in tests/test_opt_r13.py).

    EAGER: ``queries`` is collected to the driver at construction and
    shipped to every task, so it must stay small (it is the harness
    query batch — 10..n/50 rows in every caller; the lazy benched
    surface stays :func:`brute_force_topk`). What one task holds is
    bounded on the corpus side only: each Arrow batch is scored in row
    slices of at most ``_TOPK_ARROW_MAX_PAIRS`` pairs (one corpus row per
    slice at minimum), so neither the dense cosine block nor an output
    batch grows with the batch size. NULL query or corpus vectors score
    null, as the fold does; NULL vector *elements* and ragged dims are
    refused loudly (the ``gram_cells`` contract)."""
    from pyspark.sql.pandas.types import to_arrow_type

    q_rows = queries.select(
        F.col(_QID_COL), as_double(F.col(_VEC_COL)).alias("__qv")
    ).collect()
    qids = [r[0] for r in q_rows]
    qvecs = [r[1] for r in q_rows]
    dims = {len(v) for v in qvecs if v is not None}
    if len(dims) > 1:
        raise ValueError(
            f"brute_force_topk_arrow requires uniform query dims; saw {sorted(dims)}"
        )
    d = dims.pop() if dims else None
    qid_type = dict(queries.dtypes)[_QID_COL]
    id_type = dict(corpus.dtypes)[_ID_COL]
    # the declared Arrow type of the query ids: pa.array would infer int64
    # for any integer ids and mismatch an int/smallint output column
    qid_arrow = to_arrow_type(queries.schema[_QID_COL].dataType)

    def _score(batches):
        return _topk_arrow_scores(
            batches, qids, qvecs, qid_arrow, d, _ID_COL, _QID_COL
        )

    scored = corpus.select(F.col(_ID_COL), F.col(_VEC_COL)).mapInArrow(
        _score,
        schema=f"{_QID_COL} {qid_type}, {_ID_COL} {id_type}, __cos double",
    )
    scored = scored.select(
        _QID_COL, _ID_COL, F.round(F.col("__cos"), 6).alias("cos_sim")
    )
    return top_k_by_cosine(scored, _QID_COL, _ID_COL, k)


def cosine_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
) -> DataFrame:
    """All-pairs cosine ≥ threshold (exact, quadratic) — the oracle/
    verification tool for bounded blocks; LSH buckets replace the
    all-pairs join at scale.

    Norms are bound ONCE per row before the pair join, so each pair
    costs one zip_with dot instead of three array folds (Spark HOFs are
    interpreted per element — measured 2.6x on the 2M-pair sf0.1 sweep).
    The per-pair expression stays try_divide(dot, na*nb), the identical
    IEEE tree to ``cosine()``, so 6dp-rounded oracle parity is
    unaffected (same argument as ``semdedup_survivors``) and a pair with
    a zero-norm side scores NULL and is filtered out."""
    e = df.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("__v")
    ).withColumn("__n", l2_norm(F.col("__v")))
    a, b = e.alias("a"), e.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(
                F.try_divide(
                    dot(F.col("a.__v"), F.col("b.__v")),
                    F.col("a.__n") * F.col("b.__n"),
                ),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def kmeans_centroids(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    seed: int = 42,
    fit_sample: int | None = None,
    corpus_rows: int | None = None,
) -> DataFrame:
    """Real IVF centroids: seeded distributed k-means|| over the corpus
    (``pyspark.ml.clustering.KMeans``). Returns ``(cent_id, __mv)`` with
    cent_id = cluster index. The fit is a few passes over the data
    (k-means|| init + 20 Lloyd rounds), all executor-side; only
    the k centroid vectors come back to the driver. Deterministic for a
    fixed seed + input.

    ``fit_sample``: when set, the fit runs on a ~``fit_sample``-row
    random sample of the corpus instead of every row — the standard
    production trade (FAISS trains IVF quantizers on 39-256 points per
    centroid): each Lloyd pass costs O(sample·k) instead of O(n·k), so
    training stays bounded as the corpus grows and only the single
    O(n·k) assignment pass touches all rows. Centroids learned from a
    sample depend on the sample, so callers that need exact cross-run
    replayability (the oracle-checked queries) keep the default
    full-corpus fit.

    ``corpus_rows``: the corpus row count, when the caller already
    knows it (most do — they sized k ~ sqrt(n) from the same number).
    Sizing the sample fraction needs n; passing it here avoids an extra
    full ``corpus.count()`` scan per index build (one wasted 100 TB
    pass otherwise). Unknown → counted once, documented cost."""
    import warnings

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    # fit on L2-NORMALIZED vectors (spherical k-means approximation):
    # Spark's KMeans minimizes euclidean distance, but IVF assignment is
    # by cosine — on the unit sphere the two orders agree, so normalizing
    # before the fit makes the learned cells match the cosine geometry
    # (un-normalized fit measured 26pp worse recall on the fixtures).
    v = as_double(F.col(vec_col))
    normed = unit_vec(F.col(vec_col))
    # zero-norm vectors have no direction, so they cannot train a
    # spherical fit — and the normalize above would kill the fit on
    # them (ANSI: DIVIDE_BY_ZERO; legacy: null components into
    # array_to_vector). Excluded from the FIT ONLY; assignment still
    # sees every row and returns cent_id NULL for them (the zero-norm
    # contract shared by both assignment paths). No-op
    # filter on vector sets without zero rows — the registered
    # queries' plans and results are unchanged.
    corpus = corpus.filter(l2_norm(v) > 0)
    fit_src = corpus
    if fit_sample is not None:
        n = corpus_rows if corpus_rows is not None else corpus.count()
        # floor the sample target at ~40 points per centroid (FAISS's
        # own warn threshold) so a fit_sample chosen close to k can't
        # hand the fit fewer points than centroids; the sample is
        # seeded but partitioning-dependent (documented)
        target = max(fit_sample, 40 * n_centroids)
        if n > target:
            fit_src = corpus.sample(
                fraction=min(1.0, 1.1 * target / n), seed=seed
            )
    feat = fit_src.select(array_to_vector(normed).alias("features"))
    km = KMeans(
        k=n_centroids, seed=seed, maxIter=20, initMode="k-means||"
    )
    try:
        centers = km.fit(feat).clusterCenters()
    except Exception as exc:
        if fit_src is corpus:
            raise  # a full-corpus fit failure is a real error
        # escalating to a full-corpus refit is exactly the O(n*k*iters)
        # cost fit_sample exists to avoid — surface the cause instead of
        # silently paying it
        warnings.warn(
            f"sampled k-means fit failed ({exc!r}); refitting on the "
            "full corpus — 20 Lloyd passes over every row",
            RuntimeWarning,
            stacklevel=2,
        )
        centers = []
    if len(centers) != n_centroids and fit_src is not corpus:
        # pathological draw (possible in principle even above the floor):
        # refit on the full corpus rather than silently returning fewer
        # cells than callers — and the exactly-k tests — assume
        centers = km.fit(
            corpus.select(array_to_vector(normed).alias("features"))
        ).clusterCenters()
    rows = [(i, [float(x) for x in ctr]) for i, ctr in enumerate(centers)]
    return corpus.sparkSession.createDataFrame(
        rows, "cent_id bigint, __mv array<double>"
    )


def _cell_struct() -> Column:
    """A centroid row as a fold element: (cent_id, __mv, __mn = |__mv|)."""
    return F.struct(
        F.col("cent_id"), F.col("__mv"), l2_norm(F.col("__mv")).alias("__mn")
    )


def _nearest_cell(cells: str) -> Column:
    """cent_id of the cell in the array column ``cells`` (``_cell_struct``
    values in cent_id order) with the highest cosine to the row's
    ``__cv`` (norm ``__cn``). The fold keeps the FIRST max, so ties go to
    the lowest cent_id. ``try_divide`` makes a zero-norm vector's cosine
    NULL under both ANSI modes (plain ``/`` throws DIVIDE_BY_ZERO under
    ANSI), so the fold never beats its init and the row keeps cent_id
    NULL instead of killing the job."""
    init = F.struct(
        F.lit(-2.0).alias("cs"), F.lit(None).cast("long").alias("cent_id")
    )

    def fold(acc, cent):
        cs = F.try_divide(
            dot(F.col("__cv"), cent["__mv"]), F.col("__cn") * cent["__mn"]
        )
        return F.when(
            cs > acc["cs"], F.struct(cs.alias("cs"), cent["cent_id"].alias("cent_id"))
        ).otherwise(acc)

    return F.aggregate(cells, init, fold)["cent_id"]


def assign_nearest_cell(
    c: DataFrame, cents: DataFrame, id_col: str
) -> DataFrame:
    """Assign every vector to its nearest centroid by cosine, with ZERO
    shuffle: the centroid set rides along as one broadcast row holding a
    sorted array of (cent_id, vector, norm) structs, and the argmax runs
    as a per-row HOF fold — no explode, no window, no groupBy. (A window
    over the corpus×n_centroids expansion would shuffle+sort n_centroids×
    the corpus.) Ties: the fold keeps the FIRST max in cent_id order —
    highest cosine, lowest cent_id.

    ``c``: (id_col, __cv double-array); ``cents``: (cent_id, __mv).
    Returns (id_col, __cv, cent_id). A zero-norm vector's cosine is
    NULL (``try_divide`` — ANSI-mode-independent), so the fold never
    beats the init and the row comes back with cent_id NULL — retained,
    not dropped (the pair stage's null-rejecting equi-join then never
    drops it either: it is always a survivor)."""
    cents_row = cents.select(_cell_struct().alias("c")).agg(
        F.sort_array(F.collect_list("c")).alias("__cents")
    )
    with_norm = c.withColumn("__cn", l2_norm(F.col("__cv")))
    return with_norm.join(F.broadcast(cents_row)).select(
        id_col, "__cv", _nearest_cell("__cents").alias("cent_id")
    )


def kmeans_centroids_two_level(
    corpus: DataFrame,
    vec_col: str = "embedding",
    n_centroids: int = 256,
    seed: int = 42,
    corpus_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Hierarchical (two-level) IVF centroids — the extreme-k escalation
    the flat fit's docstring prescribes. With k = n/m̄ (constant cell
    size) the FLAT path's costs grow super-linearly: the fit is
    O(sample·k) per Lloyd pass with sample ∝ k (→ k²), and the
    broadcast assignment fold is O(n·k) — SCALETEST_r11 measured the
    full-query cellsize curve bending 2^1.95/octave at 16× from exactly
    these two terms while the pair stage stayed linear. The hierarchy
    splits k into k1 = ⌈√k⌉ coarse cells × k2 = ⌈k/k1⌉ sub-cells:

    - coarse fit: seeded k-means|| on a per-centroid-bounded sample —
      O(sample₁·√k) per pass;
    - sub-fits: ONE distributed pass — a seeded sample of
      ~64·k rows is coarse-assigned (broadcast
      fold over √k) and each coarse group fits its k2 sub-centroids
      with a seeded NumPy spherical Lloyd inside ``applyInPandas``
      (groups are sample-bounded, never corpus-sized); coarse cells
      the sample missed fall back to the coarse centroid itself, so
      every cell is coverable;
    - assignment (``assign_nearest_cell_two_level``): nearest coarse
      centroid, then nearest sub-centroid within it — O(n·2√k) fold
      work instead of O(n·k).

    Determinism: seeded throughout, but both samples are
    partitioning-dependent (the flat ``fit_sample`` caveat); within
    each pandas group rows are sorted by a content hash before the
    fit, so the result depends only on the drawn sample set.

    Measured range (SCALETEST_r11 + SCALETEST_r12, k = n/125,
    local[32]): the first 64x sweep read per-octave growth bending to
    2^1.29 — but that run's one-file inflation fixture put the whole
    interpreted-HOF fold on ONE task; re-measured on a 32-way input
    (SCALETEST_r12 ``semdedup_fit_assign_two_level_wide``) fit+assign
    holds alpha 0.84 through 64x (k = 1024, 19.7 s vs the single-task
    68.8 s) — at genuine parallelism the n^1.5 work term is still
    amortized by idle width in this range, and the single-task octave
    ratios were measuring saturation, not the asymptote. The shape IS
    O(n*2*sqrt(k)) = n^1.5 eventually; when it bites, the next
    escalation is a THIRD level (O(n*3*k^(1/3)) fold work — the same
    split applied to the coarse stage). SRP-routed assignment was
    implemented and MEASURED as the alternative escalation and lost at
    every measured k (SCALETEST_r12: alpha 1.59 vs 0.84 uncapped on
    identical fit/input, 1.8-5.0x slower with bucket capping through
    k = 4096 — centroid code-bucket skew makes its candidate volume
    grow with k, and its per-row candidate materialization costs more
    than the two streamed folds), so it was removed; SURVEY.md keeps
    the numbers.

    Returns ``(coarse, fine)``: coarse = (coarse_id, __mv); fine =
    (cent_id, coarse_id, __mv) with cent_id = coarse_id·k2 + sub_id,
    unit-normalized (assignment by dot == cosine)."""
    import math

    n = corpus_rows if corpus_rows is not None else corpus.count()
    k1 = max(2, math.isqrt(max(1, n_centroids - 1)) + 1)
    k2 = max(1, -(-n_centroids // k1))
    coarse = kmeans_centroids(
        corpus,
        vec_col=vec_col,
        n_centroids=k1,
        seed=seed,
        fit_sample=64 * k1,
        corpus_rows=n,
    ).select(F.col("cent_id").alias("coarse_id"), "__mv")

    # seeded sample for the sub-fits, normalized once; content-hash row
    # key makes the per-group fit order-independent. Zero-norm vectors
    # are excluded from the FIT sample for the same reason as the flat
    # fit (no direction; the normalize would divide by zero) —
    # assignment still sees them and returns cent_id NULL.
    target = 64 * k1 * k2
    src = corpus.filter(l2_norm(as_double(F.col(vec_col))) > 0)
    if n > target:
        src = src.sample(fraction=min(1.0, 1.1 * target / n), seed=seed)
    v = as_double(F.col(vec_col))
    samp = src.select(
        F.xxhash64(v.cast("array<double>")).alias("__rid"),
        unit_vec(F.col(vec_col)).alias("__nv"),
    )
    assigned = assign_nearest_cell(
        samp.select(F.col("__rid"), F.col("__nv").alias("__cv")),
        coarse.select(F.col("coarse_id").alias("cent_id"), "__mv"),
        "__rid",
    ).select("__rid", F.col("__cv").alias("__nv"), F.col("cent_id").alias("coarse_id"))

    def _sub_fit(pdf):
        import numpy as np
        import pandas as pd

        cid = int(pdf["coarse_id"].iloc[0])
        x = np.stack(pdf.sort_values("__rid")["__nv"].to_numpy())
        k2_eff = min(k2, len(x))
        rng = np.random.RandomState((seed * 1_000_003 + cid) % (2**31))
        cents = x[rng.choice(len(x), size=k2_eff, replace=False)].copy()
        for _ in range(20):
            lab = (x @ cents.T).argmax(1)
            new = cents.copy()
            for j in range(k2_eff):
                pts = x[lab == j]
                if len(pts):
                    m = pts.mean(0)
                    nrm = float(np.linalg.norm(m))
                    if nrm > 0:
                        new[j] = m / nrm
            if np.allclose(new, cents):
                cents = new
                break
            cents = new
        return pd.DataFrame(
            {
                "coarse_id": cid,
                "sub_id": np.arange(k2_eff, dtype="int64"),
                "__mv": [c.tolist() for c in cents],
            }
        )

    fitted = assigned.groupBy("coarse_id").applyInPandas(
        _sub_fit, "coarse_id long, sub_id long, __mv array<double>"
    )
    # coarse cells the sample never reached: the coarse centroid itself
    # is their lone sub-centroid, so assignment always has a target —
    # unit-normalized here because k-means centers are MEANS of unit
    # vectors (|mean| < 1), and the fitted path emits unit centroids
    missed = (
        coarse.join(fitted.select("coarse_id").distinct(), "coarse_id", "left_anti")
        .select(
            "coarse_id",
            F.lit(0).cast("long").alias("sub_id"),
            _l2_normalized(F.col("__mv")).alias("__mv"),
        )
    )
    fine = fitted.unionByName(missed).select(
        (F.col("coarse_id") * k2 + F.col("sub_id")).alias("cent_id"),
        "coarse_id",
        "__mv",
    )
    return coarse, fine


def assign_nearest_cell_two_level(
    c: DataFrame, coarse: DataFrame, fine: DataFrame, id_col: str
) -> DataFrame:
    """Two-stage nearest-cell assignment: fold over the √k coarse
    centroids, then over the matched coarse cell's sub-centroids —
    O(2√k) per-row work instead of O(k), still ZERO shuffle (the fine
    set broadcasts grouped by coarse_id; the per-row join on coarse_id
    is against a broadcast k1-row frame). Same frames and tie rule as
    ``assign_nearest_cell``. Returns (id_col, __cv, cent_id).

    Null-coarse rows (a zero-norm vector makes every coarse cosine
    NULL, so step 1 leaves coarse_id NULL) are KEPT: the groups join is
    a LEFT join, the missing ``__subs`` array makes the fold NULL, and
    the row emerges with cent_id NULL — exactly the flat
    ``assign_nearest_cell`` behavior (an inner join here would silently
    drop such rows and break the every-vector-assigned invariant)."""
    step1 = assign_nearest_cell(
        c, coarse.select(F.col("coarse_id").alias("cent_id"), "__mv"), id_col
    ).select(id_col, "__cv", F.col("cent_id").alias("coarse_id"))
    groups = (
        fine.select("coarse_id", _cell_struct().alias("s"))
        .groupBy("coarse_id")
        .agg(F.sort_array(F.collect_list("s")).alias("__subs"))
    )
    with_norm = step1.withColumn("__cn", l2_norm(F.col("__cv")))
    return with_norm.join(F.broadcast(groups), "coarse_id", "left").select(
        id_col, "__cv", _nearest_cell("__subs").alias("cent_id")
    )


def lowid_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> DataFrame:
    """The ``n_centroids`` lowest-id vectors as ``(cent_id, __mv)``: the
    deterministic centroid set whose cell assignment replays exactly in
    SQL (``ORDER BY id LIMIT n``), which is what gives the lowid IVF and
    SemDeDup variants a full cross-engine oracle."""
    return (
        corpus.orderBy(id_col)
        .limit(n_centroids)
        .select(
            F.col(id_col).alias("cent_id"),
            as_double(F.col(vec_col)).alias("__mv"),
        )
    )


def semdedup_survivors(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    threshold: float = 0.4,
    centroids: str = "lowid",
    seed: int = 42,
    fit_sample: int | None = None,
    corpus_rows: int | None = None,
    target_cell_size: int | None = None,
    two_level: bool = False,
) -> DataFrame:
    """SemDeDup-style embedding-cluster dedup (Abbas et al., 2023,
    arXiv:2303.09540): cluster the corpus, compare vectors ONLY within
    their cluster, and drop every vector that has a same-cluster neighbor
    with cosine >= ``threshold`` and a smaller id (the deterministic
    keep-lowest-id rule — same canonicalization as exact dedup).

    Output: one row per vector — (id_col, cent_id, survivor boolean).

    ``centroids="kmeans"`` fits seeded k-means|| (the production
    partitioning); ``"lowid"`` takes the ``n_centroids`` lowest-id
    vectors, kept because its assignment is exactly replayable in SQL —
    the cross-engine-oracle variant (same split as ``ivf_topk``).

    Scale shape: assignment is the zero-shuffle broadcast fold
    (``assign_nearest_cell``); the quadratic compare runs per CLUSTER —
    Σ m_i² candidate pairs instead of n² (16× fewer on the fixtures,
    k×-ish in general for balanced clusters; at 100 TB pick
    n_centroids ~ n/10⁵ so cells stay block-sized). Growing k only
    helps if cells stay BALANCED — that needs data-adaptive centroids
    (``"kmeans"``), not ``"lowid"`` (measured in SCALETEST_r08: scaling
    lowid cell count leaves alpha≈1.4 because all low-id centroids sit
    in one region). Cost split with k ∝ n: the pair SHUFFLE (Spark's
    actual bottleneck) stays linear, while the n·k assignment is
    per-row broadcast compute — embarrassingly parallel, no data
    movement, GEMM-shaped (this is the SemDeDup paper's own trade; on
    FIXED hardware the visible optimum is k ~ √n → Θ(n^1.5) total —
    measured: SCALETEST_r10's 16× octave runs 2^1.57 per doubling once
    fixed costs stop dominating, matching Θ(n^1.5) for k ∝ √n; hold the
    target cell SIZE m̄ constant, k = n/m̄, when you need the pair stage
    linear).
    Use ``fit_sample`` so k-means training is O(sample·k) instead of
    20 Lloyd passes over the corpus. The survivor rule is
    one groupBy over the near-dup pairs, no iteration — unlike CC-based
    dedup it never chains A~B~C transitively, which is SemDeDup's
    documented semantics (per-cluster, direct-neighbor pruning).

    ``target_cell_size`` (m̄): the constant-cell-size parametrization —
    overrides ``n_centroids`` with
    k = max(4, ceil(n / m̄)) so the Σm² pair stage stays LINEAR in n
    (Σm² ≈ n·m̄ for balanced cells), the remedy for the measured 16×
    bend of k ∝ √n (SCALETEST_r10: 2^1.57/octave). The n·k assignment
    fold grows instead, but it is zero-shuffle per-row broadcast
    compute; see ``kmeans_centroids_two_level`` for the fit-cost trade
    and the extreme-k escalation. Requires ``centroids="kmeans"`` (constant
    cell size is meaningless without data-adaptive, balanced cells).

    ``two_level``: with ``centroids="kmeans"``, fit and assign through
    the √k-coarse hierarchy (``kmeans_centroids_two_level``) — the
    escalation for constant-cell-size at large k, where the flat fit
    (O(sample·k)) and the O(n·k) assignment fold are what bend the
    total super-linear (SCALETEST_r11). Fold work drops to O(n·2√k);
    the pair stage is identical. ``fit_sample`` is ignored on this
    path — the hierarchy sizes its own per-centroid-bounded samples
    (64 points per centroid, ``kmeans_centroids_two_level``)."""
    if target_cell_size is not None:
        if centroids != "kmeans":
            raise ValueError(
                "target_cell_size requires centroids='kmeans' — fixed "
                "low-id centroids cannot hold cells balanced"
            )
        n = corpus_rows if corpus_rows is not None else corpus.count()
        corpus_rows = n
        n_centroids = max(4, -(-n // target_cell_size))
    c = corpus.select(F.col(id_col), as_double(F.col(vec_col)).alias("__cv"))
    if two_level:
        if centroids != "kmeans":
            raise ValueError("two_level requires centroids='kmeans'")
        coarse, fine = kmeans_centroids_two_level(
            corpus,
            vec_col=vec_col,
            n_centroids=n_centroids,
            seed=seed,
            corpus_rows=corpus_rows,
        )
        assigned = assign_nearest_cell_two_level(c, coarse, fine, id_col)
        return semdedup_survivors_from_assigned(assigned, id_col, threshold)
    if centroids == "kmeans":
        cents = kmeans_centroids(
            corpus,
            vec_col=vec_col,
            n_centroids=n_centroids,
            seed=seed,
            fit_sample=fit_sample,
            corpus_rows=corpus_rows,
        )
    else:
        cents = lowid_centroids(corpus, id_col, vec_col, n_centroids)
    assigned = assign_nearest_cell(c, cents, id_col)
    return semdedup_survivors_from_assigned(assigned, id_col, threshold)


def semdedup_survivors_from_assigned(
    assigned: DataFrame, id_col: str = "vec_id", threshold: float = 0.4
) -> DataFrame:
    """The PAIR stage of SemDeDup, split out so callers holding a
    precomputed assignment — incremental pipelines re-pruning after an
    append, or stage-isolated measurement (SCALETEST_r11's pair-stage
    curves) — can run it without re-fitting/re-assigning. ``assigned``
    is (id_col, __cv double-array, cent_id), i.e. exactly what
    ``assign_nearest_cell`` returns; semantics identical to the tail of
    ``semdedup_survivors``.

    PRECONDITION: ``id_col`` must be unique in ``assigned``
    — assign_nearest_cell emits exactly one row per input vector, and
    the survivor aggregate below groups by (id, cent_id), so duplicate
    ids would silently collapse to one output row (and a duplicate pair
    inside one cluster would count as its own smaller-id neighbor).
    Callers feeding anything other than an assign_nearest_cell* output
    must deduplicate ids first."""
    # norms bound ONCE per row (O(n) folds); the pair verify then costs
    # one zip_with dot per pair instead of three array folds. The
    # expression stays try_divide(dot, na*nb) — the identical IEEE tree
    # to cosine(), so oracle parity is unaffected.
    #
    # Shape: ONE right-outer self-join on
    # (cent_id, a.id < b.id, rounded cosine >= threshold) + a groupBy —
    # b survives iff it matched NO smaller-id neighbor. The earlier
    # inner-join → DISTINCT → left-join-back form paid an extra exchange
    # for the distinct AND recomputed the assignment fold a second time
    # for the join-back side; this form computes `assigned` once (the
    # self-join's exchange is reused across a/b), and the partial
    # count aggregation collapses the pair fan-out map-side before the
    # only other exchange. Measured interleaved A/B at sf0.1:
    # 2.87 → 1.98 s on dedup_semdedup. Zero-norm rows (cent_id NULL)
    # never match the null-rejecting equi-join, so the right outer keeps
    # them as unmatched survivors; an assignment that does put a
    # zero-norm vector in a cell scores its pairs NULL (try_divide), so
    # it still matches nothing and survives.
    withn = assigned.withColumn("__cn", l2_norm(F.col("__cv")))
    a, b = withn.alias("a"), withn.alias("b")
    joined = a.join(
        b,
        (F.col("a.cent_id") == F.col("b.cent_id"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (
            F.round(
                F.try_divide(
                    dot(F.col("a.__cv"), F.col("b.__cv")),
                    F.col("a.__cn") * F.col("b.__cn"),
                ),
                6,
            )
            >= F.lit(threshold)
        ),
        "right",
    )
    return joined.groupBy(
        F.col(f"b.{id_col}").alias(id_col), F.col("b.cent_id").alias("cent_id")
    ).agg((F.count(F.col(f"a.{id_col}")) == F.lit(0)).alias("survivor"))


def ivf_probes(
    q: DataFrame, key: str, vcol: str, cents: DataFrame, n_probe: int
) -> DataFrame:
    """The IVF probe list: for each ``key`` row of ``q``, its ``n_probe``
    nearest cells of ``cents`` (``(cent_id, __mv)``) by cosine of
    ``vcol``, ties to the lower cent_id. Returns (key, vcol, cent_id,
    __cs, __rn). The probe side is the (small) query batch, so a window
    is fine here."""
    scored = q.join(F.broadcast(cents)).select(
        key,
        vcol,
        "cent_id",
        cosine(F.col(vcol), F.col("__mv")).alias("__cs"),
    )
    return top_k_per_group(
        scored, [key], [F.col("__cs").desc(), F.col("cent_id")], n_probe, "__rn"
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    centroids: str = "lowid",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) index — the other
    standard ANN scale path next to LSH:

    1. centroids: ``centroids="kmeans"`` fits seeded distributed
       k-means|| (the real partitioning, see ``kmeans_centroids``);
       ``"lowid"`` takes the ``n_centroids`` lowest-id corpus vectors — a
       deterministic stand-in kept because its cell assignment is exactly
       replayable in SQL, which gives the operator a full cross-engine
       oracle (the k-means variant is checked by recall bounds instead);
    2. assign: every corpus vector → nearest centroid by cosine
       (broadcast the centroids; one scan, no shuffle);
    3. probe: each query scores only vectors whose cell is among its
       ``n_probe`` nearest centroids — the scan shrinks ~n_probe/
       n_centroids vs brute force, which is the whole point at 100 TB
       (cells become partition-pruned parquet partitions there).

    Deterministic end-to-end (seeded fit, no sampling, ties broken by
    id). Recall vs brute force asserted in tests."""
    c = corpus.select(F.col(_ID_COL), as_double(F.col(_VEC_COL)).alias("__cv"))
    if centroids == "kmeans":
        cents = kmeans_centroids(
            corpus, vec_col=_VEC_COL, n_centroids=n_centroids
        )
    else:
        cents = lowid_centroids(corpus, _ID_COL, _VEC_COL, n_centroids)
    assigned = assign_nearest_cell(c, cents, _ID_COL)
    q = queries.select(
        F.col(_QID_COL), as_double(F.col(_VEC_COL)).alias("__qv")
    )
    probes = ivf_probes(q, _QID_COL, "__qv", cents, n_probe).select(
        _QID_COL, "cent_id", "__qv"
    )
    # broadcast the (tiny) probe list — the corpus-side cell scan stays
    # shuffle-free, exactly like the brute-force path
    scored = assigned.join(F.broadcast(probes), "cent_id").select(
        _QID_COL,
        _ID_COL,
        F.round(cosine(F.col("__qv"), F.col("__cv")), 6).alias("cos_sim"),
    )
    return top_k_by_cosine(scored, _QID_COL, _ID_COL, k)


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Approximate top-k via BucketedRandomProjectionLSH (Euclidean
    buckets): candidates from equal-bucket joins only — near-linear, the
    1000-executor path. Returns per-query top-k by euclidean distance.
    Recall vs brute force is asserted in tests (fixed seed)."""
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector

    c = corpus.select(
        F.col(_ID_COL), array_to_vector(as_double(F.col(_VEC_COL))).alias("features")
    )
    q = queries.select(
        F.col(_QID_COL),
        array_to_vector(as_double(F.col(_VEC_COL))).alias("features"),
    )
    lsh = BucketedRandomProjectionLSH(
        inputCol="features",
        outputCol="hashes",
        bucketLength=2.0,
        numHashTables=8,
        seed=42,
    )
    model = lsh.fit(c)
    pairs = model.approxSimilarityJoin(q, c, 10.0, distCol="dist")
    scored = pairs.select(
        F.col(f"datasetA.{_QID_COL}").alias(_QID_COL),
        F.col(f"datasetB.{_ID_COL}").alias(_ID_COL),
        F.round("dist", 6).alias("dist"),
    )
    return top_k_per_group(
        scored, [_QID_COL], [F.col("dist").asc(), F.col(_ID_COL)], k, "rnk"
    ).select(_QID_COL, _ID_COL, "dist", F.col("rnk").cast("int").alias("rnk"))


# --- Sign-random-projection (SRP) cosine LSH --------------------------------


def srp_hyperplanes(
    n_tables: int, n_bits: int, dim: int
) -> dict[tuple[int, int], list[float]]:
    """Deterministic ±1 hyperplane components for SRP-LSH, derived from
    md5 parity — a public spec ANY engine replays without sharing state:
    component (t, b, d) = +1 if the first hex digit of md5("t_b_d") is
    odd, else -1. (DuckDB spells the same value
    ``('0x' || substr(md5(t||'_'||b||'_'||d), 1, 1))::INT % 2``.)

    Random ±1 entries are a standard substitute for Gaussian hyperplanes
    in sign-random-projection (Charikar 2002 / Achlioptas 2003-style
    sparse projections): E[sign agreement] = 1 - θ/π still holds."""
    import hashlib

    return {
        (t, b): [
            1.0
            if int(hashlib.md5(f"{t}_{b}_{d}".encode()).hexdigest()[0], 16) % 2
            else -1.0
            for d in range(dim)
        ]
        for t in range(n_tables)
        for b in range(n_bits)
    }


def srp_codes(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    n_tables: int = 8,
    n_bits: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Per-vector SRP bucket codes: one row (id, tbl, code) per hash
    table, where bit b of ``code`` is sign(v · r[t][b]) for the
    deterministic hyperplane r.

    The encode is one NumPy pass per Arrow batch, stateless, per-row,
    ZERO shuffle. The planes are a pure md5 spec, so they ride in the
    task closure, and nothing is plan-literal: Catalyst/Janino compile
    cost does not grow with n_tables·n_bits·dim (a literal-unrolled
    fold spent ~20 s there at 16×6×64). Every dot replays the HOF dot
    fold's IEEE sequence exactly (see the kernel comments; code
    equality with the fold form is pinned in tests/test_opt_r13.py).
    NULL vectors and wrong dims fail fast — a silent mis-dim would
    hash everything to code 0 and quadratic-join one mega-bucket."""
    planes = srp_hyperplanes(n_tables, n_bits, dim)
    # per plane the dot is the identical left-to-right float64 fold (a
    # dim-loop over row-vectorized ops — NOT np.dot, which
    # reassociates), ±1.0 products are exact sign flips, the > 0 sign
    # and the power-of-two bit sums are exact integers — so every code
    # equals the fold's and the DuckDB full-index replay holds.
    plane_mat = [
        planes[(t, b)] for t in range(n_tables) for b in range(n_bits)
    ]
    id_type = dict(df.dtypes)[id_col]

    def _encode(batches):
        import numpy as np
        import pyarrow as pa

        pm = np.asarray(plane_mat, dtype=np.float64)  # (T·B, dim)
        bitvals = np.asarray(
            [1 << b for b in range(n_bits)], dtype=np.int64
        )
        for batch in batches:
            ids, col = batch.column(0), batch.column(1)
            n = len(col)
            if n == 0:
                continue
            if isinstance(col, pa.ChunkedArray):  # defensive
                col = col.combine_chunks()
            # dim contract, executor-side (fail fast): a NULL vector or
            # a wrong length would otherwise hash to code 0 and
            # quadratic-join a mega-bucket
            if col.null_count:
                raise ValueError(
                    f"srp_codes: expected {dim}-dim vectors, got NULL"
                )
            offs = col.offsets.to_numpy()
            lens = np.diff(offs)
            if (lens != dim).any():
                bad = int(lens[lens != dim][0])
                raise ValueError(
                    f"srp_codes: expected {dim}-dim vectors, got length {bad}"
                )
            flat = col.values.to_numpy(zero_copy_only=False)
            x = flat[offs[0] : offs[-1]].astype(np.float64).reshape(-1, dim)
            # dot replay: left fold over dims, all T·B planes at once
            acc = np.zeros((n, pm.shape[0]))
            for j in range(dim):
                acc = acc + x[:, j, None] * pm[None, :, j]
            bits = (acc > 0).reshape(n, n_tables, n_bits)
            codes = (bits * bitvals[None, None, :]).sum(
                axis=2, dtype=np.int64
            )
            rep = np.repeat(np.arange(n), n_tables)
            yield pa.RecordBatch.from_arrays(
                [
                    ids.take(pa.array(rep)),
                    pa.array(
                        np.tile(
                            np.arange(n_tables, dtype=np.int32), n
                        ),
                        type=pa.int32(),
                    ),
                    pa.array(codes.reshape(-1), type=pa.int64()),
                ],
                names=[id_col, "tbl", "code"],
            )

    src = df.select(F.col(id_col), F.col(vec_col).alias("__v"))
    # Encode throughput is CPU-bound: each row pays n_tables·n_bits·dim
    # multiply-adds in the kernel. A low-partition input (one parquet
    # file → one task) serializes that work on a single core — spread it
    # to the cluster width first. At real scale inputs already arrive in
    # ≥ parallelism partitions and this is a no-op; the guard keeps the
    # repartition (a full exchange of the vectors) from ever being paid
    # when it buys nothing. The probe is FILE metadata (inputFiles — a
    # driver-side listing), not df.rdd.getNumPartitions(), which forces
    # physical planning at call time and reads a pre-AQE width anyway;
    # derived frames (inputFiles == []) skip the heuristic and keep
    # their partitioning.
    sc = df.sparkSession.sparkContext
    try:
        n_files = len(src.inputFiles())
    except Exception:
        n_files = 0
    if 0 < n_files < sc.defaultParallelism:
        src = src.repartition(sc.defaultParallelism)
    return src.mapInArrow(
        _encode, schema=f"{id_col} {id_type}, tbl int, code bigint"
    )


def srp_near_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.4,
    n_tables: int = 8,
    n_bits: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Embedding near-dup PAIRS via SRP-LSH buckets — the bucketed twin of
    ``cosine_pairs`` (exact all-pairs, quadratic): candidates come ONLY
    from equal (table, code) buckets of the corpus's own codes (self-join
    shuffling on bucket values), then exact cosine verifies each
    candidate against ``threshold``. Output (id_a, id_b, cos_sim) with
    id_a < id_b, 6dp-rounded.

    This is the 100 TB embedding-dedup shape: per-table bucket population
    is ~n/2^n_bits, so candidate volume is Σ_buckets m² instead of n² —
    tune n_bits up as the corpus grows (and n_tables up to recover
    recall: P[pair shares ≥1 bucket] = 1-(1-(1-θ/π)^n_bits)^n_tables,
    ≈0.997 at cos 0.9 with 8×8). Determinism is inherited from the
    md5-parity hyperplanes (``srp_hyperplanes``): no seed, no JVM state,
    so an external engine can replay the ENTIRE index — buckets,
    candidates, verified scores."""
    # The codes table feeds BOTH sides of the bucket self-join; without a
    # cache the (CPU-heavy) Arrow encode runs twice. n_tables
    # rows of (id, tbl, code) per vector — a sliver of the input — so the
    # storage cost is trivial. Same lifetime note as minhash_lsh_pairs:
    # blocks persist until the returned plan is GC'd, LRU-evictable
    # meanwhile — bounded storage, never correctness.
    codes = srp_codes(df, id_col, vec_col, n_tables, n_bits, dim).cache()
    a, b = codes.alias("a"), codes.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.tbl") == F.col("b.tbl"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    # norms are per-VECTOR, not per-pair: compute each once and carry it
    # through the candidate join, so the per-pair verify is one dot
    # product instead of dot + two norm folds (3× the HOF work). The
    # value is bit-identical — same left-to-right dot fold, same sqrt.
    e = df.select(F.col(id_col), as_double(F.col(vec_col)).alias("__v"))
    e = e.select(F.col(id_col), "__v", l2_norm(F.col("__v")).alias("__n"))
    va = e.select(
        F.col(id_col).alias("id_a"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    vb = e.select(
        F.col(id_col).alias("id_b"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    # try_divide: zero vectors share code 0 in every table, so their
    # pairs are candidates; they score NULL and fail the threshold
    cos = F.try_divide(
        dot(F.col("__va"), F.col("__vb")), F.col("__na") * F.col("__nb")
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(cos, 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def srp_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_tables: int = 8,
    n_bits: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate cosine top-k via sign-random-projection LSH — the
    cosine-native ANN path (BucketedRandomProjection buckets Euclidean
    distance; SRP buckets the angle itself: P[bit agreement] = 1 - θ/π).

    Candidates come ONLY from equal (table, code) buckets — the join
    shuffles on bucket values, never all-pairs — then exact cosine on the
    candidate set and a per-query top-k window carrying k×|queries| rows.
    Deterministic end to end (md5-derived hyperplanes, no seed), which is
    what lets a DuckDB oracle replay the ENTIRE index: same buckets, same
    candidates, same scores — unlike the seeded-JVM BRP path
    (``lsh_topk``), which gets only a recall check."""
    c_codes = srp_codes(corpus, _ID_COL, _VEC_COL, n_tables, n_bits, dim)
    q_codes = srp_codes(queries, _QID_COL, _VEC_COL, n_tables, n_bits, dim)
    cand = (
        q_codes.join(c_codes, ["tbl", "code"])
        .select(_QID_COL, _ID_COL)
        .distinct()
    )
    return exact_rerank(cand, corpus, queries, _ID_COL, _VEC_COL, _QID_COL, k)


# --- Product quantization (IVF-PQ's compression half) ------------------------


def pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    dim: int = 64,
) -> DataFrame:
    """Per-subspace PQ codebooks: split each vector into ``m`` contiguous
    ``dim/m``-dim subvectors and fit seeded k-means(``k``) in every
    subspace (Jégou et al. 2011, the faiss IVF-PQ workhorse). Returns
    ``(sub_id, code, __cb)``. ``m`` small fits over projected columns;
    only m·k tiny centroid vectors come back to the driver.

    The ``m`` subspace fits are INDEPENDENT jobs over disjoint column
    slices, so they run from a thread pool — each fit is many short
    driver-blocking jobs (k-means|| init + Lloyd rounds), and
    overlapping them back-fills the scheduling gaps and per-job tails
    that serial fits leave idle. Pool width = ``m`` capped
    at 16 (width 4 → 16 measured 6.4 → 3.9 s on the m=16 fit —
    the fits are driver-latency-bound, so wider overlap keeps paying
    until every fit is in flight). Each fit keeps its own seed
    (``42 + s``) and its own input slice, so concurrency changes
    nothing about what any fit computes. Worker threads are wrapped by
    ``session.thread_target`` so the caller's job group /
    scheduler-pool local properties propagate under pinned-thread mode
    (cancellation of the k-means jobs must not escape the caller's job
    group). The unit-normalized corpus is cached ONCE (reused m times,
    recomputed otherwise — each ML fit would
    re-scan the parquet and re-run the normalize fold), materialized
    before the pool starts so the concurrent fits read a built cache,
    and unpersisted before returning (the returned codebook frame is a
    local relation, independent of the cache)."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if dim % m:
        raise ValueError("dim must be divisible by m")
    sub_d = dim // m
    # zero-norm rows have no direction to fit (the k-means rule)
    normed = (
        corpus.filter(l2_norm(as_double(F.col(vec_col))) > 0)
        .select(unit_vec(F.col(vec_col)).alias("__nv"))
        .cache()
    )
    try:
        normed.count()  # build the cache once, before the pool

        def fit_one(s: int):
            feat = normed.select(
                array_to_vector(
                    F.slice(F.col("__nv"), s * sub_d + 1, sub_d)
                ).alias("features")
            )
            model = KMeans(
                k=k, seed=42 + s, maxIter=20, initMode="k-means||"
            ).fit(feat)
            return [
                (s, c, [float(x) for x in ctr])
                for c, ctr in enumerate(model.clusterCenters())
            ]

        fit_target = thread_target(corpus.sparkSession, fit_one)
        with ThreadPoolExecutor(max_workers=min(m, 16)) as pool:
            rows = [
                r for per_sub in pool.map(fit_target, range(m)) for r in per_sub
            ]
    finally:
        normed.unpersist()
    return corpus.sparkSession.createDataFrame(
        rows, "sub_id int, code int, __cb array<double>"
    )


def _pq_books_row(codebooks: DataFrame):
    """Codebooks as ONE broadcast row: array over subspaces (sub_id
    order) of entry arrays (code order) — the same one-broadcast-row
    shape as ``assign_nearest_cell``'s centroids."""
    entries = (
        codebooks.groupBy("sub_id")
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("code"), F.col("__cb")))
            ).alias("entries")
        )
        .select(F.struct(F.col("sub_id"), F.col("entries")).alias("s"))
        .agg(F.sort_array(F.collect_list("s")).alias("__books"))
    )
    return entries


def _sq_dist(a, b) -> Column:
    """Squared euclidean via a deterministic left-to-right fold."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _pq_query_tables(
    queries: DataFrame, query_id_col: str, vec_col: str, books: DataFrame, sub_d: int
) -> DataFrame:
    """Each query's ADC table: per subspace, the squared distance from
    the query's unit subvector to every codebook entry. A zero-norm
    query has no direction, so its tables are NULL. Returns (query id,
    ``__tabs``) — |queries| tiny rows."""
    v = F.col(vec_col)
    q = queries.select(
        F.col(query_id_col),
        F.when(l2_norm(as_double(v)) > 0, unit_vec(v)).alias("__qv"),
    )

    def table_for(sub):
        subvec = F.slice(F.col("__qv"), sub["sub_id"] * sub_d + 1, sub_d)
        return F.transform(sub["entries"], lambda e: _sq_dist(subvec, e["__cb"]))

    return q.join(F.broadcast(_pq_books_row(books))).select(
        query_id_col,
        F.transform(F.col("__books"), table_for).alias("__tabs"),
    )


def _adc_shortlist(
    scan: DataFrame, query_id_col: str, id_col: str, shortlist: int
) -> DataFrame:
    """The ``shortlist`` ids per query with the smallest ADC distance,
    ties to the lower id. ``scan`` pairs each candidate's PQ ``codes``
    with its query's ``__tabs``; the distance is the sum of the m table
    lookups (no per-pair vector math). A row without a code (-1: a NULL
    or zero-norm vector) and a zero-norm query's NULL tables give a NULL
    distance, which ranks last. Returns (query id, id, ``adc_dist``,
    ``__rn``)."""
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("__tabs"),
            lambda c, t: F.when(c >= 0, F.element_at(t, c + 1)),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = scan.select(query_id_col, id_col, F.round(adc, 6).alias("adc_dist"))
    return top_k_per_group(
        scored,
        [query_id_col],
        [F.col("adc_dist").asc_nulls_last(), F.col(id_col)],
        shortlist,
        "__rn",
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    dim: int = 64,
) -> DataFrame:
    """PQ-encode every vector: per subspace, the code of the nearest
    codebook entry (squared-euclidean argmin, first-min-in-code-order
    ties). Output ``(id, codes array<int>)`` — dim·4 bytes shrink to m
    small ints (~32× at 64-dim float/m=8), which is what lets a 100 TB
    embedding corpus live in memory for ADC scanning. Zero shuffle: the
    m·k codebook entries ride in the task closure, one NumPy pass per
    Arrow batch (a per-row HOF form pays m·k interpreted subspace folds
    per vector — 1 024 fold steps/row at m=16/k=16 — for math NumPy
    does in a handful of vectorized ops; the argmin replays the fold
    bit-exactly, see the kernel comments).

    ``codebooks`` is collected at construction — it is m·k tiny centroid
    rows (a local relation in every catalog path: ``pq_codebooks`` ends
    in ``createDataFrame``), never corpus-sized. Codes are ints, so
    "bit-identical" here is exact equality: the normalize → subspace
    sq-dist → strict-less argmin sequence below performs the identical
    IEEE float64 ops in the identical order as the previous HOF fold
    (verified by tests/test_opt_r13.py against the fold form)."""
    if dim % m:
        raise ValueError("dim must be divisible by m")
    sub_d = dim // m
    # entries per subspace in code order — the fold iterated
    # sort_array(struct(code, __cb)), i.e. ascending code
    rows = codebooks.select("sub_id", "code", "__cb").collect()
    by_sub: dict[int, list] = {}
    for r in rows:
        by_sub.setdefault(r["sub_id"], []).append((r["code"], list(r["__cb"])))
    books = [
        [cb for _, cb in sorted(by_sub.get(s, []))] for s in range(m)
    ]
    codes_per_sub = [len(b) for b in books]
    id_type = dict(corpus.dtypes)[id_col]

    def _encode(batches):
        import numpy as np
        import pyarrow as pa

        # m arrays of (k, sub_d) float64 centroids, code order
        cents = [np.asarray(b, dtype=np.float64) for b in books]
        for batch in batches:
            ids, col = batch.column(0), batch.column(1)
            if len(col) == 0:
                continue
            if isinstance(col, pa.ChunkedArray):  # defensive
                col = col.combine_chunks()
            valid = np.ones(len(col), dtype=bool)
            if col.null_count:
                valid = ~col.is_null().to_numpy(zero_copy_only=False)
            if col.values.null_count:
                raise ValueError(
                    "pq_encode kernel: NULL vector elements are outside "
                    "the exact-replay contract (the HOF fold's null "
                    "propagation has no vectorized equivalent)"
                )
            offs = col.offsets.to_numpy()
            lens = np.diff(offs)
            if (lens[valid] != dim).any():
                raise ValueError(
                    f"pq_encode kernel requires uniform {dim}-dim "
                    f"vectors; saw lengths "
                    f"{sorted(set(lens[valid].tolist()))[:5]}"
                )
            out = np.full((len(col), m), -1, dtype=np.int32)
            nv = int(valid.sum())
            if nv:
                flat = col.values.to_numpy(zero_copy_only=False)
                flat = flat[offs[0] : offs[-1]]
                # rebuild the dense (nv, dim) matrix of the non-null rows
                starts = (offs[:-1] - offs[0])[valid]
                take = starts[:, None] + np.arange(dim)[None, :]
                x = flat[take].astype(np.float64)
                # unit_vec replay: norm = sqrt(left fold of x*x), then
                # per-element x / norm — the identical IEEE sequence; a
                # zero row turns NaN and keeps code -1, like a NULL row
                acc = np.zeros(nv)
                for j in range(dim):
                    acc = acc + x[:, j] * x[:, j]
                with np.errstate(invalid="ignore", divide="ignore"):
                    xn = x / np.sqrt(acc)[:, None]
                    for s in range(m):
                        off = s * sub_d
                        best_d = np.full(nv, np.inf)
                        best_c = np.full(nv, -1, dtype=np.int32)
                        for c in range(codes_per_sub[s]):
                            e = cents[s][c]
                            d = np.zeros(nv)
                            # _sq_dist replay: left fold of (x-y)^2
                            for j in range(sub_d):
                                t = xn[:, off + j] - e[j]
                                d = d + t * t
                            # fold keeps acc unless cand.d < acc.d —
                            # strict less, first-min ties, NaN never
                            # wins (NaN < x is False), matching when()
                            upd = d < best_d
                            best_d[upd] = d[upd]
                            best_c[upd] = c
                        out[valid, s] = best_c
            codes_arr = pa.FixedSizeListArray.from_arrays(
                pa.array(out.reshape(-1), type=pa.int32()), m
            ).cast(pa.list_(pa.int32()))
            yield pa.RecordBatch.from_arrays([ids, codes_arr], names=[id_col, "codes"])

    return corpus.select(id_col, vec_col).mapInArrow(
        _encode, schema=f"{id_col} {id_type}, codes array<int>"
    )


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    shortlist: int = 50,
) -> DataFrame:
    """Approximate top-k via PQ the way production systems run it —
    ADC candidate generation + exact re-rank:

    1. the corpus is scanned as PQ codes only; each query precomputes
       its m×n_codes table of exact subspace distances (tiny — one
       broadcast row) and a corpus vector's ADC distance is the sum of
       m table lookups (``zip_with(codes, tables, element_at)`` + fold
       — no per-pair vector math during the scan);
    2. the ADC-closest ``shortlist`` ids per query (the only rows whose
       full vectors are touched) get an EXACT cosine re-rank, and the
       top ``k`` of that wins.

    The scan cost is the point at 100 TB: the hot loop reads m small
    ints per vector (~32× less memory traffic at 64-dim float32/m=8),
    and exact math happens only on |queries|·shortlist rows. Quantized
    ADC alone measured recall@5 ≈ 0.3-0.46 on the clustered fixtures;
    the shortlist re-rank lifts it to ≈0.9+ — which is why faiss-style
    deployments always pair PQ with a re-rank stage. JVM-seeded
    codebooks ⇒ no cross-engine replay; correctness is a recall bound
    vs brute force (the ``sim_ivf_kmeans_recall`` pattern)."""
    books = pq_codebooks(corpus, _VEC_COL, m=m, k=n_codes, dim=dim)
    corpus_codes = pq_encode(corpus, books, _ID_COL, _VEC_COL, m=m, dim=dim)
    qtabs = _pq_query_tables(queries, _QID_COL, _VEC_COL, books, dim // m)
    cand = _adc_shortlist(
        corpus_codes.join(F.broadcast(qtabs)), _QID_COL, _ID_COL, shortlist
    )
    return exact_rerank(cand, corpus, queries, _ID_COL, _VEC_COL, _QID_COL, k)


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    m: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    shortlist: int = 50,
) -> DataFrame:
    """IVF-PQ composed — the full faiss production stack in one plan
    (Jégou et al. 2011): the IVF index prunes WHICH vectors are scanned
    (each query touches only its ``n_probe`` of ``n_centroids`` cells,
    ~n_probe/n_centroids of the corpus), PQ compresses WHAT the scan
    reads (m small ints per vector instead of dim floats — the ADC
    table turns per-pair vector math into m lookups), and the exact
    cosine re-rank of the per-query shortlist recovers the accuracy the
    two lossy stages gave up. At 100 TB this multiplies the two
    savings: cells are partition-pruned parquet partitions, and the
    scan inside a cell streams codes at ~32x less memory traffic.

    Deterministic end-to-end (lowid centroids, seeded codebooks, id
    tiebreaks); JVM-seeded codebooks mean no cross-engine replay —
    correctness is a recall bound vs brute force, the
    ``sim_pq_recall`` pattern."""
    # --- IVF half: lowid centroids, zero-shuffle assignment, probes
    cents = lowid_centroids(corpus, _ID_COL, _VEC_COL, n_centroids)
    c = corpus.select(F.col(_ID_COL), as_double(F.col(_VEC_COL)).alias("__cv"))
    assigned = assign_nearest_cell(c, cents, _ID_COL).select(
        _ID_COL, "cent_id"
    )
    q = queries.select(
        F.col(_QID_COL), as_double(F.col(_VEC_COL)).alias("__qv")
    )
    probes = ivf_probes(q, _QID_COL, "__qv", cents, n_probe).select(
        _QID_COL, "cent_id"
    )

    # --- PQ half: encode once, per-query ADC tables
    books = pq_codebooks(corpus, _VEC_COL, m=m, k=n_codes, dim=dim)
    corpus_codes = pq_encode(corpus, books, _ID_COL, _VEC_COL, m=m, dim=dim)
    cell_codes = corpus_codes.join(assigned, _ID_COL)
    qtabs = _pq_query_tables(queries, _QID_COL, _VEC_COL, books, dim // m)
    # probe list x ADC tables: one small broadcast frame keyed by cell,
    # so the code scan joins on cent_id and each query reads ONLY its
    # probed cells — the corpus-side scan stays shuffle-free
    probe_tabs = probes.join(qtabs, _QID_COL)
    cand = _adc_shortlist(
        cell_codes.join(F.broadcast(probe_tabs), "cent_id"),
        _QID_COL,
        _ID_COL,
        shortlist,
    )
    # --- exact re-rank on shortlist·|queries| rows only
    return exact_rerank(cand, corpus, queries, _ID_COL, _VEC_COL, _QID_COL, k)
