"""Round-12 additions: the two-level SemDeDup driver query (VERDICT r11
ask #2) and the two ADVICE r11 regression pins — null-coarse retention
in the two-stage assignment, and the quota limiter's reached-flag under
pre-epoch (negative-micros) event times."""

from __future__ import annotations

from featurestore_for_joycastle_java_spark import registry

registry.load_catalog()

from featurestore_for_joycastle_java_spark.catalog.dedup import _CELL_SIZE
from featurestore_for_joycastle_java_spark.registry import QUERIES


def test_registered_twolevel_query_shape(spark, sf_dir):
    row = QUERIES["dedup_semdedup_twolevel"](spark, sf_dir).collect()
    assert len(row) == 1
    r = row[0]
    assert r["all_assigned"] is True
    assert r["drops_contained"] is True
    assert r["recall_ok"] is True
    assert r["n_cells"] == max(4, -(-r["n_vectors"] // _CELL_SIZE))


def test_two_level_assign_keeps_zero_norm_vectors(spark):
    """ADVICE r11: the two-stage assignment inner-joined on coarse_id,
    so a zero-norm vector (NULL cosine against every coarse centroid ->
    coarse_id NULL) was silently DROPPED, while the flat path keeps it
    with cent_id NULL. Both paths must now agree: row retained, cent_id
    NULL, and the pair stage marks it a survivor."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        assign_nearest_cell,
        assign_nearest_cell_two_level,
        semdedup_survivors_from_assigned,
    )

    c = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, [0.0, 0.0])],
        "vec_id long, __cv array<double>",
    )
    coarse = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "coarse_id long, __mv array<double>"
    )
    fine = spark.createDataFrame(
        [(0, 0, [1.0, 0.0]), (2, 1, [0.0, 1.0])],
        "cent_id long, coarse_id long, __mv array<double>",
    )
    two = assign_nearest_cell_two_level(c, coarse, fine, "vec_id")
    flat = assign_nearest_cell(
        c, fine.select("cent_id", "__mv"), "vec_id"
    )
    got_two = {r["vec_id"]: r["cent_id"] for r in two.collect()}
    got_flat = {r["vec_id"]: r["cent_id"] for r in flat.collect()}
    assert got_two == {1: 0, 2: 2, 3: None}
    assert got_flat == got_two  # parity with the flat path, zero row kept
    # the pair stage never drops a null-cell row: equi-join on cent_id
    # is null-rejecting, so the zero vector is always a survivor
    surv = {
        r["vec_id"]: r["survivor"]
        for r in semdedup_survivors_from_assigned(two, "vec_id").collect()
    }
    assert surv[3] is True and len(surv) == 3


def test_srp_routed_assignment_quality_and_determinism(spark, sf_dir):
    """SRP-routed nearest-cell assignment (the documented escalation
    past the two-level fold, SCALETEST_r12): every vector assigned
    (fallback covers empty buckets), deterministic (md5 hyperplanes, no
    seed), routed-vs-exact agreement well above chance at the adaptive
    n_bits default, and SemDeDup containment exact under the routed
    assignment (a same-cell pair IS a global pair for ANY routing)."""
    from pyspark.sql import functions as F

    from featurestore_for_joycastle_java_spark.operators.similarity import (
        as_double,
        assign_nearest_cell,
        assign_nearest_cell_srp,
        cosine_pairs,
        kmeans_centroids,
        semdedup_survivors_from_assigned,
    )
    from featurestore_for_joycastle_java_spark.sources import load_table

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    k = max(4, -(-n // 32))
    c = e.select(F.col("vec_id"), as_double(F.col("embedding")).alias("__cv"))
    cents = kmeans_centroids(e, n_centroids=k, corpus_rows=n)
    srp = assign_nearest_cell_srp(c, cents, "vec_id")
    rows = srp.collect()
    assert len(rows) == n
    assert all(r["cent_id"] is not None for r in rows)  # fallback covers
    assert {r["cent_id"] for r in rows} <= set(range(k))
    # deterministic: second build identical (no seed, no sampling)
    again = assign_nearest_cell_srp(c, cents, "vec_id").collect()
    assert sorted((r["vec_id"], r["cent_id"]) for r in rows) == sorted(
        (r["vec_id"], r["cent_id"]) for r in again
    )
    # routed-vs-exact agreement: measured 0.85 at sf0.01 with the
    # adaptive bits default; floor 0.5 (chance is ~1/k ~ 0.06) so a
    # routing regression can't hide, partitioning can't flip it
    exact = assign_nearest_cell(c, cents, "vec_id")
    agree = (
        exact.select("vec_id", F.col("cent_id").alias("a"))
        .join(srp.select("vec_id", F.col("cent_id").alias("b")), "vec_id")
        .agg(F.avg(F.when(F.col("a") == F.col("b"), 1.0).otherwise(0.0)))
        .collect()[0][0]
    )
    assert agree >= 0.5
    # bucket_cap: the skew bound keeps every row assigned and barely
    # moves routing (measured 0.846 vs 0.850 agreement at cap 4);
    # floor it loosely and pin determinism
    capped = assign_nearest_cell_srp(c, cents, "vec_id", bucket_cap=4)
    crows = capped.collect()
    assert len(crows) == n
    assert all(r["cent_id"] is not None for r in crows)
    cagree = (
        exact.select("vec_id", F.col("cent_id").alias("a"))
        .join(capped.select("vec_id", F.col("cent_id").alias("b")), "vec_id")
        .agg(F.avg(F.when(F.col("a") == F.col("b"), 1.0).otherwise(0.0)))
        .collect()[0][0]
    )
    assert cagree >= 0.5
    # containment through the routed assignment: every cell-local drop
    # is a genuine global near-dup (exact by semantics)
    g = (
        cosine_pairs(e, "vec_id", "embedding", 0.4)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("__g", F.lit(True))
    )
    sd = semdedup_survivors_from_assigned(srp, "vec_id")
    escaped = (
        sd.join(g, "vec_id", "left")
        .filter(~F.col("survivor") & F.col("__g").isNull())
        .count()
    )
    assert escaped == 0


def test_srp_routed_assignment_zero_norm_and_tiny_cells(spark):
    """Edge semantics: a zero-norm vector keeps cent_id NULL (parity
    with both other assignment paths), and a vector whose buckets are
    all empty still gets assigned via the full-fold fallback."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        assign_nearest_cell_srp,
    )

    dim = 64
    cents = spark.createDataFrame(
        [(0, [1.0] + [0.0] * (dim - 1)), (1, [0.0, 1.0] + [0.0] * (dim - 2))],
        "cent_id long, __mv array<double>",
    )
    c = spark.createDataFrame(
        [
            (1, [1.0] + [0.0] * (dim - 1)),
            (2, [0.0] * dim),  # zero norm
            (3, [-1.0] * dim),  # far from both cells — may need fallback
        ],
        "vec_id long, __cv array<double>",
    )
    # n_tables=1 maximizes the empty-bucket chance for row 3
    got = {
        r["vec_id"]: r["cent_id"]
        for r in assign_nearest_cell_srp(
            c, cents, "vec_id", n_tables=1, n_bits=4
        ).collect()
    }
    assert got[1] == 0
    assert got[2] is None
    assert got[3] in (0, 1)  # assigned SOMEWHERE — fallback guarantees


def test_semdedup_kmeans_survives_zero_norm_corpus(spark):
    """The k-means FIT normalizes vectors, so a corpus containing a
    zero-norm vector used to kill the whole query (ANSI DIVIDE_BY_ZERO
    in the normalize; legacy mode fed null components to
    array_to_vector). Zero rows are now excluded from the FIT only —
    both the flat and two-level paths must run end-to-end, keep every
    row, give the zero vector cent_id NULL, and mark it a survivor."""
    from pyspark.sql import functions as F

    from featurestore_for_joycastle_java_spark.operators.similarity import (
        semdedup_survivors,
    )

    rows = [(i, [float(i == j or j < 2) for j in range(8)]) for i in range(20)]
    rows.append((99, [0.0] * 8))  # the zero-norm row
    e = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    for kwargs in (
        {"n_centroids": 4, "centroids": "kmeans"},
        {"centroids": "kmeans", "target_cell_size": 8, "two_level": True},
    ):
        sd = semdedup_survivors(e, "vec_id", "embedding", threshold=0.9, **kwargs)
        got = {r["vec_id"]: r for r in sd.collect()}
        assert len(got) == 21, kwargs  # every row kept, zero row included
        assert got[99]["cent_id"] is None, kwargs
        assert got[99]["survivor"] is True, kwargs
        assert all(
            r["cent_id"] is not None for i, r in got.items() if i != 99
        ), kwargs


def test_quota_pre_epoch_timestamps(spark, tmp_path):
    """ADVICE r11: the r = -1 'never reached' sentinel collided with a
    quota legitimately reached at epoch minus 1 microsecond (stores
    exactly -1). Reached-ness now lives in its own boolean state field:
    a pre-epoch reached-at must round-trip exactly, and a pre-epoch
    user under quota must still report NULL."""
    import datetime as dt

    from featurestore_for_joycastle_java_spark import streaming as ST
    from featurestore_for_joycastle_java_spark.catalog.streaming import _run

    just_before_epoch = dt.datetime(1969, 12, 31, 23, 59, 59, 999999)
    earlier = dt.datetime(1969, 12, 31, 23, 59, 59, 999998)
    rows = [
        # alice reaches quota=2 exactly at epoch - 1 microsecond
        ("alice", earlier, 1),
        ("alice", just_before_epoch, 2),
        ("alice", dt.datetime(2024, 1, 1), 3),
        # bob stays under quota, entirely pre-epoch
        ("bob", earlier, 4),
    ]
    src = str(tmp_path / "quota_preepoch")
    spark.createDataFrame(
        rows, "user string, ts timestamp, event_id long"
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(
        "user string, ts timestamp, event_id long"
    ).parquet(src)
    out = _run(
        spark,
        ST.quota_rate_limiter(stream, key_col="user", quota=2),
        "append",
    )
    got = {r["user"]: r for r in out.collect()}
    assert got["alice"]["n_allowed"] == 2
    assert got["alice"]["n_denied"] == 1
    assert got["alice"]["quota_reached_ts"] == just_before_epoch
    assert got["bob"]["n_allowed"] == 1
    assert got["bob"]["quota_reached_ts"] is None
