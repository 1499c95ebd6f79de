"""Round-7 operator tests: incremental-dedup composition law, SemDeDup
survivor properties + candidate-count prune evidence, and the streaming
PIT-enrich composite across >= 3 controlled micro-batches with
exactly-once replay.

(Cross-engine value parity for every round7 query is covered by
tests/test_oracle_parity.py via registry parametrization.)
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from featurestore_for_joycastle_java_spark import registry

registry.load_catalog()

from featurestore_for_joycastle_java_spark.operators import dedup as D
from featurestore_for_joycastle_java_spark.operators.asof import multi_asof_join
from featurestore_for_joycastle_java_spark.registry import QUERIES
from featurestore_for_joycastle_java_spark.sources import load_table


# ------------------------------------------------- incremental dedup


def _pairset(df):
    return {
        (r["id_a"], r["id_b"], r["jaccard_dist"]) for r in df.collect()
    }


def test_incremental_equals_full_rebuild(spark, sf_dir):
    """Composition law: probing the new batch against persisted corpus
    signatures must equal a FULL rebuild restricted to pairs with >= 1
    new member — same signatures, same banding, same exact verify."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    base = docs.filter(F.col("doc_id") % 5 != 0)
    inc = D.minhash_lsh_pairs_incremental(
        base, new, "doc_id", "text", num_perm=64, n_bands=16
    )
    full = D.minhash_lsh_pairs(
        docs, "doc_id", "text", num_perm=64, n_bands=16
    ).filter((F.col("id_a") % 5 == 0) | (F.col("id_b") % 5 == 0))
    assert _pairset(inc) == _pairset(full)
    # and the pair set is non-trivial on the fixture (near-dups exist)
    assert len(_pairset(inc)) > 0


def test_incremental_empty_batch(spark, sf_dir):
    """An empty ingestion batch probes to an empty pair set — the corpus
    is never self-compared."""
    docs = load_table(spark, sf_dir, "documents")
    empty = docs.filter(F.lit(False))
    out = D.minhash_lsh_pairs_incremental(
        docs, empty, "doc_id", "text", num_perm=64, n_bands=16
    )
    assert out.count() == 0


def test_incremental_persisted_signatures_equal_recomputed(
    spark, sf_dir, tmp_path
):
    """The persisted-signature path (write to parquet, read back) must be
    byte-equivalent to recomputing signatures — pinning that the index
    survives a storage round-trip (the workflow's whole premise)."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    base = docs.filter(F.col("doc_id") % 5 != 0)
    sig_path = str(tmp_path / "sigs")
    D.minhash_signatures(base, "doc_id", "text", num_perm=64).write.parquet(
        sig_path
    )
    via_storage = D.minhash_lsh_pairs_incremental(
        base,
        new,
        "doc_id",
        "text",
        base_sigs=spark.read.parquet(sig_path),
        num_perm=64,
        n_bands=16,
    )
    recomputed = D.minhash_lsh_pairs_incremental(
        base, new, "doc_id", "text", num_perm=64, n_bands=16
    )
    assert _pairset(via_storage) == _pairset(recomputed)


def test_incremental_overlapping_ids_no_row_multiplication(spark, sf_dir):
    """Re-ingest guard (ADVICE r7): an id present in BOTH base and new
    must not multiply verify-join output rows — the new row's text wins
    and the pair set equals the disjoint-sides run."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    base = docs.filter(F.col("doc_id") % 5 != 0)
    clean = _pairset(
        D.minhash_lsh_pairs_incremental(
            base, new, "doc_id", "text", num_perm=64, n_bands=16
        )
    )
    # re-ingest: every new-batch doc ALSO still sits in the corpus side,
    # same id and text — the exact overlap shape a replayed feed produces
    overlapped = D.minhash_lsh_pairs_incremental(
        base.unionByName(new), new, "doc_id", "text", num_perm=64, n_bands=16
    )
    rows = overlapped.collect()
    assert len(rows) == len({(r["id_a"], r["id_b"]) for r in rows})
    assert {
        (r["id_a"], r["id_b"], r["jaccard_dist"]) for r in rows
    } == clean


# ------------------------------------------------------- SemDeDup


def test_semdedup_survivor_properties(spark, sf_dir):
    """Brute-force verification of the survivor rule: a vector is dropped
    iff some same-cluster vector with a SMALLER id has cosine >= the
    threshold with it."""
    import math

    rows = QUERIES["dedup_semdedup"](spark, sf_dir).collect()
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in load_table(spark, sf_dir, "embeddings").collect()
    }
    by_cluster: dict[int, list[int]] = {}
    for r in rows:
        by_cluster.setdefault(r["cent_id"], []).append(r["vec_id"])
    got = {r["vec_id"]: r["survivor"] for r in rows}

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        return num / (
            math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
        )

    for cid, members in by_cluster.items():
        members.sort()
        for i, v in enumerate(members):
            has_smaller_dup = any(
                round(cos(vecs[u], vecs[v]), 6) >= 0.4 for u in members[:i]
            )
            assert got[v] == (not has_smaller_dup), (v, cid)
    # every vector appears exactly once
    assert len(rows) == len(vecs)


def test_semdedup_candidates_not_quadratic(spark, sf_dir):
    """Prune evidence: intra-cluster candidate pairs (sum of m_i^2-ish)
    must be far below all-pairs n(n-1)/2 — the reason SemDeDup clusters
    before comparing."""
    df = QUERIES["dedup_semdedup"](spark, sf_dir)
    sizes = [
        r["m"] for r in df.groupBy("cent_id").agg(
            F.count(F.lit(1)).alias("m")
        ).collect()
    ]
    n = sum(sizes)
    cand = sum(m * (m - 1) // 2 for m in sizes)
    assert cand < n * (n - 1) / 8, f"clustering ineffective: {cand} pairs"


def test_semdedup_kmeans_variant_runs(spark, sf_dir):
    """The production (k-means) variant: same output shape, every vector
    assigned, deterministic for a fixed seed (two runs agree)."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        semdedup_survivors,
    )

    e = load_table(spark, sf_dir, "embeddings")
    a = semdedup_survivors(e, centroids="kmeans", seed=7)
    b = semdedup_survivors(e, centroids="kmeans", seed=7)
    ra = sorted(map(tuple, a.collect()))
    rb = sorted(map(tuple, b.collect()))
    assert ra == rb
    assert len(ra) == e.count()


# ------------------------------------------------ streaming PIT enrich


def _write_event_file(spark, path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double",
    ).coalesce(1).write.mode("append").parquet(path)


def test_pit_enrich_multibatch_exactly_once(spark, tmp_path):
    """The full composite over a CONTROLLED multi-batch source: 3 purchase
    files drained one-per-trigger into the SCD1 sink (>= 3 versioned
    snapshots), then 2 click files enriched one-per-trigger. Asserts:
    (a) the final dimension equals the batch latest-per-user rebuild,
    (b) the enrich output has EXACTLY one row per click (no loss, no
    duplication across batches), (c) values equal the batch
    multi_asof_join against the final dimension, and (d) replaying an
    enrich batch (failure-recovery path) rewrites its own output
    directory instead of double-appending."""
    from datetime import datetime

    from featurestore_for_joycastle_java_spark import streaming as ST
    from featurestore_for_joycastle_java_spark.catalog.streaming import (
        pit_enrich_stream_sink,
    )

    t = lambda h: datetime(2024, 3, 1, h)  # noqa: E731
    pdir = str(tmp_path / "purchases")
    # per-user versions arrive in ts order across files (the documented
    # contract under which latest-arrival == latest-event-time)
    _write_event_file(spark, pdir, [(1, t(1), 10, "purchase", 100.0)])
    time.sleep(0.05)
    _write_event_file(
        spark,
        pdir,
        [(2, t(3), 10, "purchase", 200.0), (3, t(2), 20, "purchase", 50.0)],
    )
    time.sleep(0.05)
    _write_event_file(spark, pdir, [(4, t(5), 10, "purchase", 300.0)])

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double"
    )
    purchases = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(pdir)
        .select(
            "user_id",
            F.col("value").alias("profile_value"),
            F.col("ts").alias("dim_ts"),
            F.struct(F.col("ts"), F.col("event_id")).alias("__ord"),
        )
    )
    dim_dir = str(tmp_path / "dim")
    q1 = ST.scd1_upsert_stream_sink(
        purchases,
        dim_dir,
        key_col="user_id",
        order_col="__ord",
        checkpoint_dir=str(tmp_path / "ckpt1"),
    )
    q1.awaitTermination()

    from featurestore_for_joycastle_java_spark.streaming import (
        _committed_versions,
    )

    assert len(_committed_versions(dim_dir)) >= 3  # one snapshot per file
    dim = ST.read_dim_latest(spark, dim_dir)
    got_dim = {
        r["user_id"]: (r["profile_value"], r["dim_ts"])
        for r in dim.collect()
    }
    assert got_dim == {10: (300.0, t(5)), 20: (50.0, t(2))}

    cdir = str(tmp_path / "clicks")
    # clicks straddle the retained versions: before user 10's latest
    # purchase (null — the only retained version would leak the future),
    # at it (inclusive match), after it, and for a dim-absent user
    _write_event_file(
        spark,
        cdir,
        [(101, t(4), 10, "click", 0.0), (102, t(5), 10, "click", 0.0)],
    )
    time.sleep(0.05)
    _write_event_file(
        spark,
        cdir,
        [(103, t(6), 10, "click", 0.0), (104, t(1), 20, "click", 0.0),
         (105, t(2), 99, "click", 0.0)],
    )
    clicks = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(cdir)
    )
    out_dir = str(tmp_path / "out")
    q2 = pit_enrich_stream_sink(
        clicks, dim_dir, out_dir, checkpoint_dir=str(tmp_path / "ckpt2")
    )
    q2.awaitTermination()

    out = spark.read.parquet(out_dir).select(
        "event_id", "user_id", "profile_value", "prof_ts_us"
    )
    rows = {r["event_id"]: r for r in out.collect()}
    # exactly once: 5 clicks in, 5 rows out, unique event_ids
    assert len(rows) == 5 and out.count() == 5
    us = lambda h: int(t(h).timestamp() * 1_000_000)  # noqa: E731
    assert rows[101]["profile_value"] is None  # dim version is in the future
    assert rows[102]["profile_value"] == 300.0  # inclusive at equal ts
    assert rows[102]["prof_ts_us"] == us(5)
    assert rows[103]["profile_value"] == 300.0
    assert rows[104]["profile_value"] is None  # user 20's version at t(2) > t(1)
    assert rows[105]["profile_value"] is None  # user absent from dim

    # batch equivalence: the same multi_asof_join over the final dim
    batch_clicks = spark.read.parquet(cdir).select("event_id", "user_id", "ts")
    expected = multi_asof_join(
        batch_clicks,
        [(dim.select("user_id", "dim_ts", "profile_value"), "dim_ts",
          ["profile_value"], "prof")],
        on=["user_id"],
        left_ts="ts",
    ).select(
        "event_id", "user_id", "profile_value",
        F.unix_micros("prof_ts_matched").alias("prof_ts_us"),
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, expected.collect())
    )

    # replay (failure-recovery): re-running a batch's write overwrites
    # its own directory — output unchanged, never double-appended
    batch_dirs = sorted(
        d for d in os.listdir(out_dir) if d.startswith("b=")
    )
    assert len(batch_dirs) >= 2  # one per click file
    # (a real replay recomputes the batch from the checkpointed source —
    # materialize the rows first; overwriting a directory you are lazily
    # reading from deletes its files before the read)
    replay_rows = spark.read.parquet(
        os.path.join(out_dir, batch_dirs[0])
    ).collect()
    n_before = len(replay_rows)
    spark.createDataFrame(
        replay_rows,
        "event_id long, user_id long, profile_value double, prof_ts_us long",
    ).write.mode("overwrite").parquet(os.path.join(out_dir, batch_dirs[0]))
    assert spark.read.parquet(out_dir).count() == 5
    assert spark.read.parquet(
        os.path.join(out_dir, batch_dirs[0])
    ).count() == n_before


def test_pit_enrich_no_future_leak(spark, sf_dir):
    """Leakage audit on the registered query: every matched dimension
    timestamp is <= the click's own event time."""
    out = QUERIES["stream_pit_enrich"](spark, sf_dir)
    clicks = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .select("event_id", F.unix_micros("ts").alias("click_us"))
    )
    leaked = (
        out.join(clicks, "event_id")
        .filter(
            F.col("prof_ts_us").isNotNull()
            & (F.col("prof_ts_us") > F.col("click_us"))
        )
        .count()
    )
    assert leaked == 0


# ------------------------------------- incremental exact / token budget


def test_incremental_exact_case_split(spark, sf_dir):
    """Structural truth per batch-row class: re-crawls (case/whitespace
    variants) resolve to their ORIGINAL corpus doc, novel docs are
    accepted, and the second copy of each novel doc resolves to the
    FIRST copy (batch-internal), never to the corpus."""
    rows = {
        r["doc_id"]: r
        for r in QUERIES["dedup_incremental_exact"](spark, sf_dir).collect()
    }
    docs = {
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents").select("doc_id").collect()
    }
    recrawl = {d + 1000000 for d in docs if d % 7 == 0}
    novel = {d + 1000000 for d in docs if d % 7 == 1}
    novel2 = {d + 2000000 for d in docs if d % 7 == 1}
    assert set(rows) == recrawl | novel | novel2
    for rid in recrawl:
        assert rows[rid]["accept"] is False
        assert rows[rid]["dup_of"] == rid - 1000000  # the original
    for nid in novel:
        assert rows[nid]["accept"] is True and rows[nid]["dup_of"] is None
    for n2 in novel2:
        assert rows[n2]["accept"] is False
        assert rows[n2]["dup_of"] == n2 - 1000000  # the FIRST batch copy


def test_grouped_prefix_sum_matches_plain_window(spark, sf_dir):
    """The two-pass bucketed running sum must equal the plain
    single-group-partition window on every row."""
    from pyspark.sql import Window

    from featurestore_for_joycastle_java_spark.operators.ranks import (
        grouped_prefix_sum,
    )
    from featurestore_for_joycastle_java_spark.operators.text import (
        token_count,
    )

    t = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", token_count(F.col("text")).cast("long").alias("v")
    )
    got = grouped_prefix_sum(t, ["source"], "doc_id", "v", out_col="cum")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = t.withColumn("cum", F.sum("v").over(w))
    g = {(r["source"], r["doc_id"]): r["cum"] for r in got.collect()}
    e = {(r["source"], r["doc_id"]): r["cum"] for r in want.collect()}
    assert g == e and len(g) > 0


def test_token_budget_kept_is_prefix(spark, sf_dir):
    """Greedy fill semantics: per source, the kept docs are exactly the
    maximal doc_id-ordered prefix whose PRIOR cumulative tokens stay
    under the budget — so kept counts are reproducible, order-stable,
    and the last kept doc may overflow the budget."""
    out = {
        r["source"]: r
        for r in QUERIES["train_token_budget_mix"](spark, sf_dir).collect()
    }
    from featurestore_for_joycastle_java_spark.operators.text import (
        token_count,
    )

    t = (
        load_table(spark, sf_dir, "documents")
        .select(
            "source", "doc_id", token_count(F.col("text")).alias("n")
        )
        .collect()
    )
    by_src: dict[str, list] = {}
    for r in t:
        by_src.setdefault(r["source"], []).append((r["doc_id"], r["n"]))
    for src, docs in by_src.items():
        docs.sort()
        cum, kept_docs, kept_toks = 0, 0, 0
        for _, n in docs:
            if cum < 500:
                kept_docs += 1
                kept_toks += n
            cum += n
        assert out[src]["n_docs_kept"] == kept_docs, src
        assert out[src]["n_tokens_kept"] == kept_toks, src
        assert out[src]["n_docs_total"] == len(docs)


def test_bucketed_join_no_shuffle(spark, sf_dir):
    """The whole point of the bucketed layout: the fact-to-fact
    SortMergeJoin consumes both bucketed scans directly — NO Exchange
    anywhere below the join (the only exchange in the plan belongs to
    the final small groupBy above it)."""
    import contextlib
    import io

    df = QUERIES["layout_bucketed_join"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" in plan
    # formatted explain lists the tree first; everything below the join
    # node (its two scan branches) must be exchange-free
    tree = plan.split("== Physical Plan ==")[-1]
    lines = tree.splitlines()
    join_at = next(i for i, l in enumerate(lines) if "SortMergeJoin" in l)
    below = "\n".join(lines[join_at:])
    # the join's subtree ends where the operator detail section starts
    below = below.split("(1) ")[0]
    assert "Exchange" not in below, "shuffle under the bucketed join"


def test_zorder_dominates_1d_sort(spark, sf_dir):
    """The point of Z-ordering: for the 2-D box predicate the
    morton-clustered layout scans no more rows than the 1-D user sort,
    which scans no more than the natural layout — and all three layouts
    agree on the matching-row count (the consistency check)."""
    rows = {
        r["layout"]: r
        for r in QUERIES["layout_zorder_prune"](spark, sf_dir).collect()
    }
    assert set(rows) == {"natural", "sorted_user", "zorder"}
    assert (
        rows["zorder"]["n_rows_scanned"]
        <= rows["sorted_user"]["n_rows_scanned"]
        <= rows["natural"]["n_rows_scanned"]
    )
    n_match = {r["n_matching"] for r in rows.values()}
    assert len(n_match) == 1
    # every file accounted for in every layout
    n_files = {r["n_files"] for r in rows.values()}
    assert len(n_files) == 1


def test_hll_sketch_parquet_roundtrip(spark, sf_dir, tmp_path):
    """The sketch-store workflow: per-slice HLL sketches written to
    parquet (binary column), read back and unioned must estimate
    identically to sketches unioned in-memory — persistence does not
    perturb the DataSketches state."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    path = str(tmp_path / "sketches")
    per.write.parquet(path)
    est = lambda df: df.agg(  # noqa: E731
        F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(False))).alias("e")
    ).collect()[0]["e"]
    assert est(spark.read.parquet(path)) == est(per)
    # and the estimate is exact on this fixture's cardinality
    exact = ev.select("user_id").distinct().count()
    assert est(per) == exact


def test_ivf_incremental_equals_rebuild(spark, sf_dir):
    """Appending the batch to the frozen-geometry index must equal
    indexing everything in one shot AGAINST THE SAME CENTROIDS — i.e.
    incremental maintenance loses nothing vs a full rebuild with the
    same cell geometry (only a re-FIT changes results)."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        as_double,
        assign_nearest_cell,
    )

    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") % 5 != 0)
    cents = (
        base.orderBy("vec_id")
        .limit(16)
        .select(
            F.col("vec_id").alias("cent_id"),
            as_double(F.col("embedding")).alias("__mv"),
        )
    )
    full = assign_nearest_cell(
        e.select("vec_id", as_double(F.col("embedding")).alias("__cv")),
        cents,
        "vec_id",
    )
    inc_base = assign_nearest_cell(
        base.select("vec_id", as_double(F.col("embedding")).alias("__cv")),
        cents,
        "vec_id",
    )
    inc_new = assign_nearest_cell(
        e.filter(F.col("vec_id") % 5 == 0).select(
            "vec_id", as_double(F.col("embedding")).alias("__cv")
        ),
        cents,
        "vec_id",
    )
    got = {
        r["vec_id"]: r["cent_id"]
        for r in inc_base.unionByName(inc_new).select("vec_id", "cent_id").collect()
    }
    want = {
        r["vec_id"]: r["cent_id"]
        for r in full.select("vec_id", "cent_id").collect()
    }
    assert got == want and len(got) == e.count()


def test_stream_incremental_dedup_two_batches(spark, sf_dir):
    """The streaming dedup must actually process corpus and re-crawl as
    SEPARATE micro-batches (one decisions dir and one index version per
    batch), with the re-crawl batch resolving against the index built
    by the corpus batch — not a one-shot batch job in disguise."""
    from featurestore_for_joycastle_java_spark.catalog import streaming

    # force a fresh drain for this check (per-process scratch caches)
    streaming._SDEDUP_SCRATCH.pop(sf_dir, None)
    out = QUERIES["stream_incremental_dedup"](spark, sf_dir)
    out_dir = streaming._SDEDUP_SCRATCH[sf_dir]
    batch_dirs = sorted(
        d for d in os.listdir(out_dir) if d.startswith("b=")
    )
    assert batch_dirs == ["b=0", "b=1"], batch_dirs
    idx_dir = os.path.join(os.path.dirname(out_dir), "idx")
    versions = sorted(
        d for d in os.listdir(idx_dir) if d.startswith("v=")
    )
    assert versions == ["v=0", "v=1"], versions
    # batch 0 = the original corpus (no dups -> all accepted);
    # batch 1 = the re-crawl (its recrawl rows resolve to batch-0 ids)
    b0 = spark.read.parquet(os.path.join(out_dir, "b=0"))
    assert b0.filter(~F.col("accept")).count() == 0
    b1 = spark.read.parquet(os.path.join(out_dir, "b=1"))
    cross = b1.filter(F.col("dup_of") < 1000000)
    assert cross.count() > 0  # re-crawls resolved AGAINST THE INDEX


def test_stream_incremental_dedup_out_of_order(spark, tmp_path):
    """Pins the documented divergence (VERDICT r7 ask #7): when arrival
    order across batches disagrees with id order, the streaming index is
    FIRST-ARRIVAL-WINS — a high-id doc accepted in batch 0 stays the
    keeper, and a lower-id duplicate arriving in batch 1 is marked dup —
    while the declarative id-order preceding-min rule (the registered
    query's oracle shape, valid there only because its id scheme makes
    arrival order == id order) would decide the opposite. Drives the
    exact production foreachBatch processor."""
    from featurestore_for_joycastle_java_spark.catalog.streaming import (
        _incremental_dedup_processor,
    )

    idx_dir = str(tmp_path / "idx")
    out_dir = str(tmp_path / "out")
    proc = _incremental_dedup_processor(idx_dir, out_dir)

    # fingerprint collides for identical normalized text
    proc(
        spark.createDataFrame(
            [(100, "same text"), (7, "unique a")], "doc_id long, text string"
        ),
        0,
    )
    proc(
        spark.createDataFrame(
            [(5, "same text"), (9, "unique b")], "doc_id long, text string"
        ),
        1,
    )

    rows = {
        r["doc_id"]: (r["dup_of"], r["accept"])
        for r in spark.read.parquet(os.path.join(out_dir, "b=*")).collect()
    }
    # streaming semantics: first arrival (id 100, batch 0) is the keeper;
    # the LOWER id 5 arriving later is the duplicate
    assert rows[100] == (None, True)
    assert rows[5] == (100, False)
    assert rows[7] == (None, True) and rows[9] == (None, True)

    # ...and the id-order preceding-min rule decides the OPPOSITE for
    # this arrival order: id 5 keeper, id 100 dup — the divergence the
    # registered query's docstring documents, now pinned
    id_order = {5: (None, True), 100: (5, False)}
    assert id_order[5] != rows[5] and id_order[100] != rows[100]


def test_quantized_rerank_recall(spark, sf_dir):
    """Two-stage quality: the int8-coarse + exact-rerank top-5 must
    recall >= 90% of the exact brute-force top-5 (int8 keeps enough
    per-dimension fidelity that the true top-5 survives the top-20
    coarse cut; measured 1.0 on the fixtures)."""
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        brute_force_topk,
    )

    e = load_table(spark, sf_dir, "embeddings")
    got = QUERIES["sim_quantized_rerank"](spark, sf_dir).collect()
    exact = brute_force_topk(
        e,
        e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        k=5,
    ).collect()
    g: dict[int, set] = {}
    for r in got:
        g.setdefault(r["query_id"], set()).add(r["vec_id"])
    x: dict[int, set] = {}
    for r in exact:
        x.setdefault(r["query_id"], set()).add(r["vec_id"])
    assert set(g) == set(x)
    hits = sum(len(g[q] & x[q]) for q in x)
    total = sum(len(x[q]) for q in x)
    assert hits / total >= 0.9, f"recall {hits}/{total}"


def test_profile_single_scan_and_null_accounting(spark, sf_dir):
    """The profiler reads the table ONCE (one parquet scan in the plan)
    and its null accounting is exact: n_rows - n_nulls rows carry a
    value, and n_distinct never exceeds that."""
    df = QUERIES["profile_table_stats"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    # scale gates (r8): the N-distinct-aggregates rewrite is banned —
    # no Expand multiplication, and no single-partition exchange below
    # the final |columns|-row stage (the "last reducer" this query's
    # two-level form exists to avoid)
    assert "Expand" not in plan, plan
    assert "SinglePartition" not in plan, plan
    rows = {r["column_name"]: r for r in df.collect()}
    assert set(rows) == {
        "o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority",
    }
    n = load_table(spark, sf_dir, "orders").count()
    for r in rows.values():
        assert r["n_rows"] == n
        assert 0 <= r["n_nulls"] <= n
        assert r["n_distinct"] <= n - r["n_nulls"]
        # exactly one of the min/max lanes is populated
        assert (r["min_num"] is None) != (r["min_str"] is None)


def test_profile_counts_nulls(spark):
    """Null accounting verified on a hand-built frame with known nulls."""
    from featurestore_for_joycastle_java_spark.catalog import quality

    src = spark.createDataFrame(
        [(1, None, "A", 5.0, None, "P1"),
         (2, 7, None, None, None, "P2"),
         (None, 7, "A", 5.0, None, None)],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    import unittest.mock as mock
    with mock.patch.object(
        quality, "load_table", lambda spark, sf_dir, name: src
    ):
        got = {
            r["column_name"]: r
            for r in quality.profile_table_stats(spark, "ignored").collect()
        }
    assert got["o_orderkey"]["n_nulls"] == 1
    assert got["o_custkey"]["n_nulls"] == 1
    assert got["o_custkey"]["n_distinct"] == 1
    assert got["o_orderdate"]["n_nulls"] == 3
    assert got["o_orderdate"]["n_distinct"] == 0
    assert got["o_orderdate"]["min_str"] is None
    assert got["o_totalprice"]["min_num"] == 5.0


def test_profile_distinct_normalizes_signed_zero_and_nan(spark):
    """The canonical string key must agree with aggregation-key
    semantics on the float edge cases: -0.0 == 0.0 (one distinct value,
    as Spark grouping and DuckDB DISTINCT both treat them) and all NaNs
    equal (one distinct value). Without the +0.0 normalization the keys
    '-0.0'/'0.0' double-count."""
    from featurestore_for_joycastle_java_spark.catalog import quality

    nan = float("nan")
    src = spark.createDataFrame(
        [(1, 1, "A", -0.0, None, "P"),
         (2, 1, "A", 0.0, None, "P"),
         (3, 1, "A", nan, None, "P"),
         (4, 1, "A", nan, None, "P"),
         (5, 1, "A", 2.5, None, "P")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    import unittest.mock as mock
    with mock.patch.object(
        quality, "load_table", lambda spark, sf_dir, name: src
    ):
        got = {
            r["column_name"]: r
            for r in quality.profile_table_stats(spark, "ignored").collect()
        }
    # {0.0, nan, 2.5} — the two zeros collapse, the two NaNs collapse
    assert got["o_totalprice"]["n_distinct"] == 3
    # and the engine's own reference agrees
    expected = src.selectExpr(
        "count(DISTINCT o_totalprice) AS d"
    ).collect()[0]["d"]
    assert got["o_totalprice"]["n_distinct"] == expected


def test_profile_matches_spark_reference_on_random_frames(spark):
    """Property check: on randomized frames (nulls, duplicate values,
    extreme longs/doubles, empty strings) every profiler statistic must
    equal the naive per-column Spark reference (count/nulls/exact
    countDistinct/min/max) — pinning the canonical-key injectivity the
    two-level rewrite relies on."""
    import random

    from featurestore_for_joycastle_java_spark.catalog import quality

    rng = random.Random(1742)
    longs = [None, 0, 1, -1, 2**53, 2**53 + 1, -(2**62), 7, 7]
    doubles = [None, 0.0, 1e-300, 1e300, -1.5, 0.1 + 0.2, 0.3, 123.456]
    strs = [None, "", " ", "a", "A", "0.0", "null"]
    rows = []
    for i in range(200):
        rows.append(
            (
                rng.choice(longs),
                rng.choice(longs),
                rng.choice(strs),
                rng.choice(doubles),
                None,
                rng.choice(strs),
            )
        )
    src = spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    )
    import unittest.mock as mock
    with mock.patch.object(
        quality, "load_table", lambda spark, sf_dir, name: src
    ):
        got = {
            r["column_name"]: r
            for r in quality.profile_table_stats(spark, "ignored").collect()
        }
    for c, kind in quality._PROFILE_COLS:
        ref = src.selectExpr(
            "count(*) AS n",
            f"count(*) - count({c}) AS nulls",
            f"count(DISTINCT {c}) AS dist",
            f"min({c}) AS mn",
            f"max({c}) AS mx",
        ).collect()[0]
        r = got[c]
        assert r["n_rows"] == ref["n"], c
        assert r["n_nulls"] == ref["nulls"], c
        assert r["n_distinct"] == ref["dist"], c
        if kind == "num":
            want_mn = None if ref["mn"] is None else round(float(ref["mn"]), 6)
            want_mx = None if ref["mx"] is None else round(float(ref["mx"]), 6)
            assert r["min_num"] == want_mn and r["max_num"] == want_mx, c
        elif kind == "str":
            assert r["min_str"] == ref["mn"] and r["max_str"] == ref["mx"], c


def test_quality_expectations_detects_injected_violations(spark):
    """Each rule fires on a frame with one violation of its kind, and the
    FK rule counts orphan FACT rows (not distinct keys)."""
    from featurestore_for_joycastle_java_spark.catalog import quality

    orders = spark.createDataFrame(
        [(1, 10, "F", 5.0), (1, None, "X", -1.0),
         (2, 99, "O", 5.0), (3, 99, "P", 700000.0)],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double",
    )
    cust = spark.createDataFrame([(10,)], "c_custkey long")
    tables = {"orders": orders, "customer": cust}
    import unittest.mock as mock
    with mock.patch.object(
        quality, "load_table", lambda spark, sf_dir, name: tables[name]
    ):
        got = {
            r["rule"]: r
            for r in quality.quality_expectations(spark, "ignored").collect()
        }
    assert got["completeness_custkey"]["n_violations"] == 1
    assert got["unique_orderkey"]["n_violations"] == 1
    assert got["range_totalprice"]["n_violations"] == 2
    assert got["set_orderstatus"]["n_violations"] == 1
    # rows 2 and 3 share the orphan key 99 -> 2 violations, plus the
    # null-key row is NOT an FK orphan match (anti join keeps it): 3.
    assert got["fk_custkey_customer"]["n_violations"] == 3
    assert not any(r["passed"] for r in got.values())


def test_quality_expectations_single_fact_scan_for_local_rules(spark, sf_dir):
    """The four row-local rules share one scan; the whole plan reads the
    fact table at most twice (local rules + FK anti join) and the FK join
    is broadcast."""
    df = QUERIES["quality_expectations"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") <= 4  # orders x3 (agg/anti/count) + customer
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    rows = {r["rule"]: r for r in df.collect()}
    assert all(r["passed"] for r in rows.values()), rows


def test_diag_key_skew_math(spark, sf_dir):
    rows = QUERIES["diag_key_skew"](spark, sf_dir).collect()
    assert len(rows) == 10
    # descending, deterministic tie-break by key
    for a, b in zip(rows, rows[1:]):
        assert (a["n_orders"], -a["cust_key"]) >= (b["n_orders"], -b["cust_key"])
    orders = load_table(spark, sf_dir, "orders")
    total = orders.count()
    n_keys = orders.select("o_custkey").distinct().count()
    top = rows[0]
    assert abs(top["share"] - top["n_orders"] / total) < 1e-6
    assert abs(top["skew_x"] - top["n_orders"] * n_keys / total) < 1e-4


def test_delete_propagation_duplicate_queue_and_null_keys(spark):
    """A duplicated erasure-queue subject must not double-count, and null
    fact keys survive (conservative: never matched by the list)."""
    from featurestore_for_joycastle_java_spark.catalog import quality

    cust = spark.createDataFrame(
        [(100, "a"), (100, "a2"), (7, "b"), (None, "c")],
        "c_custkey long, c_name string",
    )
    orders = spark.createDataFrame(
        [(1, 100), (2, 100), (3, 7), (4, None)],
        "o_orderkey long, o_custkey long",
    )
    tables = {"customer": cust, "orders": orders}
    import unittest.mock as mock
    with mock.patch.object(
        quality, "load_table", lambda spark, sf_dir, name: tables[name]
    ):
        got = {
            r["table_name"]: r
            for r in quality.quality_delete_propagation(spark, "x").collect()
        }
    # queue = {100} (duplicate collapsed); customer: 2 deleted of 4
    assert got["customer"]["n_before"] == 4
    assert got["customer"]["n_deleted"] == 2
    assert got["customer"]["n_after"] == 2
    # orders: rows 1,2 deleted; null-key row 4 survives
    assert got["orders"]["n_deleted"] == 2
    assert got["orders"]["n_after"] == 2


def test_null_patterns_partition_and_completeness(spark, sf_dir):
    """All 2^3 patterns partition the table (counts sum to total, shares
    to 1), and the plan is a partial-agg groupBy — no window over the
    fact for the denominator."""
    df = QUERIES["profile_null_patterns"](spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 8
    total = load_table(spark, sf_dir, "events").count()
    assert sum(r["n_rows"] for r in rows) == total
    assert abs(sum(r["share"] for r in rows) - 1.0) < 1e-4
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan  # partial + final


def test_schema_evolution_fill_null_contract(spark, sf_dir):
    """mergeSchema fill-null: a column absent from a batch reads as null
    exactly for that batch's rows, and per-row provenance confirms it
    (even keys lack o_orderstatus, odd keys lack o_custkey)."""
    from featurestore_for_joycastle_java_spark.catalog import layout

    QUERIES["layout_schema_evolution"](spark, sf_dir)  # builds scratch
    root = layout._EVOLVE_SCRATCH[sf_dir]
    unified = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(root, "b1"), os.path.join(root, "b2")
    )
    bad = unified.filter(
        ((F.col("o_orderkey") % 2 == 0) & F.col("o_custkey").isNull())
        | ((F.col("o_orderkey") % 2 == 0) & F.col("o_orderstatus").isNotNull())
        | ((F.col("o_orderkey") % 2 == 1) & F.col("o_custkey").isNotNull())
        | ((F.col("o_orderkey") % 2 == 1) & F.col("o_orderstatus").isNull())
    ).count()
    assert bad == 0


def test_phrase_match_adjacency_semantics(spark):
    """Phrase = strictly adjacent in order: reversed order and gapped
    pairs don't match; back-to-back overlapping occurrences all count."""
    from featurestore_for_joycastle_java_spark.catalog import text

    docs = spark.createDataFrame(
        [(1, "a hash join b hash join c"),   # 2 occurrences
         (2, "join hash"),                    # reversed: no
         (3, "hash x join"),                  # gapped: no
         (4, "hash hash join join"),          # 1 (pos2/pos3)
         (5, "HASH JOIN"),                    # case-folded: 1
         (6, "nothing here")],
        "doc_id long, text string",
    )
    import unittest.mock as mock
    with mock.patch.object(
        text, "load_table", lambda spark, sf_dir, name: docs
    ):
        got = {
            r["doc_id"]: r["n_occurrences"]
            for r in text.text_phrase_match(spark, "x").collect()
        }
    assert got == {1: 2, 4: 1, 5: 1}


def test_join_cardinality_prediction_with_dup_keys(spark):
    """The Σ c_A(k)·c_B(k) identity on a fixture with duplicate keys on
    BOTH sides (2×3 fan-out) plus unmatched keys on each side."""
    from featurestore_for_joycastle_java_spark.catalog import quality

    orders = spark.createDataFrame(
        [(10,), (10,), (20,), (30,)], "o_orderkey long"
    )
    li = spark.createDataFrame(
        [(10,), (10,), (10,), (20,), (99,)], "l_orderkey long"
    )
    tables = {"orders": orders, "lineitem": li}
    import unittest.mock as mock
    with mock.patch.object(
        quality, "load_table", lambda spark, sf_dir, name: tables[name]
    ):
        r = quality.diag_join_cardinality(spark, "x").collect()[0]
    assert r["n_join_predicted"] == 2 * 3 + 1 * 1 == 7
    assert r["n_join_actual"] == 7
    assert r["match_exact"]


def test_late_drops_window_level_semantics(spark, sf_dir):
    """Append-mode watermark semantics pinned end-to-end: closed-window
    stragglers vanish, open-window stragglers count, unclosed windows
    are withheld, and drop accounting = input minus sink."""
    rows = {
        r["window_start"]: r["n_events"]
        for r in QUERIES["stream_late_drops"](spark, sf_dir).collect()
    }
    # no 07:00 window (its stragglers were dropped), no 11:00 window
    # (final watermark 11:17 never passed its end)
    assert set(rows) == {
        "2026-01-01 08:00:00",
        "2026-01-01 09:00:00",
        "2026-01-01 10:00:00",
    }
    ev = load_table(spark, sf_dir, "events")
    n_b1 = ev.filter("event_id < 600 AND event_id % 3 <> 2").count()
    n_late = ev.filter(
        "event_id < 600 AND event_id % 9 = 2 AND event_id <> 2"
    ).count()
    n_straggler_kept = ev.filter(
        "event_id < 600 AND event_id % 9 = 5"
    ).count()
    n_fresh = ev.filter(
        "event_id < 600 AND event_id % 9 = 8"
    ).count()
    n_withheld = ev.filter(
        "event_id < 600 AND event_id % 9 = 8 AND event_id % 80 >= 30"
    ).count()
    total_in = n_b1 + 1 + n_late + n_straggler_kept + n_fresh
    assert sum(rows.values()) == total_in - n_late - n_withheld
    # the open-window stragglers ARE counted: 09 window > b1's share + 1
    n_b1_w9 = ev.filter(
        "event_id < 600 AND event_id % 3 <> 2 AND event_id % 120 >= 60"
    ).count()
    assert rows["2026-01-01 09:00:00"] == n_b1_w9 + 1 + n_straggler_kept


def test_observe_metrics_single_job_and_exactness(spark):
    """The observation rides the production action (no second scan of a
    wrong copy): metrics computed on a hand fixture match exact values,
    including rows the production agg itself would not surface."""
    from featurestore_for_joycastle_java_spark.catalog import quality

    orders = spark.createDataFrame(
        [(1, "F", -5.0), (2, "F", 10.0), (3, "O", 0.0), (4, "P", 2.0)],
        "o_orderkey long, o_orderstatus string, o_totalprice double",
    )
    import unittest.mock as mock
    with mock.patch.object(
        quality, "load_table", lambda spark, sf_dir, name: orders
    ):
        r = quality.profile_observe_metrics(spark, "x").collect()[0]
    assert r["n_input"] == 4
    assert r["n_nonpositive"] == 2  # -5.0 and 0.0
    assert r["n_status"] == 3
    assert r["n_result_rows"] == 3


def test_mips_differs_from_cosine_on_nonuniform_norms(spark):
    """The reduction's whole point: with non-uniform norms, inner-product
    order != cosine order, and the augmented route returns the MIPS
    order. q=[1,0]: cosine prefers a=[0.9,0] (cos 1.0), MIPS prefers
    b=[3,1] (dot 3.0 vs 0.9)."""
    from featurestore_for_joycastle_java_spark.catalog import similarity

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (10, [0.9, 0.0]), (11, [3.0, 1.0]),
         (12, [0.0, 2.0]), (13, [-1.0, -1.0]), (14, [0.5, 0.5])],
        "vec_id long, embedding array<float>",
    )
    import unittest.mock as mock
    with mock.patch.object(
        similarity, "load_table", lambda spark, sf_dir, name: emb
    ):
        rows = similarity.sim_mips_topk(spark, "x").collect()
    top = {r["rnk"]: r for r in rows if r["query_id"] == 0}
    assert top[1]["vec_id"] == 11 and abs(top[1]["dot_r"] - 3.0) < 1e-6
    assert top[2]["vec_id"] == 0        # q itself, dot 1.0
    assert top[3]["vec_id"] == 10       # the cosine-1.0 vector, dot 0.9


def test_quantile_bins_equidepth_and_edge_rule(spark, sf_dir):
    """Deciles are equi-depth (each within 1% of n/10), bins are ordered
    and non-overlapping, and a value equal to a boundary lands in the
    LOWER bin (strict > rule)."""
    rows = QUERIES["feature_quantile_bins"](spark, sf_dir).collect()
    assert [r["bin"] for r in rows] == list(range(10))
    n = sum(r["n_orders"] for r in rows)
    for r in rows:
        assert abs(r["n_orders"] - n / 10) <= max(1, 0.01 * n)
    for a, b in zip(rows, rows[1:]):
        assert a["max_price"] < b["min_price"]

    from featurestore_for_joycastle_java_spark.catalog import features
    # boundary-edge fixture: 10 values 1..10 -> p10..p90 = 1.9,2.8,...,9.1
    # value 5.0 vs median boundary 5.5 etc.; value EXACTLY at a rounded
    # boundary must take the lower bin
    orders = spark.createDataFrame(
        [(float(v),) for v in range(1, 11)], "o_totalprice double"
    )
    import unittest.mock as mock
    with mock.patch.object(
        features, "load_table", lambda spark, sf_dir, name: orders
    ):
        got = {r["bin"]: r for r in features.feature_quantile_bins(spark, "x").collect()}
    # boundaries: 1.9 2.8 3.7 4.6 5.5 6.4 7.3 8.2 9.1 -> 1 per bin except
    # bin 0 (1.0) and the rest singletons
    assert sum(r["n_orders"] for r in got.values()) == 10
    assert got[0]["n_orders"] == 1 and got[0]["max_price"] == 1.0
    assert got[9]["n_orders"] == 1 and got[9]["min_price"] == 10.0


def test_er_every_variant_joins_its_origin(spark, sf_dir):
    """Every synthetic re-registration lands in its origin's cluster, and
    clean records stay singletons."""
    df = QUERIES["er_customer_clusters"](spark, sf_dir)
    rows = {r["record_id"]: r for r in df.collect()}
    variants = [rid for rid in rows if rid >= 1000000]
    assert variants
    for v in variants:
        assert rows[v]["cluster_id"] == rows[v - 1000000]["cluster_id"]
        assert rows[v]["n_members"] >= 2
        assert rows[v]["is_synthetic"]
    # a clean record (key 1, not % 50) is a singleton
    assert rows[1]["n_members"] == 1 and not rows[1]["is_synthetic"]


def test_er_chains_resolve_transitively(spark):
    """A linkage CHAIN A~B~C (no direct A~C edge) must land in ONE
    cluster — the reason ER needs components, not pairs. B shares
    acctbal with both A and C; A and C differ in 2 chars (no edge)."""
    from featurestore_for_joycastle_java_spark.catalog import dedup

    cust = spark.createDataFrame(
        [(100, "Customer#000000100", 1, 50.0),   # A
         (150, "Customer#000000150", 1, 77.7),   # origin for variant B'
         (9000, "Customer#000000109", 1, 12.3)], # unrelated, lev 1 from A
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double",
    )
    import unittest.mock as mock
    with mock.patch.object(
        dedup, "load_table", lambda spark, sf_dir, name: cust
    ):
        rows = {
            r["record_id"]: r
            for r in dedup.er_customer_clusters(spark, "x").collect()
        }
    # 100 vs 9000: lev('...100','...109')=1, same nation+block BUT
    # different acctbal -> NOT merged (the compound predicate)
    assert rows[100]["cluster_id"] != rows[9000]["cluster_id"]
    # 150's synthetic variant joins 150
    assert rows[1000150]["cluster_id"] == rows[150]["cluster_id"]


def test_golden_record_survivorship_rules(spark, sf_dir):
    """Golden table = only multi-source clusters; name survives from the
    master (min record_id, so never the corrupted 'X' variant); balance
    is the cluster max (here equal across sources by construction)."""
    rows = QUERIES["er_golden_record"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["n_sources"] >= 2
        assert not r["canonical_name"].endswith("X")
        assert r["cluster_id"] < 1000000  # min-id labels come from masters


def test_theta_algebra_exact_below_saturation(spark):
    """Theta set algebra on hand-built segments: overlap, union, and
    difference are EXACT below nominal entries, including a disjoint
    pair (intersection 0 — the case HLL inclusion-exclusion gets
    wrong)."""
    from featurestore_for_joycastle_java_spark.catalog import relational

    rows = []
    rows += [("click", i) for i in range(0, 100)]
    rows += [("purchase", i) for i in range(50, 120)]   # overlap 50
    rows += [("view", i) for i in range(0, 30)]         # subset of click
    rows += [("signup", i) for i in range(1000, 1010)]  # disjoint
    rows += [("error", i) for i in range(2000, 2005)]
    ev = spark.createDataFrame(rows, "event_type string, user_id long")
    import unittest.mock as mock
    with mock.patch.object(
        relational, "load_table", lambda spark, sf_dir, name: ev
    ):
        got = {
            (r["seg_a"], r["seg_b"]): r
            for r in relational.agg_theta_audience_overlap(spark, "x").collect()
        }
    cp = got[("click", "purchase")]
    assert (cp["n_overlap"], cp["n_union"], cp["n_only_a"]) == (50, 120, 50)
    cv = got[("click", "view")]
    assert (cv["n_overlap"], cv["n_union"], cv["n_only_a"]) == (30, 100, 70)
    se = got[("signup", "error")]
    assert (se["n_overlap"], se["n_union"], se["n_only_a"]) == (0, 15, 10)


def test_kll_merge_tracks_n_exactly(spark, sf_dir):
    """KLL tracks the stream length exactly through merges: merged n ==
    COUNT(*), proving every slice sketch participated in the fold."""
    r = QUERIES["agg_kll_quantile_merge"](spark, sf_dir).collect()[0]
    assert r["n_rows"] == load_table(spark, sf_dir, "orders").count()
    assert r["rank_p50_ok"] and r["rank_p90_ok"]


def test_table_diff_classification(spark):
    """Diff classes on a hand fixture: removed key, changed value, added
    key, unchanged row — each lands in exactly one class."""
    from featurestore_for_joycastle_java_spark.catalog import quality

    orders = spark.createDataFrame(
        [(97 * 101, 1.0),   # removed (multiple of 97)
         (101, 2.0),        # changed (multiple of 101, not 97)
         (1, 3.0),          # unchanged
         (503, 4.0)],       # survives AND spawns key+2M (added)
        "o_orderkey long, o_totalprice double",
    )
    import unittest.mock as mock
    with mock.patch.object(
        quality, "load_table", lambda spark, sf_dir, name: orders
    ):
        got = {
            r["change_type"]: r
            for r in quality.diag_table_diff(spark, "x").collect()
        }
    assert got["removed"]["n_rows"] == 1 and got["removed"]["min_key"] == 9797
    assert got["changed"]["n_rows"] == 1 and got["changed"]["min_key"] == 101
    assert got["added"]["n_rows"] == 1 and got["added"]["min_key"] == 2000503
    assert got["unchanged"]["n_rows"] == 2  # keys 1 and 503


def test_bfs_chain_distances_and_unreachable(spark):
    """BFS on a path graph gives exact hop counts; a disconnected
    component is absent from the result. Edges via a synthetic lineitem:
    parts chain suppliers 1-2-3-4; suppliers 8,9 form an island."""
    from featurestore_for_joycastle_java_spark.catalog import graph

    rows = [
        # (partkey, suppkey, qty): each part links its suppliers
        (100, 1, 50.0), (100, 2, 50.0),   # edge 1-2
        (101, 2, 50.0), (101, 3, 50.0),   # edge 2-3
        (102, 3, 50.0), (102, 4, 50.0),   # edge 3-4
        (103, 8, 50.0), (103, 9, 50.0),   # island 8-9
        (104, 1, 10.0), (104, 9, 10.0),   # below qty threshold: ignored
    ]
    li = spark.createDataFrame(
        rows, "l_partkey long, l_suppkey long, l_quantity double"
    )
    import unittest.mock as mock
    with mock.patch(
        "featurestore_for_joycastle_java_spark.operators.graphs.load_table",
        lambda spark, sf_dir, name: li,
    ):
        got = {
            r["node"]: r["hops"]
            for r in graph.graph_bfs_hops(spark, "x").collect()
        }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}
