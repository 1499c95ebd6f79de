"""Round-5d operator tests: partition-prune plan gate, Hamming-1
blocking losslessness vs brute force, skyline dominance properties,
hashing-trick invariants, winsorize threshold sanity, compaction-bin
contiguity, and a numpy cross-check of the closed-form regression.

(Cross-engine value parity for every round5d query is covered by
tests/test_oracle_parity.py via registry parametrization.)
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from featurestore_for_joycastle_java_spark import registry

registry.load_catalog()

from featurestore_for_joycastle_java_spark.registry import QUERIES


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


# ---------------------------------------------------------------- layout


def test_partition_prune_plan_gate(spark, sf_dir):
    """The read-back scan must prune at the PARTITION level: the date
    predicate appears as a PartitionFilters entry on the parquet scan
    (directory-level pruning), not merely as a post-scan Filter."""
    df = QUERIES["layout_partition_prune"](spark, sf_dir)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    # the filter names the partition column, and the scan carries no
    # row-group-level PushedFilters on it (it's a directory column)
    assert "event_date" in plan


def test_partition_prune_reads_single_partition(spark, sf_dir):
    """Pruned scan must touch exactly the one matching date directory —
    the row count equals the source-side filter, and a non-matching
    date yields zero rows without error."""
    df = QUERIES["layout_partition_prune"](spark, sf_dir)
    n = df.agg(F.sum("n_events")).collect()[0][0]
    src = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.to_date(F.col("ts").cast("timestamp")) == "2024-01-15")
        .count()
    )
    assert n == src and n > 0


def test_compaction_bins_contiguous(spark, sf_dir):
    """Next-fit bins must partition the manifest into contiguous,
    non-overlapping fileno ranges with every file assigned once."""
    rows = QUERIES["layout_compaction_bins"](spark, sf_dir).collect()
    rows.sort(key=lambda r: r["bin"])
    n_files_total = sum(r["n_files"] for r in rows)
    src_files = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select(F.expr("doc_id DIV 50").alias("f"))
        .distinct()
        .count()
    )
    assert n_files_total == src_files
    for prev, cur in zip(rows, rows[1:]):
        assert prev["last_fileno"] < cur["first_fileno"]
        assert cur["bin"] > prev["bin"]
    # no bin except possibly the first starts below the target boundary
    # logic: each bin's size is positive
    assert all(r["bin_bytes"] > 0 for r in rows)


# ------------------------------------------------------- hamming-1 dedup


def test_hamming1_matches_bruteforce(spark, sf_dir):
    """Blocking losslessness: the signature-blocked result must equal a
    brute-force quadratic scan (driver-side, small fixture) — no pair
    at Hamming distance 1 may be missed, none invented."""
    names = {
        r["c_custkey"]: r["c_name"]
        for r in spark.read.parquet(f"{sf_dir}/customer.parquet")
        .select("c_custkey", "c_name")
        .collect()
    }
    expected: dict[int, int] = {}
    keys = sorted(names)
    for i, a in enumerate(keys):
        for b in keys[i + 1 :]:
            na, nb = names[a], names[b]
            if len(na) != len(nb):
                continue
            diff = sum(1 for x, y in zip(na, nb) if x != y)
            if diff == 1:
                expected[a] = expected.get(a, 0) + 1
                expected[b] = expected.get(b, 0) + 1
    got = {
        r["c_custkey"]: r["n_ham1"]
        for r in QUERIES["dedup_hamming1_neighbors"](spark, sf_dir).collect()
    }
    assert got == expected


def test_hamming1_mixed_lengths_registered_query(spark, sf_dir, monkeypatch):
    """Drive the REGISTERED query over a mixed odd/even-length fixture.

    Two traps the padded-length bug produced false pairs on:
    - 'abc' (padded 'abc\\x01') vs 'abcd': shared padded length 4 and the
      even-position signature, and levenshtein('abc\\x01','abcd') == 1 —
      an INSERTION pair that must NOT count as Hamming-1.
    - 'abcde' vs 'abcdef': same shape at odd length 5.
    Plus the true positives: last-char substitution at odd length
    ('abcde'/'abcdX', the position a bare interleave would drop) and a
    mid-char substitution ('abXde')."""
    from featurestore_for_joycastle_java_spark.catalog import dedup

    df = spark.createDataFrame(
        [
            (1, "abcde"),
            (2, "abcdX"),
            (3, "abXde"),
            (4, "zzzzz"),
            (5, "abc"),
            (6, "abcd"),
            (7, "abcdef"),
        ],
        "c_custkey long, c_name string",
    )
    monkeypatch.setattr(dedup, "load_table", lambda _s, _d, _t: df)
    got = {
        r["c_custkey"]: r["n_ham1"]
        for r in QUERIES["dedup_hamming1_neighbors"](spark, sf_dir).collect()
    }
    raw = dict(df.collect())
    exp: dict[int, int] = {}
    ks = sorted(raw)
    for i, x in enumerate(ks):
        for y in ks[i + 1 :]:
            if len(raw[x]) == len(raw[y]) and (
                sum(1 for p, q in zip(raw[x], raw[y]) if p != q) == 1
            ):
                exp[x] = exp.get(x, 0) + 1
                exp[y] = exp.get(y, 0) + 1
    assert got == exp
    # the true positives survive…
    assert got[2] >= 1 and got[3] >= 1
    # …and the insertion traps produce NO pairs
    assert 5 not in got and 6 not in got and 7 not in got


def test_hamming1_candidates_not_quadratic(spark, sf_dir):
    """The interleaved signatures must actually block: total candidate
    pairs stay far below n²/2 (the shared-prefix hazard the interleave
    exists to defeat)."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet").select(
        "c_custkey", F.col("c_name").alias("nm")
    )
    n = c.count()
    k = None
    for repl in ("$1", "$2"):
        part = c.select(
            F.regexp_replace("nm", "(.)(.)", repl).alias("kf")
        ).groupBy("kf").count()
        pairs = part.agg(
            F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("p")
        ).collect()[0]["p"]
        k = pairs if k is None else k + pairs
    assert k < n * (n - 1) / 8, f"blocking ineffective: {k} candidates"


# ---------------------------------------------------------------- skyline


def test_skyline_dominance_properties(spark, sf_dir):
    """Soundness + completeness vs the aggregate frame: every returned
    supplier is non-dominated; every excluded supplier is dominated."""
    s = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .groupBy(F.col("l_suppkey").alias("s_suppkey"))
        .agg(
            F.sum(F.floor("l_quantity").cast("bigint")).alias("q"),
            F.countDistinct("l_orderkey").alias("o"),
        )
        .collect()
    )
    frame = [(r["s_suppkey"], r["q"], r["o"]) for r in s]

    def dominated(a):
        return any(
            b[1] >= a[1] and b[2] >= a[2] and (b[1] > a[1] or b[2] > a[2])
            for b in frame
            if b[0] != a[0]
        )

    sky = {
        r["s_suppkey"]
        for r in QUERIES["sort_skyline_suppliers"](spark, sf_dir).collect()
    }
    for a in frame:
        if a[0] in sky:
            assert not dominated(a), f"dominated supplier {a} in skyline"
        else:
            assert dominated(a), f"non-dominated supplier {a} excluded"


# ---------------------------------------------------- hashing / winsorize


def test_hashing_trick_invariants(spark, sf_dir):
    """Buckets live in [0, 64); per-doc Σ|weight| ≤ token count (each
    token contributes exactly ±1 to exactly one bucket)."""
    feat = QUERIES["feature_hashing_trick"](spark, sf_dir)
    bad = feat.filter((F.col("bucket") < 0) | (F.col("bucket") >= 64)).count()
    assert bad == 0
    per_doc = (
        feat.groupBy("doc_id")
        .agg(F.sum(F.abs("weight")).alias("wsum"))
        .join(
            spark.read.parquet(f"{sf_dir}/documents.parquet").select(
                "doc_id",
                F.size(F.split("text", " ")).alias("ntok"),
            ),
            "doc_id",
        )
    )
    assert per_doc.filter(F.col("wsum") > F.col("ntok")).count() == 0


def test_winsorize_thresholds_sane(spark, sf_dir):
    """Thresholds must be actual data values with clip fractions ≤ the
    nominal tail mass (type-1 quantiles clip STRICTLY outside the
    threshold, so each side clips < 5% + one value-group)."""
    rows = QUERIES["feature_winsorize"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["lo_micro"] <= r["hi_micro"]
        assert r["n_clip_lo"] < r["n"] * 0.05 + 1
        assert r["n_clip_hi"] <= r["n"] * 0.05 + 1
        assert (
            r["lo_micro"] * r["n"]
            <= r["wins_sum_micro"]
            <= r["hi_micro"] * r["n"]
        )


def test_linreg_matches_numpy(spark, sf_dir):
    """Closed form from integer moments == numpy least squares (float
    tolerance only in the CHECK; the query itself is deterministic)."""
    import numpy as np

    row = QUERIES["eval_linreg_fit"](spark, sf_dir).collect()[0]
    ev = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select(
            F.hour(F.col("ts").cast("timestamp")).alias("x"),
            F.floor(F.col("value") * 1e6).cast("bigint").alias("y"),
        )
        .collect()
    )
    x = np.array([r["x"] for r in ev], dtype=float)
    y = np.array([r["y"] for r in ev], dtype=float)
    slope, intercept = np.polyfit(x, y, 1)
    assert abs(row["slope_micro_per_hour"] - slope) <= 1e-6 * max(
        1.0, abs(slope)
    )
    assert abs(row["intercept_micro"] - intercept) <= 1e-6 * max(
        1.0, abs(intercept)
    )


# ------------------------------------------------------------- plan gates


def test_winsorize_no_fact_window(spark, sf_dir):
    """The cumulative window must run over the distinct-value frame
    (post-aggregation), never the raw fact table: the plan's Window sits
    above a HashAggregate, and the threshold/total attaches broadcast."""
    plan = _plan(QUERIES["feature_winsorize"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rarity_vocab_broadcast(spark, sf_dir):
    """The vocabulary dim must broadcast onto the token stream — a
    shuffled join on token would move the whole exploded corpus."""
    plan = _plan(QUERIES["text_rarity"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
