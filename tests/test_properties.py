"""Property-based tests (hypothesis) for the pure-logic operators whose
edge cases a fixed fixture can't enumerate: exact_sum's decimal identity,
the gated regex extraction, and gap sessionization — each against an
independent Python reference implementation.

Each example runs a (tiny) Spark job, so example counts are deliberately
small; the point is randomized structure, not volume.
"""

from __future__ import annotations

import re
from decimal import Decimal
from functools import reduce

from hypothesis import given, settings, strategies as st

from pyspark.sql import functions as F

_SETTINGS = dict(max_examples=10, deadline=None)

# 2dp money-like doubles, positive and negative, exactly representable
# intent: cents-scaled ints / 100
_cents = st.integers(min_value=-10_000_000, max_value=10_000_000)


@settings(**_SETTINGS)
@given(st.lists(_cents, min_size=1, max_size=50))
def test_exact_sum_matches_decimal(spark, cents):
    from featurestore_for_joycastle_java_spark.operators.relational import (
        exact_sum,
    )

    vals = [c / 100.0 for c in cents]
    want = float(sum(Decimal(c) for c in cents) / 100)
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    got = df.agg(exact_sum(F.col("x")).alias("s")).first()["s"]
    assert got == want, f"{got} != {want} for {vals}"


_detail_text = st.text(
    alphabet="abz 0123456789.$", min_size=0, max_size=30
)


@settings(**_SETTINGS)
@given(st.lists(_detail_text, min_size=1, max_size=20))
def test_regex_extract_matches_python(spark, details):
    """First-match, decimal-preferred-at-same-start, null-when-no-match —
    against Python re with the same pattern on the gated type."""
    from featurestore_for_joycastle_java_spark.operators.ingest import (
        extract_numeric_feature,
    )
    from featurestore_for_joycastle_java_spark.schemas import NUMBER_PATTERN

    rows = [(i, d, "InAppPurchase") for i, d in enumerate(details)]
    df = spark.createDataFrame(
        rows, "EventID long, EventDetails string, EventType string"
    )
    got = {
        r["EventID"]: r["EventValue"]
        for r in extract_numeric_feature(df).collect()
    }
    for i, d in enumerate(details):
        m = re.search(NUMBER_PATTERN, d)
        want = float(m.group(1)) if m else None
        assert got[i] == want, f"detail={d!r}: {got[i]} != {want}"


@settings(**_SETTINGS)
@given(
    st.lists(
        st.integers(min_value=0, max_value=10_000), min_size=1, max_size=30
    )
)
def test_sessionize_matches_python_reference(spark, offsets):
    """Gap-based sessionization vs a sequential Python fold: new session
    iff gap > 1800s (ties stay merged — the boundary rule pinned in
    SEMANTICS.md)."""
    from featurestore_for_joycastle_java_spark.operators.asof import sessionize

    base = 1_700_000_000
    secs = sorted(base + o for o in offsets)
    df = spark.createDataFrame(
        [(1, s) for s in secs], "user_id int, epoch long"
    ).select("user_id", F.timestamp_seconds("epoch").alias("ts"))
    out = sessionize(df, ["user_id"], "ts", gap_seconds=1800)
    got = [
        r["session_id"]
        for r in out.orderBy(F.col("ts"), F.col("session_id")).collect()
    ]

    want, sid = [], 0
    for i, s in enumerate(secs):
        if i > 0 and s - secs[i - 1] > 1800:
            sid += 1
        want.append(sid)
    assert got == want, f"secs={secs}"


_doc_words = st.lists(
    st.sampled_from(["spark", "data", "key", "value", "fast", "slow", "a", "bb"]),
    min_size=0,
    max_size=12,
)


@settings(**_SETTINGS)
@given(st.lists(_doc_words, min_size=2, max_size=8))
def test_token_jaccard_band_prune_loses_no_pair(spark, docs):
    """The length-band prune (t*max <= min) inside token_jaccard_pairs is
    a NECESSARY condition for J >= t — randomized docs vs a Python
    reference must produce the identical pair set."""
    from featurestore_for_joycastle_java_spark.operators.dedup import (
        token_jaccard_pairs,
    )

    t = 0.6
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in token_jaccard_pairs(df, "doc_id", "text", threshold=t).collect()
    }
    want = set()
    toksets = {i: set(ws) for i, ws in enumerate(docs)}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = toksets[i], toksets[j]
            if not a or not b:
                continue
            inter = len(a & b)
            if inter == 0:
                continue
            jac = round(inter / (len(a) + len(b) - inter), 6)
            if jac >= t:
                want.add((i, j, jac))
    assert got == want, f"{got} != {want}"


@settings(**_SETTINGS)
@given(st.lists(_doc_words, min_size=2, max_size=8))
def test_token_jaccard_inverted_path_matches_reference(spark, docs):
    """Same property with small_vocab_max=0, pinning the INVERTED-INDEX
    path (the tiny hypothesis vocabulary would otherwise always take the
    bitmask fast path) against the identical Python reference."""
    from featurestore_for_joycastle_java_spark.operators.dedup import (
        token_jaccard_pairs,
    )

    t = 0.6
    rows = [(i, " ".join(ws)) for i, ws in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in token_jaccard_pairs(
            df, "doc_id", "text", threshold=t, small_vocab_max=0
        ).collect()
    }
    want = set()
    toksets = {i: set(ws) for i, ws in enumerate(docs)}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = toksets[i], toksets[j]
            if not a or not b:
                continue
            inter = len(a & b)
            if inter == 0:
                continue
            jac = round(inter / (len(a) + len(b) - inter), 6)
            if jac >= t:
                want.add((i, j, jac))
    assert got == want, f"{got} != {want}"


# --- r5 as-of operators: randomized-structure equivalence ------------------

_asof_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),    # key
        st.integers(min_value=0, max_value=300),  # ts
    ),
    min_size=1,
    max_size=25,
)


def _py_asof(left_rows, right_map, direction="backward", tolerance=None):
    """Python reference: for each left (k, t), the (value, ts) of the
    right row of key k matched in ``direction`` — backward: largest ts'
    <= t; forward: smallest ts' >= t; nearest: the closer of those two,
    backward on equal distance — or (None, None) when there is none or
    its |t - ts'| exceeds ``tolerance``."""
    out = []
    for k, t in left_rows:
        rows = sorted((ts, v) for (kk, ts), v in right_map.items() if kk == k)
        b = max((r for r in rows if r[0] <= t), default=None)
        f = min((r for r in rows if r[0] >= t), default=None)
        if direction == "backward":
            m = b
        elif direction == "forward":
            m = f
        else:
            m = b if b is not None and (f is None or t - b[0] <= f[0] - t) else f
        if m is None or (tolerance is not None and abs(t - m[0]) > tolerance):
            out.append((None, None))
        else:
            out.append((m[1], m[0]))
    return out


@settings(**_SETTINGS)
@given(
    _asof_rows,
    _asof_rows,
    st.sampled_from([7, 50, 1000]),
    _asof_rows,
    st.one_of(st.none(), st.integers(min_value=0, max_value=100)),
)
def test_bucketed_asof_matches_python_reference(
    spark, lrows, rrows, width, r2rows, tol
):
    """Every as-of operator against an independent Python reference, for
    random key/ts structures: ``asof_join`` in each direction with a
    drawn tolerance, ``asof_join_bucketed`` at bucket widths spanning
    many-buckets through one-bucket regimes, and a two-right
    ``multi_asof_join`` (right sides deduped per (key, ts) — the
    operator contract)."""
    from featurestore_for_joycastle_java_spark.operators.asof import (
        asof_join,
        asof_join_bucketed,
        multi_asof_join,
    )

    right_map = {}
    for i, (k, t) in enumerate(rrows):  # last write wins -> unique (k, t)
        right_map[(k, t)] = float(i)
    r2_map = {(k, t): float(1000 + i) for i, (k, t) in enumerate(r2rows)}
    left = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lrows)], "k long, t long, i long"
    )
    right = spark.createDataFrame(
        [(k, t, v) for (k, t), v in right_map.items()], "k long, t long, v double"
    )
    r2 = spark.createDataFrame(
        [(k, t, v) for (k, t), v in r2_map.items()], "k long, t long, w double"
    )

    cases = {
        d: asof_join(left, right, ["k"], "t", "t", ["v"], d, tolerance=tol)
        for d in ("backward", "forward", "nearest")
    }
    cases["bucketed"] = asof_join_bucketed(left, right, ["k"], "t", "t", ["v"], width)
    cases["multi"] = multi_asof_join(
        left, [(right, "t", ["v"], "a"), (r2, "t", ["w"], "b")], ["k"], "t"
    ).withColumnRenamed("a_ts_matched", "t_matched")
    # one Spark job for all five operators keeps the property cheap
    rows = reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [df.withColumn("case", F.lit(c)) for c, df in cases.items()],
    ).collect()

    def check(case, cols, *matches):
        got = sorted(
            tuple(r[c] for c in ["k", "t", "i", *cols])
            for r in rows
            if r["case"] == case
        )
        want = sorted(
            (k, t, i, *[x for m in ms for x in m])
            for (k, t), i, ms in zip(lrows, range(len(lrows)), zip(*matches))
        )
        assert got == want, (case, width, tol)

    for d in ("backward", "forward", "nearest"):
        check(d, ["v", "t_matched"], _py_asof(lrows, right_map, d, tol))
    check("bucketed", ["v", "t_matched"], _py_asof(lrows, right_map))
    check(
        "multi",
        ["v", "t_matched", "w", "b_ts_matched"],
        _py_asof(lrows, right_map),
        _py_asof(lrows, r2_map),
    )


@settings(**_SETTINGS)
@given(
    st.lists(
        st.integers(min_value=0, max_value=500), min_size=1, max_size=40
    ),
    st.lists(
        st.integers(min_value=0, max_value=2000), min_size=1, max_size=60
    ),
)
def test_bloom_prune_superset_of_semi_join(spark, small_keys, big_keys):
    """Randomized no-false-negatives: bloom_prune(big, small) must keep
    every big row whose key appears in small, for arbitrary overlap."""
    from featurestore_for_joycastle_java_spark.operators.bloom import (
        bloom_prune,
    )

    small = spark.createDataFrame([(k,) for k in set(small_keys)], "k long")
    big = spark.createDataFrame(
        [(i, k) for i, k in enumerate(big_keys)], "id long, k long"
    )
    kept = {
        r["id"]
        for r in bloom_prune(big, small, "k", "k", num_bits=1 << 10).collect()
    }
    want = {i for i, k in enumerate(big_keys) if k in set(small_keys)}
    assert want <= kept


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=200),  # orderkey
            st.integers(min_value=0, max_value=3),  # lines per order
        ),
        min_size=1,
        max_size=30,
    )
)
def test_incremental_join_identity(spark, orders):
    """Random base/delta slices: the 4-way delta-join union must equal
    the full join row-for-row (the IVM identity join_incremental_delta
    relies on)."""
    o_rows = [(k,) for k, _ in orders]
    l_rows = [(k, j) for k, n in orders for j in range(n)]
    if not l_rows:
        l_rows = [(-1, 0)]  # non-matching placeholder keeps schema
    o = spark.createDataFrame(o_rows, "ok long").distinct()
    li = spark.createDataFrame(l_rows, "lk long, ln long")
    oa, od = o.filter("ok % 2 = 0"), o.filter("ok % 2 = 1")
    la, ld = li.filter("lk % 3 = 0"), li.filter("lk % 3 <> 0")

    def j(a, b):
        return a.join(b, a.ok == b.lk).select("ok", "ln")

    inc = sorted(
        map(
            tuple,
            j(oa, la)
            .union(j(od, la))
            .union(j(oa, ld))
            .union(j(od, ld))
            .collect(),
        )
    )
    full = sorted(map(tuple, j(o, li).collect()))
    assert inc == full


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # t (µs)
            st.integers(min_value=-5_000_000, max_value=5_000_000),  # v6
        ),
        min_size=2,
        max_size=25,
    ),
    st.integers(min_value=1, max_value=1_000_000),
)
def test_twa_shift_invariant(spark, points, shift):
    """Time-weighted average is invariant under a uniform time shift —
    the property a plain AVG lacks under irregular sampling. Computed
    with the same exact wide-integer accumulation as the query."""
    rows = [(i, t, v) for i, (t, v) in enumerate(points)]

    def twa(offset):
        df = spark.createDataFrame(rows, "id long, t long, v6 long").select(
            "id", (F.col("t") + F.lit(offset)).alias("t"), "v6"
        )
        from pyspark.sql import Window

        w = Window.orderBy("t", "id")
        d = df.select(
            "v6", (F.lead("t").over(w) - F.col("t")).alias("dt")
        ).filter(F.col("dt").isNotNull())
        r = d.agg(
            F.sum(F.col("v6").cast("decimal(38,0)") * F.col("dt")).alias(
                "num"
            ),
            F.sum("dt").alias("den"),
        ).first()
        if not r["den"]:
            return None
        return (r["num"], r["den"])

    assert twa(0) == twa(shift)


_scd_rows = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),  # key
        st.integers(min_value=0, max_value=20),  # ts (ties allowed)
        st.sampled_from([None, 0.0, 1.0, 2.0]),  # value (NULL runs too)
    ),
    min_size=1,
    max_size=25,
)


@settings(**_SETTINGS)
@given(_scd_rows, st.integers(min_value=0, max_value=21))
def test_scd2_apply_composition_law_random(spark, rows, cut):
    """apply(build(prefix), suffix) == build(full) for a random change log
    and a random TIME split (prefix ts < cut <= suffix ts) — random keys,
    duplicate timestamps tie-broken by event id, NULL values, keys living
    entirely in one side. The fixed-fixture split test can't reach these
    shapes."""
    from featurestore_for_joycastle_java_spark.operators.scd import (
        scd2_apply,
        scd2_build,
    )

    log_rows = [(k, t, v, i) for i, (k, t, v) in enumerate(rows)]
    log = spark.createDataFrame(
        log_rows, "user_id long, t long, value double, event_id long"
    )

    def canon(df):
        return sorted(
            (
                (
                    r["user_id"],
                    r["value"],
                    r["valid_from"],
                    r["valid_to"],
                    r["is_current"],
                )
                for r in df.collect()
            ),
            key=lambda t: tuple((x is None, x) for x in t),
        )

    full = canon(scd2_build(log, "user_id", "t", "value", "event_id"))
    prefix = log.filter(F.col("t") < cut)
    suffix = log.filter(F.col("t") >= cut)
    if prefix.isEmpty():
        # no dim yet: apply's contract needs a seedable dimension; the
        # degenerate split is just build(full) — covered elsewhere
        return
    dim = scd2_build(prefix, "user_id", "t", "value", "event_id")
    applied = scd2_apply(
        dim, suffix, "user_id", "t", "value", "event_id"
    )
    got = canon(applied)
    assert got == full, f"rows={log_rows} cut={cut}: {got} != {full}"


# ---------------------------------------------------------- cosine_pairs

_vec = st.lists(
    st.integers(min_value=-100, max_value=100), min_size=4, max_size=4
)


@settings(**_SETTINGS)
@given(st.lists(_vec, min_size=2, max_size=10))
def test_cosine_pairs_matches_numpy_reference(spark, vecs):
    """cosine_pairs (norms bound once per row — the r9 rewrite) against
    an independent float reference: every pair's 6dp-rounded cosine and
    the thresholded pair set must match exactly. Integer-component
    vectors keep dot/norm exactly representable so the reference is
    unambiguous; zero vectors are skipped (norm 0 -> null cosine, which
    the >= filter drops — mirrored by skipping them here)."""
    import math

    vecs = [v for v in vecs if any(x != 0 for x in v)]
    if len(vecs) < 2:
        return
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<double>",
    )
    from featurestore_for_joycastle_java_spark.operators.similarity import (
        cosine_pairs,
    )

    got = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in cosine_pairs(df, threshold=-1.0).collect()
    }
    for a in range(len(vecs)):
        for b in range(a + 1, len(vecs)):
            dot = sum(x * y for x, y in zip(vecs[a], vecs[b]))
            na = math.sqrt(sum(x * x for x in vecs[a]))
            nb = math.sqrt(sum(x * x for x in vecs[b]))
            # abs-diff on the rounded values, not ==: Python round() is
            # banker's while Spark's F.round is HALF_UP, so an exact 6dp
            # tie (unreachable for these irrational cosines in practice,
            # but Hypothesis explores) would differ by exactly 1e-6
            # (ADVICE r9)
            assert abs(got[(a, b)] - round(dot / (na * nb), 6)) <= 1e-6
