"""Feature operators: EWMA decay — fold semantics, null handling, and
the bounded time-slice envelope."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from featurestore_for_joycastle_java_spark.operators.features import ewma_decay


def _ewma_py(vals, alpha=0.3):
    acc = vals[0]
    for v in vals[1:]:
        acc = alpha * v + (1 - alpha) * acc
    return round(acc, 6)


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "user_id string, ts timestamp, event_id bigint, value double"
    )


def test_ewma_matches_reference_fold(spark):
    rows = [
        ("u1", datetime(2024, 1, 1, 0, 0, i), i, float(v))
        for i, v in enumerate([10, 20, 5, 40])
    ] + [("u2", datetime(2024, 1, 1), 0, 7.0)]
    out = {
        r["user_id"]: r
        for r in ewma_decay(
            _mk(spark, rows), "user_id", "ts", "event_id", "value"
        ).collect()
    }
    assert out["u1"]["ewma_value"] == pytest.approx(
        _ewma_py([10.0, 20.0, 5.0, 40.0]), abs=1e-9
    )
    assert out["u1"]["n_events"] == 4
    # single event: EWMA is the seed value itself
    assert out["u2"]["ewma_value"] == 7.0


def test_ewma_drops_null_values_explicitly(spark):
    rows = [
        ("u1", datetime(2024, 1, 1, 0, 0, 0), 0, 10.0),
        ("u1", datetime(2024, 1, 1, 0, 0, 1), 1, None),
        ("u1", datetime(2024, 1, 1, 0, 0, 2), 2, 20.0),
    ]
    row = ewma_decay(
        _mk(spark, rows), "user_id", "ts", "event_id", "value"
    ).collect()[0]
    # n_events counts only the values that entered the fold
    assert row["n_events"] == 2
    assert row["ewma_value"] == pytest.approx(_ewma_py([10.0, 20.0]), abs=1e-9)


def test_ewma_since_bounds_the_time_slice(spark):
    rows = [
        ("u1", datetime(2024, 1, d, 0, 0, 0), d, float(d)) for d in range(1, 11)
    ]
    df = _mk(spark, rows)
    cut = datetime(2024, 1, 6)
    bounded = ewma_decay(
        df, "user_id", "ts", "event_id", "value", since=F.lit(cut)
    ).collect()[0]
    # the bounded run IS the unbounded run over the pre-filtered slice —
    # a hot entity's aggregation buffer holds only the slice's events
    unbounded_on_slice = ewma_decay(
        df.filter(F.col("ts") >= F.lit(cut)),
        "user_id",
        "ts",
        "event_id",
        "value",
    ).collect()[0]
    assert bounded["n_events"] == 5
    assert bounded["ewma_value"] == unbounded_on_slice["ewma_value"]
    assert bounded["ewma_value"] == pytest.approx(
        _ewma_py([6.0, 7.0, 8.0, 9.0, 10.0]), abs=1e-9
    )


def test_ewma_since_predicate_reaches_the_scan(spark, tmp_path):
    # the time-slice bound must push down to the parquet scan (at 100 TB
    # the filter shrinks the read, not just the state)
    rows = [
        ("u1", datetime(2024, 1, d, 0, 0, 0), d, float(d)) for d in range(1, 11)
    ]
    p = str(tmp_path / "ev.parquet")
    _mk(spark, rows).write.parquet(p)
    plan = ewma_decay(
        spark.read.parquet(p),
        "user_id",
        "ts",
        "event_id",
        "value",
        since=F.lit(datetime(2024, 1, 6)),
    )._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "GreaterThanOrEqual" in plan


# --- r4 behavioral queries: funnel ordering + repetition fold ---------------


def test_funnel_requires_stage_order(spark, tmp_path):
    """A click BEFORE the first view must not count as view→click, and a
    purchase before the qualifying click must not count either — the
    ordering constraint is the whole point of a funnel vs three counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from featurestore_for_joycastle_java_spark.catalog.windows import (
        funnel_conversion,
    )

    rows = [
        # u1: proper view -> click -> purchase
        (1, "2024-01-01 00:00:00", 1, "view"),
        (2, "2024-01-01 00:01:00", 1, "click"),
        (3, "2024-01-01 00:02:00", 1, "purchase"),
        # u2: click precedes the only view -> no view_click
        (4, "2024-01-01 00:00:00", 2, "click"),
        (5, "2024-01-01 00:01:00", 2, "view"),
        # u3: purchase precedes the qualifying click -> view_click only
        (6, "2024-01-01 00:00:00", 3, "view"),
        (7, "2024-01-01 00:00:30", 3, "purchase"),
        (8, "2024-01-01 00:01:00", 3, "click"),
        # u4: never viewed
        (9, "2024-01-01 00:00:00", 4, "error"),
    ]
    import datetime as _dt

    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [_dt.datetime.fromisoformat(r[1]) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    row = funnel_conversion(spark, str(tmp_path)).collect()[0]
    assert row["n_users"] == 4
    assert row["n_view"] == 3  # u1, u2, u3
    assert row["n_view_click"] == 2  # u1, u3 (u2's click was too early)
    assert row["n_view_click_purchase"] == 1  # u1 only


def test_repetition_fold_counts_top_bigram(spark, tmp_path):
    """'a b a b a b' -> bigrams [ab, ba, ab, ba, ab]: top fraction 3/5,
    duplicate fraction 1 - 2/5; single-token docs are excluded."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from featurestore_for_joycastle_java_spark.catalog.text import (
        text_repetition,
    )

    docs = pa.table(
        {
            "doc_id": pa.array([0, 1, 2], pa.int64()),
            "text": pa.array(["a b a b a b", "x y z", "solo"], pa.string()),
            "lang": pa.array(["en"] * 3, pa.string()),
            "source": pa.array(["s"] * 3, pa.string()),
            "n_chars": pa.array([11, 5, 4], pa.int64()),
        }
    )
    pq.write_table(docs, str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r for r in text_repetition(spark, str(tmp_path)).collect()}
    assert set(out) == {0, 1}  # doc 2 has one token -> no bigrams
    assert out[0]["n_2grams"] == 5
    assert out[0]["top_2gram_frac"] == pytest.approx(0.6)
    assert out[0]["dup_2gram_frac"] == pytest.approx(0.6)
    assert bool(out[0]["is_repetitive"]) is True
    assert out[1]["top_2gram_frac"] == pytest.approx(0.5)
    assert bool(out[1]["is_repetitive"]) is True  # 0.5 > 0.18


def test_rfm_scores_are_exact_quintiles(spark, sf_dir):
    """r/f/m scores must partition users into NTILE(5)-exact quintiles:
    sizes differ by at most one and ordering is honored (a more recent
    user never has a worse r_score than a less recent one)."""
    from collections import Counter

    from featurestore_for_joycastle_java_spark.catalog.features import feature_rfm

    rows = feature_rfm(spark, sf_dir).collect()
    n = len(rows)
    for col in ("r_score", "f_score", "m_score"):
        sizes = Counter(r[col] for r in rows)
        assert set(sizes) == set(range(1, 6))
        assert max(sizes.values()) - min(sizes.values()) <= 1, (col, sizes)
    by_rec = sorted(rows, key=lambda r: (r["recency_days"], r["user_id"]))
    scores = [r["r_score"] for r in by_rec]
    assert scores == sorted(scores), "r_score must be monotone in recency order"


def test_scd2_collapses_runs_and_effective_dates(spark, tmp_path):
    """Consecutive identical values collapse into one validity interval;
    a value that recurs later opens a NEW interval; the last interval is
    open-ended and is_current."""
    import datetime as _dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from featurestore_for_joycastle_java_spark.catalog.features import (
        feature_scd2_history,
    )

    t0 = _dt.datetime(2024, 1, 1)
    rows = [  # (event_id, minutes, value)
        (1, 0, 5.0),
        (2, 10, 5.0),  # unchanged -> collapsed into the first interval
        (3, 20, 7.0),  # change
        (4, 30, 5.0),  # back to 5.0 -> NEW interval, not merged
    ]
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array(
                [t0 + _dt.timedelta(minutes=r[1]) for r in rows],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array(["purchase"] * len(rows), pa.string()),
            "value": pa.array([r[2] for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    out = sorted(
        feature_scd2_history(spark, str(tmp_path)).collect(),
        key=lambda r: r["valid_from_us"],
    )
    us = lambda m: int((t0 + _dt.timedelta(minutes=m)).timestamp() * 1e6)
    assert [(r["value"], r["valid_from_us"], r["valid_to_us"]) for r in out] == [
        (5.0, us(0), us(20)),
        (7.0, us(20), us(30)),
        (5.0, us(30), None),
    ]
    assert [bool(r["is_current"]) for r in out] == [False, False, True]


def test_zscore_flags_only_outliers(spark, tmp_path):
    """z-scores must match the textbook sample formula computed in
    Python, and only |z| > 3 rows survive."""
    import datetime as _dt
    import math

    import pyarrow as pa
    import pyarrow.parquet as pq

    from featurestore_for_joycastle_java_spark.catalog.features import (
        feature_anomaly_zscore,
    )

    vals = [10.0] * 20 + [10.5] * 20 + [100.0]  # one extreme outlier
    n = len(vals)
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [_dt.datetime(2024, 1, 1)] * n, pa.timestamp("us")
            ),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(["click"] * n, pa.string()),
            "value": pa.array(vals, pa.float64()),
            "props": pa.array(["{}"] * n, pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    out = feature_anomaly_zscore(spark, str(tmp_path)).collect()
    mean = sum(vals) / n
    var = (sum(v * v for v in vals) - n * mean * mean) / (n - 1)
    z100 = round((100.0 - mean) / math.sqrt(var), 6)
    assert [(r["event_id"], r["zscore"]) for r in out] == [(n - 1, z100)]


def test_asof_nearest_prefers_closer_and_breaks_ties_backward(spark):
    """Nearest-in-time: closer side wins; exact ties go backward; a left
    row with matches on only one side takes that side."""
    from featurestore_for_joycastle_java_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 100), (2, 205), (3, 10)], "event_id bigint, t_us bigint"
    ).withColumn("user_id", F.lit(1))
    right = spark.createDataFrame(
        [(11, 90), (12, 110), (13, 200), (14, 210)],
        "rid bigint, t_us bigint",
    ).withColumn("user_id", F.lit(1))
    out = {
        r["event_id"]: r
        for r in asof_join(
            left,
            right,
            on=["user_id"],
            left_ts="t_us",
            right_ts="t_us",
            right_cols=["rid"],
            direction="nearest",
        ).collect()
    }
    # event 1 at t=100: backward 90 (d=10) vs forward 110 (d=10) — tie -> backward
    assert out[1]["rid"] == 11 and out[1]["t_us_matched"] == 90
    # event 2 at t=205: backward 200 (d=5) vs forward 210 (d=5) — tie -> backward;
    assert out[2]["rid"] == 13
    # event 3 at t=10: no backward match -> forward 90
    assert out[3]["rid"] == 11 and out[3]["t_us_matched"] == 90
