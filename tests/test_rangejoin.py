"""Property + edge tests for banded_range_join (operators/rangejoin.py).

The oracle is a per-row Python brute force over the same tuples: a pair
(l, r) matches iff keys are equal and
``l.ts + lower <= r.ts <= l.ts + upper`` (both bounds inclusive) — the
banding is an execution strategy and must be invisible in the result.
"""

from __future__ import annotations

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.operators.rangejoin import (
    banded_range_join,
)

range_strategy = st.tuples(
    st.lists(  # left: (key, ts_seconds)
        st.tuples(st.integers(1, 4), st.integers(0, 120)), min_size=1, max_size=15
    ),
    st.lists(  # right: (key, ts_seconds), (key, ts) deduped for stable vals
        st.tuples(st.integers(1, 4), st.integers(0, 120)), min_size=0, max_size=15
    ),
    st.integers(-30, 30),  # lower_s
    st.integers(0, 60),  # window span (upper = lower + span)
    st.sampled_from([None, 1, 7, 30]),  # band_width_s override
)


def _dfs(spark, lefts, rights):
    left_df = spark.createDataFrame(
        [(k, t, i) for i, (k, t) in enumerate(lefts)],
        "k long, lts long, rowid long",
    ).withColumn("lts", F.timestamp_seconds(F.col("lts")))
    right_rows = [(k, t, k * 1000 + t) for (k, t) in rights] or [(0, 0, 0)]
    right_df = spark.createDataFrame(right_rows, "k long, rts long, val long")
    if not rights:
        right_df = right_df.filter(F.col("k") < 0)
    return left_df, right_df.withColumn("rts", F.timestamp_seconds(F.col("rts")))


@settings(max_examples=20, deadline=None, suppress_health_check=list(HealthCheck))
@given(data=range_strategy)
def test_range_join_matches_brute_force(spark, data):
    lefts, rights, lower, span, bw = data
    rights = list({(k, t) for (k, t) in rights})
    upper = lower + span
    left_df, right_df = _dfs(spark, lefts, rights)

    out = banded_range_join(
        left_df,
        right_df,
        on="k",
        left_ts="lts",
        right_ts="rts",
        lower_s=lower,
        upper_s=upper,
        band_width_s=bw,
    ).collect()
    got = {(r["rowid"], r["val_r"]) for r in out}

    expected = {
        (i, rk * 1000 + rt)
        for i, (lk, lt) in enumerate(lefts)
        for (rk, rt) in rights
        if rk == lk and lt + lower <= rt <= lt + upper
    }
    assert got == expected


def test_bounds_are_inclusive(spark):
    """Both window edges match — banding must not shave an edge row that
    lands exactly on a band boundary."""
    left, right = _dfs(spark, [(1, 60)], [(1, 60), (1, 90), (1, 91), (1, 59)])
    out = banded_range_join(
        left, right, on="k", left_ts="lts", right_ts="rts", lower_s=0, upper_s=30
    ).collect()
    matched = sorted(r["val_r"] for r in out)
    assert matched == [1060, 1090]  # ts=60 (lower edge) and ts=90 (upper edge)


def test_negative_window_looks_back(spark):
    left, right = _dfs(spark, [(1, 100)], [(1, 69), (1, 70), (1, 100), (1, 101)])
    out = banded_range_join(
        left, right, on="k", left_ts="lts", right_ts="rts", lower_s=-30, upper_s=0
    ).collect()
    assert sorted(r["val_r"] for r in out) == [1070, 1100]


def test_empty_window_rejected(spark):
    left, right = _dfs(spark, [(1, 0)], [(1, 0)])
    with pytest.raises(ValueError, match="empty window"):
        banded_range_join(
            left, right, on="k", left_ts="lts", right_ts="rts", lower_s=5, upper_s=4
        )


def test_suffix_collision_rejected(spark):
    left, right = _dfs(spark, [(1, 0)], [(1, 0)])
    left = left.withColumn("val_r", F.lit(1))
    with pytest.raises(ValueError, match="collide"):
        banded_range_join(
            left, right, on="k", left_ts="lts", right_ts="rts", lower_s=0, upper_s=1
        )


def test_ntz_window_is_timezone_independent(spark):
    """TIMESTAMP_NTZ inputs are wall clocks: two events 80 wall-clock
    minutes apart across a spring-forward gap must NOT match a 30-min
    window, whatever the session timezone (the naive cast-to-instant
    conversion reads them as 20 minutes apart and emits the pair)."""
    saved = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        left = spark.sql(
            "SELECT 1 AS k, TIMESTAMP_NTZ'2024-03-10 01:50:00' AS lts"
        )
        right = spark.sql(
            "SELECT 1 AS k, TIMESTAMP_NTZ'2024-03-10 03:10:00' AS rts, 99 AS val"
        )
        out = banded_range_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            lower_s=0, upper_s=1800,
        ).collect()
        assert out == []  # 80 wall-clock minutes > 30-min window
        # and a genuine 20-wall-clock-minute pair still matches (both
        # literals must EXIST as NY local times — Spark parses NTZ
        # literals through the session zone, shifting gap times)
        left2 = spark.sql(
            "SELECT 1 AS k, TIMESTAMP_NTZ'2024-03-10 01:30:00' AS lts"
        )
        right2 = spark.sql(
            "SELECT 1 AS k, TIMESTAMP_NTZ'2024-03-10 01:50:00' AS rts, 7 AS val"
        )
        out2 = banded_range_join(
            left2, right2, on="k", left_ts="lts", right_ts="rts",
            lower_s=0, upper_s=1800,
        ).collect()
        assert [r["val_r"] for r in out2] == [7]
    finally:
        spark.conf.set("spark.sql.session.timeZone", saved)


def test_mixed_timestamp_kinds_rejected(spark):
    """NTZ wall-clock µs and instant µs are different epoch frames — a
    mixed pair must refuse rather than silently shift every window by
    the session-zone offset."""
    left = spark.sql("SELECT 1 AS k, TIMESTAMP'2024-01-01 00:00:00' AS lts")
    right = spark.sql(
        "SELECT 1 AS k, TIMESTAMP_NTZ'2024-01-01 00:00:00' AS rts, 1 AS val"
    )
    with pytest.raises(ValueError, match="mixed timestamp kinds"):
        banded_range_join(
            left, right, on="k", left_ts="lts", right_ts="rts",
            lower_s=0, upper_s=60,
        )
