"""Declarative constraints (functions/constraints.py): each rule kind
counts exactly the planted violations, uniqueness handles NULL keys, and
the row-level rules share one scan. Oracle parity at fixture scale:
test_oracle_parity (orders_constraint_report)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.functions.constraints import (
    Rule,
    check_constraints,
    foreign_key,
    in_range,
    in_set,
    matches,
    not_null,
    unique,
)


def _report(df, rules):
    return {
        r["rule"]: (r["n_violations"], r["passed"])
        for r in check_constraints(df, rules).collect()
    }


def test_row_level_rules_count_planted_violations(spark):
    df = spark.createDataFrame(
        [(1, 5, "A", "x-1"), (2, -3, "B", "y-2"), (None, 500, "A", "zz")],
        "k long, v long, s string, code string",
    )
    got = _report(
        df,
        [
            not_null("k"),
            in_range("v", 0, 100),
            in_set("s", ["A"]),
            matches("code", "^[a-z]-[0-9]$"),
        ],
    )
    assert got["not_null(k)"] == (1, False)
    assert got["in_range(v,0,100)"] == (2, False)  # -3 and 500
    assert got["in_set(s)"] == (1, False)  # 'B'
    assert got["matches(code)"] == (1, False)  # 'zz'


def test_unique_counts_duplicates_and_null_keys(spark):
    df = spark.createDataFrame(
        [(1,), (1,), (1,), (2,), (None,)], "k long"
    )
    got = _report(df, [unique("k")])
    # 5 rows − 2 distinct non-null − 1 null-keyed = 2 extra copies of k=1
    assert got["unique(k)"] == (2, False)


def test_unique_passes_on_clean_keys(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "k long")
    assert _report(df, [unique("k")])["unique(k)"] == (0, True)


def test_foreign_key_counts_orphans(spark):
    child = spark.createDataFrame([(1,), (2,), (9,), (9,)], "fk long")
    parent = spark.createDataFrame([(1,), (2,), (3,)], "pk long")
    got = _report(child, [foreign_key("fk", parent, "pk")])
    assert got["foreign_key(fk)"] == (2, False)  # both 9-rows orphaned


def test_foreign_key_null_child_keys_pass(spark):
    """ADVICE r8: SQL FK semantics (ANSI MATCH SIMPLE) — a NULL child key
    is NOT an orphan; NULL checks belong to not_null rules."""
    child = spark.createDataFrame([(1,), (None,), (None,), (9,)], "fk long")
    parent = spark.createDataFrame([(1,), (2,)], "pk long")
    got = _report(
        child, [foreign_key("fk", parent, "pk"), not_null("fk")]
    )
    assert got["foreign_key(fk)"] == (1, False)  # only the 9-row
    assert got["not_null(fk)"] == (2, False)  # NULLs fail separately


def test_rule_requires_exactly_one_kind():
    with pytest.raises(ValueError):
        Rule("bad")
    with pytest.raises(ValueError):
        Rule("bad", violation_cond=F.lit(True), unique_cols=["k"])


def test_row_rules_share_one_scan(spark, sf_dir):
    """All row-level rules + uniqueness must ride a single orders scan —
    one scan node in the non-FK part of the plan (the FK anti-join adds
    its own, like the profiler's documented Expand cost)."""
    from tabular_cdc_bootstrapper_spark import queries as q
    from tabular_cdc_bootstrapper_spark.plans.inspect import scan_read_columns

    df = q.orders_constraint_report(spark, sf_dir)
    scans = scan_read_columns(df)
    # orders appears twice (agg + FK child side), customer once
    assert len(scans) <= 3


def test_empty_table_reports_zero_violations_everywhere(spark):
    """SUM over an empty table is NULL in SQL; the report must still read
    0 violations / passed=true for every rule kind (the legitimate
    empty-ingest case), consistent with the FK path."""
    empty = spark.createDataFrame([], "k long, s string")
    parent = spark.createDataFrame([(1,)], "pk long")
    got = _report(
        empty,
        [not_null("k"), unique("k"), foreign_key("k", parent, "pk")],
    )
    assert got == {
        "not_null(k)": (0, True),
        "unique(k)": (0, True),
        "foreign_key(k)": (0, True),
    }


def test_empty_unique_cols_rejected():
    with pytest.raises(ValueError, match="non-empty"):
        unique()


# --- anomaly rules vs snapshot history (r9) ---


def _anomaly_report(baseline, current, rules):
    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        check_anomalies,
    )

    return {
        r["rule"]: (r["baseline"], r["observed"], r["passed"])
        for r in check_anomalies(baseline, current, rules).collect()
    }


def test_anomaly_row_count_band(spark):
    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        row_count_within,
    )

    base = spark.range(100)
    cur = spark.range(93)  # 7% drop
    got = _anomaly_report(
        base, cur, [row_count_within(5, 100), row_count_within(10, 100)]
    )
    assert got["row_count_within(5/100)"] == (100, 93, False)
    assert got["row_count_within(10/100)"] == (100, 93, True)
    # growth counts too (two-sided)
    got2 = _anomaly_report(base, spark.range(108), [row_count_within(5, 100)])
    assert got2["row_count_within(5/100)"] == (100, 108, False)


def test_anomaly_zero_baseline_passes_only_when_zero(spark):
    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        row_count_within,
    )

    empty = spark.range(0)
    assert _anomaly_report(empty, spark.range(0), [row_count_within(50, 100)])[
        "row_count_within(50/100)"
    ] == (0, 0, True)
    assert _anomaly_report(empty, spark.range(3), [row_count_within(50, 100)])[
        "row_count_within(50/100)"
    ] == (0, 3, False)


def test_anomaly_null_rate_is_one_sided(spark):
    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        null_rate_within,
    )

    def frame(n_null, n_val):
        rows = [(None,)] * n_null + [("x",)] * n_val
        return spark.createDataFrame(rows, "c string")

    # 10% -> 25% null rate: +15 points, fails a 10-point band
    got = _anomaly_report(
        frame(10, 90), frame(25, 75), [null_rate_within("c", 10, 100)]
    )
    assert got["null_rate_within(c,10/100)"] == (10, 25, False)
    # 10% -> 15%: +5 points, passes
    got = _anomaly_report(
        frame(10, 90), frame(15, 85), [null_rate_within("c", 10, 100)]
    )
    assert got["null_rate_within(c,10/100)"] == (10, 15, True)
    # IMPROVING null rate always passes (one-sided)
    got = _anomaly_report(
        frame(50, 50), frame(0, 100), [null_rate_within("c", 1, 100)]
    )
    assert got["null_rate_within(c,1/100)"] == (50, 0, True)
    # empty side: vacuous pass
    got = _anomaly_report(
        frame(0, 0), frame(5, 5), [null_rate_within("c", 1, 100)]
    )
    assert got["null_rate_within(c,1/100)"][2] is True


def test_anomaly_vs_previous_resolves_history(spark, tmp_path):
    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        check_anomalies_vs_previous,
        row_count_within,
    )
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(spark.range(100))
    t.commit(spark.range(90))
    t.commit(spark.range(89))
    # default: current (v2=89) vs its predecessor (v1=90) -> ~1% drop
    got = {
        r["rule"]: r["passed"]
        for r in check_anomalies_vs_previous(
            spark, t, [row_count_within(5, 100)]
        ).collect()
    }
    assert got == {"row_count_within(5/100)": True}
    # explicit version: v1 (90) vs v0 (100) -> 10% drop fails the 5% band
    got = {
        r["rule"]: r["passed"]
        for r in check_anomalies_vs_previous(
            spark, t, [row_count_within(5, 100)], current_version=1
        ).collect()
    }
    assert got == {"row_count_within(5/100)": False}
    with pytest.raises(ValueError, match="no readable predecessor"):
        check_anomalies_vs_previous(
            spark, t, [row_count_within(5, 100)], current_version=0
        )


def test_anomaly_vs_previous_skips_expired_history(spark, tmp_path):
    """ADVICE r9: the baseline must resolve to the nearest READABLE
    predecessor — expired snapshots (data reclaimed) are skipped with a
    clear error, never a raw parquet read failure."""
    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        check_anomalies_vs_previous,
        row_count_within,
    )
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    t = ParquetStateTable(str(tmp_path / "t"), keep_versions=10)
    t.commit(spark.range(100))
    t.commit(spark.range(98))
    t.commit(spark.range(97))
    t.expire_snapshots(keep_last=2)  # v0's data is reclaimed
    # default gate: v2 vs v1 (both readable) still works
    got = {
        r["rule"]: r["passed"]
        for r in check_anomalies_vs_previous(
            spark, t, [row_count_within(5, 100)]
        ).collect()
    }
    assert got == {"row_count_within(5/100)": True}
    # v1's only predecessor (v0) is expired -> descriptive error
    with pytest.raises(ValueError, match="no readable predecessor"):
        check_anomalies_vs_previous(
            spark, t, [row_count_within(5, 100)], current_version=1
        )
    # an expired current_version is rejected descriptively too
    with pytest.raises(ValueError, match="expired or unknown"):
        check_anomalies_vs_previous(
            spark, t, [row_count_within(5, 100)], current_version=0
        )


def test_anomaly_rule_validation():
    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        AnomalyRule,
    )

    with pytest.raises(ValueError, match="unknown anomaly metric"):
        AnomalyRule("x", "median", (1, 100))
    with pytest.raises(ValueError, match="needs a column"):
        AnomalyRule("x", "sum", (1, 100))
    with pytest.raises(ValueError, match="tolerance"):
        AnomalyRule("x", "row_count", (1, 0))
