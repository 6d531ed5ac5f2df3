"""Streaming cohort activity (stateful.running_cohort_activity) must
reproduce the batch cohort_retention cells exactly: each (cohort_week,
week_offset, user) emitted once, counts per cell equal to the batch query.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.streaming.stateful import running_cohort_activity
from tabular_cdc_bootstrapper_spark.streaming.windows import (
    EVENTS_STREAM_SCHEMA,
    run_stream_to_memory,
)

# the interleaved + sentinel funnel_dir fixture (conftest.py) applies the
# same out-of-order stress here
SENTINEL_USER = -1  # matches conftest.SENTINEL_USER


def test_streaming_cohort_matches_batch_query(spark, sf_dir, funnel_dir):  # noqa: F811
    from tabular_cdc_bootstrapper_spark.queries._registry import QUERIES

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(funnel_dir)
        .withWatermark("ts", "30 minutes")
    )
    run_stream_to_memory(running_cohort_activity(stream), "cohort_cells", "update")
    cells = spark.sql("SELECT * FROM cohort_cells").toPandas()
    cells = cells[cells["user_id"] != SENTINEL_USER]
    assert len(cells), "stream emitted nothing"

    # exactly-once per (user, cohort_week, offset): row count per cell IS
    # the distinct-user count
    assert not cells.duplicated().any()
    got = (
        cells.groupby(["cohort_week", "week_offset"])
        .size()
        .reset_index(name="n_active")
    )

    batch = QUERIES["cohort_retention"](spark, sf_dir).toPandas()
    key = ["cohort_week", "week_offset"]
    got = got.sort_values(key).reset_index(drop=True)
    batch = (
        batch.astype({"week_offset": "int64", "n_active": "int64"})
        .sort_values(key)
        .reset_index(drop=True)
    )
    got = got.astype({"week_offset": "int64", "n_active": "int64"})
    assert got[key + ["n_active"]].equals(batch[key + ["n_active"]]), (
        f"\nstreaming:\n{got}\nbatch:\n{batch}"
    )


def test_same_microsecond_signup_and_activity_counts(spark, tmp_path):
    """Batch semantics are inclusive (ts >= signup_ts): an activity at the
    SAME microsecond as the earliest signup belongs to the offset-0 cell.
    Regression: a single time-sorted drain processed ('click' < 'signup'
    alphabetically) before the signup registered, losing the cell."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 8, 12, 0, 0)
    rows = [
        (1, t0, 77, "click", 1.0, "{}"),    # same µs as the signup below
        (2, t0, 77, "signup", 1.0, "{}"),
    ]
    df = spark.createDataFrame(rows, EVENTS_STREAM_SCHEMA)
    df.coalesce(1).write.parquet(str(tmp_path / "f1"))
    for i, name in enumerate(["s1", "s2"]):  # sentinels flush the buffer
        spark.createDataFrame(
            [(100 + i, t0 + dt.timedelta(hours=10 + i), -1, "noop", 0.0, "{}")],
            EVENTS_STREAM_SCHEMA,
        ).coalesce(1).write.parquet(str(tmp_path / name))

    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(tmp_path))
        .withWatermark("ts", "30 minutes")
    )
    run_stream_to_memory(running_cohort_activity(stream), "cohort_tie", "update")
    cells = spark.sql(
        "SELECT * FROM cohort_tie WHERE user_id = 77"
    ).collect()
    assert [(r["cohort_week"], r["week_offset"]) for r in cells] == [
        ("2024-01-08", 0)
    ]
