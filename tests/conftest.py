from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from tabular_cdc_bootstrapper_spark.session import get_spark

    # AQE off for the TEST session only (r16): at fixture scale every
    # exchange otherwise becomes its own stage-job submission + replan,
    # and the suite is thousands of sub-second actions — pure scheduling
    # overhead with zero semantic effect (results are AQE-invariant).
    # Production/bench sessions keep session.py's AQE-on defaults; the
    # one test that PINS AQE behavior (test_aqe_skew_join_rewrite...)
    # re-enables it via spark.conf for its own scope.
    #
    # Likewise the TEST master runs 8 cores, not the host's 32 (r16):
    # at sf0.001 every stage otherwise schedules up to 32 near-empty
    # tasks, and task-launch overhead dominates — measured 2.2× on the
    # two heaviest modules (test_data_quality_ops 174→80 s,
    # test_alter_schema 60.7→30.2 s), results identical (no test pins a
    # partition/core count, and the engine must be correct at ANY core
    # count — the driver itself benches at several). Override via
    # SPARK_GRAFT_TEST_CPUS; an explicit SPARK_MASTER always wins.
    # bench.py is untouched: it keeps master=local[$SPARK_GRAFT_CPUS]
    # per the driver contract.
    os.environ.setdefault(
        "SPARK_MASTER",
        f"local[{os.environ.get('SPARK_GRAFT_TEST_CPUS', '8')}]",
    )
    # The TEST driver heap is 8g, not get_spark's 16g: under 16g the
    # suite's JVM reached 9.5 GB resident on a 15 GB host, too little
    # room left for a second Spark JVM (a subprocess test, a benchmark).
    # The heap it kept across young collections (survivor + old) peaked
    # at 3.7 GB; 8g is about twice that. (G1 grows eden into whatever the
    # cap allows, so the eden-inclusive peak measures the cap, not the
    # need.)
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "8g")
    spark = get_spark(
        "tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.adaptive.enabled": os.environ.get(
                "SPARK_GRAFT_TEST_AQE", "false"
            )
        },
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


SENTINEL_USER = -1


@pytest.fixture(scope="session")
def funnel_dir(spark, sf_dir, tmp_path_factory):
    """Events split into two fully time-overlapping files (odd/even ids,
    arrival order != event order), plus two far-future sentinel files:
    sentinel 1 drags the watermark past every real event; sentinel 2's
    batch then fires the EventTimeTimeout that flushes every user's
    remaining buffer (no reliance on trailing no-data micro-batches).
    Shared by the stateful-streaming twin tests (funnel, cohort)."""
    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.queries._registry import _load_events

    out = tmp_path_factory.mktemp("funnel_stream")
    e = _load_events(spark, f"{SF_SMOKE}/events.parquet").withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    e.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(str(out / "f1"))
    e.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(str(out / "f2"))
    far = e.agg((F.max("ts") + F.expr("INTERVAL 10 HOURS")).alias("ts"))
    for i, name in enumerate(["f3_sentinel", "f4_sentinel"]):
        far.select(
            F.lit(10_000_000 + i).cast("long").alias("event_id"),
            (F.col("ts") + F.expr(f"INTERVAL {i} HOURS")).alias("ts"),
            F.lit(SENTINEL_USER).cast("long").alias("user_id"),
            F.lit("noop").alias("event_type"),
            F.lit(0.0).alias("value"),
            F.lit("{}").alias("props"),
        ).coalesce(1).write.parquet(str(out / name))
    return str(out)


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events "
        "documents embeddings".split()
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_SMOKE}/{t}.parquet'"
        )
    yield con
    con.close()
