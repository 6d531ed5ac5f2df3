#!/usr/bin/env python
"""SCALING probe (r14, VERDICT r13 #6): what does the Python-datasource
FIRST drain cost over a warm one, and does a micro prewarm at session
start close the gap?

r13 measured the declarative view's first drain at 14.9 s vs 4.1 s warm
(probe_declarative_view.py) — bench hides it behind warm-discard, but a
product session pays it once per process. Hypotheses: (a) the streaming
planner's Python worker + its pandas/pyarrow imports, (b) executor
Python workers' first-batch imports, (c) JVM codegen for the
micro-batch plan. All three are SESSION-scoped, so draining a 1-row
throwaway view at session start (``prewarm``) should move the cost out
of the first real drain.

Run with PREWARM=1/0 to measure both arms in fresh interpreters:

    PREWARM=0 python scripts/probe_datasource_spinup.py
    PREWARM=1 python scripts/probe_datasource_spinup.py
"""
from __future__ import annotations

import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def _drain(spark, src_root, view_root, ckpt, v0) -> float:
    t0 = time.time()
    q = (
        spark.readStream.format("table_changes")
        .option("path", src_root)
        .option("keyCols", "o_orderkey")
        .option("startingVersion", str(v0))
        .option("emitPreimage", "true")
        .load()
        .writeStream.format("state_table")
        .option("path", view_root)
        .option("mode", "additive")
        .option("groupCols", "o_orderstatus")
        .option("sumCols", "total_price=o_totalprice")
        .option("countCol", "n_orders")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return time.time() - t0


def main() -> None:
    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.session import get_spark
    from tabular_cdc_bootstrapper_spark.streaming.datasource import (
        prewarm_stream_sources,
        register_stream_sources,
    )
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    prewarm = os.environ.get("PREWARM", "0") == "1"
    spark = get_spark("probe-dsspin", shuffle_partitions=32)
    register_stream_sources(spark)
    t_pre = 0.0
    if prewarm:
        t0 = time.time()
        prewarm_stream_sources(spark)
        t_pre = time.time() - t0
    work = tempfile.mkdtemp(prefix="probe_dsspin_")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    a = VersionedBucketMirror(
        f"{work}/src", n_buckets=32, key_col="o_orderkey", keep_versions=20
    )
    a.initialize(o)
    v0 = a.history()[0]["version"]
    view = VersionedBucketMirror(
        f"{work}/view", n_buckets=8, key_col="o_orderstatus",
        keep_versions=20, merge_on_read=True,
    )
    view.initialize(
        o.groupBy("o_orderstatus").agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_totalprice").cast("double").alias("total_price"),
        )
    )
    results = {"prewarm": prewarm, "prewarm_s": round(t_pre, 2)}
    a.update_where(
        spark, "o_orderkey % 100 = 0", {"o_totalprice": "o_totalprice + 1"}
    )
    results["first_drain_s"] = round(
        _drain(spark, a.root, view.root, f"{work}/ckpt", v0), 2
    )
    warms = []
    for i in range(3):
        a.update_where(
            spark,
            f"o_orderkey % 100 = {i + 1}",
            {"o_totalprice": "o_totalprice + 1"},
        )
        warms.append(_drain(spark, a.root, view.root, f"{work}/ckpt", v0))
    results["warm_drains_s"] = [round(w, 2) for w in warms]
    results["warm_median_s"] = round(sorted(warms)[1], 2)
    results["first_over_warm"] = round(
        results["first_drain_s"] / results["warm_median_s"], 2
    )
    print(results)


if __name__ == "__main__":
    main()
