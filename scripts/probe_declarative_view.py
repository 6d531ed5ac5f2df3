#!/usr/bin/env python
"""SCALING probe (r13): additive maintained-view cost vs from-scratch
recompute at sf0.1 — is maintenance ∝ delta, and what's the fixed
per-drain overhead? Also the 10x-delta scaling of the drain itself."""
from __future__ import annotations

import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.session import get_spark
    from tabular_cdc_bootstrapper_spark.streaming.datasource import (
        register_stream_sources,
    )
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("probe-declview", shuffle_partitions=32)
    register_stream_sources(spark)
    work = tempfile.mkdtemp(prefix="probe_declview_")
    o = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    n = o.count()
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

    def drain() -> float:
        t0 = time.time()
        q = (
            spark.readStream.format("table_changes")
            .option("path", a.root)
            .option("keyCols", "o_orderkey")
            .option("startingVersion", str(v0))
            .option("emitPreimage", "true")
            .load()
            .writeStream.format("state_table")
            .option("path", view.root)
            .option("mode", "additive")
            .option("groupCols", "o_orderstatus")
            .option("sumCols", "total_price=o_totalprice")
            .option("countCol", "n_orders")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return time.time() - t0

    results = {"rows": n}
    # delta 1%: update ~1% of keys
    a.update_where(spark, "o_orderkey % 100 = 0", {"o_totalprice": "o_totalprice + 1"})
    results["drain_1pct_s"] = round(drain(), 2)
    # delta 10%: ten times the rows
    a.update_where(spark, "o_orderkey % 10 = 3", {"o_totalprice": "o_totalprice + 1"})
    results["drain_10pct_s"] = round(drain(), 2)
    # no-op drain: fixed overhead floor
    results["drain_noop_s"] = round(drain(), 2)
    # recompute comparison: full groupBy of the mutated table
    t0 = time.time()
    a.read(spark).groupBy("o_orderstatus").agg(
        F.count("*").alias("n"), F.sum("o_totalprice").alias("s")
    ).collect()
    results["recompute_s"] = round(time.time() - t0, 2)
    # correctness cross-check
    import pandas as pd

    got = (
        view.read(spark)
        .orderBy("o_orderstatus")
        .toPandas()
        .round(2)
    )
    exp = (
        a.read(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum("o_totalprice").cast("double").alias("total_price"),
        )
        .orderBy("o_orderstatus")
        .toPandas()
        .round(2)
    )
    results["state_matches"] = bool(
        got.reset_index(drop=True).equals(exp.reset_index(drop=True))
    )
    print(results)


if __name__ == "__main__":
    main()
