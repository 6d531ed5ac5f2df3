#!/usr/bin/env python
"""Rebucket-cost probe (r11, VERDICT task 4): ``rebucket(new_n)`` must
cost ∝ LIVE DATA, independent of history length.

Fixed 600k-row mirror (8 → 64 buckets) rebucketed twice: once with a
2-commit history and once with a 22-commit history (20 extra tiny
merges). Pass criterion: rebucket wall time is ~equal in both — the
rewrite reads only the CURRENT manifest's dirs, never the history.
A second axis steps data 600k → 6M at fixed history to show the cost
that IS proportional (the data rewrite itself).
"""
from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    import tempfile

    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.session import get_spark
    from tabular_cdc_bootstrapper_spark.shipping import ensure_self_on_workers
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    spark = get_spark("probe-rebucket", shuffle_partitions=32)
    ensure_self_on_workers(spark)
    target = CdcTarget(
        source_uri="file:///tmp/x", key_column="id", ts_column="ts"
    )

    def build(n_rows: int, n_history: int) -> VersionedBucketMirror:
        m = VersionedBucketMirror(
            tempfile.mkdtemp(prefix=f"probe_rb_{n_rows}_{n_history}_"),
            n_buckets=8,
            key_col="id",
            keep_versions=30,
        )
        m.initialize(
            spark.range(n_rows).select(
                "id",
                F.concat(F.lit("n-"), F.col("id").cast("string")).alias(
                    "name"
                ),
                F.lit(0).cast("long").alias("ts"),
                F.lit("I").alias("op"),
            )
        )
        for i in range(n_history):
            m.merge_batch(
                spark.range(10).select(
                    (F.col("id") * 31 + i).alias("id"),
                    F.lit(f"u{i}").alias("name"),
                    F.lit(i + 1).cast("long").alias("ts"),
                    F.lit("U").alias("op"),
                ),
                target,
            )
        return m

    out = {}
    for label, (rows, hist) in {
        "600k_hist2": (600_000, 2),
        "600k_hist22": (600_000, 22),
        "6M_hist2": (6_000_000, 2),
    }.items():
        m = build(rows, hist)
        t0 = time.time()
        rec = m.rebucket(spark, 64)
        dt = round(time.time() - t0, 2)
        out[label] = {
            "rebucket_s": dt,
            "history_len": len(m.history()),
            "n_buckets_after": rec["n_buckets"],
        }
        print(json.dumps({label: out[label]}), flush=True)
    out["history_invariance_ratio"] = round(
        out["600k_hist22"]["rebucket_s"]
        / max(out["600k_hist2"]["rebucket_s"], 0.01),
        2,
    )
    print("RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
