#!/usr/bin/env python
"""Scale probe of the manifest-bucket-pruned change data feed (r11):
one 5-key CDC commit (<=5 touched buckets of 64) on a 64-bucket mirror at 600k and 6M rows, then
``table_changes`` over that commit — pruned (production path) vs the
naive full-snapshot diff. Pass criterion: the pruned CDF stays ~flat
across the 10× state step (cost ∝ the commit's touched buckets) while
the naive diff grows ∝ state; outputs are asserted set-equal."""
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
    from tabular_cdc_bootstrapper_spark.operators.diff import table_diff
    from tabular_cdc_bootstrapper_spark.session import get_spark
    from tabular_cdc_bootstrapper_spark.shipping import ensure_self_on_workers
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )
    from tabular_cdc_bootstrapper_spark.streaming.feeds import table_changes

    spark = get_spark("probe-cdf", shuffle_partitions=32)
    ensure_self_on_workers(spark)
    target = CdcTarget(
        source_uri="file:///tmp/x", key_column="id", ts_column="ts"
    )
    out = {}
    for n in (600_000, 6_000_000):
        m = VersionedBucketMirror(
            tempfile.mkdtemp(prefix=f"probe_cdf_{n}_"),
            n_buckets=64,
            key_col="id",
            keep_versions=5,
        )
        m.initialize(
            spark.range(n).select(
                "id",
                F.concat(F.lit("n-"), F.col("id").cast("string")).alias(
                    "name"
                ),
                F.lit(0).cast("long").alias("ts"),
                F.lit("I").alias("op"),
            )
        )
        m.merge_batch(
            spark.range(5).select(
                (F.col("id") * 131).alias("id"),
                F.lit("upd").alias("name"),
                F.lit(1).cast("long").alias("ts"),
                F.lit("U").alias("op"),
            ),
            target,
        )
        drop = ("op", "ts")
        t0 = time.time()
        pruned = table_changes(
            spark, m, 0, 1, key_cols="id", drop_cols=drop
        )
        n_pruned = pruned.count()
        pruned_s = time.time() - t0
        t0 = time.time()
        naive = table_diff(
            m.read(spark, version=0).drop(*drop),
            m.read(spark, version=1).drop(*drop),
            "id",
        )
        n_naive = naive.count()
        naive_s = time.time() - t0
        assert n_pruned == n_naive == 5
        out[str(n)] = {
            "pruned_cdf_s": round(pruned_s, 2),
            "naive_diff_s": round(naive_s, 2),
            "rows": n_pruned,
        }
        print(json.dumps({n: out[str(n)]}), flush=True)
    print("RESULT " + json.dumps(out))


if __name__ == "__main__":
    main()
