#!/usr/bin/env python
"""10×-state probe of GDPR purge (r9): purge a fixed 5-key set from a
VersionedBucketMirror (64 buckets, 2 retained manifests) at 600k and 6M
rows, vs ParquetStateTable (whole-snapshot) purge of the same keys.
Pass criterion: the bucketed purge's cost stays ~flat for 10× state
(it reads/rewrites only the ≤5 touched buckets per manifest), while the
snapshot-table purge scans and rewrites the whole state per retained
snapshot (cost ∝ state).
"""
from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.session import get_spark
    from tabular_cdc_bootstrapper_spark.shipping import ensure_self_on_workers
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    spark = get_spark("probe-purge", shuffle_partitions=32)
    ensure_self_on_workers(spark)
    target = CdcTarget(source_uri="file:///tmp/x", key_column="id", ts_column="ts")
    out = {}
    for n in (600_000, 6_000_000):
        base = spark.range(n).select(
            "id",
            F.concat(F.lit("name-"), F.col("id").cast("string")).alias("name"),
            F.lit(0).cast("long").alias("ts"),
            F.lit("I").alias("op"),
        )
        batch = spark.range(5).select(
            (F.col("id") * 101).alias("id"),
            F.lit("upd").alias("name"),
            F.lit(1).cast("long").alias("ts"),
            F.lit("U").alias("op"),
        )
        keys = spark.range(5).select((F.col("id") * 457 + 11).alias("id"))
        res = {}
        for label in ("bucketed", "snapshot"):
            runs = []
            for _ in range(3):
                root = tempfile.mkdtemp(prefix=f"probe_purge_{label}_")
                if label == "bucketed":
                    m = VersionedBucketMirror(
                        root, n_buckets=64, key_col="id", keep_versions=10
                    )
                    m.initialize(base)
                    m.merge_batch(batch, target)  # 2 retained manifests
                    t0 = time.perf_counter()
                    m.purge_keys(spark, keys)
                else:
                    t = ParquetStateTable(root, keep_versions=10)
                    t.commit(base.drop("op"))
                    t.commit(base.drop("op"))  # 2 retained snapshots
                    t0 = time.perf_counter()
                    t.purge_keys(spark, keys, "id")
                runs.append(round(time.perf_counter() - t0, 2))
                spark.catalog.clearCache()
                shutil.rmtree(root, ignore_errors=True)
            res[label] = {"median3": statistics.median(runs), "runs": runs}
        out[n] = res
        print(json.dumps({"n_rows": n, **res}), flush=True)
    print(
        json.dumps(
            {
                "bucketed_growth_for_10x": round(
                    out[6_000_000]["bucketed"]["median3"]
                    / out[600_000]["bucketed"]["median3"],
                    2,
                ),
                "snapshot_growth_for_10x": round(
                    out[6_000_000]["snapshot"]["median3"]
                    / out[600_000]["snapshot"]["median3"],
                    2,
                ),
            }
        ),
        flush=True,
    )
    spark.stop()


if __name__ == "__main__":
    main()
