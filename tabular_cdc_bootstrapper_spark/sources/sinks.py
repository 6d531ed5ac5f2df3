"""Sinks & table layout: partitioned / bucketed / compacted writes.

The reference's sink surface is "append parquet files into an Iceberg
table" (reference tabular.py:136 pins parquet; batch_bootstrapper.py:59-88
wires append vs one-shot). At 100 TB the *layout* of those writes decides
every downstream query's cost, so the engine exposes layout as first-class
operators:

- ``write_partitioned``: directory partitioning on low-cardinality keys →
  partition pruning for free on every predicate over them.
- ``write_bucketed``: hash-bucketed + sorted table → later joins/aggs on
  the bucket key skip the shuffle entirely (bucketed SMJ), the standard
  answer for repeated large-large joins like mirror ⋈ changelog.
- ``compact_small_files``: micro-batch sinks accumulate one file per
  batch; compaction rewrites to target-sized files so scan parallelism
  matches data, not file count (the classic small-files fix). Run it on
  SNAPSHOT/batch directories — never on a live streaming sink dir (it
  refuses `_spark_metadata` dirs; see its docstring for why).
- ``multi_format``: CSV/JSON/ORC round-trip helpers (SURVEY.md §2.1 —
  format surface beyond the pinned parquet).
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Directory-partitioned parquet; with the session's dynamic partition
    overwrite (session.py) an overwrite touches only partitions present in
    ``df`` — the CDC mirror update pattern."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort_col: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Hash-bucketed (and optionally sorted) catalog table. Joins between
    tables bucketed the same way on the same key are shuffle-free."""
    w = df.write.mode(mode).bucketBy(n_buckets, bucket_col)
    if sort_col:
        w = w.sortBy(sort_col)
    w.saveAsTable(table)


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    force: bool = False,
    zorder_by: list[str] | None = None,
) -> int:
    """Rewrite a parquet directory into ~target-sized files; returns the
    new file count. Coalesce (no shuffle) because compaction only merges —
    it must not repartition data it didn't need to move.

    ``zorder_by``: the `OPTIMIZE ... ZORDER BY` shape — compaction and
    multi-dimensional clustering in ONE rewrite (functions/layout.py):
    rows are range-partitioned on the Morton key over the named columns
    and sorted within each file, so the compacted files carry tight
    per-dimension min/max stats. This variant DOES shuffle (that is the
    point — it re-clusters), unlike the plain merge-only path.

    Refuses a directory carrying a streaming file-sink ``_spark_metadata``
    log unless ``force=True``: compaction rewrites the part files, which
    (a) orphans the sink's transaction log and (b) makes every
    checkpointed downstream file-source stream see the compacted files as
    brand-new paths and re-deliver the whole directory. Compact a
    SNAPSHOT of a streaming changelog, not the live sink dir.

    Crash safety (rename-aside): recover any previous interrupted run first — a leftover
    ``.compact.old`` with no live dir is restored, with a live dir it is
    dropped — then write tmp → rename live aside → install tmp → drop the
    aside. A crash at any point leaves either the old or the new
    directory recoverable on the next call."""
    import shutil

    live = path.rstrip("/")
    bak = live + ".compact.old"
    tmp = live + ".compact.tmp"
    if os.path.isdir(bak):  # prior run crashed mid-swap
        if not os.path.isdir(live):
            os.rename(bak, live)  # crash was between the two renames
        else:
            shutil.rmtree(bak, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)

    if not force and os.path.isdir(os.path.join(live, "_spark_metadata")):
        raise ValueError(
            f"{path} is a streaming file-sink directory (_spark_metadata "
            "present); compacting it breaks the sink log and replays the "
            "whole dir into downstream checkpointed streams. Compact a "
            "snapshot copy, or pass force=True if you have stopped and "
            "reset every consumer."
        )

    df = spark.read.parquet(path)
    total = sum(
        f.stat().st_size
        for f in os.scandir(path)
        if f.name.endswith(".parquet") or f.name.endswith(".zstd.parquet")
    )
    n = max(1, math.ceil(total / target_file_bytes))
    if zorder_by:
        from tabular_cdc_bootstrapper_spark.functions.layout import (
            write_zordered,
        )

        write_zordered(df, tmp, zorder_by, n_files=n)
    else:
        df.coalesce(n).write.mode("overwrite").parquet(tmp)
    os.rename(live, bak)
    os.rename(tmp, live)
    shutil.rmtree(bak, ignore_errors=True)
    return sum(1 for f in os.scandir(path) if f.name.endswith(".parquet"))


def round_trip_format(
    df: DataFrame, spark: SparkSession, path: str, fmt: str
) -> DataFrame:
    """Write + read back in ``fmt`` (csv/json/orc/parquet) with an explicit
    schema on read — schema inference is disabled on purpose (SURVEY.md
    §1.3: pin schemas once a table is bootstrapped)."""
    writer = df.write.mode("overwrite").format(fmt)
    if fmt == "csv":
        writer = writer.option("header", "true")
    writer.save(path)
    reader = spark.read.format(fmt).schema(df.schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
    return reader.load(path)
