"""Task count of every staged ``partitionBy`` write of the table layouts.

A leaf module: ``_purge.py`` (imported by ``_protocol.py``) and
``bucket_mirror.py`` both size their staged writes here, so the rule is
written once and ``tests/test_package_hygiene.py`` can pin that every
``repartition`` of those writes takes its count from ``write_tasks``.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

#: input bytes per output dir from which a staged write runs one task
#: per dir instead of one per slot. Below it a task's fixed cost
#: dominates; above it the slowest slot-sized task, which hash
#: placement gives up to ~1.3x (4 slots) or 1.5x (8 slots) the mean
#: share of dirs, sets the stage time. Measured break-even on a 4-core
#: host: ~5 MB per dir (SCALING.md, "Byte-heavy staged writes").
ONE_TASK_PER_DIR_BYTES = 4 << 20


def _reads_at_least(df: DataFrame, limit: int) -> bool:
    """Whether the local files ``df`` scans (its plan's
    ``inputFiles``) hold ``limit`` bytes or more. Rows that come from
    no file (a driver-side list, a cached frame) or from a remote
    store count 0."""
    total = 0
    for uri in df.inputFiles():
        u = urlparse(uri)
        if u.scheme not in ("", "file"):
            continue
        try:
            total += os.path.getsize(unquote(u.path))
        except OSError:
            continue  # expired by a concurrent retention pass
        if total >= limit:
            return True
    return False


def write_tasks(
    spark: SparkSession, dirs: int | None, source: DataFrame | None = None
) -> int:
    """Exchange size for a staged ``partitionBy(<dir col>)`` write:
    ``min(dirs, defaultParallelism)``, or the slot count when ``dirs``
    is None (the dir count depends on the data, e.g. a transform spec's
    full load). When ``source``, the frame being written, scans
    ``ONE_TASK_PER_DIR_BYTES`` or more per output dir (a copy-on-write
    merge reads its touched buckets, a purge its hit dirs, an initial
    load its input files), the write runs one task per dir.

    Why an explicit count: a bare ``repartition(<dir col>)`` lets AQE
    coalesce the exchange by bytes, which at small staged volumes puts
    every dir behind ONE task that writes them in turn (r15 profile:
    1.75 s of a 3.3 s merge was one task writing ~80 month dirs).

    Why slot-sized for small writes (not r15's ``max(slots, dirs)``): a
    task's fixed cost (deserialize, writer setup, commit) is paid per
    task, and tasks beyond the slot count only queue. Event log of a
    12k-row, 64-bucket copy-on-write merge on ``local[4]``: the write
    stage ran 64 tasks on 4 slots, ~121 ms each (51 ms deserialize,
    65 ms run, 23 ms CPU), 2.0-2.5 s of a ~4 s pipeline call. The same
    12k rows into 64 dirs: 2.54 s with 64 tasks, 0.84 s with 4, 0.89 s
    with 8.

    Why one task per dir for byte-heavy writes: with slot-sized tasks
    the slowest task sets the stage time, and hash placement is uneven
    (with 4 slots, 64 buckets split 11/16/16/21 dirs per task), while
    one task per dir lets the scheduler balance. A 64-bucket initial
    load on ``local[4]`` wrote 83 MB in 6.5-7.0 s slot-sized against
    7.1-8.0 s one per dir, but 996 MB in 24-30 s against 19-21 s. A
    frame's input files are the only size known before the write runs;
    rows from no file count 0, so such a write stays slot-sized.

    The layout does not change: the exchange hashes on the dir column,
    so each dir's rows land in exactly one task and every dir is still
    one file (``maxRecordsPerFile`` aside)."""
    slots = spark.sparkContext.defaultParallelism
    if dirs is None:
        return slots
    dirs = max(1, int(dirs))
    if (
        dirs > slots
        and source is not None
        and _reads_at_least(source, ONE_TASK_PER_DIR_BYTES * dirs)
    ):
        return dirs
    return min(dirs, slots)
