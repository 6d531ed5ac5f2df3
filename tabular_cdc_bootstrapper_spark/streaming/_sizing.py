"""Task count of every staged ``partitionBy`` write of the table layouts,
and the bucket count of a hash-bucketed mirror that sizes itself.

A leaf module: ``_purge.py`` (imported by ``_protocol.py``) and
``bucket_mirror.py`` both size their staged writes here, so the rule is
written once and ``tests/test_package_hygiene.py`` can pin that every
``repartition`` of those writes takes its count from ``write_tasks``,
and that the bucket-count rule (``bucket_count``, ``load_bucket_count``,
``split_count``) lives here and nowhere else.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession

#: input bytes per output dir from which a staged write runs one task
#: per dir instead of one per slot. Below it a task's fixed cost
#: dominates; above it the slowest slot-sized task, which hash
#: placement gives up to ~1.3x (4 slots) or 1.5x (8 slots) the mean
#: share of dirs, sets the stage time. Measured break-even on a 4-core
#: host: ~5 MB per dir (SCALING.md, "Byte-heavy staged writes").
ONE_TASK_PER_DIR_BYTES = 4 << 20


#: target bytes per bucket of a mirror that sizes its own bucket count
#: (``VersionedBucketMirror(n_buckets=None)``): a table starts at the
#: smallest power of two that keeps each bucket at or below it, and
#: doubles once its buckets average twice it. Below it a bucket's fixed
#: per-file costs (footer, writer set-up, listing, task) outweigh what
#: a finer hash saves a merge or a key lookup; it starts at the staged
#: write's measured per-dir break-even (SCALING.md, "Bucket count
#: follows bytes", ``scripts/bucket_sweep.py``).
BUCKET_BYTES = ONE_TASK_PER_DIR_BYTES

#: bucket count of a sized mirror at and above ``MAX_BUCKETS *
#: BUCKET_BYTES``; a sized table never grows past it, and an explicit
#: count is never changed
MAX_BUCKETS = 64


def input_bytes(
    df: DataFrame, limit: int | None = None, strict: bool = False
) -> int | None:
    """Bytes of the local files ``df`` scans (its plan's
    ``inputFiles``), counted up to ``limit`` when given. A file that is
    not local (``s3a://``, ``hdfs://``) is not sized here: it counts 0,
    or, when ``strict``, makes the frame's size unknown (None). Rows
    that come from no file (a driver-side list, a frame derived from a
    cached one) count 0."""
    total = 0
    for uri in df.inputFiles():
        u = urlparse(uri)
        if u.scheme not in ("", "file"):
            if strict:
                return None
            continue
        try:
            total += os.path.getsize(unquote(u.path))
        except OSError:
            continue  # expired by a concurrent retention pass
        if limit is not None and total >= limit:
            break
    return total


def bucket_count(nbytes: int | None) -> int:
    """Bucket count of a sized mirror holding ``nbytes``: the smallest
    power of two ``n`` with ``nbytes / n <= BUCKET_BYTES``, capped at
    ``MAX_BUCKETS``. An unknown size (None) takes the cap, the count a
    table had before it could size itself: guessing low would put a
    large table in one bucket and leave it to six full-rewrite splits.
    Also the count of a sized handle before it reads its table's
    manifest, so a table that records no count keeps the cap."""
    if nbytes is None:
        return MAX_BUCKETS
    n = 1
    while n < MAX_BUCKETS and nbytes > BUCKET_BYTES * n:
        n *= 2
    return n


def load_bucket_count(df: DataFrame) -> int:
    """``bucket_count`` of an initial load ``df``, from the bytes of the
    files it scans. Counting stops at ``MAX_BUCKETS * BUCKET_BYTES``,
    where the count is capped anyway, so a very large load lists its
    files but reads no more of their sizes than that."""
    return bucket_count(
        input_bytes(df, MAX_BUCKETS * BUCKET_BYTES, strict=True)
    )


def split_count(n: int, measure: Callable[[int], int]) -> int | None:
    """The doubled count a sized mirror of ``n`` buckets moves to, or
    None while its buckets average at most twice ``BUCKET_BYTES`` (or
    it is at the cap). ``measure(limit)`` gives the table's bytes,
    counted up to at least ``limit``; it is not called at the cap, and
    it may stop counting once it reaches ``limit``. The factor two
    keeps a table that just split (to ~``BUCKET_BYTES`` per bucket)
    from splitting again before it has doubled."""
    if n >= MAX_BUCKETS:
        return None
    limit = 2 * BUCKET_BYTES * n
    return 2 * n if measure(limit + 1) > limit else None


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
    limit = ONE_TASK_PER_DIR_BYTES * dirs
    if (
        dirs > slots
        and source is not None
        and input_bytes(source, limit) >= limit
    ):
        return dirs
    return min(dirs, slots)
