"""Fused per-directory purge scan/rewrite (r15 optimization round).

The GDPR purge (``TableOps._purge_keys_locked``, its one caller, for
both table layouts) used to run, PER touched directory, up to three
sequential Spark actions: a broadcast semi-join ``isEmpty`` (does this
dir hold any purge key?), a broadcast anti-join ``isEmpty`` (would the
purge empty it?), and a ``coalesce(1)`` rewrite. At toy scale that is
~3 × n_dirs tiny jobs of pure scheduling overhead (measured ~5-6 s of
the snapshot_refs_report harness); at warehouse scale it serializes
n_dirs independent scans behind one driver loop (guide §2.6).

``purge_dirs_fused`` does the same work in TWO jobs per schema group:

1. one broadcast semi-join aggregated by a per-dir id — every clean dir
   (no purge key present) is identified in a single pass, so the no-op
   re-run property is preserved exactly (clean dirs are never
   rewritten, never deleted, and never chained through purge outputs);
2. one broadcast anti-join over the hit dirs written ``partitionBy``
   the per-dir id into a staging dir (``repartition`` by the id keeps
   one file per dir), then a driver-side rename installs each partition
   under its target immutable name. A dir whose partition is absent was
   emptied by the purge — the caller drops it from its records, or,
   with ``keep_empty``, it is written as an empty typed dir.

Dirs are grouped by exact schema before the union (merge-on-read
keys-only delta slices and post-ALTER snapshots must keep their own
written schema — a blind union would null-pad them). r16: the grouping
key comes from METADATA, not a Spark job per dir — the snapshot
record's captured physical schema when the caller passes one, else a
driver-side pyarrow footer read (O(KB)); each group is then ONE
multi-path Spark relation with the per-dir id derived from the file
path, so the per-dir schema-inference jobs (~0.03 s + ~0.06 s driver
gap EACH) and the n_dirs-branch union plan are gone.

Any failure raises to the caller, after removing what this call
installed. There is no per-dir fallback: the one expected failure — a
dir that retention deleted mid-scan (the r12 TOCTOU) — makes the caller
drop the vanished dirs and call again with the rest, in the same
catch-up round; any other failure propagates.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _footer_schema_key(d: str) -> str | None:
    """Grouping key for an unmapped dir: the arrow schema of one of its
    parquet footers (every file in a dir comes from one Spark write, so
    one footer describes them all — the same assumption schema inference
    makes). None on any surprise → the dir groups alone and its group
    read infers, the pre-r16 behavior."""
    try:
        import pyarrow.parquet as pq

        for name in sorted(os.listdir(d)):
            if name.endswith(".parquet"):
                return str(
                    pq.ParquetFile(os.path.join(d, name)).schema_arrow
                )
    except Exception:
        return None
    return None


def purge_dirs_fused(
    spark: SparkSession,
    items: Sequence[tuple[str, str]],
    probe: DataFrame,
    cond: "Callable[[DataFrame], object]",
    staging_root: str,
    keep_empty: bool = False,
    schemas: "dict[str, dict] | None" = None,
) -> tuple[set, dict]:
    """``items``: (source_dir, target_dir) pairs, source dirs distinct.
    ``cond(df)`` builds the df↔probe join condition. Returns
    ``(clean_dirs, dir_map)`` where ``dir_map[src]`` is the rewritten
    dir, or ``None`` when the purge emptied it. With ``keep_empty`` an
    emptied dir is written as an empty typed parquet dir instead (the
    ``ParquetStateTable`` contract: a fully-purged snapshot stays a
    readable 0-row version). ``schemas`` (r16) maps a source dir to the
    PHYSICAL schema json its snapshot record captured at write time —
    those dirs' group reads bind to it (no inference job at all).
    Raises on any error, after removing every dst it installed."""
    schemas = schemas or {}
    groups: dict[tuple, list[str]] = {}
    for d, _dst in items:
        ds = schemas.get(d)
        if ds:
            key = ("rec", json.dumps(ds, sort_keys=True))
        else:
            fk = _footer_schema_key(d)
            key = ("arrow", fk) if fk is not None else ("solo", d)
        groups.setdefault(key, []).append(d)
    dst_for = dict(items)
    clean: set = set()
    dir_map: dict = {}
    try:
        for key, dirs in groups.items():
            _purge_group(
                spark, key, dirs, schemas, dst_for, probe, cond,
                staging_root, keep_empty, clean, dir_map,
            )
    except Exception:
        # a later schema group failing after an earlier group's renames
        # landed would orphan those dsts (ADVICE r15): the caller
        # discards partial state and re-purges into FRESH dsts, so
        # best-effort remove everything this call installed
        for dst in dir_map.values():
            if dst is not None:
                shutil.rmtree(dst, ignore_errors=True)
        raise
    return clean, dir_map


def _pdir_col(dirs: "list[str]"):
    """Per-dir id from the scanned file's path (the ``_metadata``
    hidden column — contract-bound to be scan-time exact) — dir
    basenames carry a uuid suffix, so the substring match is
    unambiguous. A null id means a file matched no dir (impossible by
    construction) and fails the purge."""
    path = F.col("_metadata.file_path")
    expr = None
    for i, d in enumerate(dirs):
        marker = f"/{os.path.basename(d)}/"
        branch_cond = path.contains(marker)
        expr = (
            F.when(branch_cond, F.lit(i))
            if expr is None
            else expr.when(branch_cond, F.lit(i))
        )
    return (
        expr.otherwise(F.lit(None).cast("int"))
        if expr is not None
        else F.lit(None).cast("int")
    )


def _purge_group(
    spark, key, dirs, schemas, dst_for, probe, cond, staging_root,
    keep_empty, clean, dir_map,
) -> None:
    if key[0] == "rec":
        scm = T.StructType.fromJson(schemas[dirs[0]])
        base = spark.read.schema(scm).parquet(*dirs)
    else:
        base = spark.read.parquet(*dirs)  # ONE inference job per group
        scm = base.schema
    u = base.withColumn("__pdir", _pdir_col(dirs))
    hit_rows = (
        u.join(F.broadcast(probe), cond(u), "left_semi")
        .select("__pdir")
        .distinct()
        .collect()
    )
    if any(r["__pdir"] is None for r in hit_rows):
        raise RuntimeError(
            "purge_dirs_fused: a scanned file matched no source dir"
        )
    hits = {int(r["__pdir"]) for r in hit_rows}
    hit_dirs = [d for i, d in enumerate(dirs) if i in hits]
    clean.update(d for i, d in enumerate(dirs) if i not in hits)
    if not hit_dirs:
        return
    # second scan restricted to the HIT dirs only (clean dirs must not
    # be re-read or rewritten); schema is already known — no inference
    base2 = spark.read.schema(scm).parquet(*hit_dirs)
    u2 = base2.withColumn("__pdir", _pdir_col(dirs))
    stg = os.path.join(staging_root, f"purge-stg-{uuid.uuid4().hex[:8]}")
    try:
        (
            u2.join(F.broadcast(probe), cond(u2), "left_anti")
            .repartition(F.col("__pdir"))
            .write.partitionBy("__pdir")
            .mode("errorifexists")
            .parquet(stg)
        )
        for i, d in enumerate(dirs):
            if i not in hits:
                continue
            part = os.path.join(stg, f"__pdir={i}")
            dst = dst_for[d]
            if os.path.isdir(part):
                os.makedirs(os.path.dirname(dst), exist_ok=True)
                os.rename(part, dst)
                dir_map[d] = dst
            elif keep_empty:  # emptied, but must stay readable
                # typed empty state via a JVM LocalRelation — no scan
                spark.createDataFrame([], scm).write.mode(
                    "errorifexists"
                ).parquet(dst)
                dir_map[d] = dst
            else:  # no surviving rows: the purge emptied this dir
                dir_map[d] = None
    finally:
        shutil.rmtree(stg, ignore_errors=True)
