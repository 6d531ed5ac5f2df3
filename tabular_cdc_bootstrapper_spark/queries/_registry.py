"""Query registry: every operator exposed through the driver contract.

Each entry pairs a Spark implementation ``fn(spark, sf_dir) -> DataFrame``
with an ANSI-SQL oracle string DuckDB runs on the same parquet tables
(``None`` for non-SQL-expressible ops → driver does a rows-only check).
Column names/aliases match exactly between the two sides — the driver's
compare sorts columns by name before value-hashing.

Registered via the ``@query(name, oracle)`` decorator; ``__spark_entry__``
just re-exports the dicts.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window

from pyspark.sql import functions as F


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}

ORACLE_SQL: dict[str, str] = {}

def query(name: str, oracle: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return fn

    return deco

#: inferred fixture schemas by path (r16): ``spark.read.parquet`` runs a
#: schema-inference Spark job (~0.03 s + ~0.06 s of driver planning) on
#: EVERY call — once per fixture table per query construction across the
#: whole 160-query surface. The fixture files are immutable for a
#: process's lifetime, so infer once per path and bind subsequent reads
#: to the cached schema (the schema-from-catalog rule; a real deployment
#: reads these through a catalog that pins schemas). Metadata cache
#: only — never rows.
_T_SCHEMAS: dict = {}


def _parquet_rows(sf_dir: str, name: str) -> int:
    """Exact row count of a fixture table from its parquet FOOTERS —
    driver-side metadata, not a scan job (r16, guide §6: metadata, not
    data). Equals ``_t(spark, sf_dir, name).count()`` by the parquet
    contract (``metadata.num_rows`` is exact, never an estimate). Like
    Spark's reader, it skips files and dirs whose names start with ``_``
    or ``.`` (sidecars, checksums, commit markers)."""
    from pathlib import Path as _P

    import pyarrow.parquet as _pq

    p = _P(f"{sf_dir}/{name}.parquet")
    parts = [p] if p.is_file() else sorted(
        f
        for f in p.rglob("*.parquet")
        if not any(n.startswith(("_", ".")) for n in f.relative_to(p).parts)
    )
    return sum(_pq.ParquetFile(str(f)).metadata.num_rows for f in parts)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _load_events(spark, f"{sf_dir}/events.parquet")
    path = f"{sf_dir}/{name}.parquet"
    schema = _T_SCHEMAS.get(path)
    if schema is None:
        df = spark.read.parquet(path)
        _T_SCHEMAS[path] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def _overlap(*thunks: Callable[[], object]) -> list:
    """Run ``thunks`` concurrently, one pool thread each, and return their
    results in order (r16, guide §2.6: independent chains back-fill each
    other's scheduling gaps). Each runs through
    ``inheritable_thread_target``, so its Spark jobs keep the caller's job
    group, description, tags and other local properties."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark import inheritable_thread_target

    session = SparkSession.getActiveSession()
    inherit = (
        inheritable_thread_target(session) if session else inheritable_thread_target
    )
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inherit(t)) for t in thunks]
        return [f.result() for f in futures]

def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Load an events table whose ``ts`` column may be stored either as a
    parquet timestamp (µs/ms, the current fixture contract) or as raw
    int64 nanoseconds-since-epoch (the pre-round-4 contract). The storage
    dtype is a data-generator detail, not a query-semantics one, so we
    branch on the parquet footer instead of hard-coding either contract.
    """
    import pyarrow.parquet as _pq

    # One footer read (driver-side, O(KB)) — never a data scan. For a
    # multi-file dataset any one footer carries the shared ts dtype.
    import glob as _glob
    import os as _os

    if _os.path.isdir(path):
        # sorted + recursive: glob order is filesystem-dependent, so an
        # unsorted probe of a mixed-dtype directory (mid-regeneration)
        # would pick its branch nondeterministically; and datasets nested
        # one level down (written with partitioning / recursiveFileLookup)
        # have no top-level *.parquet at all
        parts = sorted(
            _glob.glob(_os.path.join(path, "**", "*.parquet"), recursive=True)
        )
        if not parts:
            raise FileNotFoundError(
                f"no parquet files under events dir {path!r}; cannot probe "
                "the ts storage dtype"
            )
    else:
        parts = [path]

    # Probe the LOGICAL ts dtype and (when needed) the parquet PHYSICAL
    # type from the SAME footer: the first file that has row groups. Two
    # independent probes (schema from parts[0], physical type from the
    # first non-empty file) could inspect different files in a mixed-dtype
    # directory (mid-regeneration) and pick a branch wrong for part of the
    # dataset. Every footer scanned on the way to the probe file is
    # cross-checked for dtype agreement — a genuinely mixed prefix raises
    # instead of silently picking one contract. Files past the probe file
    # are not re-read (O(1) footers, not O(files)); Spark's own scan will
    # fail loudly on an incompatible tail dtype.
    #
    # "timestamp[ns" prefix-matches both naive ("timestamp[ns]") and
    # tz-aware ("timestamp[ns, tz=UTC]") nanosecond storage — Spark 4
    # rejects either as a native timestamp read. EXCEPT legacy INT96
    # (Spark <3 / Hive default output), which Arrow ALSO reports as
    # timestamp[ns] at the logical level but Spark reads natively — the
    # two are distinguishable only by the column's parquet PHYSICAL type.
    # A 0-row file has NO row groups to probe, so the scan skips to the
    # next file; an entirely EMPTY dataset defaults to the native branch
    # (INT96 is what Spark itself writes — the case that actually occurs —
    # and the ns branch would crash on it; a 0-row TIMESTAMP(NANOS)
    # dataset has no values for the branches to disagree on).
    ts_type = None
    probe_md = None
    for part in parts:
        pf = _pq.ParquetFile(part)
        part_ts_type = str(pf.schema_arrow.field("ts").type)
        if ts_type is None:
            ts_type = part_ts_type
        elif part_ts_type != ts_type:
            raise ValueError(
                f"mixed ts storage dtypes under events dir {path!r}: "
                f"{ts_type!r} vs {part_ts_type!r} ({part!r}); refusing to "
                "guess a branch for a mid-regeneration dataset"
            )
        # num_rows, not num_row_groups: a 0-row file can still carry one
        # empty row group (pyarrow writes one), which has no pages whose
        # physical encoding is meaningful to branch on
        if pf.metadata.num_rows > 0:
            probe_md = pf.metadata
            break
    is_int96 = False
    if ts_type.startswith("timestamp[ns"):
        if probe_md is None:
            is_int96 = True  # empty dataset: take the native read
        else:
            # probe the first NON-EMPTY row group of the probe file (a
            # writer can emit an empty leading row group)
            rg = next(
                probe_md.row_group(i)
                for i in range(probe_md.num_row_groups)
                if probe_md.row_group(i).num_rows > 0
            )
            for ci in range(rg.num_columns):
                col = rg.column(ci)
                if col.path_in_schema.split(".")[0] == "ts":
                    is_int96 = col.physical_type == "INT96"
                    break
    if is_int96 or (
        ts_type.startswith("timestamp") and not ts_type.startswith("timestamp[ns")
    ):
        # µs/ms/s timestamp storage: Spark reads it natively; normalize to
        # TIMESTAMP_NTZ so every downstream query (and the DuckDB oracle,
        # which reads the same file session-timezone-free) agrees on the
        # wall-clock value.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
        df = spark.read.parquet(path)
        return df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))

    # Nanosecond storage — either parquet TIMESTAMP(NANOS) (the actual
    # pre-round-4 fixture contract, which Spark 4 rejects outright unless
    # nanosAsLong maps it to raw longs) or a plain int64 of ns-since-epoch
    # (reads as long either way; the conf is a harmless no-op for it).
    # Both arrive as LongType and truncate to µs in-plan — the same
    # truncation DuckDB applies. Conf is dynamic (scan-time).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    # integral `div`, NOT `/`: ns epoch values (~1.7e18) exceed double's
    # 2^53 integer range, so float division silently drifts by ±1 µs
    return df.withColumn(
        "ts", F.timestamp_micros(F.expr("ts div 1000")).cast("timestamp_ntz")
    )

def _sql_dot(a: str, b: str) -> str:
    """DuckDB dot product of two embedding columns, float → double widening
    BEFORE arithmetic (matches similarity._dot's cast-then-multiply)."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))"
    )

def _sql_cos(a: str, b: str) -> str:
    sq = "list_sum(list_transform({v}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
    return (
        f"{_sql_dot(a, b)} / (sqrt({sq.format(v=a)}) * sqrt({sq.format(v=b)}))"
    )
