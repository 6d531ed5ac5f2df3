"""Spark Python data source exposing the change feed as a real stream.

``spark.readStream.format("table_changes")`` over the engine's versioned
tables — the full integration VERDICT r11 #1 sketched beyond the
AvailableNow driver loop (``ChangeFeedStream`` /
``MaintainedJoinFeedDriver``): Spark's own streaming machinery
(microbatch planner, offset checkpointing, triggers, rate control via
``maxVersionsPerBatch``) drives the feed, and the per-partition diff
work runs ON EXECUTORS.

Why not just call ``table_changes`` inside the source? A Python data
source's ``read(partition)`` executes in an executor Python worker with
NO SparkSession — the diff cannot be a Spark job. Instead the design
leans on the table layout the way a native source would:

- **offsets are snapshot versions** (``{"version": N}``); latestOffset
  reads the CURRENT pointer (one JSON file, no Spark);
- **partitions are the changed buckets** between the two manifests
  (``VersionedBucketMirror``): the driver-side planner diffs the two
  manifests' per-bucket states (pure metadata) and emits one
  ``InputPartition`` per changed bucket — the same manifest pruning the
  in-engine CDF uses (SCALING.md r11), so a small commit plans a small
  batch no matter how big the table is;
- **each partition reads only its bucket's dirs with pyarrow** (base +
  merge-on-read delta fold + keys-only delete tier), computes the keyed
  I/U/D diff in pandas, and yields Arrow batches — embarrassingly
  parallel across buckets, zero corpus shuffle, no nested Spark.

The plain ``ParquetStateTable`` layout (one dir per version) is served
as a single partition per window.

Semantics parity: the per-bucket fold reproduces
``operators/cdc.py apply_changelog`` (latest per key by ts + tiebreaks,
delete-op rows drop the key, NULL op is not a delete) and the diff
reproduces ``operators/diff.py table_diff`` (presence-based I/D,
null-safe payload inequality for U, deletes carry NULL payload) —
pinned by a parity test against the in-engine ``table_changes``.

Limitations (explicit, caller-visible errors): windows spanning an
``alter_schema`` commit or manifests carrying rename/generation-mask
metadata are refused (run ``rewrite_data_files(materialize=True)``
first or split the window) — the pyarrow read path binds to ONE logical
schema per window.

Options:
- ``path`` (required): table root.
- ``keyCols`` (required): comma-separated key columns.
- ``startingVersion``: first delivered window starts AFTER this version
  (default: the current head — tail only new commits; ``0`` replays
  from the initial snapshot).
- ``dropCols``: envelope columns excluded from the diff (default
  ``op,ts,_src_file``).

Each microbatch is ONE consolidated window up to the current head —
the Python data source API (Spark 4.1) exposes no admission control
(``latestOffset`` receives neither the restored offset nor a
ReadLimit), so a reader-side per-trigger version cap cannot be made
restart-safe: any cursor the reader keeps is lost on restart and can
wedge below the checkpointed offset. Rate-limited catch-up is the
AvailableNow driver loop's job (``ChangeFeedStream.process_available``
/ ``MaintainedJoinFeedDriver``, max_commits_per_trigger).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql import types as T
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)

from tabular_cdc_bootstrapper_spark.localdf import local_df

_DEFAULT_DROP = ("op", "ts", "_src_file")

#: the directory that makes `tabular_cdc_bootstrapper_spark` importable —
#: captured at DRIVER import time and carried (by value, see
#: ``register_stream_sources``) into Spark's Python workers, whose
#: sys.path knows nothing about where this repo lives when the driver
#: process runs from another cwd (the harness drives the contract from
#: /tmp). Every worker-side lazy package import bootstraps through this.
_PKG_PARENT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def _ensure_importable() -> None:
    import sys

    if _PKG_PARENT not in sys.path:
        sys.path.insert(0, _PKG_PARENT)


def register_stream_sources(spark) -> None:
    """Register the ``table_changes`` source and ``state_table`` sink.

    Registration pickles the DataSource class; by default cloudpickle
    serializes it BY REFERENCE, so Spark's planner/executor Python
    workers would need to import this package — which fails whenever
    the driver runs from outside the repo (sys.path manipulation does
    not propagate to workers, and ``addPyFile`` does not reach the
    streaming planner worker). Registering this module for BY-VALUE
    pickling ships the classes and their module-level helpers inside
    the pickle itself; the worker-side lazy imports of sibling modules
    bootstrap ``sys.path`` through the captured ``_PKG_PARENT``."""
    import sys

    from pyspark import cloudpickle

    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    spark.dataSource.register(ChangeFeedDataSource)
    spark.dataSource.register(StateTableSinkDataSource)


def prewarm_stream_sources(spark) -> None:
    """Pay the Python-datasource spin-up floor ONCE, at session start
    (r14, VERDICT r13 #6): the first streaming drain of a session costs
    far more than a warm one (r13 measured 14.9 s vs 4.1 s at sf0.1 —
    streaming-planner Python worker start, executor workers' first
    pandas/pyarrow imports, micro-batch codegen), and all of it is
    SESSION-scoped. Draining a 1-row throwaway ``table_changes`` →
    ``state_table`` pipeline here moves that cost out of the first real
    pipeline drain. Call once after :func:`register_stream_sources`;
    skipping it costs nothing but first-drain latency."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    work = tempfile.mkdtemp(prefix="ds_prewarm_")
    try:
        src = VersionedBucketMirror(
            f"{work}/src", n_buckets=1, key_col="id", keep_versions=5
        )
        src.initialize(
            local_df(spark, [(0, "g", 1.0)], "id long, g string, v double")
        )
        v0 = src.history()[0]["version"]
        view = VersionedBucketMirror(
            f"{work}/view", n_buckets=1, key_col="g", keep_versions=5,
            merge_on_read=True,
        )
        view.initialize(
            local_df(spark, [("g", 1, 1.0)], "g string, n long, sv double")
        )
        src.update_where(spark, "id = 0", {"v": "v + 1"})
        q = (
            spark.readStream.format("table_changes")
            .option("path", src.root)
            .option("keyCols", "id")
            .option("startingVersion", str(v0))
            .option("emitPreimage", "true")
            .load()
            .writeStream.format("state_table")
            .option("path", view.root)
            .option("mode", "additive")
            .option("groupCols", "g")
            .option("sumCols", "sv=v")
            .option("countCol", "n")
            .option("checkpointLocation", f"{work}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        if not q.awaitTermination(120):
            # a stalled prewarm must not leave a zombie query running
            # against dirs the finally-block is about to delete
            q.stop()
            q.awaitTermination(30)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _opt(options: dict, name: str, default=None):
    """Spark passes data-source options through a case-insensitive map
    that lower-cases keys — accept both spellings."""
    for k in (name, name.lower()):
        if k in options:
            return options[k]
    return default


def _load_log(root: str):
    _ensure_importable()
    from tabular_cdc_bootstrapper_spark.streaming._protocol import SnapshotLog

    return SnapshotLog(root)


def _entry_schema_json(root: str, e: dict) -> dict:
    """The logical schema of a snapshot entry WITHOUT Spark: prefer the
    manifest-recorded schema (r10+); fall back to one parquet footer."""
    if e.get("schema") is not None:
        return e["schema"]
    import glob as _glob

    import pyarrow.parquet as _pq
    from pyspark.sql.pandas.types import from_arrow_schema

    if "dir" in e:
        d = e["dir"]
    else:
        d = next(iter(e["buckets"].values()))
    files = sorted(_glob.glob(os.path.join(d, "*.parquet")))
    if not files:
        raise ValueError(f"no parquet footer to infer a schema from in {d}")
    return from_arrow_schema(_pq.read_schema(files[0])).jsonValue()


def _refuse_ddl_metadata(e: dict, root: str) -> None:
    if e.get("renames") or e.get("shadowed"):
        raise ValueError(
            f"table_changes source on {root}: the manifest carries "
            "rename-fold or generation-mask metadata; run "
            "rewrite_data_files(materialize=True) first (the pyarrow "
            "read path binds to one physical schema)"
        )


def _bucket_state(e: dict, b: str):
    return (
        e["buckets"].get(b),
        tuple(s["dir"] for s in (e.get("deltas") or {}).get(b, ())),
    )


class _WindowPartition(InputPartition):
    """One unit of executor work: diff one bucket (or one whole plain
    snapshot) between the window's two versions."""

    def __init__(
        self,
        old_dirs: list[str],
        old_specs: list[dict],
        new_dirs: list[str],
        new_specs: list[dict],
        keys: list[str],
        drop_cols: list[str],
        schema_json: dict,
        preimage: bool = False,
    ) -> None:
        self.old_dirs = old_dirs
        self.old_specs = old_specs
        self.new_dirs = new_dirs
        self.new_specs = new_specs
        self.keys = keys
        self.drop_cols = drop_cols
        self.schema_json = schema_json
        self.preimage = preimage


def _read_dirs_pandas(dirs: Sequence[str], columns: list[str]):
    """Read parquet dirs into ONE pandas frame aligned to ``columns``
    (missing columns surface as None — the mergeSchema behavior)."""
    import pandas as pd
    import pyarrow.parquet as pq

    frames = []
    for d in dirs:
        if not d or not os.path.isdir(d):
            continue
        t = pq.read_table(d)
        df = t.to_pandas(types_mapper=None)
        frames.append(df)
    if not frames:
        return pd.DataFrame({c: pd.Series(dtype="object") for c in columns})
    out = pd.concat(frames, ignore_index=True, sort=False)
    for c in columns:
        if c not in out.columns:
            out[c] = None
    return out[[c for c in columns if c in out.columns]]


def _fold_state_pandas(dirs: list[str], specs: list[dict], columns: list[str]):
    """Reproduce the merge-on-read read-side fold in pandas: base dirs
    are the state, delta dirs fold latest-per-key by (ts, tiebreaks),
    delete-op rows drop the key (``apply_changelog`` semantics; the
    keys-only delete tier reads with NULL payload, which the fold drops
    with the key, so nothing leaks)."""
    import pandas as pd

    base = _read_dirs_pandas(dirs, columns)
    if not specs:
        return base
    p = specs[0]
    key = p["key"]
    ts = list(p["ts"]) if not isinstance(p["ts"], str) else [p["ts"]]
    op_col = p["op"]
    delete_op = p["delete_op"]
    tiebreak = list(p.get("tiebreak") or ())
    deltas = _read_dirs_pandas([s["dir"] for s in specs], columns)
    events = pd.concat([base, deltas], ignore_index=True, sort=False)
    order = [c for c in ts + tiebreak if c in events.columns]
    if order:
        # stable ascending sort, NaN first (the mirror_ts floor rule),
        # then keep the LAST row per key: later-concat (delta) beats
        # base on equal ts, matching the fold's union order
        events = events.sort_values(
            order, kind="stable", na_position="first"
        )
    latest = events.groupby(key, dropna=False, sort=False).tail(1)
    if op_col in latest.columns:
        latest = latest[
            ~latest[op_col].eq(delete_op).fillna(False)
        ]
    return latest


def _diff_pandas(
    old, new, keys: list[str], payload: list[str], preimage: bool = False
):
    """``table_diff`` in pandas: presence-based I/D, null-safe payload
    inequality for U (deletes carry NULL payload).

    ``preimage=True`` (r13) emits the RETRACTION form instead — the
    Iceberg UPDATE_BEFORE/UPDATE_AFTER (Flink changelog) shape: every
    update becomes a D row carrying the OLD payload plus an I row with
    the new one, and deletes carry their old payload instead of NULLs.
    This makes the feed a pure signed stream: any additive consumer
    (the sink's ``mode=additive`` maintained aggregate) can retract a
    row's old contribution without ever reading the table."""
    import numpy as np
    import pandas as pd

    o = old[keys + payload].copy()
    n = new[keys + payload].copy()
    j = o.merge(
        n, on=keys, how="outer", suffixes=("__o", "__n"), indicator=True
    )
    in_old = j["_merge"].isin(("left_only", "both"))
    in_new = j["_merge"].isin(("right_only", "both"))
    if payload:
        changed = np.zeros(len(j), dtype=bool)
        for c in payload:
            a, b = j[f"{c}__o"], j[f"{c}__n"]
            neq = ~(a.eq(b) | (a.isna() & b.isna()))
            changed |= neq.to_numpy()
    else:
        changed = np.zeros(len(j), dtype=bool)
    if preimage:
        retract = (in_old & ~in_new) | (in_old & changed)
        assert_ = (in_new & ~in_old) | (in_new & changed)
        d = pd.DataFrame({k: j.loc[retract, k] for k in keys})
        for c in payload:
            d[c] = j.loc[retract, f"{c}__o"]
        d["op"] = "D"
        i = pd.DataFrame({k: j.loc[assert_, k] for k in keys})
        for c in payload:
            i[c] = j.loc[assert_, f"{c}__n"]
        i["op"] = "I"
        return pd.concat([d, i], ignore_index=True)
    rows = {k: j[k] for k in keys}
    op = np.where(
        ~in_old, "I", np.where(~in_new, "D", np.where(changed, "U", ""))
    )
    out = pd.DataFrame(rows)
    for c in payload:
        # I/U carry the new value; D carries NULL (the DMS convention)
        out[c] = j[f"{c}__n"].where(in_new, other=None)
    out["op"] = op
    return out[out["op"] != ""]


class ChangeFeedStreamReader(DataSourceStreamReader):
    def __init__(self, schema: T.StructType, options: dict) -> None:
        self._root = _opt(options, "path")
        self._keys = [
            k.strip() for k in _opt(options, "keyCols").split(",")
        ]
        self._drop = [
            c.strip()
            for c in _opt(
                options, "dropCols", ",".join(_DEFAULT_DROP)
            ).split(",")
            if c.strip()
        ]
        sv = _opt(options, "startingVersion")
        self._starting = int(sv) if sv is not None else None
        # r13: emit updates as retraction pairs (D old payload + I new
        # payload) and deletes with their old payload — the signed
        # changelog an additive maintained aggregate consumes
        self._preimage = str(
            _opt(options, "emitPreimage", "false")
        ).lower() in ("1", "true")
        self._schema = schema

    # -- offsets ----------------------------------------------------------
    def initialOffset(self) -> dict:
        if self._starting is not None:
            return {"version": self._starting}
        cur = _load_log(self._root).current()
        return {"version": cur["version"] if cur else -1}

    def latestOffset(self) -> dict:
        cur = _load_log(self._root).current()
        return {"version": cur["version"] if cur else -1}

    def commit(self, end: dict) -> None:
        pass  # Spark's checkpoint IS the delivered position

    # -- planning (driver side, metadata only) -----------------------------
    def partitions(self, start: dict, end: dict):
        from_v, to_v = start["version"], end["version"]
        if to_v <= from_v:
            return []
        log = _load_log(self._root)
        by_v = {e["version"]: e for e in log.entries()}
        if from_v >= 0 and from_v not in by_v:
            raise ValueError(
                f"snapshot {from_v} of {self._root} is gone (retention); "
                "restart the stream with a fresh startingVersion"
            )
        if to_v not in by_v:
            raise ValueError(f"no snapshot {to_v} in {self._root}")
        e_old = by_v.get(from_v)
        e_new = by_v[to_v]
        for e in (e_old, e_new):
            for specs in ((e or {}).get("deltas") or {}).values():
                if any(sp.get("mode") == "additive" for sp in specs):
                    raise ValueError(
                        f"{self._root} is an additive maintained view "
                        "(sum-fold deltas) — its change feed is not "
                        "latest-per-key diffable; read the view directly"
                    )
        for v in range(from_v + 1, to_v + 1):
            e = by_v.get(v)
            if e is not None and e.get("operation") == "alter_schema":
                raise ValueError(
                    f"window ({from_v}, {to_v}] of {self._root} spans an "
                    "alter_schema commit — split the window at the DDL "
                    "commit (read with maxVersionsPerBatch=1) or use the "
                    "in-engine consolidated feed (ChangeFeedStream), "
                    "which projects old snapshots through DDL"
                )
        for e in (e_old, e_new):
            if e is not None:
                _refuse_ddl_metadata(e, self._root)
        schema_json = _entry_schema_json(self._root, e_new)
        drop = [c for c in self._drop]
        if "buckets" in e_new:  # bucketed manifest layout
            old_buckets = (e_old or {"buckets": {}})["buckets"]
            all_b = set(old_buckets) | set(e_new["buckets"])
            if e_old is not None:
                all_b |= set(e_old.get("deltas") or {})
            all_b |= set(e_new.get("deltas") or {})
            parts = []
            for b in sorted(all_b, key=int):
                if e_old is not None and _bucket_state(
                    e_old, b
                ) == _bucket_state(e_new, b):
                    continue  # manifest pruning: bucket untouched
                old_specs = (
                    (e_old.get("deltas") or {}).get(b, [])
                    if e_old
                    else []
                )
                new_specs = (e_new.get("deltas") or {}).get(b, [])
                parts.append(
                    _WindowPartition(
                        [old_buckets.get(b)] if e_old else [],
                        list(old_specs),
                        [e_new["buckets"].get(b)],
                        list(new_specs),
                        self._keys,
                        drop,
                        schema_json,
                        self._preimage,
                    )
                )
            return parts
        # plain snapshot layout: one partition per window
        return [
            _WindowPartition(
                [e_old["dir"]] if e_old else [],
                [],
                [e_new["dir"]],
                [],
                self._keys,
                drop,
                schema_json,
                self._preimage,
            )
        ]

    # -- executor side ------------------------------------------------------
    def read(self, partition: _WindowPartition) -> Iterator:
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        cols = [
            f["name"] for f in partition.schema_json["fields"]
        ]
        old = _fold_state_pandas(
            partition.old_dirs, partition.old_specs, cols
        )
        new = _fold_state_pandas(
            partition.new_dirs, partition.new_specs, cols
        )
        keep = [c for c in cols if c not in partition.drop_cols]
        keys = partition.keys
        payload = [c for c in keep if c not in keys]
        diff = _diff_pandas(
            old[keep], new[keep], keys, payload,
            preimage=getattr(partition, "preimage", False),
        )
        out_fields = [
            f
            for f in T.StructType.fromJson(partition.schema_json).fields
            if f.name in keep
        ]
        out_schema = T.StructType(
            out_fields + [T.StructField("op", T.StringType(), False)]
        )
        arrow_schema = to_arrow_schema(out_schema)
        if diff.empty:
            return  # nothing changed in this bucket's payload columns
        table = pa.Table.from_pandas(
            diff[keys + payload + ["op"]].reset_index(drop=True),
            schema=arrow_schema,
            preserve_index=False,
            safe=False,
        )
        yield from table.to_batches()


class ChangeFeedDataSource(DataSource):
    """``spark.dataSource.register(ChangeFeedDataSource)`` then
    ``spark.readStream.format("table_changes").option(...)``."""

    @classmethod
    def name(cls) -> str:
        return "table_changes"

    def schema(self) -> T.StructType:
        root = _opt(self.options, "path")
        drop = [
            c.strip()
            for c in _opt(
                self.options, "dropCols", ",".join(_DEFAULT_DROP)
            ).split(",")
            if c.strip()
        ]
        log = _load_log(root)
        cur = log.current()
        if cur is None:
            raise ValueError(f"{root} has no snapshot yet")
        _refuse_ddl_metadata(cur, root)
        schema = T.StructType.fromJson(_entry_schema_json(root, cur))
        fields = [f for f in schema.fields if f.name not in drop]
        return T.StructType(
            fields + [T.StructField("op", T.StringType(), False)]
        )

    def streamReader(self, schema: T.StructType) -> ChangeFeedStreamReader:
        if (
            _opt(self.options, "path") is None
            or _opt(self.options, "keyCols") is None
        ):
            raise ValueError(
                "table_changes source needs .option('path', <table root>) "
                "and .option('keyCols', 'k1[,k2...]')"
            )
        return ChangeFeedStreamReader(schema, dict(self.options))


# ---------------------------------------------------------------------------
# The WRITE side: spark.writeStream.format("state_table") — streaming sink
# symmetry for the readStream source above (r12). A CDC changelog stream
# commits into a VersionedBucketMirror as merge-on-read delta appends:
# executors write each bucket's slice with pyarrow (bucket assignment via
# functions/xxhash.py — bit-identical to the JVM hash the table partitions
# by), the driver-side commit() is PURE METADATA (commit_prestaged_delta:
# install dirs + CAS manifest publish, no SparkSession — the Python data
# source API gives commit() no session, and none is needed).
#
# Exactly-once: effects are idempotent at the state level — a replayed
# batch re-appends the same rows at a new version and the ts-ordered
# latest-per-key fold collapses them — and a per-sink fence file
# ({root}/_sink/<sinkId>.json, atomic rename, updated AFTER the manifest
# publish) short-circuits replayed batch ids entirely, so replays cost
# nothing and the delta chain doesn't grow. This is the same
# fence-after-commit contract as MaintainedAggView.apply_batch.
# ---------------------------------------------------------------------------


class _SinkBatchMessage(WriterCommitMessage):
    def __init__(self, files: dict, rows: int, stats: dict) -> None:
        self.files = files  # {bucket_id: [staged parquet paths]}
        self.rows = rows
        self.stats = stats  # {bucket_id: {col: [min, max]}}


class StateTableStreamWriter(DataSourceStreamArrowWriter):
    """Executor/driver halves of the ``state_table`` streaming sink."""

    def __init__(self, schema: T.StructType, options: dict) -> None:
        self._root = _opt(options, "path")
        # r13: ``mode=additive`` turns the sink into a MAINTAINED
        # AGGREGATE — each task partial-aggregates its slice into signed
        # per-group contributions (op=I adds, op=D retracts; feed it a
        # ``table_changes`` stream with emitPreimage=true), the commit
        # appends them as sum-fold deltas, and reads fold by summing.
        # A maintained view is then ONE readStream→writeStream statement.
        self._mode = str(_opt(options, "mode", "latest")).lower()
        if self._mode not in ("latest", "additive"):
            raise ValueError(
                f"state_table sink: unknown mode {self._mode!r} — "
                "'latest' (keyed fold) or 'additive' (maintained agg)"
            )
        self._group: list[str] = []
        self._sums: dict[str, str] = {}
        self._count_col = _opt(options, "countCol", "n_rows")
        if self._mode == "additive":
            self._group = [
                c.strip()
                for c in (_opt(options, "groupCols") or "").split(",")
                if c.strip()
            ]
            if not self._group:
                raise ValueError(
                    "state_table sink (additive): .option('groupCols', "
                    "'g1[,g2...]') is required"
                )
            for pair in (_opt(options, "sumCols") or "").split(","):
                pair = pair.strip()
                if not pair:
                    continue
                if "=" in pair:
                    out, src = (p.strip() for p in pair.split("=", 1))
                else:
                    out, src = f"sum_{pair}", pair
                self._sums[out] = src
            self._key = self._group[0]  # partition by the first group col
        else:
            self._key = _opt(options, "keyCol") or _opt(options, "keyCols")
            if self._key is None or "," in self._key:
                raise ValueError(
                    "state_table sink needs .option('keyCol', <single key "
                    "column>) — the mirror buckets by ONE key"
                )
        self._ts = (
            []
            if self._mode == "additive"
            else [
                c.strip()
                for c in (_opt(options, "tsCols") or _opt(options, "tsCol", "ts")).split(",")
                if c.strip()
            ]
        )
        self._op = _opt(options, "opCol", "op")
        self._delete_op = _opt(options, "deleteOp", "D")
        self._tiebreak = [
            c.strip()
            for c in _opt(options, "tiebreakCols", "").split(",")
            if c.strip()
        ]
        self._stats_cols = [
            c.strip()
            for c in _opt(options, "statsCols", "").split(",")
            if c.strip()
        ]
        self._sink_id = _opt(options, "sinkId", "default")
        required = (self._key, *self._ts, self._op)
        if self._mode == "additive":
            required = (*self._group, *self._sums.values(), self._op)
        for c in required:
            if c not in schema.fieldNames():
                raise ValueError(
                    f"state_table sink: column {c!r} missing from the "
                    f"stream schema {schema.fieldNames()}"
                )
        key_type = schema[self._key].dataType.typeName()
        if key_type not in ("long", "integer", "string"):
            raise ValueError(
                f"state_table sink: key column {self._key!r} has type "
                f"{key_type!r} — only long/integer/string keys hash "
                "identically to the table's F.xxhash64 partitioning"
            )
        self._key_type = key_type
        self._schema = schema
        # fence identity for THIS query run: a replay is "same run (or a
        # checkpoint-restart successor) re-delivering an id we already
        # published". Keying the fence by a run nonce keeps a RESET
        # checkpoint (batch ids restart at 0, but the rows are NEW data)
        # from being swallowed as a replay; the one batch a same-
        # checkpoint restart re-delivers under a fresh nonce re-applies
        # and the ts-ordered fold collapses it (state-level idempotence).
        import uuid as _uuid

        self._nonce = _uuid.uuid4().hex
        # bind to the table's CURRENT bucket spec on the DRIVER (this
        # object is pickled to executors): a sink may only feed an
        # initialized table — the spec and base schema must exist
        cur = _load_log(self._root).current()
        if cur is None or "buckets" not in cur:
            raise ValueError(
                f"state_table sink: {self._root} is not an initialized "
                "VersionedBucketMirror — call initialize() first"
            )
        self._n_buckets = int(cur.get("n_buckets") or 0)
        if not self._n_buckets:
            raise ValueError(
                f"state_table sink: {self._root}'s manifest records no "
                "bucket spec (pre-r11 table) — rewrite_data_files first"
            )
        _refuse_ddl_metadata(cur, self._root)
        # CHECK constraints (r13, VERDICT r12 #6 — enforce instead of
        # refuse): bind the table's constraint set on the driver; each
        # executor task validates its staged slice with DuckDB (the
        # exprs are ANSI-SQL comparisons/boolean logic — the engine this
        # repo already treats as the semantics oracle). Probe-parse each
        # expr HERE so a Spark-only expression fails at sink creation,
        # loudly, not mid-stream on an executor.
        self._constraints = dict(cur.get("constraints") or {})
        if self._mode == "additive":
            if self._constraints:
                raise ValueError(
                    "state_table sink (additive): the view table carries "
                    "CHECK constraints — row-level constraints are not "
                    "defined over partial aggregates; DROP them from the "
                    "view table"
                )
            # the staged deltas are partial aggregates: groups (typed as
            # in the stream) + BIGINT count + per-sum columns (BIGINT
            # for integer sources, DOUBLE otherwise)
            int_types = ("long", "integer", "short", "byte")
            self._sum_int = {
                out: schema[src].dataType.typeName() in int_types
                for out, src in self._sums.items()
            }
            fields = [schema[g] for g in self._group]
            fields.append(T.StructField(self._count_col, T.LongType()))
            for out in self._sums:
                fields.append(
                    T.StructField(
                        out,
                        T.LongType() if self._sum_int[out] else T.DoubleType(),
                    )
                )
            self._view_schema = T.StructType(fields)
        if self._constraints:
            import duckdb as _duckdb

            probe = _duckdb.connect()
            # parse-probe each expr against the stream schema as an
            # empty typed relation (NULL-cast columns): a failure here
            # is a non-portable expression, refused at sink creation
            duck_types = {
                "long": "BIGINT", "integer": "INTEGER", "short": "SMALLINT",
                "byte": "TINYINT", "double": "DOUBLE", "float": "FLOAT",
                "string": "VARCHAR", "boolean": "BOOLEAN", "date": "DATE",
                "timestamp": "TIMESTAMP", "timestamp_ntz": "TIMESTAMP",
                "binary": "BLOB",
            }
            cols = ", ".join(
                "CAST(NULL AS {}) AS \"{}\"".format(
                    duck_types.get(f.dataType.typeName(), "VARCHAR"), f.name
                )
                for f in schema.fields
            )
            for name, expr in sorted(self._constraints.items()):
                try:
                    probe.execute(
                        f"SELECT COUNT(*) FROM (SELECT {cols}) _t "
                        f"WHERE NOT COALESCE(({expr}), TRUE)"
                    )
                except Exception as exc:
                    raise ValueError(
                        f"state_table sink: CHECK constraint {name!r} "
                        f"({expr}) is not expressible in the sink's "
                        f"executor-side evaluator: {exc} — ingest "
                        "through merge_batch (foreachBatch) instead"
                    ) from None
            probe.close()

    # -- executor side ------------------------------------------------------
    def _partial_agg(self, table):
        """Fold this task's arrow slice into signed per-group partial
        aggregates (additive mode): op=I rows contribute +1/+value,
        op=``deleteOp`` rows −1/−value — exactly the retraction stream
        ``table_changes ... emitPreimage=true`` emits. One DuckDB
        aggregate per task; group cardinality bounds the output."""
        import duckdb
        import pyarrow as pa

        con = duckdb.connect()
        con.register("_staged", table)
        sign = (
            f'CASE WHEN "{self._op}" = \'{self._delete_op}\' '
            "THEN -1 ELSE 1 END"
        )
        gcols = ", ".join(f'"{g}"' for g in self._group)
        aggs = [f"CAST(SUM({sign}) AS BIGINT) AS \"{self._count_col}\""]
        for out, src in self._sums.items():
            cast = "BIGINT" if self._sum_int[out] else "DOUBLE"
            aggs.append(
                f'CAST(SUM(({sign}) * "{src}") AS {cast}) AS "{out}"'
            )
        out = con.execute(
            f"SELECT {gcols}, {', '.join(aggs)} FROM _staged "
            f"GROUP BY {gcols}"
        ).fetch_arrow_table()
        con.close()
        # align arrow types to the view schema (duckdb may widen)
        from pyspark.sql.pandas.types import to_arrow_schema

        want = to_arrow_schema(self._view_schema)
        return out.select(want.names).cast(
            pa.schema([want.field(n) for n in want.names])
        )

    def write(self, iterator) -> _SinkBatchMessage:
        import pyarrow as pa
        import pyarrow.parquet as pq

        _ensure_importable()
        from tabular_cdc_bootstrapper_spark.functions.xxhash import (
            spark_buckets,
        )

        batches = list(iterator)
        if not batches:
            return _SinkBatchMessage({}, 0, {})
        table = pa.Table.from_batches(batches)
        if table.num_rows == 0:
            return _SinkBatchMessage({}, 0, {})
        if self._mode == "additive":
            table = self._partial_agg(table)
            if table.num_rows == 0:
                return _SinkBatchMessage({}, 0, {})
        keys = table.column(self._key).to_pandas()
        null_mask = keys.isna()
        if null_mask.any() and self._mode != "additive":
            raise ValueError(
                f"state_table sink: NULL in key column {self._key!r}"
            )
        if self._constraints:
            # CHECK enforcement (r13): one DuckDB aggregate per task
            # over THIS task's arrow slice, tombstones excluded (a
            # delete event legitimately carries NULL payload — same
            # frame the Spark-side delta commit validates). A violation
            # fails the task → the query → nothing is ever staged into
            # a commit.
            import duckdb

            con = duckdb.connect()
            con.register("_staged", table)
            live_guard = (
                f'NOT COALESCE(("{self._op}" = \'{self._delete_op}\'), '
                "FALSE)"
            )
            for name in sorted(self._constraints):
                expr = self._constraints[name]
                n_bad = con.execute(
                    f"SELECT COUNT(*) FROM _staged WHERE {live_guard} "
                    f"AND NOT COALESCE(({expr}), TRUE)"
                ).fetchone()[0]
                if n_bad:
                    raise ValueError(
                        f"{self._root}: CHECK constraint {name!r} "
                        f"({expr}) violated by {n_bad} row(s) in this "
                        "micro-batch — sink commit refused"
                    )
            con.close()
        import numpy as np

        if null_mask.any():
            # additive mode: NULL is a legal GROUP BY value. Spark's
            # F.xxhash64(NULL) returns the seed (42) — verified against
            # the JVM — so the NULL group lands in pmod(42, n), exactly
            # where the view table's own _bucket(F.col(group)) puts it.
            buckets = np.empty(len(keys), dtype=np.int64)
            nn = ~null_mask.to_numpy()
            if nn.any():
                buckets[nn] = spark_buckets(
                    keys[nn], self._n_buckets, self._key_type
                )
            buckets[~nn] = 42 % self._n_buckets
        else:
            buckets = spark_buckets(keys, self._n_buckets, self._key_type)
        staging = os.path.join(self._root, "_sink", "staging")
        os.makedirs(staging, exist_ok=True)
        import uuid as _uuid

        files: dict[int, list[str]] = {}
        stats: dict[int, dict] = {}
        for b in np.unique(buckets):
            idx = np.nonzero(buckets == b)[0]
            sub = table.take(pa.array(idx))
            path = os.path.join(
                staging, f"b{int(b)}-{_uuid.uuid4().hex}.parquet"
            )
            pq.write_table(sub, path)
            files[int(b)] = [path]
            if self._stats_cols:
                import pyarrow.compute as pc

                st = {}
                for c in self._stats_cols:
                    if c in sub.column_names:
                        mm = pc.min_max(sub.column(c)).as_py()
                        # date/timestamp bounds → ISO strings, matching
                        # the Spark-side _json_stat rule (r14): the
                        # manifest is JSON and ISO order == time order
                        import datetime as _dt

                        st[c] = [
                            v.isoformat(sep=" ")
                            if isinstance(v, _dt.datetime)
                            else v.isoformat()
                            if isinstance(v, _dt.date)
                            else v
                            for v in (mm["min"], mm["max"])
                        ]
                stats[int(b)] = st
        return _SinkBatchMessage(files, table.num_rows, stats)

    # -- driver side (no SparkSession — pure metadata) ----------------------
    def _fence_path(self) -> str:
        return os.path.join(self._root, "_sink", f"{self._sink_id}.json")

    def _fenced_batch(self) -> int:
        """The highest batch id THIS RUN already published, or -1.
        A fence written by another run (nonce mismatch) never fences:
        its batch numbering is unrelated — treating a numerically
        smaller id as a replay would silently drop new data after a
        checkpoint reset."""
        try:
            with open(self._fence_path()) as fh:
                rec = json.load(fh)
            if rec.get("nonce") != self._nonce:
                return -1
            return int(rec["batch_id"])
        except (OSError, ValueError, KeyError):
            return -1

    def _cleanup(self, messages) -> None:
        for msg in messages:
            for paths in (getattr(msg, "files", None) or {}).values():
                for p in paths:
                    try:
                        os.remove(p)
                    except OSError:
                        pass

    def commit(self, messages, batchId: int) -> None:
        _ensure_importable()
        from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
            VersionedBucketMirror,
        )

        if batchId <= self._fenced_batch():
            # replayed micro-batch (retry between source-offset commit
            # and this fence, SAME run): effects already published —
            # drop the restage. A restart replays under a fresh nonce
            # and re-applies instead (the fold collapses it).
            self._cleanup(messages)
            return
        cur = _load_log(self._root).current()
        if cur is None or "buckets" not in cur:
            raise ValueError(
                f"state_table sink: {self._root} lost its manifest "
                "mid-stream"
            )
        if int(cur.get("n_buckets") or 0) != self._n_buckets:
            raise ValueError(
                f"state_table sink: {self._root} was rebucketed "
                f"mid-stream ({self._n_buckets} → {cur.get('n_buckets')} "
                "buckets) — this writer's partitioning is stale; restart "
                "the streaming query to rebind"
            )
        # a mid-stream alter_schema would let this batch's OLD column
        # names union-widen back into the manifest beside their renamed
        # selves — refuse, exactly like the source side does per window
        _refuse_ddl_metadata(cur, self._root)
        if dict(cur.get("constraints") or {}) != self._constraints:
            raise ValueError(
                f"state_table sink: {self._root}'s CHECK constraints "
                "changed mid-stream — this writer validated its batches "
                "against the old set; restart the streaming query to "
                "rebind"
            )
        staged: dict[int, list[str]] = {}
        stats: dict[str, dict] = {}
        rows = 0
        for msg in messages:
            if msg is None:
                continue
            rows += msg.rows
            for b, paths in msg.files.items():
                staged.setdefault(int(b), []).extend(paths)
            for b, st in (msg.stats or {}).items():
                merged = stats.setdefault(str(int(b)), {})
                for c, (mn, mx) in st.items():
                    if c in merged:
                        omn, omx = merged[c]
                        merged[c] = [
                            mn if omn is None or (mn is not None and mn < omn) else omn,
                            mx if omx is None or (mx is not None and mx > omx) else omx,
                        ]
                    else:
                        merged[c] = [mn, mx]
        if self._mode == "additive":
            # durable replay fence (r13): an additive delta is NOT
            # idempotent under re-application (it double-counts), so the
            # nonce fence file is not enough across a checkpoint
            # restart. The manifest itself records each sink commit's
            # (sink_id, batch id); if the newest such commit already
            # covers this id, the replayed batch is dropped. NOTE: this
            # means a RESET checkpoint (ids restart at 0) must use a
            # fresh sinkId — document contract of additive sinks.
            for e in reversed(_load_log(self._root).entries()):
                if (
                    e.get("operation") == "sink_commit"
                    and e.get("sink_id") == self._sink_id
                ):
                    if int(e.get("sink_batch_id", -1)) >= batchId:
                        self._cleanup(messages)
                        return
                    break
            fold = {
                "mode": "additive",
                "group": list(self._group),
                "count": self._count_col,
                "sums": list(self._sums),
            }
            schema = self._view_schema
        else:
            fold = {
                "key": self._key,
                "ts": list(self._ts),
                "op": self._op,
                "delete_op": self._delete_op,
                "tiebreak": list(self._tiebreak),
            }
            schema = self._schema
        m = VersionedBucketMirror(
            self._root, key_col=self._key, merge_on_read=True
        )
        if staged:
            m.commit_prestaged_delta(
                staged,
                constraints_checked=self._constraints,
                fold=fold,
                schema=schema,
                staged_stats=stats,
                meta={
                    "operation": "sink_commit",
                    "sink_id": self._sink_id,
                    "sink_batch_id": int(batchId),
                    "sink_rows": int(rows),
                },
            )
        # fence AFTER the publish (atomic rename): a crash in between
        # replays the batch, whose re-applied rows the ts-ordered fold
        # collapses — state-level idempotence, fence is the fast path
        fp = self._fence_path()
        os.makedirs(os.path.dirname(fp), exist_ok=True)
        tmp = f"{fp}.tmp-{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(
                {"nonce": self._nonce, "batch_id": int(batchId)}, fh
            )
        os.replace(tmp, fp)
        # age out staging files from crashed tasks (no message ever
        # referenced them; 1 h is far past any task retry window)
        staging = os.path.join(self._root, "_sink", "staging")
        if os.path.isdir(staging):
            import time as _time

            cutoff = _time.time() - 3600
            for f_ in os.listdir(staging):
                p = os.path.join(staging, f_)
                try:
                    if os.path.getmtime(p) < cutoff:
                        os.remove(p)
                except OSError:
                    pass

    def abort(self, messages, batchId: int) -> None:
        self._cleanup(messages)


class StateTableSinkDataSource(DataSource):
    """``spark.dataSource.register(StateTableSinkDataSource)`` then

    .. code-block:: python

        (changelog_stream.writeStream.format("state_table")
            .option("path", mirror.root).option("keyCol", "id")
            .option("tsCols", "transact_seq")
            .option("checkpointLocation", ckpt).start())

    — the write-side twin of ``ChangeFeedDataSource``: together they
    compose ``readStream.format("table_changes")`` →  transformations →
    ``writeStream.format("state_table")``, a table-to-table streaming
    pipeline entirely under Spark's trigger/checkpoint machinery."""

    @classmethod
    def name(cls) -> str:
        return "state_table"

    def schema(self) -> T.StructType:  # pragma: no cover - sink only
        raise ValueError("state_table is a write-only streaming format")

    def streamWriter(self, schema: T.StructType, overwrite: bool):
        if overwrite:
            raise ValueError(
                "state_table sink is append-mode only (CDC merge "
                "semantics — deletes travel as delete-op rows)"
            )
        if _opt(self.options, "path") is None:
            raise ValueError(
                "state_table sink needs .option('path', <table root>)"
            )
        return StateTableStreamWriter(schema, dict(self.options))
