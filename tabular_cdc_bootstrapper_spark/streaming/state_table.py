"""ParquetStateTable: the snapshot-swap table layout, plus the CDC merge
helper that targets it. Split from ``streaming/pipeline.py`` (VERDICT r12
#3).
"""

from __future__ import annotations

import os
import re
import shutil
import time
import uuid
from collections.abc import Sequence
from functools import partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tabular_cdc_bootstrapper_spark.config import CdcTarget
from tabular_cdc_bootstrapper_spark.operators.cdc import apply_changelog
from tabular_cdc_bootstrapper_spark.streaming._protocol import (
    CommitConflict,
    ConstraintViolation,
    SnapshotLog,
    TableOps,
    _RETRY_BACKOFF,
    _alter_schema_meta,
    _check_meta,
    _check_table_constraints,
    _nullable_json,
    _purge_lock,
    _read_logical,
)


class ParquetStateTable(TableOps):
    """Versioned parquet table with an atomic CURRENT pointer.

    Layout: ``root/v-<n>-<uuid>/*.parquet`` + ``root/_CURRENT`` (JSON:
    {"version": n, "dir": ..., "ts": ...}). Commits write a new version dir
    then atomically rename the pointer — readers resolve the pointer first,
    so replace is atomic and crash-safe; stale versions are pruned after
    commit (best-effort, like snapshot expiry).

    Time travel: each commit also appends an immutable snapshot entry under
    ``root/_log/v-<n>.json`` BEFORE the pointer swap — the table's
    append-only snapshot history, the same metadata-log idea as an Iceberg
    snapshot list (the reference's tables are Iceberg, tabular.py:8,92;
    this reproduces VERSION AS OF / TIMESTAMP AS OF / rollback semantics
    without the format, since the runtime jar is not available offline).
    ``history()`` lists committed snapshots; ``read_version`` /
    ``read_as_of`` resolve reads against the log; ``rollback(n)`` commits a
    NEW snapshot whose data dir is version n's — history is never
    rewritten. Retention: ``keep_versions`` snapshots stay readable; a data
    dir is deleted only when no retained snapshot references it, so a
    rollback target stays readable while in retention. Expired snapshots
    remain in the log (``readable: false``) — metadata is tiny, data is
    not. Crash between log append and pointer swap leaves an orphan log
    entry above the pointer; version allocation takes
    max(pointer, log) + 1, so the orphan is superseded and never surfaces
    in ``history()``. Tables written before the log existed keep working:
    pointer reads are unchanged and the log starts at their next commit.
    """

    def __init__(self, root: str, keep_versions: int = 2) -> None:
        self.root = root
        self.keep_versions = keep_versions
        self._log = SnapshotLog(root)
        os.makedirs(root, exist_ok=True)

    @property
    def _pointer(self) -> str:
        return self._log.pointer_path

    @property
    def _log_dir(self) -> str:
        return self._log.log_dir

    def _log_entries(self) -> list[dict]:
        return self._log.entries()

    def _next_version(self) -> int:
        return self._log.next_version()

    #: record keys describing a snapshot's data (``TableOps``)
    _STATE_KEYS = (
        "dir", "schema", "next_fid", "renames", "dropped", "shadowed",
        "data_schema",
    )

    _VERSION_DIRS = "v-*"
    _PURGE_KEEP_EMPTY = True
    _KEEP_NEWEST_DIRS = True

    @staticmethod
    def _entry_dirs(e: dict) -> list[str]:
        return [e["dir"]]

    def _publish_commit(
        self, record: dict, expected_head: "int | tuple | None" = None
    ) -> dict:
        return self._publish(
            record, keep=record["dir"], expected_head=expected_head
        )

    def _publish(
        self, record: dict, keep: str, expected_head: int | None = None
    ) -> dict:
        # Orphan GC must not touch dirs referenced by COMMITTED history
        # (ADVICE r8): a rollback's log entry shares its dir with the older
        # committed snapshot it re-points at, so a crash between its log
        # append and pointer swap leaves an orphan whose dir still belongs
        # to a retained committed snapshot — guarding only on the record
        # being published would rmtree committed data. Snapshot the set
        # before publish, while the pointer is still the pre-commit one.
        committed_dirs = {e["dir"] for e in self._log.committed()}

        def gc_orphan(e: dict) -> None:
            if (
                e["dir"] != record["dir"]
                and e["dir"] not in committed_dirs
                and self._owns(e["dir"])
            ):
                shutil.rmtree(e["dir"], ignore_errors=True)

        # staged branch commits also live above the main pointer — they
        # are deliberate, not crash orphans; spare them from the GC
        self._log.publish(
            record,
            on_orphan=gc_orphan,
            protected=self._branch_covers,
            expected_head=expected_head,
        )
        self._expire({"dir": keep})
        return record

    def _publish_retry(self, record: dict, on_retry=None) -> dict:
        """Publish a BLIND (full-state) commit with conflict retry: on a
        lost race, re-allocate the next version — renaming the data dir
        to match, so pre-log name-ordered retention stays version-ordered
        — and try again against the new head (a full-state replace does
        not depend on what it replaces, so rebasing is just renumbering).
        The backoff outlasts ``conflict_grace_s``, so a commit blocked by
        a crash orphan self-heals once the orphan ages out.

        ``on_retry(record, head)`` (r12): head-dependent reconciliation
        hook — called before EVERY attempt with the head that attempt
        will publish against, and the publish then CASes on that exact
        head, so a property changing concurrently (e.g. a constraint
        added mid-commit) can never be silently dropped: the CAS fails,
        the next attempt reconciles against the newer head."""

        def _attempt():
            head = self.current()
            expected = None
            if on_retry is not None:
                on_retry(record, head)
                if head is not None:
                    expected = (
                        head["version"],
                        head.get("purged_ts") or 0,
                    )
            return self._publish(
                record, keep=record["dir"], expected_head=expected
            )

        for delay in _RETRY_BACKOFF:
            try:
                return _attempt()
            except CommitConflict:
                time.sleep(delay)
                new_version = self._next_version()
                if new_version != record["version"]:
                    new_dir = os.path.join(
                        self.root,
                        f"v-{new_version:08d}-{uuid.uuid4().hex[:8]}",
                    )
                    os.replace(record["dir"], new_dir)
                    record["dir"] = new_dir
                    record["version"] = new_version
                record["ts"] = time.time()
        return _attempt()  # last try raises

    def _reconcile_constraints(
        self, spark: SparkSession, rec: dict, head: dict | None
    ) -> None:
        """The ``on_retry`` hook of a blind commit: a CHECK constraint
        added or changed CONCURRENTLY (review r12) is validated against
        the record's already-written bytes, then carried — the
        per-attempt CAS of ``_publish_retry`` makes a drop impossible.
        The record's own ``constraints`` are the set its bytes were
        validated against."""
        cons = rec.get("constraints") or {}
        new_cons = (head or {}).get("constraints") or {}
        extra = {k: v for k, v in new_cons.items() if cons.get(k) != v}
        if extra:
            _check_table_constraints(
                spark.read.schema(
                    T.StructType.fromJson(rec["data_schema"])
                ).parquet(rec["dir"]),
                extra,
                self.root,
            )
        if new_cons:
            rec["constraints"] = new_cons
        else:
            rec.pop("constraints", None)

    def _read_entry(self, spark: SparkSession, e: dict) -> DataFrame:
        """Read one snapshot record's dir under ITS schema metadata:
        records written by ``alter_schema`` carry a logical schema plus
        rename folds / generation masks (shared ``_read_logical`` path,
        r12); every other record reads the dir raw, exactly as before —
        a plain ``commit`` is a full-state replace whose dir already
        holds the logical column names, so DDL metadata retires with
        it."""
        if e.get("schema") is None:
            return self._read_raw(spark, e)
        return _read_logical(
            spark, [e["dir"]], e["schema"], e.get("renames"),
            e.get("shadowed"),
        )

    @staticmethod
    def _read_raw(spark: SparkSession, e: dict) -> DataFrame:
        """Raw (no DDL metadata) snapshot read. When the record carries
        the physical schema written at commit time (``data_schema``,
        r16), bind the read to it — the Iceberg schema-from-metadata
        rule: the dir is immutable, the recorded schema is footer-
        identical by construction, and the bound read skips the
        per-read schema-inference Spark job (measured ~0.03 s + ~0.06 s
        of driver planning EACH across every lifecycle harness)."""
        ds = e.get("data_schema")
        if ds:
            try:
                return spark.read.schema(
                    T.StructType.fromJson(ds)
                ).parquet(e["dir"])
            except Exception:
                pass  # unparseable record: fall through to inference
        return spark.read.parquet(e["dir"])

    def read(self, spark: SparkSession, schema: T.StructType | None = None) -> DataFrame | None:
        cur = self.current()
        if cur is None:
            if schema is not None:
                return spark.createDataFrame([], schema)
            return None
        return self._read_entry(spark, cur)

    def alter_schema(
        self,
        drop: Sequence[str] = (),
        rename: dict[str, str] | None = None,
        add: dict[str, str] | None = None,
        widen: dict[str, str] | None = None,
        spark: SparkSession | None = None,
    ) -> dict:
        """Metadata-only ALTER TABLE on the plain snapshot layout (r12,
        VERDICT task 2 — DDL symmetry with ``VersionedBucketMirror``):
        ONE log commit SHARING the current version's data dir, zero data
        movement. Semantics are ``_alter_schema_meta``'s — field-ID
        column identity, rename as label change (read-side coalesce
        fold), drop frees the name immediately, re-add-after-drop masks
        the previous generation's bytes via the dir-version threshold.
        The next full-state ``commit`` naturally materializes the
        logical schema (its dir is written fresh from logical columns)
        and the DDL metadata retires with it.

        ``spark`` is needed only for the FIRST alter on a table whose
        records predate schema metadata (to bind the current parquet
        schema); subsequent alters evolve the recorded schema."""
        rename = dict(rename or {})
        drop = list(drop)
        add = dict(add or {})
        widen = dict(widen or {})
        if not rename and not drop and not add and not widen:
            raise ValueError("alter_schema: nothing to do")
        cur = self.current()
        if cur is None:
            raise ValueError(f"{self.root} has no snapshot yet")
        for cname, cexpr in (cur.get("constraints") or {}).items():
            for col in list(drop) + list(rename):
                if re.search(rf"\b{re.escape(col)}\b", cexpr, re.I):
                    # case-insensitive like Spark's column resolution —
                    # a case-mismatched guard would let the rename
                    # publish and wedge every later commit on an
                    # unresolved constraint column (review r12)
                    raise ValueError(
                        f"column {col!r} is referenced by CHECK "
                        f"constraint {cname!r} ({cexpr}) — DROP the "
                        "constraint before altering the column"
                    )
        if "schema" not in cur:
            if spark is None:
                raise ValueError(
                    f"first alter_schema on {self.root} needs spark= to "
                    "bind the current parquet schema into the record"
                )
            cur = dict(cur)
            cur["schema"] = spark.read.parquet(cur["dir"]).schema.jsonValue()
        new_version = self._next_version()
        meta = _alter_schema_meta(
            cur, self.root, drop, rename, add, widen, new_version
        )
        record = {
            "version": new_version,
            "dir": cur["dir"],  # zero data movement: the dir is shared
            "ts": time.time(),
            "schema": meta["schema"],
            "next_fid": meta["next_fid"],
            "operation": "alter_schema",
            "altered": meta["altered"],
        }
        if cur.get("data_schema"):
            # the shared dir's PHYSICAL schema is unchanged by DDL —
            # carry it for the purge paths' schema-bound raw reads
            record["data_schema"] = cur["data_schema"]
        if meta["dropped"]:
            record["dropped"] = meta["dropped"]
        if meta["renames"]:
            record["renames"] = meta["renames"]
        if meta["shadowed"]:
            record["shadowed"] = meta["shadowed"]
        if cur.get("constraints"):
            # table properties carry (constrained columns can't be
            # dropped/renamed — guarded above)
            record["constraints"] = cur["constraints"]
        return self._publish_commit(
            record,
            # token CAS (r12): the record SHARES cur's data dir — an
            # in-place purge landing in between would delete it
            expected_head=(cur["version"], cur.get("purged_ts") or 0),
        )

    def delete_where(self, spark: SparkSession, condition) -> dict:
        """Row-level ``DELETE WHERE`` on the plain snapshot layout —
        the one-dir twin of ``VersionedBucketMirror.delete_where``
        (DML symmetry across both layouts, like ``alter_schema``).
        The layout has no bucket granularity, so a match anywhere
        rewrites the whole state dir (exactly what every ``commit``
        does); the value over hand-rolled read-filter-commit is the
        counted receipt, SQL NULL semantics (NULL condition keeps the
        row), the no-op short-circuit (zero matches publishes
        nothing), and the purge-aware CAS token."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        hit = F.coalesce(cond.cast("boolean"), F.lit(False))
        cur = self.current()
        if cur is None:
            raise ValueError(f"{self.root} has no snapshot yet")
        df = self.read(spark)
        n_hit = df.filter(hit).count()
        if n_hit == 0:
            rec = dict(cur)
            rec["rows_deleted"] = 0
            return rec
        rec = self.commit(
            df.filter(~hit),
            meta={"operation": "delete_where"},
            expected_version=(cur["version"], cur.get("purged_ts") or 0),
        )
        rec["rows_deleted"] = n_hit
        return rec

    def insert_rows(self, spark: SparkSession, rows: DataFrame) -> dict:
        """``INSERT INTO`` append on the plain snapshot layout (r13;
        the most common DML verb — Iceberg INSERT INTO appends, it
        does not upsert). ``rows`` must already be aligned to the
        table's schema (the SQL front-end does the column-list /
        NULL-fill / cast work). New state = current ∪ rows in one
        commit: CHECK constraints validate the written bytes before
        the pointer moves (``commit``'s existing gate), and the
        purge-aware CAS token makes a concurrent commit surface as
        :class:`CommitConflict`, never a lost append."""
        cur = self.current()
        if cur is None:
            # first insert into a registered-but-empty table: the rows
            # ARE the initial state
            n_new = rows.count()
            rec = self.commit(rows, meta={"operation": "insert_into"})
            rec["rows_inserted"] = n_new
            return rec
        df = self.read(spark)
        extra = [c for c in rows.columns if c not in df.columns]
        if extra:
            raise ValueError(
                f"insert_rows got unknown column(s) {extra} "
                f"(table columns: {df.columns})"
            )
        n_new = rows.count()
        if n_new == 0:
            rec = dict(cur)
            rec["rows_inserted"] = 0
            return rec
        rec = self.commit(
            df.unionByName(rows, allowMissingColumns=True),
            meta={"operation": "insert_into"},
            expected_version=(cur["version"], cur.get("purged_ts") or 0),
        )
        rec["rows_inserted"] = n_new
        return rec

    def update_where(
        self, spark: SparkSession, condition, assignments: dict
    ) -> dict:
        """Row-level ``UPDATE SET ... WHERE`` on the plain snapshot
        layout — semantics identical to
        ``VersionedBucketMirror.update_where``: simultaneous
        assignment (every right-hand side reads pre-update values),
        values cast to the column's existing type, NULL condition
        leaves the row unchanged, zero matches publishes nothing."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        hit = F.coalesce(cond.cast("boolean"), F.lit(False))
        if not assignments:
            raise ValueError("update_where requires at least one assignment")
        cur = self.current()
        if cur is None:
            raise ValueError(f"{self.root} has no snapshot yet")
        df = self.read(spark)
        missing = [c for c in assignments if c not in df.columns]
        if missing:
            raise ValueError(
                f"update_where assigns unknown column(s) {missing} "
                f"(table columns: {df.columns})"
            )
        n_hit = df.filter(hit).count()
        if n_hit == 0:
            rec = dict(cur)
            rec["rows_updated"] = 0
            return rec
        types = {f.name: f.dataType for f in df.schema.fields}
        projected = []
        for c in df.columns:
            if c in assignments:
                v = assignments[c]
                rhs = F.expr(v) if isinstance(v, str) else v
                projected.append(
                    F.when(hit, rhs.cast(types[c]))
                    .otherwise(F.col(c))
                    .alias(c)
                )
            else:
                projected.append(F.col(c))
        rec = self.commit(
            df.select(*projected),
            meta={"operation": "update_where"},
            expected_version=(cur["version"], cur.get("purged_ts") or 0),
        )
        rec["rows_updated"] = n_hit
        return rec

    def commit(
        self,
        df: DataFrame,
        meta: dict | None = None,
        branch: str | None = None,
        expected_version: "int | tuple | None" = None,
    ) -> dict:
        """Commit a new version; ``meta`` rides the pointer JSON — the hook
        transactional sinks use to make replayed batches detectable (e.g.
        ``last_batch_id``), since the pointer swap and the metadata are one
        atomic rename.

        ``branch``: stage the commit on a writable branch instead of
        publishing to main — the version is allocated from the shared
        log (so numbers stay globally unique) but only the BRANCH
        pointer advances; main readers never see it until
        ``fast_forward``. The log entry carries ``ref: <branch>`` as
        provenance until fast-forward strips it.

        ``expected_version``: the head this commit's ``df`` was computed
        FROM (a based commit, e.g. a merge) — the publish then raises
        :class:`CommitConflict` if the table advanced past it, instead of
        silently clobbering the concurrent commit (r11 optimistic
        concurrency). Without it the commit is blind full-state replace
        and retries internally on conflicts."""
        _check_meta(meta)
        cur_head = self.current()
        cons = (cur_head or {}).get("constraints") or {}
        version = self._next_version()
        vdir = os.path.join(self.root, f"v-{version:08d}-{uuid.uuid4().hex[:8]}")
        df.write.mode("errorifexists").parquet(vdir)
        # the written physical schema rides the record (r16): every later
        # raw read of this immutable dir binds to it instead of paying a
        # footer-inference job (_read_raw)
        written = _nullable_json(df.schema)
        if cons:
            # CHECK constraints (r12): validate the WRITTEN bytes before
            # the pointer ever moves — one scan of this commit's state
            try:
                _check_table_constraints(
                    df.sparkSession.read.schema(
                        T.StructType.fromJson(written)
                    ).parquet(vdir),
                    cons,
                    self.root,
                )
            except ConstraintViolation:
                shutil.rmtree(vdir, ignore_errors=True)
                raise
        record = {
            "version": version,
            "dir": vdir,
            "ts": time.time(),
            "data_schema": written,
        }
        if cons:
            record["constraints"] = cons  # table property, carries
        if meta:
            record.update(meta)
        if branch is not None:
            return self._publish_to_branch(record, branch)
        if expected_version is not None:
            try:
                return self._publish(
                    record, keep=vdir, expected_head=expected_version
                )
            except CommitConflict:
                shutil.rmtree(vdir, ignore_errors=True)  # stale basis:
                raise  # the caller must re-read and re-derive df

        try:
            return self._publish_retry(
                record,
                on_retry=partial(self._reconcile_constraints, df.sparkSession),
            )
        except ConstraintViolation:
            shutil.rmtree(vdir, ignore_errors=True)
            raise

    def commit_many(
        self, dfs: "Sequence[DataFrame]", metas: "Sequence[dict | None] | None" = None
    ) -> list[dict]:
        """Commit several consecutive FULL-STATE versions with ONE Spark
        write job (r16, guide §2.4 — every commit used to be its own
        action, so an N-version harness step paid N scheduling/planning
        round-trips): the same-schema frames are unioned under a ``__v``
        partition id, written ``partitionBy("__v")`` into a staging dir
        in one job, and a driver-side rename installs each partition as
        its immutable version dir before the log records publish oldest-
        first (same per-record CAS/retry as :meth:`commit`). History,
        pointer, retention, and the recorded ``data_schema`` are
        byte-identical to N serial commits — only the job count changes.

        Falls back to serial :meth:`commit` when the fast path cannot
        apply: mismatched schemas (the union would coerce), active CHECK
        constraints (validated per-version against written bytes), or a
        single frame."""
        dfs = list(dfs)
        metas = list(metas) if metas is not None else [None] * len(dfs)
        if len(metas) != len(dfs):
            raise ValueError("commit_many: metas length != dfs length")
        for m in metas:
            _check_meta(m)
        cons = (self.current() or {}).get("constraints") or {}
        schema_keys = {d.schema.json() for d in dfs}
        if len(dfs) <= 1 or cons or len(schema_keys) != 1:
            return [
                self.commit(d, meta=m) for d, m in zip(dfs, metas)
            ]
        base_version = self._next_version()
        stg = os.path.join(
            self.root, f"commit-stg-{uuid.uuid4().hex[:8]}"
        )
        tagged = dfs[0].withColumn("__v", F.lit(0))
        for i, d in enumerate(dfs[1:], start=1):
            tagged = tagged.unionByName(d.withColumn("__v", F.lit(i)))
        written = _nullable_json(dfs[0].schema)
        records: list[dict] = []
        try:
            tagged.write.partitionBy("__v").mode(
                "errorifexists"
            ).parquet(stg)
            for i, d in enumerate(dfs):
                version = base_version + i
                vdir = os.path.join(
                    self.root,
                    f"v-{version:08d}-{uuid.uuid4().hex[:8]}",
                )
                part = os.path.join(stg, f"__v={i}")
                if os.path.isdir(part):
                    os.rename(part, vdir)
                else:  # empty frame: stays a readable 0-row version
                    d.sparkSession.createDataFrame(
                        [], dfs[0].schema
                    ).write.mode("errorifexists").parquet(vdir)
                rec = {
                    "version": version,
                    "dir": vdir,
                    "ts": time.time(),
                    "data_schema": written,
                }
                if metas[i]:
                    rec.update(metas[i])
                records.append(rec)
        except Exception:
            for rec in records:
                shutil.rmtree(rec["dir"], ignore_errors=True)
            raise
        finally:
            shutil.rmtree(stg, ignore_errors=True)

        reconcile = partial(self._reconcile_constraints, dfs[0].sparkSession)
        out: list[dict] = []
        try:
            for rec in records:
                out.append(self._publish_retry(rec, on_retry=reconcile))
        except ConstraintViolation:
            for rec in records[len(out):]:
                shutil.rmtree(rec["dir"], ignore_errors=True)
            raise
        return out

    def _new_like(self, dst_root: str) -> "ParquetStateTable":
        return ParquetStateTable(dst_root, keep_versions=self.keep_versions)

    @staticmethod
    def _map_dirs(e: dict, fn) -> dict:
        return {**e, "dir": fn(e["dir"], os.path.basename(e["dir"]))}

    def _stage(
        self, spark: SparkSession, df: DataFrame, wdir: str
    ) -> tuple[DataFrame, dict]:
        df.write.mode("errorifexists").parquet(wdir)
        keys = {"data_schema": _nullable_json(df.schema)}
        return self._read_entry(spark, {"dir": wdir, **keys}), keys

    def _install_staged(self, wdir: str, version: int) -> dict:
        vdir = os.path.join(
            self.root, f"v-{version:08d}-{uuid.uuid4().hex[:8]}"
        )
        os.replace(wdir, vdir)
        return {"dir": vdir}

    def purge_keys(
        self,
        spark: SparkSession,
        keys_df: DataFrame,
        key_cols: str | Sequence[str],
    ) -> dict:
        """GDPR hard delete of every row matching ``keys_df`` on
        ``key_cols`` from the current and every retained snapshot (see
        ``TableOps._purge_keys_locked``); a fully purged snapshot stays a
        readable 0-row dir. The purge lock serializes runs — two
        unsynchronized purges rewrite records in place and
        last-write-win each other's deletions (r12)."""
        with _purge_lock(self.root):
            out = self._purge_keys_locked(spark, keys_df, key_cols)
        out = out or {"rewritten": 0, "dirs": 0}
        return {
            "versions_rewritten": out["rewritten"],
            "dirs_rewritten": out["dirs"],
        }

    def _purge_candidates(self, e: dict, scope) -> list[tuple[str, str]]:
        return [
            (
                e["dir"],
                os.path.join(
                    self.root,
                    f"v-{e['version']:08d}-purge-{uuid.uuid4().hex[:8]}",
                ),
            )
        ]



def cdc_merge_batch(
    spark: SparkSession,
    batch_df: DataFrame,
    mirror: ParquetStateTable,
    target: CdcTarget,
    tiebreak_cols: Sequence[str] = (),
) -> dict:
    """Merge one micro-batch of changelog events into the mirror.

    Incremental-merge shape (not full recompute): reduce the batch to
    latest-per-key, then union with current mirror rows and reduce again.
    The second reduce is cheap — |mirror ∩ batch keys| + |batch keys| rows
    per key at most 2. At 100 TB the mirror side would be key-partitioned
    so only partitions containing batch keys are rewritten (dynamic
    partition overwrite); locally the state table swaps whole snapshots.
    """
    ts_col = target.ts_column
    basis = mirror.current()
    current = mirror.read(spark)
    new_state = apply_changelog(
        batch_df,
        key_cols=target.key_column,
        ts_cols=ts_col,
        op_col=target.op_column,
        delete_op=target.delete_op,
        mirror=current,
        tiebreak_cols=tiebreak_cols,
        drop_envelope=(),
    )
    # based commit (r11): the new state was derived FROM ``basis`` — a
    # concurrent commit in between must surface as CommitConflict, and
    # the streaming caller's checkpoint replay re-derives idempotently
    return mirror.commit(
        new_state, expected_version=basis["version"] if basis else -1
    )
