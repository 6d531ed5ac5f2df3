"""ParquetStateTable: the snapshot-swap table layout, plus the CDC merge
helper that targets it. Split from ``streaming/pipeline.py`` (VERDICT r12
#3).
"""

from __future__ import annotations

import os
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
    _check_meta,
    _nullable_json,
    _purge_lock,
    _read_logical,
    _token,
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
    def _log_dir(self) -> str:
        return self._log.log_dir

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

    def _check_written(
        self,
        spark: SparkSession,
        record: dict,
        basis: dict | None,
        head: dict | None,
    ) -> None:
        """Validate a commit's WRITTEN bytes against the CHECK
        constraints ``head`` adds to ``basis``'s (``_revalidate``) —
        one scan of this commit's state; a violating commit's dir is
        removed before the error propagates."""
        try:
            self._revalidate(
                lambda: self._read_raw(spark, record), basis, head
            )
        except ConstraintViolation:
            shutil.rmtree(record["dir"], ignore_errors=True)
            raise

    def _renumber(
        self,
        spark: SparkSession,
        record: dict,
        basis: dict | None,
        head: dict | None,
    ) -> dict | None:
        """The rebase of a BLIND (full-state) commit: its state does not
        depend on the head it replaces, so it moves to any new head once
        its bytes pass the constraints that head adds, and takes the
        next version — renaming its data dir to match, so pre-log
        name-ordered retention stays version-ordered."""
        self._check_written(spark, record, basis, head)
        new_version = self._next_version()
        if new_version != record["version"]:
            new_dir = os.path.join(
                self.root, f"v-{new_version:08d}-{uuid.uuid4().hex[:8]}"
            )
            os.replace(record["dir"], new_dir)
            record["dir"] = new_dir
            record["version"] = new_version
        record["ts"] = time.time()
        return head

    def _refuse_stale(
        self, record: dict, basis: dict | None, head: dict | None
    ) -> dict | None:
        """The rebase of a BASED commit (``expected_version``): its state
        was derived from the basis, so a conflict is final — the data
        dir is removed, and the caller must re-read and re-derive."""
        shutil.rmtree(record["dir"], ignore_errors=True)
        raise CommitConflict(
            f"{self.root} advanced past this commit's basis "
            f"v{_token(basis)[0]} — re-read and re-derive it"
        )

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

    def _dml_scope(
        self, spark: SparkSession, cur: dict, hit, prune: tuple | None
    ) -> tuple[None, int]:
        """DML plan (``TableOps``): one dir, so the scope is the whole
        table (``None``) and one ``count()`` of the matches; the mirror's
        ``prune`` hint has nothing to narrow here."""
        return None, self._read_entry(spark, cur).filter(hit).count()

    def _insert_scope(
        self, spark: SparkSession, cur: dict | None, rows: DataFrame
    ) -> tuple[None, int]:
        return None, rows.count()

    def _rewrite_scope(
        self, spark: SparkSession, cur: dict | None, scope, fn, meta: dict
    ) -> dict:
        """Commit ``fn(state of cur)`` as a full-state replace based on
        ``cur`` (``TableOps``): a concurrent commit or purge raises."""
        state = self._read_entry(spark, cur) if cur is not None else None
        return self.commit(fn(state), meta=meta, expected_version=_token(cur))

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
        concurrency). Pass the basis record's ``_token`` so a purge of
        the basis also conflicts; a bare version names that version's
        record (``_basis_of``). Without it the commit is blind full-state
        replace and retries internally on conflicts (``_renumber``)."""
        _check_meta(meta)
        basis = (
            self._head(branch)
            if expected_version is None
            else self._basis_of(expected_version)
        )
        version = self._next_version()
        vdir = os.path.join(self.root, f"v-{version:08d}-{uuid.uuid4().hex[:8]}")
        df.write.mode("errorifexists").parquet(vdir)
        # the written physical schema rides the record (r16): every later
        # raw read of this immutable dir binds to it instead of paying a
        # footer-inference job (_read_raw)
        record = {
            "version": version,
            "dir": vdir,
            "ts": time.time(),
            "data_schema": _nullable_json(df.schema),
        }
        if meta:
            record.update(meta)
        spark = df.sparkSession
        # CHECK constraints (r12): the written bytes pass before the
        # pointer ever moves
        self._check_written(spark, record, None, basis)
        if expected_version is None:
            rebase = partial(self._renumber, spark, record)
        else:
            rebase = partial(self._refuse_stale, record)
        return self._publish_cas(lambda _basis: record, basis, rebase, branch)

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
        head = self.current()
        cons = (head or {}).get("constraints")
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

        # each record publishes onto the one before it
        spark = dfs[0].sparkSession
        out: list[dict] = []
        try:
            for rec in records:
                head = self._publish_cas(
                    lambda _basis, rec=rec: rec,
                    head,
                    partial(self._renumber, spark, rec),
                )
                out.append(head)
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
        new_state,
        meta={"operation": "cdc_merge"},
        expected_version=_token(basis),
    )
