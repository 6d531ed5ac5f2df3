"""Layout-specific DML and maintenance methods of
``VersionedBucketMirror``, as a mixin (``bucket_mirror.py`` composes
it): compaction, rebucket/regrain, ALTER, DELETE/UPDATE/INSERT/MERGE,
and the purge's bucket scope. The core file keeps the manifest/commit
machinery. History, time travel, tags, constraints, rollback, clone,
explicit expiry, write-audit-publish, the GDPR purge protocol and
per-commit retention (``_expire``) are written once for both layouts in
``_protocol.TableOps``.
"""

from __future__ import annotations

import os
import re
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.config import CdcTarget
from tabular_cdc_bootstrapper_spark.operators.cdc import (
    apply_changelog,
    latest_by_key,
)
from tabular_cdc_bootstrapper_spark.streaming._protocol import (
    CommitConflict,
    _UNSET,
    _alter_schema_meta,
    _purge_lock,
    _validate_partition_spec,
    _vanished_path,
)


class VersionedBucketMirrorOps:
    """Operations half of ``VersionedBucketMirror`` (see module
    docstring); every method binds to the core half's commit and
    read machinery via ``self``."""

    def _write_parallelism(self, df, touched=None) -> int:
        """Explicit task count for a staged ``partitionBy("bucket")``
        write (r15 optimization round): the cost driver of a dynamic-
        partition write is the number of OUTPUT DIRS (each pays a fixed
        parquet-writer setup + commit), not the shuffle bytes — but a
        bare ``repartition("bucket")`` lets AQE coalesce the exchange by
        SIZE, which at small staged volumes collapses every dir behind
        ONE task writing them sequentially (profiled: 1.75 s of a 3.3 s
        merge was one task writing ~80 month dirs). Sizing the exchange
        to max(session parallelism, expected dir count) keeps one-ish
        task per dir — the Iceberg hash-distribution write shape — at
        every scale; per-key partition splitting is what
        ``files_per_bucket`` is for."""
        sc = df.sparkSession.sparkContext
        if touched is not None:
            dirs = len(touched)
        elif self.partition_spec[0] == "bucket":
            dirs = self.n_buckets
        else:
            dirs = 0  # transform-spec full load: dir count is data-driven
        return max(sc.defaultParallelism, int(dirs))

    def rewrite_data_files(
        self,
        spark: SparkSession,
        min_files: int = 2,
        materialize: bool = False,
        zorder_cols: Sequence[str] = (),
        partial_progress: bool = False,
    ) -> dict:
        """Small-file compaction across the CURRENT manifest (VERDICT r10
        task 4 — the Iceberg ``rewrite_data_files`` maintenance action,
        manifest-aware where the plain-table compactor in
        sources/sinks.py is not): every live bucket dir holding
        ``min_files``+ files is rewritten into a coalesced replacement,
        and ONE manifest commit re-points those buckets. History, tags
        and time travel are untouched — superseded dirs stay owned by
        the older manifests that reference them, and retention reclaims
        them on its normal schedule; a crash mid-write leaves dirs no
        manifest references (next publish's ``_expire`` GCs them).

        One Spark job regardless of bucket count: the fragmented dirs
        are read together and re-staged through the same bucket-
        partitioned commit path as a merge (1 task → 1 file per bucket),
        so data never moves twice and the bucket hash assignment is
        reproduced bit-for-bit. Returns a receipt with before/after file
        counts — the read-amplification recovery the probe measures.

        ``partial_progress`` (r12, the Iceberg ``partial-progress``
        compaction mode, found by ``scripts/probe_concurrent_stress.py``):
        under sustained writer traffic a full-restage-on-conflict
        compaction STARVES — every landing merge invalidates the whole
        staged rewrite. With partial progress, buckets a concurrent
        commit modified are dropped from the commit (their staged
        rewrite is a stale copy of superseded bytes — losing it loses
        nothing; they stay fragmented for the next pass) and the
        untouched majority lands. Safe for pure rewrites only, which a
        compaction is by construction; the receipt reports
        ``buckets_dropped``. Schema-metadata retirement (renames/
        dropped/shadowed/materialize) only completes when NO bucket is
        dropped — a partial pass carries the metadata forward exactly
        like any commit that leaves old dirs live."""
        cur = self.current()

        def _nfiles(d: str) -> int:
            try:
                return sum(
                    1 for n in os.listdir(d) if n.endswith(".parquet")
                )
            except FileNotFoundError:
                return 0

        if cur is None:
            return {
                "version": None,
                "buckets_compacted": 0,
                "files_before": 0,
                "files_after": 0,
            }
        deltas = cur.get("deltas") or {}
        # fragmented bases AND every delta'd bucket (r11: compaction is
        # the merge-on-read FOLD point — base+deltas rewrite into one
        # fresh base and the chain resets). A live RENAME mapping (or
        # explicit ``materialize=True``, e.g. after a metadata-only
        # column drop) pulls in EVERY bucket: the rewrite lands the
        # logical column names physically, retiring the read-side
        # coalesce fold and reclaiming dropped columns' bytes.
        todo = {
            b
            for b, d in cur["buckets"].items()
            if _nfiles(d) >= max(min_files, 2)
        } | set(deltas)
        if (
            materialize
            or zorder_cols
            or cur.get("renames")
            or cur.get("dropped")
            or cur.get("shadowed")
        ):
            todo |= set(cur["buckets"])
        if not todo:
            return {
                "version": None,
                "buckets_compacted": 0,
                "files_before": 0,
                "files_after": 0,
            }
        files_before = sum(
            _nfiles(cur["buckets"][b]) for b in todo if b in cur["buckets"]
        ) + sum(
            _nfiles(s["dir"]) for b in todo for s in deltas.get(b, [])
        )
        try:
            frag = self._read_entry(
                spark, cur, buckets=[int(b) for b in todo]
            )
            rec = self._commit_staged(
                frag,
                touched=[int(b) for b in todo],
                meta={"operation": "rewrite_data_files"},
                basis=cur,
                zorder_cols=zorder_cols,
                drop_conflicted=partial_progress,
            )
        except CommitConflict:
            raise
        except Exception as exc:
            if _vanished_path(exc):  # reader-vs-purge race (r12)
                raise CommitConflict(
                    f"{self.root}: this compaction's basis dirs were "
                    "purged concurrently — re-run against the new head"
                ) from None
            raise
        # with partial progress, a conflicted bucket's dir is the
        # concurrent winner's, not our coalesced rewrite — count only
        # buckets this commit actually installed
        compacted = rec.get("_installed", sorted(str(b) for b in todo))
        files_after = sum(
            _nfiles(rec["buckets"][b]) for b in todo if b in rec["buckets"]
        )
        return {
            "version": rec["version"],
            "buckets_compacted": len(compacted),
            "buckets_dropped": len(todo) - len(compacted),
            "files_before": files_before,
            "files_after": files_after,
        }

    def rebucket(self, spark: SparkSession, new_n: int) -> dict:
        """Bucket-count (partition-spec) evolution (r11, VERDICT task 4
        — the Iceberg spec-evolution analog, eager form): rewrite the
        CURRENT state under a ``new_n``-bucket hash spec as ONE manifest
        commit. History stays intact — old manifests keep their dirs and
        their own recorded spec, time travel and tags read through —
        and every subsequent merge/lookup prunes under the new spec
        (the spec rides the manifest; ``_sync_spec`` rebinds handles).
        Cost ∝ live data (one bucket-partitioned rewrite), independent
        of history length — the probe scripts measure exactly that.
        Merges prepared under the old spec conflict cleanly (their
        basis buckets were all rewritten)."""
        new_n = int(new_n)
        if new_n < 1:
            raise ValueError(f"n_buckets must be >= 1, got {new_n}")
        self._sync_spec()
        if self.partition_spec[0] != "bucket":
            raise ValueError(
                f"rebucket applies to hash-bucket specs; this table is "
                f"partitioned by {self.partition_spec!r}"
            )
        cur = self.current()
        if cur is None:
            raise ValueError(f"mirror {self.root} has no snapshot yet")
        if new_n == self.n_buckets:
            return dict(cur)  # already on this spec: no-op
        try:
            full = self._read_entry(spark, cur)
        except Exception as exc:
            if _vanished_path(exc):  # reader-vs-purge race (r12)
                raise CommitConflict(
                    f"{self.root}: this rebucket's basis dirs were "
                    "purged concurrently — re-run against the new head"
                ) from None
            raise
        old_n = self.n_buckets
        self.n_buckets = new_n
        try:
            # basis=cur: the full-state replace was DERIVED from cur, so
            # a commit landing between the read and the publish must
            # CommitConflict (ADVICE r12: touched=None used to rebase
            # silently, overwriting the concurrent commit with pre-read
            # state — a lost update). Callers re-run rebucket.
            rec = self._commit_staged(
                full, touched=None, meta={"operation": "rebucket"},
                basis=cur,
            )
        except BaseException:
            self.n_buckets = old_n
            raise
        return rec

    def regrain(
        self,
        spark: SparkSession,
        new_spec: Sequence,
        n_buckets: int | None = None,
    ) -> dict:
        """Partition-spec evolution across TRANSFORM specs (r15, VERDICT
        r14 #3 — the Iceberg partition-spec-evolution contract the
        reference's format implies, reference tabular.py:8): rewrite the
        CURRENT state under ``new_spec`` as ONE manifest commit — the
        ``rebucket`` pattern generalized to the full spec matrix
        (``days()`` → ``months()``/``years()`` re-graining, transform ↔
        hash). History stays intact: old manifests keep their dirs and
        their own recorded spec, time travel/tags read through, and the
        new spec rides the new manifest so every handle rebinds via
        ``_sync_spec``. Cost ∝ live data (one partition-clustered
        rewrite), independent of history length — the 12× partition-
        count lever the days-vs-months grain experiment measured
        (SCALING.md r13) becomes one statement instead of a full CTAS.

        ``new_spec``: same forms as the constructor's ``partition_spec``
        — ``("bucket",)`` re-grains back to the hash layout under the
        current ``n_buckets`` (or pass ``n_buckets=`` to pick the
        count); ``("days"|"months"|"years", col)``; ``("truncate", col,
        w)``; ``("identity", col)``. A transform's source column must
        exist in the table schema (checked against the manifest before
        any data moves). Merges prepared under the old spec conflict
        cleanly — their basis buckets were all rewritten.

        ``n_buckets``: hash-target bucket count (``("bucket",)`` specs
        only) — ``transform → BUCKET(n)`` is one commit, not a regrain
        followed by a rebucket."""
        new_spec = tuple(new_spec) if new_spec else ("bucket",)
        _validate_partition_spec(new_spec)
        if n_buckets is not None:
            if new_spec[0] != "bucket":
                raise ValueError(
                    "n_buckets applies to the hash target spec only"
                )
            if int(n_buckets) < 1:
                raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
        self._sync_spec()
        cur = self.current()
        if cur is None:
            raise ValueError(f"mirror {self.root} has no snapshot yet")
        if new_spec == self.partition_spec and (
            n_buckets is None or int(n_buckets) == self.n_buckets
        ):
            return dict(cur)  # already on this spec: no-op
        if new_spec[0] != "bucket" and cur.get("schema"):
            known = {f["name"] for f in cur["schema"]["fields"]}
            if new_spec[1] not in known:
                raise ValueError(
                    f"regrain source column {new_spec[1]!r} is not a "
                    f"table column (columns: {sorted(known)})"
                )
        try:
            full = self._read_entry(spark, cur)
        except Exception as exc:
            if _vanished_path(exc):  # reader-vs-purge race (r12)
                raise CommitConflict(
                    f"{self.root}: this regrain's basis dirs were "
                    "purged concurrently — re-run against the new head"
                ) from None
            raise
        old_spec = self.partition_spec
        old_n = self.n_buckets
        self.partition_spec = new_spec
        if n_buckets is not None:
            self.n_buckets = int(n_buckets)
        try:
            # basis=cur (same rule as rebucket, ADVICE r12): the full-
            # state replace was derived from cur, so a commit landing
            # between read and publish must CommitConflict, never
            # silently overwrite. touched=None: full replace — delta
            # chains fold into the rewrite, every old-spec dir retires
            # to the manifests that own it.
            rec = self._commit_staged(
                full, touched=None, meta={"operation": "regrain"},
                basis=cur,
            )
        except BaseException:
            self.partition_spec = old_spec
            self.n_buckets = old_n
            raise
        return rec

    def alter_schema(
        self,
        drop: Sequence[str] = (),
        rename: dict[str, str] | None = None,
        add: dict[str, str] | None = None,
        widen: dict[str, str] | None = None,
    ) -> dict:
        """Metadata-only ALTER TABLE (r11 — the Iceberg
        rename/drop-column semantics without field IDs): ONE manifest
        commit, zero data movement. ``rename={old: new}`` records the
        historical physical name in the manifest's ``renames`` mapping;
        reads fold ``coalesce(new, old…)`` over the widened physical
        schema, so dirs written before and after the rename read
        uniformly. ``drop`` removes columns from the logical schema —
        the bytes remain in old files (unreadable through the table,
        exactly Iceberg's drop) and are physically reclaimed by the
        next ``rewrite_data_files``/full rewrite, which materializes
        the logical schema and retires the rename mapping.

        Constraints: requires a schema'd manifest (legacy tables must
        full-rewrite first); the bucket key can be neither dropped nor
        renamed (the hash spec binds to it); columns referenced by live
        merge-on-read delta specs (ts/op/tiebreak fold params) must be
        folded (``rewrite_data_files``) before altering; a new name may
        not collide with any live logical or historical physical name.
        Publishes with the CAS basis check — a concurrent commit raises
        ``CommitConflict`` (re-run: the alter is cheap by design).

        ``add={name: spark_type_string}`` appends NULLABLE columns (the
        Iceberg v1 add-column): old files read NULL through the explicit
        manifest schema, no data moves. Re-adding a DROPPED name works
        immediately (r12 field IDs — ``_alter_schema_meta``): the new
        column is a NEW field (fresh ``fid``) and the record's
        ``shadowed`` map masks it to NULL for every dir written before
        the re-add, so the previous generation's bytes (still physically
        present in un-rewritten files) can never resurrect; the
        ``dropped`` tombstones remain as the bytes-linger marker until a
        materializing rewrite reclaims them.

        ``widen={name: wider_type}`` is metadata-only ALTER COLUMN TYPE
        (the Delta type-widening table feature): the manifest schema
        records the wider type and old files read through the parquet
        reader's widening promotions (int32→int64, float→double — the
        r10 machinery) — no rewrite at all. Only lossless widenings
        apply; the bucket key cannot widen (its HASH is type-sensitive
        — ``rebucket`` to a new layout instead)."""
        rename = dict(rename or {})
        drop = list(drop)
        add = dict(add or {})
        widen = dict(widen or {})
        if not rename and not drop and not add and not widen:
            raise ValueError("alter_schema: nothing to do")
        self._sync_spec()
        cur = self.current()
        if cur is None:
            raise ValueError(f"mirror {self.root} has no snapshot yet")
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
            raise ValueError(
                f"{self.root} has a pre-schema manifest; run a full "
                "rewrite (e.g. a widening merge or re-initialize) before "
                "metadata-only schema changes"
            )
        fold_cols: set[str] = set()
        for specs in (cur.get("deltas") or {}).values():
            for sp in specs:
                if sp.get("mode") == "additive":
                    # sum-fold specs carry group/count/sums, not
                    # key/ts/op — refuse cleanly like every other
                    # additive-incompatible metadata path (r13 review)
                    raise ValueError(
                        f"{self.root} has live additive (sum-fold) "
                        "deltas — run rewrite_data_files("
                        "materialize=True) to fold them before ALTER"
                    )
                fold_cols.add(sp["key"])
                fold_cols.add(sp["op"])
                fold_cols.update(sp["ts"])
                fold_cols.update(sp.get("tiebreak") or ())
        new_version = self._log.next_version()
        meta = _alter_schema_meta(
            cur,
            self.root,
            drop,
            rename,
            add,
            widen,
            new_version,
            protected_cols=frozenset({self.key_col}),
            protected_reason=(
                "it is the bucket key (the hash spec binds to it); "
                "rebucket to a new layout instead"
            ),
            fold_cols=fold_cols,
        )
        # per-bucket stats follow their columns
        stats = None
        if "stats" in cur:
            stats = {}
            for b, cols in cur["stats"].items():
                out = {}
                for c, bounds in cols.items():
                    if c in drop:
                        continue
                    out[rename.get(c, c)] = bounds
                stats[b] = out
        record = {
            "version": new_version,
            "ts": time.time(),
            "buckets": dict(cur["buckets"]),
            "schema": meta["schema"],
            "next_fid": meta["next_fid"],
            "operation": "alter_schema",
            "altered": meta["altered"],
        }
        if meta["dropped"]:
            record["dropped"] = meta["dropped"]
        if meta["renames"]:
            record["renames"] = meta["renames"]
        if meta["shadowed"]:
            record["shadowed"] = meta["shadowed"]
        if "deltas" in cur:
            record["deltas"] = cur["deltas"]
        if "n_buckets" in cur:
            record["n_buckets"] = cur["n_buckets"]
        if "partition_spec" in cur:  # transform spec survives DDL (r13)
            record["partition_spec"] = cur["partition_spec"]
        if stats is not None:
            record["stats"] = stats
        # stats_cols follow their columns like the bounds do (r12)
        recorded_cols = cur.get("stats_cols") or self.stats_cols
        if recorded_cols:
            record["stats_cols"] = [
                rename.get(c, c) for c in recorded_cols if c not in drop
            ]
        if cur.get("constraints"):
            # table properties carry (constrained columns can't be
            # dropped/renamed — guarded above)
            record["constraints"] = cur["constraints"]
        return self._publish_commit(
            record,
            # token CAS (r12): the record SHARES cur's bucket dirs — an
            # in-place purge landing in between would delete them
            expected_head=(cur["version"], cur.get("purged_ts") or 0),
        )

    def _constraints_for(self, basis=_UNSET, branch: str | None = None) -> dict:
        e = (
            (
                self._branch_head_entry(branch)
                if branch is not None
                else self.current()
            )
            if basis is _UNSET
            else basis
        )
        return dict((e or {}).get("constraints") or {})

    def _dml_matched_buckets(
        self,
        spark: SparkSession,
        cur: dict,
        hit,
        prune: tuple | None,
    ) -> tuple[list[int], int]:
        """Shared DML planning scan: candidate buckets (manifest-stats
        pruned when a ``(col, lower, upper)`` range hint or a
        ``(col, [v, ...], None)`` point-set hint is given), then ONE
        bounded aggregate (≤ n_buckets rows) over the candidates —
        column-pruned by Catalyst to the key + predicate columns — that
        finds the buckets actually holding matches and the total match
        count. At 100 TB this scan is the cheap phase (narrow read,
        pushed filter); the rewrite phase that follows touches ONLY the
        matched buckets."""
        if prune is not None:
            col, lo, hi = prune
            if hi is None and isinstance(lo, (list, tuple, set, frozenset)):
                # point-set hint (r15): (col, [v, ...], None) — IN-list
                cand = [
                    int(b)
                    for b in self._pruned_buckets(col, points=list(lo))[0]
                ]
            else:
                cand = [int(b) for b in self._pruned_buckets(col, lo, hi)[0]]
        else:
            cand = sorted(
                int(b)
                for b in set(cur["buckets"]) | set(cur.get("deltas") or {})
            )
        if not cand:
            return [], 0
        df = self._read_entry(spark, cur, buckets=cand)
        if df is None:
            return [], 0
        rows = (
            df.filter(hit)
            .groupBy(self._row_partition(df).alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        matched = sorted(int(r["b"]) for r in rows)
        return matched, int(sum(r["n"] for r in rows))

    def delete_where(
        self,
        spark: SparkSession,
        condition,
        prune: tuple | None = None,
    ) -> dict:
        """Row-level ``DELETE FROM t WHERE condition`` (the Iceberg
        copy-on-write DELETE; the reference's tables take DML through
        the same Iceberg surface, `/root/reference/batch-bootstrapper/tabular.py:8`'s
        format). ``condition`` is a SQL expression string or a Column;
        rows where it is NULL are KEPT (SQL DELETE semantics: only
        TRUE deletes). Two phases: a narrow planning scan finds the
        buckets that actually hold matches (optionally manifest-stats
        pruned via ``prune=(col, lower, upper)``), then ONLY those
        buckets are rewritten copy-on-write — every other bucket's dirs
        carry forward untouched in the new manifest, and the CAS basis
        makes a concurrent overlapping commit surface as
        :class:`CommitConflict`, never a lost update.

        Merge-on-read tables take the same copy-on-write path
        deliberately: the delta fold orders by the CDC ts columns, and
        a predicate delete has no ts that deterministically beats the
        live row's — key-granular MoR deletes are ``merge_batch``
        tombstones (the keys-only delete tier) or ``purge_keys``.
        A rewrite folds the matched buckets' delta chains as a side
        effect (staged full state supersedes them)."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        hit = F.coalesce(cond.cast("boolean"), F.lit(False))
        self._sync_spec()
        cur = self.current()
        if cur is None:
            raise ValueError(f"mirror {self.root} has no snapshot yet")
        matched, n_hit = self._dml_matched_buckets(spark, cur, hit, prune)
        if not matched:
            rec = dict(cur)
            rec["matched_buckets"] = []
            rec["rows_deleted"] = 0
            return rec
        try:
            live = self._read_entry(spark, cur, buckets=matched).filter(~hit)
            rec = self._commit_staged(
                live,
                touched=matched,
                basis=cur,
                meta={"operation": "delete_where"},
            )
        except CommitConflict:
            raise
        except Exception as exc:
            if _vanished_path(exc):  # reader-vs-purge race (r12)
                raise CommitConflict(
                    f"{self.root}: this delete's basis dirs were purged "
                    "concurrently — re-run against the new head"
                ) from None
            raise
        rec["matched_buckets"] = matched
        rec["rows_deleted"] = n_hit
        return rec

    def update_where(
        self,
        spark: SparkSession,
        condition,
        assignments: dict,
        prune: tuple | None = None,
    ) -> dict:
        """Row-level ``UPDATE t SET col = expr, ... WHERE condition``
        (the Iceberg copy-on-write UPDATE). ``assignments`` maps column
        name → SQL expression string or Column; every right-hand side
        reads PRE-update values (simultaneous-assignment SQL semantics
        — the rewrite is one ``select`` over the original frame, so
        ``SET a = b, b = a`` swaps). Each assigned value is cast to the
        column's existing manifest type (Iceberg's assignable-type
        rule); the key column cannot be assigned (the bucket hash binds
        to it — model a key change as DELETE + INSERT). Rows where the
        condition is NULL are left unchanged. Same two-phase plan and
        CAS contract as :meth:`delete_where`: only buckets holding
        matches are rewritten, everything else carries forward."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        hit = F.coalesce(cond.cast("boolean"), F.lit(False))
        if not assignments:
            raise ValueError("update_where requires at least one assignment")
        if self.key_col in assignments:
            raise ValueError(
                f"cannot assign key column {self.key_col!r} — the bucket "
                "hash binds to it; model a key change as DELETE + INSERT"
            )
        self._sync_spec()
        if (
            self.partition_spec[0] != "bucket"
            and self.partition_spec[1] in assignments
        ):
            # ADVICE r13 (high): _commit_staged recomputes each staged
            # row's partition from the (new) source-column value, so a
            # row assigned into a partition outside the touched set
            # would be staged, never installed, and silently LOST when
            # staging is removed — mirror the key-column refusal
            raise ValueError(
                f"cannot assign {self.partition_spec[1]!r} — the table's "
                f"{self.partition_spec[0]} partition transform derives "
                "partition ids from it; model a partition move as "
                "DELETE + INSERT"
            )
        cur = self.current()
        if cur is None:
            raise ValueError(f"mirror {self.root} has no snapshot yet")
        if "schema" in cur:
            # validate assignment targets BEFORE any scan (review r12):
            # a typo'd column with a zero-match predicate must raise,
            # not silently report rows_updated=0
            known = {f["name"] for f in cur["schema"]["fields"]}
            missing = [c for c in assignments if c not in known]
            if missing:
                raise ValueError(
                    f"update_where assigns unknown column(s) {missing} "
                    f"(table columns: {sorted(known)})"
                )
        matched, n_hit = self._dml_matched_buckets(spark, cur, hit, prune)
        if not matched:
            rec = dict(cur)
            rec["matched_buckets"] = []
            rec["rows_updated"] = 0
            return rec
        try:
            df = self._read_entry(spark, cur, buckets=matched)
            missing = [c for c in assignments if c not in df.columns]
            if missing:  # legacy schema-free manifests validate here
                raise ValueError(
                    f"update_where assigns unknown column(s) {missing} "
                    f"(table columns: {df.columns})"
                )
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
            rec = self._commit_staged(
                df.select(*projected),
                touched=matched,
                basis=cur,
                meta={"operation": "update_where"},
            )
        except CommitConflict:
            raise
        except Exception as exc:
            if _vanished_path(exc):  # reader-vs-purge race (r12)
                raise CommitConflict(
                    f"{self.root}: this update's basis dirs were purged "
                    "concurrently — re-run against the new head"
                ) from None
            raise
        rec["matched_buckets"] = matched
        rec["rows_updated"] = n_hit
        return rec

    def insert_rows(self, spark: SparkSession, rows: DataFrame) -> dict:
        """``INSERT INTO`` append (r13) — copy-on-write: only the buckets
        the new keys hash into are rewritten; every other bucket's dirs
        carry forward untouched in the new manifest. ``rows`` must
        already be aligned to the table's schema (the SQL front-end does
        the column-list / NULL-fill / cast work).

        Inserting a key that already EXISTS is refused: the CDC mirror
        is keyed on ``key_col`` — a duplicate key would make every later
        merge/fold pick winners arbitrarily. Model an upsert as MERGE
        (or a changelog event through ``merge_batch``). The existence
        probe reads ONLY the touched buckets, key column only — at
        100 TB it is |touched|/n_buckets of the table, column-pruned.
        Under a TRANSFORM spec a key's partition is not derivable from
        the key, so the probe scans every partition's key column (still
        column-pruned; the hash spec keeps the bucket-local probe).

        CHECK constraints and the CAS basis ride ``_commit_staged``'s
        existing gates; merge-on-read tables take the same copy-on-write
        path as predicate DML (the rewrite folds the touched buckets'
        delta chains as a side effect)."""
        self._sync_spec()
        cur = self.current()
        if cur is None:
            raise ValueError(
                f"mirror {self.root} has no snapshot yet — "
                "create it with initialize()"
            )
        key = self.key_col
        if key not in rows.columns:
            raise ValueError(
                f"insert_rows requires the key column {key!r} "
                f"(got columns: {rows.columns})"
            )
        # one bounded aggregate validates the BATCH itself (r13 review):
        # an intra-batch duplicate or NULL key would land two rows /
        # an unreachable row in the keyed mirror — permanently, since
        # the existing-state probe below can't see them
        bstat = rows.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(key).alias("n_keys"),
            F.countDistinct(key).alias("n_distinct"),
        ).collect()[0]
        n_new = int(bstat["n"])
        if bstat["n_keys"] != n_new:
            raise ValueError(
                f"INSERT INTO {self.root}: NULL in key column {key!r} "
                f"({n_new - int(bstat['n_keys'])} row(s))"
            )
        if bstat["n_distinct"] != n_new:
            raise ValueError(
                f"INSERT INTO {self.root}: the inserted batch repeats "
                f"{n_new - int(bstat['n_distinct'])} key value(s) — the "
                f"mirror is keyed on {key!r}; use MERGE to upsert"
            )
        touched = sorted(
            r["b"]
            for r in rows.select(self._partition_for(key, rows).alias("b"))
            .distinct()
            .collect()
        )
        if not touched:
            rec = dict(cur)
            rec["touched_buckets"] = []
            rec["rows_inserted"] = 0
            return rec
        probe_buckets = touched
        if self.partition_spec[0] != "bucket":
            probe_buckets = sorted(
                int(b)
                for b in set(cur.get("buckets") or {})
                | set(cur.get("deltas") or {})
            )
        existing = self._read_entry(spark, cur, buckets=probe_buckets)
        dup = (
            existing.select(key)
            .join(rows.select(key), on=key, how="inner")
            .limit(5)
            .collect()
            if existing is not None
            else []
        )
        if dup:
            raise ValueError(
                f"INSERT INTO {self.root}: key(s) already exist "
                f"(first few: {[r[key] for r in dup]}) — the mirror is "
                f"keyed on {key!r}; use MERGE to upsert"
            )
        # the staged rewrite carries ONLY the touched partitions' rows
        # (the probe may have read more under a transform spec)
        base = (
            existing
            if probe_buckets == touched
            else self._read_entry(spark, cur, buckets=touched)
        )
        staged = (
            base.unionByName(rows, allowMissingColumns=True)
            if base is not None
            else rows
        )
        try:
            rec = self._commit_staged(
                staged,
                touched=touched,
                basis=cur,
                meta={"operation": "insert_into"},
            )
        except CommitConflict:
            raise
        except Exception as exc:
            if _vanished_path(exc):  # reader-vs-purge race (r12)
                raise CommitConflict(
                    f"{self.root}: this insert's basis dirs were purged "
                    "concurrently — re-run against the new head"
                ) from None
            raise
        rec["touched_buckets"] = touched
        rec["rows_inserted"] = n_new
        return rec

    def merge_batch(
        self,
        batch_df: DataFrame,
        target: CdcTarget,
        tiebreak_cols: Sequence[str] = (),
        branch: str | None = None,
    ) -> dict:
        """Apply one changelog micro-batch; stage + remap only touched
        buckets, carry every other bucket's dir forward unchanged.
        ``branch``: merge against (and advance) a writable branch's head
        instead of main — the stage-risky-batch-then-fast-forward flow,
        with the same touched-bucket cost."""
        spark = batch_df.sparkSession
        key = target.key_column
        self._sync_spec()  # bind to the current manifest's bucket spec
        # one bounded aggregate (≤ n_buckets rows) finds the touched
        # buckets AND the batch's delete/upsert composition — the same
        # shuffle the old distinct() paid, now also steering the
        # merge-on-read delete-tier split (r12) with zero extra jobs
        is_del = F.coalesce(
            F.col(target.op_column) == F.lit(target.delete_op),
            F.lit(False),
        )
        brows = (
            batch_df.select(
                self._partition_for(key, batch_df).alias("b"), is_del.alias("d")
            )
            .groupBy("b")
            .agg(F.max("d").alias("has_d"), F.min("d").alias("all_d"))
            .collect()
        )
        touched = sorted(r["b"] for r in brows)
        if not touched:
            return {"touched_buckets": []}
        has_deletes = any(r["has_d"] for r in brows)
        has_upserts = any(not r["all_d"] for r in brows)
        # resolve the basis manifest ONCE: both the merge's input reads
        # and the commit's CAS check bind to it (r11 — a commit landing
        # between read and publish surfaces as CommitConflict / a
        # validated disjoint-bucket rebase, never a silent lost update)
        base = (
            self._branch_head_entry(branch)
            if branch is not None
            else self.current()
        )
        ts_cols = (
            [target.ts_column]
            if isinstance(target.ts_column, str)
            else list(target.ts_column)
        )
        if self.merge_on_read:
            # MoR write path: no base read at all — the commit appends
            # the batch's latest-per-key slice (tombstones retained) as
            # one delta dir per touched bucket; cost ∝ |batch|
            delta = latest_by_key(
                batch_df,
                key_cols=key,
                ts_cols=ts_cols,
                tiebreak_cols=tiebreak_cols,
            )
            rec = self._commit_delta(
                delta,
                touched=touched,
                fold={
                    "key": key,
                    "ts": ts_cols,
                    "op": target.op_column,
                    "delete_op": target.delete_op,
                    "tiebreak": list(tiebreak_cols),
                },
                basis=base,
                branch=branch,
                # the keys-only delete tier (r12) strips payload columns;
                # under a TRANSFORM spec the slice additionally carries
                # the spec's source column so tombstones route to their
                # partition (r15, VERDICT r14 #2 — previously transform
                # specs fell back to full-payload tombstones, write amp
                # ∝ payload instead of ∝ keys)
                split_deletes=has_deletes,
                has_upserts=has_upserts,
            )
            rec["touched_buckets"] = touched
            return rec
        try:
            current = (
                self._read_entry(spark, base, buckets=touched)
                if base is not None
                else None
            )
            new_state = apply_changelog(
                batch_df,
                key_cols=key,
                ts_cols=target.ts_column,
                op_col=target.op_column,
                delete_op=target.delete_op,
                mirror=current,
                tiebreak_cols=tiebreak_cols,
                drop_envelope=(),
            )
            rec = self._commit_staged(
                new_state, touched=touched, key_col=key, branch=branch,
                basis=base,
            )
        except CommitConflict:
            raise
        except Exception as exc:
            if _vanished_path(exc):  # reader-vs-purge race (r12)
                raise CommitConflict(
                    f"{self.root}: this merge's basis dirs were purged "
                    "concurrently — re-run against the new head"
                ) from None
            raise
        rec["touched_buckets"] = touched
        return rec

    def commit_merged(
        self,
        df: DataFrame,
        touched: Sequence[int],
        key_col: str | None = None,
        meta: dict | None = None,
        branch: str | None = None,
        expected_version: int | None = None,
    ) -> dict:
        """Commit an externally-merged state slice for ``touched`` buckets
        as one manifest (the hook ``operators/merge.py merge_into_table``
        uses: a general MERGE = one time-travelable commit, cost ∝
        touched buckets). ``meta`` rides the manifest record — same
        provenance contract as ``ParquetStateTable.commit`` (ADVICE r9:
        a merge commit must be distinguishable from a CDC commit in
        ``history()`` on every layout that has one).

        ``expected_version``: the manifest version ``df`` was derived
        from (r11 optimistic concurrency) — the commit then validates
        against it: if the table advanced but the concurrent commits
        left this merge's buckets untouched, the commit rebases and
        lands; if they touched the same buckets, CommitConflict."""
        basis = _UNSET
        if expected_version is not None:
            basis = None
            if expected_version >= 0:
                for e in self._log.entries():
                    if e["version"] == expected_version:
                        basis = e
                        break
                if basis is None:
                    raise ValueError(
                        f"no snapshot {expected_version} in {self.root}"
                    )
        rec = self._commit_staged(
            df, touched=list(touched), key_col=key_col, meta=meta,
            branch=branch, basis=basis,
        )
        rec["touched_buckets"] = sorted(int(b) for b in touched)
        return rec

    def purge_keys(
        self,
        spark: SparkSession,
        keys_df: DataFrame,
        key_col: str | Sequence[str] | None = None,
    ) -> dict:
        """GDPR hard delete across the mirror's retained history (see
        ``TableOps._purge_keys_locked``) — the 100 TB shape: the purge
        keys hash to a bucket set, so only TOUCHED bucket dirs (bases
        and merge-on-read deltas) are ever read or rewritten (cost ∝
        touched buckets × retained manifests, deduped — dirs shared
        across manifests are rewritten once); the untouched majority of
        the mirror is never scanned. A bucket emptied by the purge drops
        out of its manifests, the merge path's fully-deleted-bucket
        rule. The purge lock serializes runs — two unsynchronized purges
        rewrite manifests in place and last-write-win each other's
        deletions (r12)."""
        with _purge_lock(self.root):
            out = self._purge_keys_locked(
                spark, keys_df, key_col or self.key_col
            )
        if out is None:
            return {"manifests_rewritten": 0, "bucket_dirs_rewritten": 0}
        return {
            "manifests_rewritten": out["rewritten"],
            "bucket_dirs_rewritten": out["dirs"],
            "catchup_rounds": out["rounds"],
            "touched_buckets": sorted(int(b) for b in out["scope"]),
        }

    def _purge_scope(
        self, keys_df: DataFrame, keys: list[str], cur: dict
    ) -> set[str]:
        """The bucket ids a purge may touch: the hash buckets of the
        keys when the hash key is among them. Otherwise every partition
        is a candidate — under a transform spec the partition id is a
        function of the SOURCE column, which a keys-only purge frame
        does not carry (the semi-join probe still skips clean dirs
        cheaply)."""
        self._sync_spec()
        hkey = keys[0] if len(keys) == 1 else self.key_col
        if self.partition_spec[0] == "bucket" and hkey in keys:
            return {
                str(r["b"])
                for r in keys_df.select(
                    self._partition_for(hkey, keys_df).alias("b")
                )
                .distinct()
                .collect()
            }
        return set(cur.get("buckets") or {}) | set(cur.get("deltas") or {})

    def _purge_candidates(
        self, e: dict, scope: set[str]
    ) -> list[tuple[str, str]]:
        def _dst(b: str, kind: str) -> str:
            return os.path.join(
                self.data_dir,
                f"bucket={int(b)}",
                f"v-{e['version']:08d}-{kind}purge-{uuid.uuid4().hex[:8]}",
            )

        out = [(d, _dst(b, "")) for b, d in e["buckets"].items() if b in scope]
        # merge-on-read delta dirs hold the same PII (upserts AND
        # key-bearing tombstones)
        for b, specs in (e.get("deltas") or {}).items():
            if b in scope:
                out.extend((s["dir"], _dst(b, "delta-")) for s in specs)
        return out
