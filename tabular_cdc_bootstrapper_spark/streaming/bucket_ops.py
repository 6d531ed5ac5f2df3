"""Layout-specific maintenance methods of ``VersionedBucketMirror``,
as a mixin (``bucket_mirror.py`` composes it): compaction,
rebucket/regrain, MERGE, and the bucket-scoped hooks of the shared
DML, ALTER and purge. The core file keeps the manifest/commit
machinery. History, time travel, tags, constraints, rollback, clone,
explicit expiry, write-audit-publish, row-level DELETE/UPDATE/INSERT,
ALTER, the GDPR purge protocol and per-commit retention (``_expire``)
are written once for both layouts in ``_protocol.TableOps``.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.config import CdcTarget
from tabular_cdc_bootstrapper_spark.streaming._sizing import split_count
from tabular_cdc_bootstrapper_spark.operators.cdc import (
    apply_changelog,
    latest_by_key,
)
from tabular_cdc_bootstrapper_spark.streaming._protocol import (
    _UNSET,
    _purge_lock,
    _purge_race_as_conflict,
    _validate_partition_spec,
)


class VersionedBucketMirrorOps:
    """Operations half of ``VersionedBucketMirror`` (see module
    docstring); every method binds to the core half's commit and
    read machinery via ``self``."""

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
        self._sync_spec(cur)

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
        with _purge_race_as_conflict(self.root, "compaction"):
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
        A commit that resolved its basis before the rebucket landed
        raises :class:`CommitConflict` (its CAS fails, and its rebase
        refuses a head of another spec, ``_check_rebase_spec``); one
        whose handle bound a spec other than its basis's is refused
        before it writes (``_check_spec``)."""
        new_n = int(new_n)
        if new_n < 1:
            raise ValueError(f"n_buckets must be >= 1, got {new_n}")
        cur = self.current()
        self._sync_spec(cur)
        if self.partition_spec[0] != "bucket":
            raise ValueError(
                f"rebucket applies to hash-bucket specs; this table is "
                f"partitioned by {self.partition_spec!r}"
            )
        if cur is None:
            raise ValueError(f"mirror {self.root} has no snapshot yet")
        return self._rebucket(spark, new_n, cur)

    def _rebucket(
        self,
        spark: SparkSession,
        new_n: int,
        cur: dict,
        optional: bool = False,
    ) -> dict:
        """``rebucket`` of the state of ``cur``, which is also its CAS
        basis (the handle is bound to ``cur``'s spec). ``optional``: a
        commit landing first, or a purge deleting ``cur``'s dirs while
        they are read, drops the rebucket (nothing is published, the
        current head is returned) instead of raising
        :class:`CommitConflict`."""
        if new_n == self.n_buckets:
            return dict(cur)  # already on this spec: no-op
        old_n = self.n_buckets
        self.n_buckets = new_n
        try:
            # basis=cur: the full-state replace was DERIVED from cur, so
            # a commit landing between the read and the publish must
            # CommitConflict (ADVICE r12: touched=None used to rebase
            # silently, overwriting the concurrent commit with pre-read
            # state — a lost update). Callers re-run rebucket. The read
            # is lazy: a purge deleting cur's dirs surfaces in the write,
            # and drops an optional rebucket like a lost CAS does.
            rec = None
            with _purge_race_as_conflict(self.root, "rebucket", optional):
                rec = self._commit_staged(
                    self._read_entry(spark, cur),
                    touched=None, meta={"operation": "rebucket"},
                    basis=cur, drop_conflicted=optional,
                )
        except BaseException:
            self.n_buckets = old_n
            raise
        if rec is None:
            self.n_buckets = old_n
            rec = self.current()
        self._sync_spec(rec)  # the head, when the rebucket was dropped
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
        any data moves). Commits planned under the old spec raise
        :class:`CommitConflict`, as after a ``rebucket``.

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
        cur = self.current()
        self._sync_spec(cur)
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
        with _purge_race_as_conflict(self.root, "regrain"):
            full = self._read_entry(spark, cur)
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

    def _alter_rules(self, cur: dict) -> dict:
        """ALTER rules of the mirror (``TableOps.alter_schema``): the
        manifest must record a schema (legacy tables full-rewrite
        first, e.g. by a widening merge); the bucket key can be neither
        dropped, renamed nor widened (the hash spec binds to it and its
        HASH is type-sensitive — rebucket to a new layout instead); and
        columns referenced by live merge-on-read delta specs (the
        ts/op/tiebreak fold params) must be folded by
        ``rewrite_data_files`` first."""
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
        return {
            "protected_cols": frozenset({self.key_col}),
            "protected_reason": (
                "it is the bucket key (the hash spec binds to it); "
                "rebucket to a new layout instead"
            ),
            "fold_cols": fold_cols,
        }

    def _remap_stats(self, record: dict, drop: list, rename: dict) -> None:
        """Per-bucket stats and ``stats_cols`` follow their columns
        through an ALTER (r12)."""
        if "stats" in record:
            record["stats"] = {
                b: {
                    rename.get(c, c): bounds
                    for c, bounds in cols.items()
                    if c not in drop
                }
                for b, cols in record["stats"].items()
            }
        recorded_cols = record.get("stats_cols") or self.stats_cols
        if recorded_cols:
            record["stats_cols"] = [
                rename.get(c, c) for c in recorded_cols if c not in drop
            ]

    def _dml_scope(
        self,
        spark: SparkSession,
        cur: dict,
        hit,
        prune: tuple | None,
    ) -> tuple[list[int], int]:
        """DML planning scan (``TableOps``): candidate buckets (manifest-stats
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

    def _unassignable(self) -> dict:
        out = {}
        if self.partition_spec[0] != "bucket":
            # ADVICE r13 (high): _commit_staged recomputes each staged
            # row's partition from the (new) source-column value, so a
            # row assigned into a partition outside the touched set
            # would be staged, never installed, and silently LOST when
            # staging is removed — refused like the key column
            out[self.partition_spec[1]] = (
                f"cannot assign {self.partition_spec[1]!r} — the table's "
                f"{self.partition_spec[0]} partition transform derives "
                "partition ids from it; model a partition move as "
                "DELETE + INSERT"
            )
        out[self.key_col] = (
            f"cannot assign key column {self.key_col!r} — the bucket "
            "hash binds to it; model a key change as DELETE + INSERT"
        )
        return out

    def _insert_scope(
        self, spark: SparkSession, cur: dict | None, rows: DataFrame
    ) -> tuple[list[int], int]:
        """Insert plan (``TableOps``): the buckets the new keys land in
        and the row count. The CDC mirror is keyed on ``key_col``, so a
        NULL or repeated key in the batch and a key the table already
        holds are refused — a duplicate key would make every later
        merge/fold pick winners arbitrarily; upsert through MERGE or a
        changelog event. The existence probe reads ONLY the touched
        buckets' key column (|touched|/n_buckets of the table at
        100 TB). Under a TRANSFORM spec a key's partition is not
        derivable from the key, so the probe reads every partition's
        key column."""
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
            return [], 0
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
        return touched, n_new

    def _rewrite_scope(
        self, spark: SparkSession, cur: dict, scope: list[int], fn,
        meta: dict,
    ) -> dict:
        """Commit ``fn(rows of the buckets in scope)`` copy-on-write
        over exactly those buckets against ``cur``'s token
        (``TableOps``): every other bucket's dirs carry forward, a
        concurrent commit to other buckets rebases, one to these
        buckets raises :class:`CommitConflict`. Merge-on-read delta
        chains of the rewritten buckets fold into the staged state."""
        return self._commit_staged(
            fn(self._read_entry(spark, cur, buckets=scope)),
            touched=scope,
            basis=cur,
            meta=meta,
        )

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
        with the same touched-bucket cost.

        On a sized table (``n_buckets=None`` at creation) a merge to
        main that leaves the buckets past ``_sizing.split_count``'s
        threshold is followed by a doubling ``rebucket`` (``_split``)."""
        spark = batch_df.sparkSession
        key = target.key_column
        # resolve the basis manifest FIRST and bind the spec from it: the
        # touched-bucket aggregate, the merge's input reads and the
        # commit's CAS check all bind to it (r11 — a commit landing in
        # between surfaces as CommitConflict / a validated disjoint-
        # bucket rebase, never a silent lost update; a rebucket fails
        # the CAS and the rebase's spec check, never mixing two specs)
        base = (
            self._branch_head_entry(branch)
            if branch is not None
            else self.current()
        )
        self._sync_spec(base)
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
                meta={"operation": "cdc_merge"},
                # the keys-only delete tier (r12) strips payload columns;
                # under a TRANSFORM spec the slice additionally carries
                # the spec's source column so tombstones route to their
                # partition (r15, VERDICT r14 #2 — previously transform
                # specs fell back to full-payload tombstones, write amp
                # ∝ payload instead of ∝ keys)
                split_deletes=has_deletes,
                has_upserts=has_upserts,
            )
        else:
            with _purge_race_as_conflict(self.root, "merge"):
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
                    basis=base, meta={"operation": "cdc_merge"},
                )
        rec["touched_buckets"] = touched
        if branch is None:
            self._split(spark, rec)
        return rec

    def _split(self, spark: SparkSession, head: dict) -> None:
        """Double a sized hash-bucketed table's count once ``head``, the
        commit just published, averages more than twice
        ``_sizing.BUCKET_BYTES`` per bucket (``split_count``). Under
        ``pmod(xxhash64, 2n)`` every new bucket is one half of an old
        one, so a table splits at most log2(``MAX_BUCKETS``) = 6 times
        in its life. ``head`` is the split's CAS basis: a commit landing
        first drops the split — the merge stays committed and the next
        merge retries. Only base dirs count (``_base_bytes``): on
        merge-on-read a table follows its live data as of the last
        ``rewrite_data_files``, so updates piling up in deltas never
        split it."""
        if not self.sized or self.partition_spec[0] != "bucket":
            return
        new_n = split_count(
            self.n_buckets, lambda limit: self._base_bytes(head, limit)
        )
        if new_n is not None:
            self._rebucket(spark, new_n, head, optional=True)

    def commit_merged(
        self,
        df: DataFrame,
        touched: Sequence[int],
        key_col: str | None = None,
        meta: dict | None = None,
        branch: str | None = None,
        expected_version: "int | tuple | None" = None,
    ) -> dict:
        """Commit an externally-merged state slice for ``touched`` buckets
        as one manifest (the hook ``operators/merge.py merge_into_table``
        uses: a general MERGE = one time-travelable commit, cost ∝
        touched buckets). ``meta`` rides the manifest record — same
        provenance contract as ``ParquetStateTable.commit`` (ADVICE r9:
        a merge commit must be distinguishable from a CDC commit in
        ``history()`` on every layout that has one).

        ``expected_version``: the manifest version ``df`` was derived
        from (r11 optimistic concurrency), or its ``_token`` — the
        commit then validates against it: if the table advanced but the
        concurrent commits left this merge's buckets untouched, the
        commit rebases and lands; if they touched the same buckets, or
        a token's snapshot was purged since, CommitConflict."""
        basis = (
            _UNSET
            if expected_version is None
            else self._basis_of(expected_version)
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
        if out["scope"] is not None:
            scope = out["scope"][1]
        else:
            cur = self.current()
            scope = set(cur["buckets"]) | set(cur.get("deltas") or {})
        return {
            "manifests_rewritten": out["rewritten"],
            "bucket_dirs_rewritten": out["dirs"],
            "catchup_rounds": out["rounds"],
            "touched_buckets": sorted(int(b) for b in scope),
        }

    def _purge_scope(
        self, keys_df: DataFrame, keys: list[str], cur: dict
    ) -> tuple | None:
        """The bucket ids a purge may touch, as ``(spec, ids)``: the
        hash buckets of the keys under ``cur``'s spec when the hash key
        is among them. ``None`` makes every partition a candidate —
        under a transform spec the partition id is a function of the
        SOURCE column, which a keys-only purge frame does not carry (the
        semi-join probe still skips clean dirs cheaply)."""
        self._sync_spec(cur)
        hkey = keys[0] if len(keys) == 1 else self.key_col
        if self.partition_spec[0] == "bucket" and hkey in keys:
            return self._spec_of(cur), {
                str(r["b"])
                for r in keys_df.select(
                    self._partition_for(hkey, keys_df).alias("b")
                )
                .distinct()
                .collect()
            }
        return None

    def _purge_candidates(
        self, e: dict, scope: tuple | None
    ) -> list[tuple[str, str]]:
        """Dirs of record ``e`` the purge scans. A record of another
        spec than the scope's (retained from before a ``rebucket``)
        holds the keys under other bucket ids: all of its dirs are
        candidates."""
        if scope is not None and self._spec_of(e) == scope[0]:
            ids = scope[1]
        else:
            ids = set(e["buckets"]) | set(e.get("deltas") or {})

        def _dst(b: str, kind: str) -> str:
            return os.path.join(
                self.data_dir,
                f"bucket={int(b)}",
                f"v-{e['version']:08d}-{kind}purge-{uuid.uuid4().hex[:8]}",
            )

        out = [(d, _dst(b, "")) for b, d in e["buckets"].items() if b in ids]
        # merge-on-read delta dirs hold the same PII (upserts AND
        # key-bearing tombstones)
        for b, specs in (e.get("deltas") or {}).items():
            if b in ids:
                out.extend((s["dir"], _dst(b, "delta-")) for s in specs)
        return out
