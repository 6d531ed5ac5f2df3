"""VersionedBucketMirror core: bucket-version manifests, snapshot
commits (copy-on-write and merge-on-read delta chains), and the pruned
read paths. The DML/maintenance half lives in ``bucket_ops.py``
(composed here). Split from ``streaming/pipeline.py`` (VERDICT r12 #3).
"""

from __future__ import annotations

import os
import re
import shutil
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from tabular_cdc_bootstrapper_spark.streaming._stats import footer_bucket_stats
from tabular_cdc_bootstrapper_spark.operators.cdc import apply_changelog
from tabular_cdc_bootstrapper_spark.streaming._protocol import (
    CommitConflict,
    ConstraintViolation,
    SnapshotLog,
    TableOps,
    _RETRY_BACKOFF,
    _UNSET,
    _check_meta,
    _check_table_constraints,
    _read_logical,
    _validate_partition_spec,
    _widen_struct,
)
from tabular_cdc_bootstrapper_spark.streaming.bucket_ops import (
    VersionedBucketMirrorOps,
)

_ISO_DATE = re.compile(r"\d{4}-\d{2}-\d{2}")


def _stat_lt(a, b) -> bool:
    """``a`` strictly before ``b`` for the stats-prune disjointness test
    (r15 review): when exactly one side is a 10-char ISO DATE string and
    the other an ISO DATETIME string (how timestamp bounds serialize,
    ``_json_stat``), the longer side is truncated to the date grain
    first — a plain ``'1994-01-31 00:00:00' > '1994-01-31'`` string
    compare would prove false disjointness and prune a bucket whose
    midnight rows match a DATE-literal predicate. Truncation only ever
    coarsens toward "overlapping" (prefix order is implied by
    lexicographic order), so the prune stays sound for non-date strings
    too."""
    if isinstance(a, str) and isinstance(b, str):
        a10 = len(a) == 10 and _ISO_DATE.fullmatch(a)
        b10 = len(b) == 10 and _ISO_DATE.fullmatch(b)
        if a10 and not b10:
            b = b[:10]
        elif b10 and not a10:
            a = a[:10]
    return a < b


class VersionedBucketMirror(VersionedBucketMirrorOps, TableOps):
    """Key-bucketed mirror with Iceberg-manifest commit semantics: a
    merge rewrites only the key buckets its batch touches (cost ∝
    |touched buckets| / n_buckets of the mirror, not the mirror), with the
    snapshot history of ``ParquetStateTable`` — time travel at the 100 TB
    design point.

    Layout: ``root/data/bucket=<K>/v-<n>-<uuid>/*.parquet`` — every bucket
    version dir is IMMUTABLE once written — plus a ``SnapshotLog`` whose
    records are manifests: ``{"version": n, "ts": t, "buckets":
    {"<K>": <dir>, ...}}`` (≤ n_buckets entries, O(KB), exactly an Iceberg
    snapshot's manifest list in miniature). A merge stages only the
    touched buckets, moves them in under NEW version names (live data is
    never renamed aside, never overwritten), and publishes a manifest that
    maps touched buckets to the new dirs and carries every untouched
    bucket's existing dir forward. Commit cost ∝ touched buckets; history
    costs nothing extra because untouched dirs are SHARED across
    manifests, not copied.

    Reads resolve the manifest and list only the referenced dirs — the
    manifest IS the partition pruning (``read_buckets`` lists
    |touched|/n_buckets of the mirror, version-safe). ``read_version``/``read_as_of``/``rollback`` give
    VERSION AS OF / TIMESTAMP AS OF / restore over the full mirror;
    retention expires bucket-version dirs no retained manifest references
    (a dir shared with a retained manifest survives — the rollback-target
    rule falls out for free).

    Crash safety needs no rename-aside or recovery pass: staged dirs for a
    never-published version are referenced by no manifest, so ``_expire``
    garbage-collects them on the next successful publish and readers
    never saw them.
    """

    _VERSION_DIRS = os.path.join("data", "bucket=*", "v-*")

    #: manifest keys describing a snapshot's data (``TableOps``)
    _STATE_KEYS = (
        "buckets", "schema", "next_fid", "deltas", "n_buckets",
        "partition_spec", "stats", "stats_cols", "renames", "dropped",
        "shadowed",
    )

    def __init__(
        self,
        root: str,
        n_buckets: int = 64,
        key_col: str = "id",
        keep_versions: int = 2,
        stats_cols: Sequence[str] = (),
        sort_cols: Sequence[str] = (),
        merge_on_read: bool = False,
        partition_spec: Sequence | None = None,
    ) -> None:
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.n_buckets = n_buckets
        self.key_col = key_col
        self.keep_versions = keep_versions
        #: hidden-partition transform (r13, the Iceberg partition-spec
        #: surface beyond hash buckets): ``None``/``("bucket",)`` is
        #: the classic ``pmod(xxhash64(key), n)``; ``("days", col)``
        #: partitions by days-since-epoch of a date/timestamp column
        #: (``months``/``years`` likewise, coarser — pick the grain that
        #: gives GB-scale partitions at your volume). Temporal
        #: transforms on TIMESTAMP sources are computed in UTC (the
        #: Iceberg ``days()`` contract; see ``_transform_col``) — the
        #: partition id never depends on ``spark.sql.session.timeZone``;
        #: ``("truncate", col, w)`` by the floored multiple of ``w``
        #: (numeric cols); ``("identity", col)`` by the value itself.
        #: Contract (same as an Iceberg CDC table partitioned by a
        #: transform): the SOURCE column must be non-null and immutable
        #: per key — merges plan their touched partitions from the
        #: batch's transform values, so a key that moved partitions
        #: would not find its old row. Partition ids become the
        #: ``bucket=<id>`` dir names, so every manifest/pruning path
        #: (touched-only rewrites, read_buckets, stats skipping) works
        #: unchanged; predicates on the source column additionally
        #: prune by the transform itself (``_pruned_buckets``).
        self.partition_spec = (
            tuple(partition_spec) if partition_spec else ("bucket",)
        )
        _validate_partition_spec(self.partition_spec)
        #: merge-on-read (r11, VERDICT task 2 — the Iceberg v2 /
        #: Delta-DV cost model): a CDC merge appends one DELTA dir per
        #: touched bucket (the batch's latest-per-key slice, deletes
        #: retained as tombstones) instead of rewriting the bucket —
        #: write amplification ∝ |batch|, not ∝ |touched buckets|.
        #: Reads fold base + deltas per bucket (iterated latest-per-key,
        #: exactly the sequential copy-on-write semantics);
        #: ``rewrite_data_files`` folds deltas back into bases (the
        #: compaction fold point), bounding the read tax.
        self.merge_on_read = bool(merge_on_read)
        #: columns whose per-bucket min/max ride each manifest (Iceberg
        #: column-statistics data skipping, r10): every commit through
        #: ``_commit_staged`` records them for the staged buckets (one
        #: bounded ≤ n_buckets-row aggregate) and ``read_pruned`` skips
        #: bucket dirs whose range cannot overlap a predicate. HONEST
        #: LIMIT (measured, SCALING.md r10): key-HASH bucketing spreads
        #: every value range across all buckets, so bucket-level stats
        #: prune only predicates disjoint from a bucket's whole range —
        #: out-of-domain keys, beyond-retention time windows, and
        #: ingest-clustered columns. For mid-domain range scans pair
        #: with ``sort_cols``: files inside each bucket dir then carry
        #: TIGHT parquet row-group stats and Spark's pushed filters skip
        #: them natively (the Iceberg sorted-table shape). Numeric,
        #: string, or date columns (stats are JSON in the manifest —
        #: date/timestamp bounds serialize as ISO strings, r14, whose
        #: lexicographic order is their temporal order; timestamp
        #: bounds never prune through the SQL deriver, whose aware-
        #: datetime predicates fail the string compare SAFELY — kept).
        self.stats_cols = list(stats_cols)
        self.sort_cols = list(sort_cols)
        self._log = SnapshotLog(root)
        os.makedirs(self.data_dir, exist_ok=True)
        if not os.path.exists(self._log.pointer_path):
            self._reject_logless_layout()
        # an existing table's CURRENT manifest owns the bucket spec (r11
        # partition-spec evolution); the ctor arg is the creation
        # default and the pre-spec-manifest fallback
        self._sync_spec()

    def _bucket(self, col):
        return F.pmod(F.xxhash64(col), F.lit(self.n_buckets)).cast("int")

    def _reject_logless_layout(self) -> None:
        """Refuse a root that has no snapshot log but holds the retired
        logless ``bucketed`` layout (an ``_INITIALIZED`` marker, or
        parquet files directly under ``data/bucket=N/``). Opened as a
        fresh mirror it would look uninitialized: the runner would
        re-run the initial load, and the changes its checkpoint already
        consumed would be lost."""
        if os.path.exists(os.path.join(self.root, "_INITIALIZED")) or any(
            f.endswith(".parquet")
            for d in os.listdir(self.data_dir)
            if d.startswith("bucket=")
            for f in os.listdir(os.path.join(self.data_dir, d))
        ):
            raise ValueError(
                f"{self.root} holds a mirror in the retired logless "
                "'bucketed' layout (no snapshot log); rebuild the work "
                "dir: delete it and re-run the pipeline over the source "
                "files"
            )

    #: one UTC day in microseconds — the temporal transforms' unit
    _DAY_US = 86_400_000_000

    @staticmethod
    def _json_stat(v):
        """A min/max bound as a JSON-serializable value (r14): DATE and
        TIMESTAMP bounds become ISO strings, whose lexicographic order
        equals their temporal order — so the prune's string compare
        against an ISO-string predicate bound stays exact. Everything
        else (numbers, strings) passes through."""
        import datetime as _dt

        if isinstance(v, _dt.datetime):
            return v.isoformat(sep=" ")
        if isinstance(v, _dt.date):
            return v.isoformat()
        return v

    def _transform_col(self, c, dtype: str | None = None):
        """The spec's transform applied to column expression ``c``
        (``dtype``: the input's Spark simpleString type when known).

        Timezone contract (r14, ADVICE r13): the temporal transforms
        (days/months/years) are defined in UTC, exactly Iceberg's
        ``days()``/``months()``/``years()``. A TIMESTAMP input (an
        instant, session-tz-DISPLAYED) is floored on its epoch
        microseconds — integer-exact, independent of
        ``spark.sql.session.timeZone`` — so a table written under tz A
        and range-read under tz B computes identical partition ids.
        DATE / TIMESTAMP_NTZ inputs are wall-clock values with no zone
        to begin with and transform as-is. When ``dtype`` is unknown
        (no frame in scope), the cast("date") path applies — callers on
        write/plan paths always pass the frame, so only a
        date-or-wall-clock source may legally omit it."""
        kind = self.partition_spec[0]
        if kind in ("days", "months", "years"):
            if dtype == "timestamp":
                m = F.unix_micros(c)
                day = (
                    (m - F.pmod(m, F.lit(self._DAY_US)))
                    / F.lit(self._DAY_US)
                ).cast("int")
                d = F.date_add(F.to_date(F.lit("1970-01-01")), day)
            else:
                d = c.cast("date")
            if kind == "days":
                return F.datediff(
                    d, F.to_date(F.lit("1970-01-01"))
                ).cast("int")
            if kind == "months":
                return (
                    (F.year(d) - F.lit(1970)) * F.lit(12)
                    + F.month(d)
                    - F.lit(1)
                ).cast("int")
            return (F.year(d) - F.lit(1970)).cast("int")
        if kind == "truncate":
            # exact integer arithmetic (Iceberg: v - ((v % W + W) % W),
            # the floored multiple): F.floor(col / w) would route long
            # division through DOUBLE and mis-partition values above
            # 2^53 (caught by the r13 property test)
            cl = c.cast("long")
            w = F.lit(int(self.partition_spec[2]))
            return (cl - F.pmod(cl, w)).cast("long")
        # identity
        return c.cast("long")

    def _row_partition(self, df: DataFrame | None = None):
        """The partition id of a row under the table's spec, as a Column
        — the single point every write/plan path derives ``bucket``
        from. Hash spec: the classic key hash. Transform specs: the
        Iceberg transform of the source column (non-null, key-stable by
        contract — see ``partition_spec``). ``df``: the frame the
        expression will run over — resolves the source column's type so
        TIMESTAMP inputs take the UTC-exact path (see
        ``_transform_col``)."""
        if self.partition_spec[0] == "bucket":
            return self._bucket(F.col(self.key_col))
        src = self.partition_spec[1]
        dtype = dict(df.dtypes).get(src) if df is not None else None
        return self._transform_col(F.col(src), dtype)

    def _partition_for(self, key: str, df: DataFrame | None = None):
        """Partition expr for a write/plan path whose key column may be
        overridden per call: hash specs bind to THAT key (unchanged
        pre-r13 behavior); transform specs always bind to the spec's
        source column (``df`` resolves its type — see
        ``_row_partition``)."""
        if self.partition_spec[0] == "bucket":
            return self._bucket(F.col(key))
        return self._row_partition(df)

    def _transform_id(self, value, spec: tuple | None = None):
        """Driver-side twin of ``_row_partition`` for transform specs:
        map a predicate bound on the SOURCE column to its partition id
        (used by ``_pruned_buckets`` for hidden-partition pruning).
        ``spec``: the partition spec to map under — defaults to the
        handle's, but a time-travel prune must pass the RESOLVED
        manifest's own spec (r15: after a regrain, old snapshots keep
        their old grain). Returns None when the spec is hash (no
        value→partition map exists) or the value can't be mapped."""
        import datetime as _dt
        import math as _math

        spec = tuple(spec) if spec else self.partition_spec
        kind = spec[0]
        try:
            if kind in ("days", "months", "years"):
                if isinstance(value, str):
                    value = _dt.datetime.fromisoformat(value)
                if isinstance(value, _dt.datetime):
                    # UTC contract (r14, mirrors _transform_col): a
                    # tz-aware instant maps to its UTC calendar day; a
                    # NAIVE datetime is UTC by the repo-wide convention
                    # (sql.py time travel pins the same rule) — never
                    # the host or session zone
                    if value.tzinfo is not None:
                        value = value.astimezone(_dt.timezone.utc)
                    value = value.date()
                if not isinstance(value, _dt.date):
                    return None
                if kind == "days":
                    return (value - _dt.date(1970, 1, 1)).days
                if kind == "months":
                    return (value.year - 1970) * 12 + value.month - 1
                return value.year - 1970
            if kind == "truncate":
                w = int(spec[2])
                if isinstance(value, int):
                    # exact integer floor division — float() would lose
                    # precision above 2^53 and prune a boundary
                    # partition wrongly (r13 review)
                    return (value // w) * w
                return int(_math.floor(float(value) / w)) * w
            if kind == "identity":
                return int(value)
        except (TypeError, ValueError):
            return None
        return None

    def _key_bucket(self, value, entry: dict | None = None) -> int | None:
        """Driver-side bucket id of one KEY value under the hash spec —
        the point-lookup twin of ``_bucket``, computed with the Python
        xxHash64 (seed 42) the streaming sink already pins bit-identical
        to ``F.xxhash64``. Returns None when the key's manifest type is
        unknown or not long/integer/string, or the value's Python type
        does not match it exactly (a mistyped literal must fall back to
        the stats prune, never hash to a WRONG bucket)."""
        e = entry if entry is not None else self.current()
        ktype = None
        if e and e.get("schema"):
            for f in e["schema"]["fields"]:
                if f["name"] == self.key_col and isinstance(f["type"], str):
                    ktype = f["type"]
                    break
        if ktype not in ("long", "integer"):
            if ktype != "string":
                return None
            if not isinstance(value, str):
                return None
        else:
            if isinstance(value, bool) or not isinstance(value, int):
                return None
            limit = 2**63 if ktype == "long" else 2**31
            if not (-limit <= value < limit):
                return None
        import pandas as pd

        from tabular_cdc_bootstrapper_spark.functions.xxhash import (
            spark_buckets,
        )

        # hash under the ENTRY's recorded bucket count (r15): a prune
        # resolved at an old version after a rebucket must use the count
        # that version's dirs were written under, not the handle's
        nb = int((e or {}).get("n_buckets") or self.n_buckets)
        return int(spark_buckets(pd.Series([value]), nb, ktype)[0])

    def _sync_spec(self) -> None:
        """Bind this handle to the CURRENT manifest's bucket spec (r11,
        partition-spec evolution): every commit records ``n_buckets``,
        so a handle created before (or concurrent with) a ``rebucket``
        never hashes keys under a stale spec. Manifests written before
        r11 carry no spec — the constructor value stands, which is the
        pre-rebucket world exactly."""
        cur = self.current()
        if cur and cur.get("n_buckets") and cur["n_buckets"] != self.n_buckets:
            self.n_buckets = int(cur["n_buckets"])
        # transform specs ride the manifest the same way (r13): a handle
        # constructed without one on a transform-partitioned table must
        # not hash-bucket its writes
        if cur and cur.get("partition_spec"):
            recorded = tuple(cur["partition_spec"])
            if recorded != self.partition_spec:
                self.partition_spec = recorded
        elif cur is not None and self.partition_spec[0] != "bucket":
            # the manifest says hash (no spec key) but this handle was
            # constructed with a transform — the TABLE wins, same rule
            # as n_buckets: writing transform ids into a hash layout
            # would corrupt every untouched-bucket carry-forward
            self.partition_spec = ("bucket",)
        # stats_cols ride the manifest too (r12, review finding): a
        # handle constructed WITHOUT them on a stats-carrying table
        # would otherwise publish commits that drop the table's pruning
        # stats — worse, a rewrite (update_where/compaction) would
        # carry bounds its own changes may have widened past (stale-
        # NARROW bounds prune wrongly). Adopting the recorded columns
        # makes every commit path recompute fresh bounds. Pre-r12
        # manifests lack the key: derive from the recorded stats.
        if cur and not self.stats_cols:
            recorded = cur.get("stats_cols") or sorted(
                {c for st in (cur.get("stats") or {}).values() for c in st}
            )
            if recorded:
                self.stats_cols = list(recorded)

    def _read_dirs(
        self,
        spark: SparkSession,
        dirs: Sequence[str],
        schema_json: dict | None = None,
        renames: dict | None = None,
        shadowed: dict | None = None,
    ) -> DataFrame | None:
        # the manifest carries the table schema (r10, the Iceberg
        # schema-in-metadata rule), rename folds (r11) and column-
        # generation masks (r12) — all shared with ParquetStateTable
        # through the module-level reader; pre-r10 schema-free manifests
        # stay on the mergeSchema path. Listing is scoped to exactly the
        # manifest's dirs — the manifest IS the pruning.
        return _read_logical(spark, dirs, schema_json, renames, shadowed)

    @staticmethod
    def _entry_dirs(e: dict) -> list[str]:
        """Every data dir a manifest references: bucket bases + merge-on-
        read delta dirs — THE definition of 'referenced' for retention,
        expiry, clone, purge and readability."""
        out = list(e["buckets"].values())
        for specs in (e.get("deltas") or {}).values():
            out.extend(s["dir"] for s in specs)
        return out

    def _read_entry(
        self, spark: SparkSession, e: dict, buckets: Sequence[int] | None = None
    ) -> DataFrame | None:
        """Read a manifest's state (optionally restricted to ``buckets``),
        folding merge-on-read deltas: state = base, then per delta commit
        in version order ``apply_changelog(delta, mirror=state)`` — the
        batch-iterated fold, bit-identical to the copy-on-write result
        because each delta IS that batch's latest-per-key slice with
        tombstones retained (fold params ride each delta spec, so mixed
        configs stay self-describing). Plan depth ∝ live delta commits,
        which ``rewrite_data_files`` bounds."""
        mapping = e["buckets"]
        deltas = e.get("deltas") or {}
        if buckets is None:
            keys = sorted(set(mapping) | set(deltas), key=int)
        else:
            keys = [str(int(b)) for b in buckets]
        base_dirs = [mapping[b] for b in keys if b in mapping]
        specs = []
        for b in keys:
            specs.extend(deltas.get(b, []))
        base = self._read_dirs(
            spark, base_dirs, e.get("schema"), e.get("renames"),
            e.get("shadowed"),
        )
        if not specs:
            return base
        if any(s.get("mode") == "additive" for s in specs):
            # sum-fold chain (r13, additive maintained view): the base
            # is the initial aggregate, every delta a signed per-group
            # partial — the fold is ONE union + groupBy-SUM (order-free,
            # associative), groups whose count reaches zero disappear.
            # Mixed chains are undefined: a view table is additive from
            # birth.
            if not all(s.get("mode") == "additive" for s in specs):
                raise ValueError(
                    f"{self.root}: mixed additive and latest-per-key "
                    "delta chains in one manifest"
                )
            p = specs[0]
            group, count = list(p["group"]), p["count"]
            sums = list(p.get("sums") or ())
            ddf = self._read_dirs(
                spark, [s["dir"] for s in specs], e.get("schema"),
                e.get("renames"), e.get("shadowed"),
            )
            allp = (
                base.unionByName(ddf, allowMissingColumns=True)
                if base is not None
                else ddf
            )
            folded = allp.groupBy(*group).agg(
                F.sum(count).cast(
                    dict(allp.dtypes)[count]
                ).alias(count),
                *[
                    F.sum(c).cast(dict(allp.dtypes)[c]).alias(c)
                    for c in sums
                ],
            )
            return folded.filter(F.col(count) > 0).select(
                *group, count, *sums
            )
        specs.sort(key=lambda s: s["version"])
        state = base
        from itertools import groupby

        for _v, grp in groupby(specs, key=lambda s: s["version"]):
            grp = list(grp)
            ddf = self._read_dirs(
                spark, [g["dir"] for g in grp], e.get("schema"),
                e.get("renames"), e.get("shadowed"),
            )
            p = grp[0]
            state = apply_changelog(
                ddf,
                key_cols=p["key"],
                ts_cols=p["ts"],
                op_col=p["op"],
                delete_op=p["delete_op"],
                mirror=state,
                tiebreak_cols=tuple(p.get("tiebreak") or ()),
                drop_envelope=(),
            )
        return state

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame | None:
        e = self._resolve(version)
        return self._read_entry(spark, e)

    def read_buckets(
        self, spark: SparkSession, buckets: Sequence[int]
    ) -> DataFrame | None:
        e = self._resolve(None)
        present = set(e["buckets"]) | set(e.get("deltas") or {})
        wanted = [b for b in buckets if str(int(b)) in present]
        if not wanted:
            return None
        return self._read_entry(spark, e, buckets=wanted)

    def _pruned_buckets(
        self,
        col: str,
        lower=None,
        upper=None,
        version: int | None = None,
        points=None,
    ) -> tuple[list[str], int]:
        """Bucket ids whose recorded [min, max] for ``col`` can overlap
        [lower, upper] (None = unbounded), plus the total bucket count.
        A bucket with no recorded stats for ``col`` is KEPT — stats only
        ever prune when they prove non-overlap (stale-but-safe bounds:
        purges may widen them, never narrow).

        ``points`` (r15, VERDICT r14 #4 — IN-list pruning): a point SET
        instead of a range — the kept buckets are the UNION of each
        point's own prune, so ``col IN (a, b, c)`` composes the key-hash
        point lookup / transform-id map / stats overlap per literal
        instead of degrading to the [min, max] envelope.

        Hidden-partition pruning (r13): when ``col`` IS the transform
        spec's source column, the partition id itself is a monotonic
        function of the value, so [lower, upper] maps directly to a
        partition-id range — pruning needs no stats at all (the Iceberg
        hidden-partitioning read path). Both prunes compose.

        Key-point pruning (r14, VERDICT #1): an EQUALITY bound on the
        KEY column of a hash-spec table maps to exactly one bucket via
        the Python xxhash twin (``functions/xxhash.py`` — bit-identical
        to ``F.xxhash64``, the streaming sink's partitioner), so a
        key-scoped DELETE/UPDATE/SELECT plans 1/n_buckets of the table
        with no scan at all."""
        e = self._resolve(version)
        if points is not None:
            kept_u: set[str] = set()
            for p in points:
                k, _t = self._pruned_buckets(col, p, p, version)
                kept_u.update(k)
            return sorted(kept_u, key=int), len(e["buckets"])
        stats = e.get("stats") or {}
        # bind to the RESOLVED manifest's own spec (r15): after a
        # rebucket/regrain, older snapshots keep the grain their dirs
        # were written under — pruning a time-travel read with the
        # handle's CURRENT spec would map values to ids of the wrong
        # spec and prove false disjointness. Pre-spec manifests carry
        # no key: the handle's construction value stands, as everywhere.
        espec = (
            tuple(e["partition_spec"])
            if e.get("partition_spec")
            else ("bucket",)
        )
        if (
            espec[0] == "bucket"
            and col == self.key_col
            and lower is not None
            and lower == upper
        ):
            b = self._key_bucket(lower, e)
            if b is not None:
                present = set(e["buckets"]) | set(e.get("deltas") or {})
                kept = [str(b)] if str(b) in present else []
                return kept, len(e["buckets"])
        # transform-domain prune: value bounds → partition-id bounds
        pid_lo = pid_hi = None
        if espec[0] != "bucket" and col == espec[1]:
            if lower is not None:
                pid_lo = self._transform_id(lower, espec)
            if upper is not None:
                pid_hi = self._transform_id(upper, espec)
        kept = []
        for b in sorted(set(e["buckets"]) | set(e.get("deltas") or {}), key=int):
            if pid_lo is not None and int(b) < pid_lo:
                continue
            if pid_hi is not None and int(b) > pid_hi:
                continue
            st = (stats.get(b) or {}).get(col)
            if st is None or st[0] is None or st[1] is None:
                kept.append(b)
                continue
            mn, mx = st
            try:
                if lower is not None and _stat_lt(mx, lower):
                    continue
                if upper is not None and _stat_lt(upper, mn):
                    continue
            except TypeError:
                # cross-type bound vs recorded stat (e.g. an aware
                # datetime predicate against string stats): stats only
                # ever prune when they PROVE non-overlap — keep
                pass
            kept.append(b)
        return kept, len(e["buckets"])

    def read_pruned(
        self,
        spark: SparkSession,
        col: str,
        lower=None,
        upper=None,
        version: int | None = None,
    ) -> DataFrame | None:
        """Range-predicate read with manifest-stats data skipping (r10 —
        the Iceberg column-statistics prune): list ONLY the bucket dirs
        whose recorded min/max for ``col`` can overlap [lower, upper],
        then apply the predicate as a normal (pushed-down) filter for
        row-level exactness. The key-hash bucket layout prunes point
        lookups; this prunes RANGE scans (event-time windows, sort-key
        ranges) — at the 100 TB design point the file listing itself is
        the cost a time-window query must not pay for cold buckets.
        Buckets without stats are read (safe), so the result is always
        exact regardless of stats coverage.

        Point-set form (r15): ``lower`` may be a list/tuple/set of
        values with ``upper=None`` — the IN-list prune: buckets kept
        are the union of each point's own prune, and the row filter is
        ``col IN (...)``. A collection is never a legal scalar bound,
        so the two forms cannot collide."""
        e = self._resolve(version)
        if upper is None and isinstance(lower, (list, tuple, set, frozenset)):
            pts = list(lower)
            kept, _total = self._pruned_buckets(
                col, version=version, points=pts
            )
            df = self._read_entry(spark, e, buckets=[int(b) for b in kept])
            if df is None:
                return None
            return df.filter(F.col(col).isin(pts))
        kept, _total = self._pruned_buckets(col, lower, upper, version)
        df = self._read_entry(spark, e, buckets=[int(b) for b in kept])
        if df is None:
            return None
        if lower is not None:
            df = df.filter(F.col(col) >= F.lit(lower))
        if upper is not None:
            df = df.filter(F.col(col) <= F.lit(upper))
        return df

    def _publish_commit(
        self, record: dict, expected_head: "int | tuple | None" = None
    ) -> dict:
        self._log.publish(
            record,
            protected=self._branch_covers,
            expected_head=expected_head,
        )
        self._expire(record)
        return record

    def _new_like(self, dst_root: str) -> "VersionedBucketMirror":
        return VersionedBucketMirror(
            dst_root,
            n_buckets=self.n_buckets,
            key_col=self.key_col,
            keep_versions=self.keep_versions,
            merge_on_read=self.merge_on_read,
            partition_spec=(
                self.partition_spec
                if self.partition_spec[0] != "bucket"
                else None
            ),
        )

    @staticmethod
    def _map_dirs(e: dict, fn) -> dict:
        def _m(b: str, d: str) -> str | None:
            rel = os.path.join("data", f"bucket={int(b)}", os.path.basename(d))
            return fn(d, rel)

        rec = {**e, "buckets": {}}
        rec.pop("deltas", None)
        for b, d in e["buckets"].items():
            if (nd := _m(b, d)) is not None:
                rec["buckets"][b] = nd
        for b, specs in (e.get("deltas") or {}).items():
            # merge-on-read delta dirs ride along
            ns = [
                {**sp, "dir": nd}
                for sp in specs
                if (nd := _m(b, sp["dir"])) is not None
            ]
            if ns:
                rec.setdefault("deltas", {})[b] = ns
        return rec

    def _stage(
        self, spark: SparkSession, df: DataFrame, wdir: str
    ) -> tuple[DataFrame, dict]:
        self._sync_spec()
        (
            df.withColumn("bucket", self._row_partition(df))
            # explicit N (r15): see _write_parallelism
            .repartition(self._write_parallelism(df), F.col("bucket"))
            .write.mode("errorifexists")
            .partitionBy("bucket")
            .parquet(wdir)
        )
        staged = spark.read.option("basePath", wdir).parquet(wdir).drop(
            "bucket"
        )
        keys = {
            "n_buckets": self.n_buckets,
            "schema": _widen_struct(None, staged.schema).jsonValue(),
        }
        if self.partition_spec[0] != "bucket":
            keys["partition_spec"] = list(self.partition_spec)
        return staged, keys

    def _install_staged(self, wdir: str, version: int) -> dict:
        mapping: dict[str, str] = {}
        try:
            for d in os.listdir(wdir):
                if not d.startswith("bucket="):
                    continue
                b = int(d.split("=", 1)[1])
                bdir = os.path.join(self.data_dir, f"bucket={b}")
                os.makedirs(bdir, exist_ok=True)
                dst = os.path.join(
                    bdir, f"v-{version:08d}-{uuid.uuid4().hex[:8]}"
                )
                os.replace(os.path.join(wdir, d), dst)
                mapping[str(b)] = dst
        finally:
            shutil.rmtree(wdir, ignore_errors=True)
        return {"buckets": mapping}

    def initialize(
        self,
        df: DataFrame,
        files_per_bucket: int = 1,
        max_records_per_file: int | None = None,
    ) -> dict:
        """Bulk load. ``files_per_bucket > 1`` splits each bucket's write
        across that many independently-salted tasks — the knob for big
        buckets at the 100 TB design point, where one-task-per-bucket
        serializes the load; ``max_records_per_file`` bounds file size
        deterministically. The resulting multi-file bucket dirs are what
        ``rewrite_data_files`` later compacts once the table turns
        read-heavy."""
        return self._commit_staged(
            df,
            touched=None,
            files_per_bucket=files_per_bucket,
            max_records_per_file=max_records_per_file,
        )

    def _commit_staged(
        self,
        df: DataFrame,
        touched: Sequence[int] | None,
        key_col: str | None = None,
        meta: dict | None = None,
        files_per_bucket: int = 1,
        max_records_per_file: int | None = None,
        branch: str | None = None,
        basis=_UNSET,
        zorder_cols: Sequence[str] = (),
        drop_conflicted: bool = False,
    ) -> dict:
        """Stage ``df`` partitioned by bucket, install the staged buckets
        under immutable new version names, publish the manifest.
        ``touched=None`` means a full (re)initialization: the manifest
        maps exactly the staged buckets. Otherwise untouched buckets carry
        their current dirs forward and a touched bucket with no staged dir
        (every key deleted) drops out of the mapping.

        ``drop_conflicted`` (r12): on a CAS conflict, instead of raising
        when a concurrent commit modified one of our buckets, DROP that
        bucket's staged dir and commit the survivors — sound ONLY when
        the staged content is a pure rewrite of the basis content (the
        compaction case: the winner's bytes supersede a stale rewrite of
        what they replaced), NEVER for a merge (whose staged buckets
        carry new data that must not be silently discarded).

        Write shaping for big buckets: ``files_per_bucket`` splits each
        bucket's write across that many tasks via an independent key
        salt (a salt from the SAME hash as the bucket id would correlate
        whenever gcd(n_buckets, files) > 1 and collapse back to one
        task; note AQE may still coalesce small salted partitions —
        parallelism is best-effort, sizing is not); ``max_records_per_
        file`` is the deterministic file-size bound (Spark's own
        ``maxRecordsPerFile``), the knob that actually guarantees a
        fragmented layout for ``rewrite_data_files`` to recover."""
        _check_meta(meta)
        key = key_col or self.key_col
        version = self._log.next_version()
        staging = os.path.join(self.root, f"staging-{uuid.uuid4().hex[:8]}")
        staged_df = df.withColumn("bucket", self._partition_for(key, df))
        if zorder_cols:
            # OPTIMIZE ... ZORDER BY composed into the commit path (r11):
            # the Morton key is computed ONCE over the staged frame
            # (functions/layout.py — codegen-only bit interleave, 1-row
            # broadcast min/max) and rows land z-sorted inside each
            # bucket's files, so parquet row-group stats are tight in
            # EVERY participating dimension, not just a linear sort key
            from tabular_cdc_bootstrapper_spark.functions.layout import (
                with_zorder_key,
            )

            staged_df = with_zorder_key(
                staged_df, list(zorder_cols), out_col="__zval"
            )
        n_write = self._write_parallelism(df, touched)
        if files_per_bucket > 1:
            salt = F.pmod(
                F.xxhash64(F.col(key), F.lit("fpb-salt")),
                F.lit(int(files_per_bucket)),
            )
            staged_df = staged_df.repartition(
                max(n_write, n_write * int(files_per_bucket)),
                F.col("bucket"),
                salt,
            )
        else:
            # explicit N (r15): see _write_parallelism — a bare
            # repartition("bucket") lets AQE coalesce the write exchange
            # by bytes, serializing every partition dir behind one task
            staged_df = staged_df.repartition(n_write, F.col("bucket"))
        if zorder_cols:
            staged_df = staged_df.sortWithinPartitions(
                "bucket", "__zval"
            ).drop("__zval")
        elif self.sort_cols:
            # declarative sort order (Iceberg's WRITE ORDERED BY): rows
            # land sorted inside each bucket's files, so parquet
            # row-group/file stats are tight and Spark's pushed range
            # filters skip them natively — the pruning hash bucketing
            # cannot give (see stats_cols note)
            staged_df = staged_df.sortWithinPartitions(
                "bucket", *self.sort_cols
            )
        writer = staged_df.write.mode("errorifexists")
        if max_records_per_file:
            writer = writer.option(
                "maxRecordsPerFile", int(max_records_per_file)
            )
        writer.partitionBy("bucket").parquet(staging)
        # per-bucket column stats (r10, Iceberg data skipping): ONE
        # bounded aggregate (<= n_buckets rows) over the staged BYTES —
        # reading the staging dir back costs one scan of the delta, not
        # a re-execution of the upstream merge plan
        staged_stats: dict[str, dict] = {}
        if self.stats_cols:
            present = [c for c in self.stats_cols if c in df.columns]
            footer = (
                footer_bucket_stats(staging, present) if present else None
            )
            if footer is not None:
                # r15 fast path (streaming/_stats.py): fold the bounds
                # from the parquet footers the write just produced —
                # no second Spark job over the staged bytes; byte-equal
                # to the aggregate for the exact-stats types it accepts
                for bucket, bounds in footer.items():
                    staged_stats[bucket] = {
                        c: [
                            self._json_stat(bounds[c][0]),
                            self._json_stat(bounds[c][1]),
                        ]
                        for c in present
                    }
            elif present:
                sdf = df.sparkSession.read.parquet(staging)
                present = [c for c in self.stats_cols if c in sdf.columns]
                aggs = []
                for c in present:
                    aggs.append(F.min(c).alias(f"__mn_{c}"))
                    aggs.append(F.max(c).alias(f"__mx_{c}"))
                if present:
                    for r in sdf.groupBy("bucket").agg(*aggs).collect():
                        staged_stats[str(int(r["bucket"]))] = {
                            c: [
                                self._json_stat(r[f"__mn_{c}"]),
                                self._json_stat(r[f"__mx_{c}"]),
                            ]
                            for c in present
                        }
        # untouched buckets carry forward from wherever this commit lands:
        # the caller-resolved basis manifest when given (the manifest its
        # df was DERIVED from — the CAS basis), else the branch head for
        # a branch-staged commit, else main's CURRENT
        cur = (
            (
                self._branch_head_entry(branch)
                if branch is not None
                else self.current()
            )
            if basis is _UNSET
            else basis
        )
        # CHECK constraints (r12): validate the STAGED bytes before any
        # dir installs — one scan ∝ this commit, the manifest never
        # publishes violating rows and nothing needs cleanup on refusal
        if cur and cur.get("constraints"):
            try:
                _check_table_constraints(
                    df.sparkSession.read.parquet(staging).drop("bucket"),
                    cur["constraints"],
                    self.root,
                )
            except ConstraintViolation:
                shutil.rmtree(staging, ignore_errors=True)
                raise
        # install staged dirs, recording per-bucket ACTIONS (install dst /
        # delete) rather than a mapping, so a conflict retry can re-apply
        # them against a newer head
        actions: dict[str, str | None] = {}
        try:
            staged = [
                d for d in os.listdir(staging) if d.startswith("bucket=")
            ]
            install = (
                [int(d.split("=", 1)[1]) for d in staged]
                if touched is None
                else list(touched)
            )
            for b in install:
                src = os.path.join(staging, f"bucket={int(b)}")
                if os.path.isdir(src):
                    bdir = os.path.join(self.data_dir, f"bucket={int(b)}")
                    os.makedirs(bdir, exist_ok=True)
                    dst = os.path.join(
                        bdir, f"v-{version:08d}-{uuid.uuid4().hex[:8]}"
                    )
                    os.replace(src, dst)  # install under a NEW name only
                    actions[str(int(b))] = dst
                else:
                    actions[str(int(b))] = None  # bucket fully deleted
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        new_schema = T.StructType(
            [f for f in staged_df.schema.fields if f.name != "bucket"]
        )

        def _build(base_entry: dict | None) -> dict:
            mapping: dict[str, str] = (
                dict(base_entry["buckets"])
                if (base_entry and touched is not None)
                else {}
            )
            for b, dst in actions.items():
                if dst is None:
                    mapping.pop(b, None)
                else:
                    mapping[b] = dst
            # a staged FULL-state bucket supersedes its delta chain
            # (merge-on-read): touched buckets drop their deltas, the
            # rest carry forward; touched=None clears everything
            deltas = {
                b: list(v)
                for b, v in ((base_entry or {}).get("deltas") or {}).items()
                if touched is not None and b not in actions
            }
            record = {
                "version": self._log.next_version(),
                "ts": time.time(),
                "buckets": mapping,
                "n_buckets": self.n_buckets,
                **(
                    {"partition_spec": list(self.partition_spec)}
                    if self.partition_spec[0] != "bucket"
                    else {}
                ),
            }
            if deltas:
                record["deltas"] = deltas
            # rename mappings stay needed for as long as any carried dir
            # or delta chain may hold the old physical column names; a
            # commit that replaced EVERY dir materialized the logical
            # names and the mapping retires
            installed_dirs = {d for d in actions.values() if d is not None}
            carried_old_dirs = deltas or any(
                d not in installed_dirs for d in mapping.values()
            )
            if base_entry and base_entry.get("renames") and carried_old_dirs:
                record["renames"] = base_entry["renames"]
            if base_entry and base_entry.get("dropped") and carried_old_dirs:
                # dropped-column tombstones survive while any old file
                # may still hold the bytes (see alter_schema)
                record["dropped"] = base_entry["dropped"]
            if base_entry and base_entry.get("shadowed") and carried_old_dirs:
                # generation masks survive with the old dirs they mask;
                # a commit that replaced EVERY dir materialized the
                # logical schema (the staged read already masked) and
                # the mask retires with the rename mapping
                record["shadowed"] = base_entry["shadowed"]
            if base_entry and "next_fid" in base_entry:
                record["next_fid"] = base_entry["next_fid"]
            if base_entry and base_entry.get("constraints"):
                # CHECK constraints are table properties: they survive
                # every commit, including full rewrites
                record["constraints"] = base_entry["constraints"]
            # carried-forward buckets keep their previous stats; staged
            # ones take the fresh bounds. Stats are pruning BOUNDS only —
            # a purge/delete may leave them wider than the data
            # (stale-but-safe), never narrower.
            if self.stats_cols:
                record["stats_cols"] = list(self.stats_cols)  # r12:
                # future handles adopt via _sync_spec — no commit path
                # can silently drop (or go stale on) the table's stats
                stats: dict[str, dict] = dict(
                    (base_entry.get("stats") or {})
                    if (base_entry and touched is not None)
                    else {}
                )
                stats.update(staged_stats)
                # a fully-deleted bucket drops its stats with its mapping
                record["stats"] = {
                    b: v for b, v in stats.items() if b in mapping
                }
            # manifest-recorded table schema (r10): reads bind to it
            # instead of footer-merging; union-widened so untouched
            # buckets' narrower columns read through the parquet widening
            # promotions. Legacy manifests without a schema stay
            # schema-free (mergeSchema path) — recording one would
            # misdescribe their unknown carried dirs — UNLESS this commit
            # replaced every carried dir (e.g. the full-rewrite widening
            # path): then no unknown dirs remain and recording the staged
            # schema upgrades the table to the schema'd read path.
            if touched is None or base_entry is None:
                record["schema"] = _widen_struct(None, new_schema).jsonValue()
            elif "schema" in base_entry:
                prev_schema = T.StructType.fromJson(base_entry["schema"])
                record["schema"] = _widen_struct(
                    prev_schema, new_schema
                ).jsonValue()
            elif not deltas and all(
                d in installed_dirs for d in mapping.values()
            ):
                record["schema"] = _widen_struct(None, new_schema).jsonValue()
            if meta:
                record.update(meta)
            return record

        if branch is not None:
            # branch staging: only the branch pointer advances; staged
            # dirs are protected by the branch window, no retention pass
            return self._publish_to_branch(_build(cur), branch)
        # optimistic-concurrency publish (r11, VERDICT task 1): CAS on the
        # basis head; on conflict re-read, verify the concurrent commits
        # did not touch OUR buckets (then re-applying the actions against
        # the new head is sound — disjoint writers both land), else raise.
        def _token(e: dict | None) -> tuple:
            # (version, purged_ts): an in-place purge rewrite changes
            # the head WITHOUT bumping the version (r12) — the token
            # makes the CAS see it
            return (
                e["version"] if e else -1,
                (e or {}).get("purged_ts") or 0,
            )

        basis = cur
        attempt = 0
        while True:
            record = _build(basis)
            try:
                self._log.publish(
                    record,
                    protected=self._branch_covers,
                    expected_head=_token(basis),
                )
                break
            except CommitConflict:
                attempt += 1
                if attempt > len(_RETRY_BACKOFF):
                    raise
                new_cur = self.current()
                head_moved = _token(new_cur) != _token(basis)
                if head_moved and (new_cur or {}).get("constraints") != (
                    basis or {}
                ).get("constraints"):
                    # the staged bytes were validated against the BASIS
                    # head's constraints; a concurrently added/changed
                    # constraint was never enforced on them — rebasing
                    # would publish unvalidated rows (review r12)
                    raise CommitConflict(
                        f"{self.root}'s CHECK constraints changed while "
                        "this commit was staged — re-run so the new "
                        "constraints validate its data"
                    ) from None
                if touched is None and head_moved:
                    # a FULL-state replace (initialize / rebucket) whose
                    # basis moved is stale by definition — every bucket
                    # is "ours", so there is no disjoint rebase (ADVICE
                    # r12). Propagate; the caller re-reads and re-runs.
                    raise CommitConflict(
                        f"{self.root} advanced past this full-state "
                        "rewrite's basis — re-run it against the new head"
                    ) from None
                if touched is not None and head_moved:
                    changed = [
                        b
                        for b in actions
                        if self._bucket_state(basis, b)
                        != self._bucket_state(new_cur, b)
                    ]
                    if changed and not drop_conflicted:
                        raise CommitConflict(
                            f"bucket {changed[0]} of {self.root} was "
                            "modified by a concurrent commit — this "
                            "merge's inputs are stale; re-run it against "
                            "the new head"
                        ) from None
                    for b in changed:
                        # partial progress (r12, the Iceberg
                        # partial-progress compaction rule): this
                        # bucket's staged rewrite was derived from a
                        # state a concurrent commit replaced — the
                        # winner's bytes are newer, ours are a stale
                        # REWRITE of superseded content, so dropping it
                        # loses nothing. The installed dir is
                        # unreferenced by any manifest; remove it now
                        # (next publish's _expire would GC it anyway).
                        dst = actions.pop(b)
                        staged_stats.pop(b, None)
                        if dst is not None:
                            shutil.rmtree(dst, ignore_errors=True)
                    if not actions:
                        # every staged bucket conflicted: clean no-op —
                        # the table head already supersedes this rewrite
                        noop = dict(new_cur)
                        noop["_installed"] = []
                        return noop
                basis = new_cur
                time.sleep(_RETRY_BACKOFF[attempt - 1])
        self._expire(record)
        # ephemeral receipt detail (in-memory only — the manifest JSON
        # was already written): which buckets this commit installed,
        # net of any partial-progress drops
        record = dict(record)
        record["_installed"] = sorted(actions)
        return record

    @staticmethod
    def _bucket_state(entry: dict | None, b: str):
        """The full content identity of bucket ``b`` in a manifest (base
        dir + delta dir chain) — what the optimistic-concurrency retry
        compares to prove two commits disjoint."""
        if not entry:
            return None
        return (
            entry["buckets"].get(b),
            tuple(
                s["dir"]
                for s in (entry.get("deltas") or {}).get(b, ())
            ),
        )

    def _commit_delta(
        self,
        delta_df: DataFrame,
        touched: Sequence[int],
        fold: dict,
        basis=_UNSET,
        branch: str | None = None,
        meta: dict | None = None,
        split_deletes: bool = False,
        has_upserts: bool = True,
    ) -> dict:
        """Merge-on-read commit (r11, VERDICT task 2): stage ``delta_df``
        bucket-partitioned, install one immutable DELTA dir per touched
        bucket (``bucket=K/v-<n>-delta-<uuid>``), and publish a manifest
        that carries every base dir forward unchanged and APPENDS the
        delta spec (dir + the fold params reads need) to the touched
        buckets' chains. Write amplification is the delta itself — the
        Iceberg v2 delete-file / Delta deletion-vector cost model; the
        read-side fold is ``_read_entry`` and ``rewrite_data_files`` is
        the fold point that bounds chain length. Same CAS publish
        contract as ``_commit_staged``: disjoint concurrent commits
        rebase, overlapping ones raise ``CommitConflict``.

        ``split_deletes`` (r12, VERDICT task 6 — the Iceberg v2
        equality-delete tier): delete rows are staged as a SEPARATE
        keys-only slice (key + ts + op + tiebreak — the fold envelope,
        no payload) installed as its own ``v-<n>-del-*`` dir beside the
        batch's upsert dir at the same version. A delete-heavy batch
        (GDPR stream) therefore appends bytes ∝ keys, not ∝ full-width
        rows; a PURE-delete batch (``has_upserts=False``) skips the
        upsert write entirely — ONE keys-only file per touched bucket.
        The read path needs NO change: both dirs are specs at the same
        version, read together under the manifest schema (payload
        columns surface NULL per file — exactly what a tombstone
        carries), and the fold is bit-identical to the unsplit form."""
        _check_meta(meta)
        key = fold["key"]
        version = self._log.next_version()
        is_del = F.coalesce(
            F.col(fold["op"]) == F.lit(fold["delete_op"]), F.lit(False)
        )
        slices: list[tuple[DataFrame, str]] = []
        if split_deletes:
            # transform specs derive partition ids from the SOURCE
            # column (r15, VERDICT r14 #2): the keys-only slice carries
            # it so each tombstone routes to its partition dir — one
            # extra column, still payload-free, so a delete-heavy batch
            # on a days()/months()-partitioned MoR mirror pays the same
            # ~bytes-per-key as the hash-bucketed layout
            envelope = list(
                dict.fromkeys(
                    [key, *fold["ts"], fold["op"],
                     *(fold.get("tiebreak") or ()),
                     *(
                         (self.partition_spec[1],)
                         if self.partition_spec[0] != "bucket"
                         else ()
                     )]
                )
            )
            if has_upserts:
                slices.append((delta_df.filter(~is_del), "delta"))
            slices.append(
                (delta_df.filter(is_del).select(*envelope), "del")
            )
        else:
            slices.append((delta_df, "delta"))
        staged_stats: dict[str, dict] = {}
        actions: dict[str, list[str]] = {str(int(b)): [] for b in touched}
        up_schema = None
        for slice_df, kind in slices:
            staging = os.path.join(
                self.root, f"staging-{uuid.uuid4().hex[:8]}"
            )
            staged_df = slice_df.withColumn(
                "bucket", self._partition_for(key, slice_df)
            )
            # explicit N (r15): see _write_parallelism
            staged_df = staged_df.repartition(
                self._write_parallelism(slice_df, touched), F.col("bucket")
            )
            if self.sort_cols and kind == "delta":
                staged_df = staged_df.sortWithinPartitions(
                    "bucket", *self.sort_cols
                )
            staged_df.write.mode("errorifexists").partitionBy(
                "bucket"
            ).parquet(staging)
            if kind == "delta":
                up_schema = staged_df.schema
            # CHECK constraints (r12): validate the upsert slice's
            # staged bytes (one scan ∝ batch). Tombstones are excluded
            # — a delete event legitimately carries NULL payload and is
            # not a row the table will serve
            cons = (
                self._constraints_for(basis, branch)
                if kind == "delta"
                else None
            )
            if cons:
                live = slice_df.sparkSession.read.parquet(staging)
                not_del = ~F.coalesce(
                    F.col(fold["op"]) == F.lit(fold["delete_op"]),
                    F.lit(False),
                )
                try:
                    _check_table_constraints(
                        live.filter(not_del).drop("bucket"),
                        cons,
                        self.root,
                    )
                except ConstraintViolation:
                    shutil.rmtree(staging, ignore_errors=True)
                    for dsts in actions.values():
                        for d in dsts:
                            shutil.rmtree(d, ignore_errors=True)
                    raise
            # per-bucket stats over the UPSERT slice only: tombstones
            # carry no queryable payload, and bounds are widen-only
            # (stale-but-safe) so the carried base stats keep any bucket
            # with matching live rows readable — its tombstones ride in
            # with the bucket read
            if self.stats_cols and kind == "delta":
                present = [
                    c for c in self.stats_cols if c in slice_df.columns
                ]
                footer = (
                    footer_bucket_stats(staging, present)
                    if present
                    else None
                )
                if footer is not None:
                    # r15 fast path (streaming/_stats.py): bounds from
                    # the just-written parquet footers — no second
                    # Spark job over the staged delta
                    for bucket, bounds in footer.items():
                        staged_stats[bucket] = {
                            c: [
                                self._json_stat(bounds[c][0]),
                                self._json_stat(bounds[c][1]),
                            ]
                            for c in present
                        }
                elif present:
                    sdf = slice_df.sparkSession.read.parquet(staging)
                    present = [
                        c for c in self.stats_cols if c in sdf.columns
                    ]
                    aggs = []
                    for c in present:
                        aggs.append(F.min(c).alias(f"__mn_{c}"))
                        aggs.append(F.max(c).alias(f"__mx_{c}"))
                    for r in sdf.groupBy("bucket").agg(*aggs).collect():
                        staged_stats[str(int(r["bucket"]))] = {
                            c: [
                                self._json_stat(r[f"__mn_{c}"]),
                                self._json_stat(r[f"__mx_{c}"]),
                            ]
                            for c in present
                        }
            try:
                for b in touched:
                    src = os.path.join(staging, f"bucket={int(b)}")
                    if os.path.isdir(src):
                        bdir = os.path.join(
                            self.data_dir, f"bucket={int(b)}"
                        )
                        os.makedirs(bdir, exist_ok=True)
                        dst = os.path.join(
                            bdir,
                            f"v-{version:08d}-{kind}-"
                            f"{uuid.uuid4().hex[:8]}",
                        )
                        os.replace(src, dst)
                        actions[str(int(b))].append(dst)
            finally:
                shutil.rmtree(staging, ignore_errors=True)
        if up_schema is None:  # pure-delete batch: envelope-only schema
            up_schema = (
                slices[-1][0]
                .withColumn("bucket", self._partition_for(key, slices[-1][0]))
                .schema
            )
        new_schema = T.StructType(
            [f for f in up_schema.fields if f.name != "bucket"]
        )
        return self._publish_delta_actions(
            actions,
            fold,
            new_schema,
            staged_stats,
            basis=basis,
            branch=branch,
            meta=meta,
        )

    def commit_prestaged_delta(
        self,
        staged_files: dict,
        fold: dict,
        schema: "T.StructType",
        staged_stats: dict | None = None,
        meta: dict | None = None,
        constraints_checked: dict | None = None,
    ) -> dict:
        """Merge-on-read commit of delta data that was ALREADY written as
        parquet files by an external writer — the streaming-sink entry
        point (``spark.writeStream.format("state_table")``): executor
        Python workers write each bucket's slice with pyarrow (bucket
        assignment via ``functions/xxhash.py``, bit-identical to the
        JVM hash), and this method — pure metadata, NO SparkSession —
        installs one immutable delta dir per bucket and publishes the
        manifest through the same CAS loop as ``_commit_delta``
        (disjoint concurrent commits rebase; a base rewrite of one of
        our buckets raises :class:`CommitConflict`).

        ``staged_files``: ``{bucket_id: [parquet file paths]}``. Files
        are MOVED into the table (``os.replace`` — same filesystem).
        ``schema``: the batch's Spark schema (drives the manifest
        schema union-widening). ``staged_stats``: optional per-bucket
        ``{col: [min, max]}`` bounds, merged widen-only like every
        delta commit's."""
        _check_meta(meta)
        if fold.get("mode") == "additive":
            # sum-fold deltas (r13, the additive maintained-view sink):
            # signed per-group partial aggregates; reads fold by SUM
            for k in ("group", "count", "sums"):
                if k not in fold:
                    raise ValueError(f"additive fold spec missing {k!r}")
        else:
            for k in ("key", "ts", "op", "delete_op"):
                if k not in fold:
                    raise ValueError(f"fold spec missing {k!r}")
        self._sync_spec()
        cur = self.current()
        if cur and (cur.get("renames") or cur.get("shadowed")):
            # externally staged bytes carry whatever column names the
            # writer saw — union-widening them into a rename-folded
            # manifest would resurrect an old physical name beside its
            # renamed self (review r12)
            raise ValueError(
                f"{self.root}: the manifest carries rename-fold or "
                "generation-mask metadata — run "
                "rewrite_data_files(materialize=True) before committing "
                "externally staged deltas"
            )
        if cur and cur.get("constraints"):
            # this commit path has NO SparkSession (the streaming sink's
            # pure-metadata commit) and cannot evaluate CHECK expressions
            # itself. The WRITER attests which constraint set it enforced
            # executor-side on the staged bytes (r13 — the state_table
            # sink validates each task's slice with DuckDB before
            # staging); anything short of the table's exact current set
            # is refused rather than silently skipped.
            if dict(constraints_checked or {}) != dict(cur["constraints"]):
                raise ValueError(
                    f"{self.root} carries CHECK constraints "
                    f"({sorted(cur['constraints'])}) this staged commit "
                    "did not attest to enforcing — ingest through "
                    "merge_batch (foreachBatch), or restart the sink so "
                    "it rebinds and validates the current set"
                )
        version = self._log.next_version()
        actions: dict[str, list[str]] = {}
        for b, files in staged_files.items():
            # transform specs have an unbounded partition-id domain;
            # only the hash spec can validate staged ids against n
            if self.partition_spec[0] == "bucket" and (
                int(b) < 0 or int(b) >= self.n_buckets
            ):
                raise ValueError(
                    f"staged bucket {b} is outside the table's current "
                    f"{self.n_buckets}-bucket spec — the writer's "
                    "partitioning is stale (rebucketed mid-write?)"
                )
            if not files:
                continue
            bdir = os.path.join(self.data_dir, f"bucket={int(b)}")
            os.makedirs(bdir, exist_ok=True)
            dst = os.path.join(
                bdir, f"v-{version:08d}-delta-{uuid.uuid4().hex[:8]}"
            )
            os.makedirs(dst)
            for i, f_ in enumerate(files):
                os.replace(
                    f_, os.path.join(dst, f"part-{i:05d}.parquet")
                )
            actions[str(int(b))] = [dst]
        if not actions:
            cur = self.current()
            return dict(cur) if cur else {"version": -1, "buckets": {}}
        return self._publish_delta_actions(
            actions,
            fold,
            schema,
            dict(staged_stats or {}),
            meta=meta,
        )

    def _publish_delta_actions(
        self,
        actions: dict,
        fold: dict,
        new_schema: "T.StructType",
        staged_stats: dict,
        basis=_UNSET,
        branch: str | None = None,
        meta: dict | None = None,
    ) -> dict:
        """Publish installed delta dirs (``actions``: bucket → dirs) as
        one manifest commit — the shared metadata tail of
        ``_commit_delta`` and ``commit_prestaged_delta``."""
        cur = (
            (
                self._branch_head_entry(branch)
                if branch is not None
                else self.current()
            )
            if basis is _UNSET
            else basis
        )

        def _merge_bounds(old, new):
            if old is None:
                return new
            if old[0] is None or new[0] is None:
                mn = None
            else:
                mn = min(old[0], new[0])
            if old[1] is None or new[1] is None:
                mx = None
            else:
                mx = max(old[1], new[1])
            return [mn, mx]

        def _build(base_entry: dict | None) -> dict:
            mapping = dict(base_entry["buckets"]) if base_entry else {}
            deltas = {
                b: list(v)
                for b, v in ((base_entry or {}).get("deltas") or {}).items()
            }
            record = {
                "version": self._log.next_version(),
                "ts": time.time(),
                "buckets": mapping,
                "n_buckets": self.n_buckets,
                **(
                    {"partition_spec": list(self.partition_spec)}
                    if self.partition_spec[0] != "bucket"
                    else {}
                ),
            }
            for b, dsts in actions.items():
                for dst in dsts:
                    deltas.setdefault(b, []).append(
                        {"version": record["version"], "dir": dst, **fold}
                    )
            record["deltas"] = deltas
            if base_entry and base_entry.get("renames"):
                record["renames"] = base_entry["renames"]
            if base_entry and base_entry.get("dropped"):
                record["dropped"] = base_entry["dropped"]
            if base_entry and base_entry.get("shadowed"):
                # delta commits never replace base dirs — masks carry
                record["shadowed"] = base_entry["shadowed"]
            if base_entry and "next_fid" in base_entry:
                record["next_fid"] = base_entry["next_fid"]
            if base_entry and base_entry.get("constraints"):
                record["constraints"] = base_entry["constraints"]
            if self.stats_cols or staged_stats:
                if self.stats_cols:
                    record["stats_cols"] = list(self.stats_cols)
                stats = dict(
                    (base_entry.get("stats") or {}) if base_entry else {}
                )
                for b, st in staged_stats.items():
                    merged = dict(stats.get(b) or {})
                    for c, bounds in st.items():
                        merged[c] = _merge_bounds(merged.get(c), bounds)
                    stats[b] = merged
                record["stats"] = stats
            # schema rules mirror _commit_staged: a delta may add/widen
            # columns (evolution through the fold); legacy schema-free
            # manifests stay on the mergeSchema path
            if base_entry is None:
                record["schema"] = _widen_struct(None, new_schema).jsonValue()
            elif "schema" in base_entry:
                record["schema"] = _widen_struct(
                    T.StructType.fromJson(base_entry["schema"]), new_schema
                ).jsonValue()
            if meta:
                record.update(meta)
            return record

        if branch is not None:
            return self._publish_to_branch(_build(cur), branch)
        basis_entry = cur
        attempt = 0
        while True:
            record = _build(basis_entry)
            try:
                self._log.publish(
                    record,
                    protected=self._branch_covers,
                    expected_head=(
                        basis_entry["version"] if basis_entry else -1
                    ),
                )
                break
            except CommitConflict:
                attempt += 1
                if attempt > len(_RETRY_BACKOFF):
                    raise
                new_cur = self.current()
                if (new_cur or {}).get("constraints") != (
                    basis_entry or {}
                ).get("constraints"):
                    # same rule as _commit_staged (review r12): this
                    # delta validated against the basis constraints only
                    raise CommitConflict(
                        f"{self.root}'s CHECK constraints changed while "
                        "this delta was staged — re-run so the new "
                        "constraints validate its data"
                    ) from None
                if (new_cur["version"] if new_cur else -1) != (
                    basis_entry["version"] if basis_entry else -1
                ):
                    # delta appends COMMUTE with concurrent delta appends
                    # (the fold is ts-ordered, not arrival-ordered), so
                    # the rebase rule is weaker than _commit_staged's:
                    # each touched bucket's BASE must be unchanged and
                    # its delta chain only EXTENDED — a base rewrite
                    # (compaction/full merge) invalidates our basis
                    for b in actions:
                        old = self._bucket_state(basis_entry, b)
                        new = self._bucket_state(new_cur, b)
                        old_base, old_chain = old or (None, ())
                        new_base, new_chain = new or (None, ())
                        if old_base != new_base or (
                            new_chain[: len(old_chain)] != old_chain
                        ):
                            raise CommitConflict(
                                f"bucket {b} of {self.root} was rewritten "
                                "by a concurrent commit — this delta's "
                                "basis is stale; re-run the merge"
                            ) from None
                    basis_entry = new_cur
                time.sleep(_RETRY_BACKOFF[attempt - 1])
        self._expire(record)
        return record
