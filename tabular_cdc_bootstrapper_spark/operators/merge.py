"""General multi-action MERGE — the warehouse `MERGE INTO` statement as a
composable DataFrame operator.

The reference's delegated CDC service applies exactly one hardwired merge
shape (upsert-latest + delete, `/root/reference/batch-bootstrapper/
tabular.py:58-62`); `operators/cdc.py:apply_changelog` implements that
shape. Real warehouse users also run the GENERAL form — conditional
update/delete/insert in one statement (Iceberg/Delta `MERGE INTO`). This
module provides it Spark-first:

- ONE full-outer join on the merge keys (single shuffle, the same
  partitioning the CDC merge uses — at scale both sides arrive
  pre-bucketed on the key and the exchange disappears);
- action resolution is a codegen `CASE` cascade with MERGE's standard
  precedence: matched+delete_cond → drop, matched+update_cond → update,
  matched otherwise → keep, unmatched-source+insert_cond → insert,
  unmatched-target → keep;
- `update_set` / `insert_set` values are expressions over the joined
  row, so updates can reference both sides (``F.col("qty") +
  src("delta")``).

No Python runs per row, no driver state; the output is a plain DataFrame
for the caller's sink (or `ParquetStateTable.replace` for the committed
path).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def src(name: str) -> Column:
    """Reference a SOURCE column inside merge_into conditions/update/
    insert expressions (target columns are referenced by plain name)."""
    return F.col(f"__s_{name}")


def merge_into(
    target: DataFrame,
    source: DataFrame,
    on: list[str],
    update_set: dict[str, Column] | None = None,
    update_cond: Column | None = None,
    delete_cond: Column | None = None,
    insert_cond: Column | None = None,
    insert_set: dict[str, Column] | None = None,
    validate_unique_source: bool = True,
) -> DataFrame:
    """MERGE ``source`` into ``target`` on equality of the ``on`` columns;
    returns the merged frame with exactly the target's schema.

    The source frame is internally prefixed so expressions reference
    target columns by plain name and source columns via ``src("name")``.
    Conditions default: update always, delete never, insert always —
    MERGE precedence on a matched row is delete → update → keep. An
    inserted row's value for column ``c`` is ``insert_set[c]`` when
    given, else the source column of the same name (which must then
    exist in the source schema)."""
    update_set = update_set or {}
    insert_set = insert_set or {}
    if validate_unique_source:
        # Iceberg/Delta MERGE raises on multiple source rows per target
        # key; without this gate the full-outer join silently fans the
        # target row out into duplicates. One keyed aggregate over the
        # (skinny) source — pass False to skip when the source is known
        # unique upstream.
        dup = (
            source.groupBy(*[F.col(k) for k in on])
            .agg(F.count("*").alias("__c"))
            .filter(F.col("__c") > 1)
            .head(1)
        )
        if dup:
            raise ValueError(
                f"merge_into: multiple source rows match key {dict((k, dup[0][k]) for k in on)}"
            )
    # explicit presence markers, NOT key-nullness: merge keys join
    # null-safely, so a matched row may legitimately carry NULL keys on
    # both sides — only a literal flag survives the outer join as an
    # unambiguous "this side had a row" witness
    t_marked = target.withColumn("__t_present", F.lit(True))
    s_pref = source.select(
        *[F.col(c).alias(f"__s_{c}") for c in source.columns]
    ).withColumn("__s_present", F.lit(True))
    cond = None
    for k in on:
        eq = F.col(k).eqNullSafe(src(k))
        cond = eq if cond is None else cond & eq
    j = t_marked.join(s_pref, cond, "full_outer")

    matched = F.col("__t_present").isNotNull() & F.col("__s_present").isNotNull()
    src_only = F.col("__t_present").isNull()

    # NULL-evaluating conditions must act as FALSE (standard MERGE WHEN
    # semantics and the update path's when() behavior) — without the
    # coalesce a NULL delete_cond poisons the keep filter through
    # three-valued logic and silently drops the row
    upd = F.coalesce(update_cond, F.lit(False)) if update_cond is not None else F.lit(True)
    dele = F.coalesce(delete_cond, F.lit(False)) if delete_cond is not None else F.lit(False)
    ins = F.coalesce(insert_cond, F.lit(False)) if insert_cond is not None else F.lit(True)

    keep = ~(matched & dele) & ~(src_only & ~ins)
    out_cols = []
    for c in target.columns:
        updated = update_set.get(c, F.col(c))
        inserted = insert_set.get(c, src(c))
        out_cols.append(
            F.when(matched & ~dele & upd, updated)
            .when(src_only & ins, inserted)
            .otherwise(F.col(c))
            .alias(c)
        )
    return j.filter(keep).select(*out_cols)


#: integral widening chain (parquet/Spark simpleString names) — the safe
#: subset of Delta's type-widening table feature: every value of the
#: narrower type is exactly representable in the wider one.
_INT_RANK = {"tinyint": 1, "smallint": 2, "int": 3, "bigint": 4}


def _is_safe_widening(src_t: str, tgt_t: str) -> bool:
    """True iff casting the TARGET type ``tgt_t`` up to the SOURCE type
    ``src_t`` is lossless: integral chain byte<short<int<long,
    float->double, and byte/short/int->double (exact below 2^53 —
    long->double is NOT safe and stays rejected)."""
    if tgt_t in _INT_RANK and src_t in _INT_RANK:
        return _INT_RANK[src_t] > _INT_RANK[tgt_t]
    if tgt_t == "float" and src_t == "double":
        return True
    if tgt_t in ("tinyint", "smallint", "int") and src_t == "double":
        return True
    return False


def _distinct_transform_ids(table, frame, col_expr, null_msg: str) -> set[int]:
    """Distinct partition ids of ``col_expr`` evaluated over ``frame``
    under the table's transform spec; raises ``null_msg`` when any row's
    spec value is NULL (the transform source column is non-null by
    contract — a NULL would land in an unplannable partition)."""
    pv = frame.select(col_expr.alias("__pv"))
    dtype = pv.schema[0].dataType.simpleString()
    rows = (
        pv.select(table._transform_col(F.col("__pv"), dtype).alias("b"))
        .distinct()
        .collect()
    )
    if any(r["b"] is None for r in rows):
        raise ValueError(null_msg)
    return {int(r["b"]) for r in rows}


def _transform_merge_touched(
    spark,
    table,
    source: DataFrame,
    on: list[str],
    update_set: dict,
    insert_set: dict,
    insert_cond,
) -> list[int]:
    """Touched partitions of a MERGE into a TRANSFORM-partitioned
    ``VersionedBucketMirror`` (ADVICE r13): the union of

    - MATCHED partitions — partitions of live rows whose merge keys
      appear in the source. Found by NARROW all-partition probes (key +
      spec-source columns only, column-pruned by Catalyst; one job for
      the semi-join/group-by, one for the anti-join feeding the insert
      plan) — the same probe shape ``insert_rows`` uses, because under a
      transform spec a key's partition is a function of the spec SOURCE
      column, not the key;
    - INSERT partitions — transform ids of the rows an unmatched source
      row would insert (``insert_set``'s value for the source column
      when overridden, else the source column itself), filtered by
      ``insert_cond`` so an update-only MERGE (insert branch statically
      FALSE) plans zero insert partitions.

    Refuses an ``update_set`` that assigns the spec source column: the
    commit path recomputes each staged row's partition from that value,
    and a row moved outside the touched set would be silently lost —
    the same rule ``update_where`` enforces.

    Fast path: when the SOURCE carries the spec column (and does not
    override it on insert), the spec's immutability-per-key contract
    means a matched target row's stored value equals the source row's —
    so the source's own transform values ARE the touched set, with zero
    probe scans (exactly how ``merge_batch`` plans a CDC merge). The
    probe path below only runs for sources missing the column (the
    update-only MERGE shape).
    """
    from pyspark.sql import types as T

    insert_set = insert_set or {}
    src_col = table.partition_spec[1]
    if src_col in update_set:
        raise ValueError(
            f"MERGE may not assign {src_col!r} — the table's "
            f"{table.partition_spec[0]} partition transform derives "
            "partition ids from it; model a partition move as "
            "DELETE + INSERT"
        )
    if src_col in source.columns and src_col not in insert_set:
        return sorted(
            _distinct_transform_ids(
                table,
                source,
                F.col(src_col),
                f"MERGE source carries NULL {src_col!r} — the partition "
                "transform's source column is non-null by contract",
            )
        )
    cur = table.current() if table.exists() else None
    existing = None
    matched: set[int] = set()
    if cur is not None:
        parts = sorted(
            int(b)
            for b in set(cur.get("buckets") or {})
            | set(cur.get("deltas") or {})
        )
        existing = (
            table._read_entry(spark, cur, buckets=parts) if parts else None
        )
    src_keys = source.select(*on).distinct()
    if existing is not None:
        cond = None
        for k in on:  # merge keys join NULL-SAFELY (merge_into contract)
            eq = existing[k].eqNullSafe(src_keys[k])
            cond = eq if cond is None else cond & eq
        matched = {
            int(r["b"])
            for r in existing.join(src_keys, cond, "left_semi")
            .groupBy(table._row_partition(existing).alias("b"))
            .agg(F.count(F.lit(1)))
            .collect()
        }
    # unmatched source rows: the insert candidates
    if existing is not None:
        tgt_keys = existing.select(*on).distinct()
        cond = None
        for k in on:
            eq = source[k].eqNullSafe(tgt_keys[k])
            cond = eq if cond is None else cond & eq
        unmatched = source.join(tgt_keys, cond, "left_anti")
    else:
        unmatched = source
    # evaluate insert_cond / the inserted spec-column value in the same
    # frame shape merge_into uses: source columns prefixed __s_, target
    # columns typed NULL (an unmatched row has no target side)
    ev = unmatched.select(
        *[F.col(c).alias(f"__s_{c}") for c in unmatched.columns]
    )
    if cur is not None and cur.get("schema"):
        tfields = T.StructType.fromJson(cur["schema"]).fields
    elif existing is not None:
        tfields = existing.schema.fields
    else:
        tfields = []  # first merge into an empty table: target = source
    for f in tfields:
        if f.name != "bucket":
            ev = ev.withColumn(f.name, F.lit(None).cast(f.dataType))
    if insert_cond is not None:
        ev = ev.filter(F.coalesce(insert_cond, F.lit(False)))
    if src_col in insert_set:
        val = insert_set[src_col]
    elif src_col in unmatched.columns:
        val = src(src_col)
    else:
        val = None  # no inserts can resolve the spec column
    inserts: set[int] = set()
    if val is not None:
        inserts = _distinct_transform_ids(
            table,
            ev,
            val,
            f"MERGE would insert rows with NULL {src_col!r} — the "
            "partition transform's source column is non-null by contract",
        )
    elif not ev.isEmpty():
        raise ValueError(
            f"MERGE inserts into a {table.partition_spec[0]}-partitioned "
            f"table but the source carries no {src_col!r} column (and "
            "insert_set does not provide one) — the inserted rows' "
            "partitions cannot be planned"
        )
    return sorted(matched | inserts)


def merge_into_table(
    spark,
    table,
    source: DataFrame,
    on: list[str],
    update_set: dict[str, Column] | None = None,
    update_cond: Column | None = None,
    delete_cond: Column | None = None,
    insert_cond: Column | None = None,
    insert_set: dict[str, Column] | None = None,
    evolve_schema: bool | list[str] = False,
    widen_types: bool = False,
    validate_unique_source: bool = True,
    meta: dict | None = None,
) -> dict:
    """MERGE INTO a COMMITTED state table (VERDICT r8 task 4): one merge
    = one commit on ``ParquetStateTable`` or ``VersionedBucketMirror`` —
    the merge shows up in ``history()``, old state stays readable via
    ``read_version``, and ``table_changes(pre, post)`` yields exactly the
    merge's effect as a CDF.

    Storage dispatch mirrors the Delta/Iceberg cost model:

    - snapshot table (``commit``): whole-state rewrite, atomic pointer
      swap — the test-scale layout;
    - bucketed mirror (``read_buckets``/``commit_merged``): a MERGE
      only modifies rows whose keys appear in the SOURCE (unmatched
      target rows are untouched by definition), so the touched buckets
      are the source keys' buckets — the merge reads, rewrites, and
      commits ∝ |source's buckets|, never the table (the
      Iceberg/Delta bucketed ``MERGE INTO`` shape).

    ``evolve_schema=True`` adds source-only columns to the target schema
    (Delta's ``withSchemaEvolution()``): existing rows read NULL, and
    unless the caller overrides, an evolved column updates/inserts from
    the source column of the same name. Pass a LIST of column names to
    evolve only those (keeping control columns like an op selector out
    of the table). On the bucketed mirror only touched buckets are
    rewritten with the new column — readers bind to the manifest schema
    across bucket versions by design.

    ``widen_types=True`` additionally cast-widens existing target
    columns whose SOURCE type is a safe widening of the target's
    (Delta/Iceberg type widening, VERDICT r10 task 9: byte<short<int<
    long, float->double, byte/short/int->double) — the int-id table
    whose upstream grew to bigint merges without a manual rewrite.
    Only lossless widenings apply; a narrowing or unrelated type
    mismatch is left to the engine's normal coercion rules. Pre-merge
    snapshots keep the narrow type; readers read through the boundary
    and ``table_changes`` compares through it.

    Returns the commit record (plus ``touched_buckets`` where bucketed).
    """
    from tabular_cdc_bootstrapper_spark.streaming._protocol import _token
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    update_set = dict(update_set or {})
    bucketed = isinstance(table, VersionedBucketMirror)
    touched: list[int] | None = None
    # CAS basis (r11): the token of the head the merge inputs are read
    # from — threaded into the commit so a concurrent commit or purge in
    # between raises CommitConflict (or rebases, when provably disjoint
    # on the bucketed layout) instead of silently losing one side's
    # update or resurrecting purged keys
    cur = table.current()
    basis = _token(cur)
    if bucketed:
        table._sync_spec(cur)  # bind to the basis's bucket spec (r11)
        key = table.key_col
        if key not in on:
            raise ValueError(
                f"bucketed merge requires the bucket key {key!r} in on={on}"
            )
        if table.partition_spec[0] == "bucket":
            # hash spec: a key's bucket is derivable from the key, so the
            # source's key hashes ARE the touched set (one bounded agg)
            touched = sorted(
                r["b"]
                for r in source.select(table._bucket(F.col(key)).alias("b"))
                .distinct()
                .collect()
            )
        else:
            # transform spec (ADVICE r13, high): a key's partition is NOT
            # derivable from the key — planning via the hash read the
            # wrong partitions, staged merged rows under transform ids
            # outside the touched set (discarded), and popped colliding
            # hash-id entries from the manifest. Plan instead from the
            # data: matched partitions via a narrow all-partition key
            # probe (as insert_rows does), insert partitions from the
            # unmatched source rows' transform values.
            touched = _transform_merge_touched(
                spark, table, source, on, update_set, insert_set,
                insert_cond,
            )
        target = table.read_buckets(spark, touched) if table.exists() else None
    else:
        target = table.read(spark)
    if target is None:
        # first merge into an empty/uninitialized table: everything
        # inserts; the target schema is the source's merge-relevant shape
        target = source.limit(0)
    evolved_cols: list = []  # (name, dataType) added by evolve_schema
    if evolve_schema:
        wanted = None if evolve_schema is True else set(evolve_schema)
        for f in source.schema.fields:
            if f.name not in target.columns and (
                wanted is None or f.name in wanted
            ):
                target = target.withColumn(
                    f.name, F.lit(None).cast(f.dataType)
                )
                evolved_cols.append((f.name, f.dataType))
                update_set.setdefault(f.name, src(f.name))
    if widen_types:
        src_types = {f.name: f.dataType for f in source.schema.fields}
        widened = []
        for f in target.schema.fields:
            s_type = src_types.get(f.name)
            if (
                s_type is not None
                and s_type != f.dataType
                and _is_safe_widening(
                    s_type.simpleString(), f.dataType.simpleString()
                )
            ):
                target = target.withColumn(f.name, F.col(f.name).cast(s_type))
                widened.append(f.name)
        # a widening rewrite must go FULL-table when the bucketed
        # mirror's current manifest predates manifest-recorded schemas
        # (ADVICE r10: its touched-buckets-only widen would strand a
        # schema-free commit over mixed int/bigint dirs that the
        # mergeSchema fallback read cannot reconcile). The schema'd
        # mirror widens for touched buckets only: readers bind to the
        # manifest schema and parquet widening promotions upcast the
        # old narrow dirs. A full rewrite is the pre-type-widening ALTER
        # COLUMN cost, paid once — it replaces every carried dir, so the
        # commit records a schema and later widenings are touched-only.
        if widened and bucketed and cur is not None and "schema" not in cur:
            touched = sorted({int(b) for b in cur["buckets"]} | set(touched))
            full = table.read(spark)
            if full is not None:
                target = full
                # the full-state read replaces the evolve_schema'd
                # target (ADVICE r10: without re-adding them, the
                # evolved columns and their source values silently
                # never land)
                for name, dtype in evolved_cols:
                    if name not in target.columns:
                        target = target.withColumn(
                            name, F.lit(None).cast(dtype)
                        )
                for c in widened:
                    target = target.withColumn(
                        c, F.col(c).cast(src_types[c])
                    )
    merged = merge_into(
        target,
        source,
        on,
        update_set=update_set,
        update_cond=update_cond,
        delete_cond=delete_cond,
        insert_cond=insert_cond,
        insert_set=insert_set,
        validate_unique_source=validate_unique_source,
    )
    full_meta = {**(meta or {}), "operation": "merge"}
    if bucketed:
        rec = table.commit_merged(
            merged, touched, meta=full_meta, expected_version=basis
        )
    else:
        rec = table.commit(merged, meta=full_meta, expected_version=basis)
    return dict(rec)
