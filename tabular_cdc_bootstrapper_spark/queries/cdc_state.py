"""CDC flagship + snapshot/state-table maintenance registry entries.

Split from the single-file registry (VERDICT r9 item 3); every entry
registers via the shared ``@query`` decorator in ``_registry``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from tabular_cdc_bootstrapper_spark.operators.cdc import apply_changelog
from tabular_cdc_bootstrapper_spark.localdf import local_df
from tabular_cdc_bootstrapper_spark.queries._registry import (_t, query)


# ---------------------------------------------------------------------------
# CDC flagship (SURVEY.md §2.5 W1 / §2.4 A1 / §2.3 J1-J2) — the reference's
# delegated DMS merge (tabular.py:58-62) exercised at oracle-checkable scale
# via a changelog derived deterministically from `orders` (FIXTURES.md §C):
#   ts=0 insert of every order; ts=1 update (status → 'X') where key%7=0;
#   ts=2 delete where key%13=0. Expected mirror: latest non-D row per key.
# ---------------------------------------------------------------------------

_ORDER_COLS = [
    "o_orderkey",
    "o_custkey",
    "o_orderstatus",
    "o_totalprice",
    "o_orderdate",
    "o_orderpriority",
]


def derived_orders_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    inserts = o.select(*_ORDER_COLS).withColumns(
        {"op": F.lit("I"), "ts": F.lit(0).cast("int")}
    )
    updates = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .select(*_ORDER_COLS)
        .withColumns({"op": F.lit("U"), "ts": F.lit(1).cast("int")})
    )
    deletes = (
        o.filter(F.col("o_orderkey") % 13 == 0)
        .select(*_ORDER_COLS)
        .withColumns({"op": F.lit("D"), "ts": F.lit(2).cast("int")})
    )
    return inserts.unionByName(updates).unionByName(deletes)


@query(
    "cdc_ops_histogram",
    oracle="""
    WITH changelog AS (
        SELECT 'I' AS op FROM orders
        UNION ALL SELECT 'U' FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL SELECT 'D' FROM orders WHERE o_orderkey % 13 = 0
    )
    SELECT op, CAST(COUNT(*) AS BIGINT) AS n FROM changelog GROUP BY op
    """,
)
def cdc_ops_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest observability: per-op event counts (SURVEY.md §2.4 A2)."""
    return derived_orders_changelog(spark, sf_dir).groupBy("op").agg(
        F.count("*").alias("n")
    )


@query(
    "cdc_latest",
    oracle="""
    WITH changelog AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority, 'I' AS op, 0 AS ts
        FROM orders
        UNION ALL
        SELECT o_orderkey, o_custkey, 'X', o_totalprice,
               o_orderdate, o_orderpriority, 'U', 1
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority, 'D', 2
        FROM orders WHERE o_orderkey % 13 = 0
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_orderkey ORDER BY ts DESC) AS rn
        FROM changelog
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: DMS changelog → current-state mirror (single-shuffle max_by)."""
    changelog = derived_orders_changelog(spark, sf_dir)
    return apply_changelog(
        changelog,
        key_cols="o_orderkey",
        ts_cols="ts",
        op_col="op",
        delete_op="D",
        drop_envelope=["op", "ts"],
    )


@query(
    "cdc_scd2_history",
    oracle="""
    WITH changelog AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, 'I' AS op, 0 AS ts
        FROM orders
        UNION ALL
        SELECT o_orderkey, 'X', o_totalprice, 'U', 1
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, o_totalprice, 'D', 2
        FROM orders WHERE o_orderkey % 13 = 0
    ), v AS (
        SELECT *, LEAD(ts) OVER (
            PARTITION BY o_orderkey ORDER BY ts) AS valid_to
        FROM changelog
    )
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           ts AS valid_from, valid_to, valid_to IS NULL AS is_current
    FROM v WHERE op <> 'D'
    """,
)
def cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD history from the same DMS changelog the mirror consumes:
    every surviving version of every key with [valid_from, valid_to)
    bounds — "state at time T" beside the mirror's "state now". One
    window shuffle (`operators/cdc.py scd2_history`); updates close the
    prior version, deletes terminate without emitting a row."""
    from tabular_cdc_bootstrapper_spark.operators.cdc import scd2_history

    ch = derived_orders_changelog(spark, sf_dir)
    return scd2_history(ch, "o_orderkey", "ts").select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        "valid_from",
        "valid_to",
        "is_current",
    )


@query(
    "cdc_mirror_time_travel",
    oracle="""
    WITH changelog AS (
        SELECT o_orderkey, o_orderstatus, 'I' AS op, 0 AS ts FROM orders
        UNION ALL
        SELECT o_orderkey, 'X', 'U', 1 FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, 'D', 2
        FROM orders WHERE o_orderkey % 13 = 0
    ),
    state AS (
        SELECT v.v AS upto, c.o_orderkey,
               arg_max(c.o_orderstatus, c.ts) AS status,
               arg_max(c.op, c.ts) AS last_op
        FROM (VALUES (0), (1), (2)) v(v)
        JOIN changelog c ON c.ts <= v.v
        GROUP BY v.v, c.o_orderkey
    ),
    agg AS (
        SELECT upto,
               CAST(COUNT(*) FILTER (WHERE last_op <> 'D') AS BIGINT)
                   AS n_rows,
               CAST(COUNT(*) FILTER (WHERE last_op <> 'D' AND status = 'X')
                   AS BIGINT) AS n_updated,
               CAST(SUM(o_orderkey) FILTER (WHERE last_op <> 'D') AS BIGINT)
                   AS key_sum
        FROM state GROUP BY upto
    )
    SELECT CAST(upto AS BIGINT) AS snapshot, n_rows, n_updated, key_sum
    FROM agg
    UNION ALL
    SELECT 3, n_rows, n_updated, key_sum FROM agg WHERE upto = 1
    UNION ALL
    SELECT 4, n_rows, n_updated, key_sum FROM agg WHERE upto = 1
    """,
)
def cdc_mirror_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot time travel over the CDC mirror — the Iceberg semantics
    the reference gets from its table format (tabular.py:8,92: pyiceberg
    tables carry snapshot history / VERSION AS OF / rollback), reproduced
    natively by ParquetStateTable's append-only snapshot log
    (streaming/pipeline.py).

    The entry commits the mirror after each of the three deterministic
    DMS batches (ts 0=insert, 1=update, 2=delete), then answers five
    reads through five DIFFERENT resolution paths and emits one aggregate
    row per read:

    - snapshot 0/1/2 — ``read_version`` (VERSION AS OF) on each commit;
    - snapshot 3 — ``read_as_of`` (TIMESTAMP AS OF) between the v1 and v2
      commit timestamps, which must resolve to v1's data;
    - snapshot 4 — ``read()`` of CURRENT after ``rollback(1)``, which
      must also equal v1's data while leaving history append-only.

    The DuckDB oracle recomputes each batch-prefix state from the same
    fixture, so the driver hash-checks that every time-travel path
    returns exactly the state the changelog prefix implies. Aggregates
    are integer-exact (counts + key sum). History/retention/crash-orphan
    laws are pinned in tests/test_time_travel.py."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    ch = derived_orders_changelog(spark, sf_dir).select(
        "o_orderkey", "o_orderstatus", "op", "ts"
    )
    mirror = ParquetStateTable(
        tempfile.mkdtemp(prefix="spark_graft_timetravel_"), keep_versions=10
    )
    # all three prefix states land in ONE staged write job (r16, §2.4)
    recs = mirror.commit_many(
        [
            apply_changelog(
                ch.filter(F.col("ts") <= upto),
                key_cols="o_orderkey",
                ts_cols="ts",
                op_col="op",
                delete_op="D",
                drop_envelope=["op", "ts"],
            )
            for upto in (0, 1, 2)
        ],
        metas=[{"upto": upto} for upto in (0, 1, 2)],
    )

    def snap_agg(df: DataFrame, snap: int) -> DataFrame:
        return df.agg(
            F.count("*").alias("n_rows"),
            F.count(F.when(F.col("o_orderstatus") == "X", 1)).alias(
                "n_updated"
            ),
            F.sum("o_orderkey").alias("key_sum"),
        ).select(
            F.lit(snap).cast("long").alias("snapshot"),
            "n_rows",
            "n_updated",
            "key_sum",
        )

    parts = [snap_agg(mirror.read_version(spark, v), v) for v in (0, 1, 2)]
    # strictly between the v1 and v2 commit stamps: resolves to v1
    parts.append(
        snap_agg(
            mirror.read_as_of(spark, (recs[1]["ts"] + recs[2]["ts"]) / 2), 3
        )
    )
    mirror.rollback(1)
    parts.append(snap_agg(mirror.read(spark), 4))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "cdc_change_feed",
    oracle="""
    WITH changelog AS (
        SELECT o_orderkey, o_orderstatus, 'I' AS op, 0 AS ts FROM orders
        UNION ALL
        SELECT o_orderkey, 'X', 'U', 1 FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, 'D', 2
        FROM orders WHERE o_orderkey % 13 = 0
    ),
    s0 AS (
        SELECT o_orderkey, arg_max(o_orderstatus, ts) AS o_orderstatus,
               arg_max(op, ts) AS last_op
        FROM changelog WHERE ts <= 0 GROUP BY o_orderkey
    ),
    s2 AS (
        SELECT o_orderkey, arg_max(o_orderstatus, ts) AS o_orderstatus,
               arg_max(op, ts) AS last_op
        FROM changelog GROUP BY o_orderkey
    ),
    oldt AS (SELECT o_orderkey, o_orderstatus FROM s0 WHERE last_op <> 'D'),
    newt AS (SELECT o_orderkey, o_orderstatus FROM s2 WHERE last_op <> 'D')
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'I'
                WHEN n.o_orderkey IS NULL THEN 'D'
                ELSE 'U' END AS op,
           n.o_orderstatus AS o_orderstatus
    FROM oldt o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
    """,
)
def cdc_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed between mirror snapshots (streaming/pipeline.py
    table_changes — the Delta CDF / Iceberg CHANGES surface on the
    engine's versioned tables): commit the mirror before and after the
    update+delete batches, then ask for the minimal I/U/D changelog
    transforming snapshot 0 into snapshot 1. One full outer join on the
    key (cost ∝ the two snapshots, not the history between them); the
    unchanged majority of keys emits NOTHING — the minimal-feed property
    the DuckDB oracle replays with a null-safe payload comparison.
    Deletes carry only their key (DMS convention). The fold round-trip
    and cross-layout (bucketed-versioned == snapshot) laws are pinned in
    tests/test_time_travel.py."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )
    from tabular_cdc_bootstrapper_spark.streaming.feeds import table_changes

    ch = derived_orders_changelog(spark, sf_dir).select(
        "o_orderkey", "o_orderstatus", "op", "ts"
    )
    mirror = ParquetStateTable(
        tempfile.mkdtemp(prefix="spark_graft_cdf_"), keep_versions=10
    )
    # both snapshots land in ONE staged write job (r16, guide §2.4)
    mirror.commit_many(
        [
            apply_changelog(
                ch.filter(F.col("ts") <= upto),
                key_cols="o_orderkey",
                ts_cols="ts",
                op_col="op",
                delete_op="D",
                drop_envelope=["op", "ts"],
            )
            for upto in (0, 2)
        ]
    )
    return table_changes(spark, mirror, 0, 1, key_cols="o_orderkey")


@query(
    "cdc_purge_history",
    oracle="""
    WITH s0 AS (
        SELECT o_orderkey, o_orderstatus FROM orders
    ),
    s1 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
                   AS o_orderstatus
        FROM orders WHERE o_orderkey % 13 <> 0
    )
    SELECT 0 AS version, o_orderkey, o_orderstatus
    FROM s0 WHERE o_orderkey % 97 <> 0
    UNION ALL
    SELECT 1 AS version, o_orderkey, o_orderstatus
    FROM s1 WHERE o_orderkey % 97 <> 0
    """,
)
def cdc_purge_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR right-to-be-forgotten purge (streaming/state_table.py
    ParquetStateTable.purge_keys): commit two mirror snapshots (base, then
    update%7 + delete%13 — the cdc_change_feed batches), hard-delete keys
    %97 from ALL retained history, then read BOTH snapshots back through
    VERSION AS OF. The purged keys must be gone from every version — the
    one deliberate history rewrite the engine supports (Delta
    delete+REORG PURGE / Iceberg rewrite-data-files semantics); versions,
    timestamps, and metadata survive. Cost ∝ retained snapshots × one
    broadcast anti-join scan each; the DuckDB oracle replays both
    snapshot states minus the purged keys."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    ch = derived_orders_changelog(spark, sf_dir).select(
        "o_orderkey", "o_orderstatus", "op", "ts"
    )
    mirror = ParquetStateTable(
        tempfile.mkdtemp(prefix="spark_graft_purge_"), keep_versions=10
    )
    # both snapshots land in ONE staged write job (r16, guide §2.4)
    mirror.commit_many(
        [
            apply_changelog(
                ch.filter(F.col("ts") <= upto),
                key_cols="o_orderkey",
                ts_cols="ts",
                op_col="op",
                delete_op="D",
                drop_envelope=["op", "ts"],
            )
            for upto in (0, 2)
        ]
    )
    purge = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select("o_orderkey")
    )
    mirror.purge_keys(spark, purge, "o_orderkey")
    return (
        mirror.read_version(spark, 0)
        .select(F.lit(0).alias("version"), "o_orderkey", "o_orderstatus")
        .unionByName(
            mirror.read_version(spark, 1).select(
                F.lit(1).alias("version"), "o_orderkey", "o_orderstatus"
            )
        )
    )


@query(
    "snapshot_diff_changelog",
    oracle="""
    WITH oldt AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders
    ),
    newt AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
                   AS o_orderstatus,
               o_totalprice, o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 13 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice,
               o_orderdate, o_orderpriority
        FROM orders WHERE o_orderkey % 17 = 0
    ),
    j AS (
        SELECT COALESCE(n.o_orderkey, o.o_orderkey) AS o_orderkey,
               CASE WHEN o.o_orderkey IS NULL THEN 'I'
                    WHEN n.o_orderkey IS NULL THEN 'D'
                    WHEN n.o_custkey IS DISTINCT FROM o.o_custkey
                      OR n.o_orderstatus IS DISTINCT FROM o.o_orderstatus
                      OR n.o_totalprice IS DISTINCT FROM o.o_totalprice
                      OR n.o_orderdate IS DISTINCT FROM o.o_orderdate
                      OR n.o_orderpriority IS DISTINCT FROM o.o_orderpriority
                    THEN 'U' END AS op,
               CASE WHEN n.o_orderkey IS NULL THEN NULL
                    ELSE n.o_orderstatus END AS o_orderstatus,
               CASE WHEN n.o_orderkey IS NULL THEN NULL
                    ELSE ROUND(n.o_totalprice, 2) END AS o_totalprice
        FROM oldt o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey
    )
    SELECT o_orderkey, op, o_orderstatus, o_totalprice
    FROM j WHERE op IS NOT NULL
    """,
)
def snapshot_diff_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog GENERATION (operators/diff.py — the inverse of the CDC
    apply): two deterministic snapshots of `orders` (status flip on
    key%7, deletes on key%13, inserts on key%17) diff into the minimal
    I/U/D feed that transforms one into the other. One full-outer join on
    the key = one shuffle; null-safe payload comparison catches NULL
    transitions. The round-trip law (apply(diff(old,new)) == new) is
    property-tested in test_diff.py."""
    from tabular_cdc_bootstrapper_spark.operators.diff import table_diff

    o = _t(spark, sf_dir, "orders").select(*_ORDER_COLS)
    updated = o.filter(F.col("o_orderkey") % 13 != 0).withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    inserted = o.filter(F.col("o_orderkey") % 17 == 0).select(
        (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    )
    new = updated.unionByName(inserted)
    diff = table_diff(o, new, "o_orderkey")
    return diff.select(
        "o_orderkey",
        "op",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
    )


@query(
    "incremental_agg_maintenance",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
    ), changelog AS (
        SELECT o_orderkey, o_orderpriority, o_totalprice, 'I' AS op, 0 AS ts
        FROM base
        UNION ALL
        SELECT o_orderkey, '9-MOVED', o_totalprice, 'U', 1
        FROM base WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, o_orderpriority, o_totalprice, 'D', 2
        FROM base WHERE o_orderkey % 13 = 0
    ), ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_orderkey ORDER BY ts DESC) AS rn
        FROM changelog
    ), live AS (
        SELECT * FROM ranked WHERE rn = 1 AND op <> 'D'
    )
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM live GROUP BY o_orderpriority
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: a per-priority (count, sum) aggregate
    maintained through an update+delete batch by touching ONLY changed
    keys (`operators/incremental.py maintain_agg`) — including the hard
    case, updates that MOVE rows to a new group ('9-MOVED'), which force
    retraction from the old group and insertion into the new one. The
    oracle recomputes the post-batch aggregate from scratch; the driver
    row proves incremental == recompute."""
    from tabular_cdc_bootstrapper_spark.operators.incremental import maintain_agg

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    agg_before = o.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum("o_totalprice").alias("total_price"),
    )
    batch = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderpriority", F.lit("9-MOVED"))
        .withColumns({"op": F.lit("U"), "ts": F.lit(1).cast("int")})
        .unionByName(
            o.filter(F.col("o_orderkey") % 13 == 0).withColumns(
                {"op": F.lit("D"), "ts": F.lit(2).cast("int")}
            )
        )
    )
    out = maintain_agg(
        agg_before,
        mirror_before=o,
        changelog=batch,
        group_cols="o_orderpriority",
        key_cols="o_orderkey",
        ts_cols="ts",
        sum_cols={"total_price": "o_totalprice"},
        count_col="n_orders",
    )
    return out.select(
        "o_orderpriority", "n_orders", F.round("total_price", 2).alias("total_price")
    )


@query(
    "incremental_join_maintenance",
    oracle="""
    WITH fact_base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               'I' AS op, 0 AS ts
        FROM orders
        UNION ALL
        SELECT o_orderkey, (o_custkey % 100) + 1, 'X', o_totalprice, 'U', 1
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, 'D', 2
        FROM orders WHERE o_orderkey % 13 = 0
        UNION ALL
        SELECT o_orderkey + 10000000, (o_orderkey % 50) + 1, 'N',
               o_totalprice, 'I', 1
        FROM orders WHERE o_orderkey % 17 = 0
    ),
    fact_after AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY o_orderkey ORDER BY ts DESC) AS rn
            FROM fact_base
        ) WHERE rn = 1 AND op <> 'D'
    ),
    dim_base AS (
        SELECT c_custkey, c_mktsegment, 'I' AS op, 0 AS ts
        FROM customer WHERE c_custkey % 19 <> 0
        UNION ALL
        SELECT c_custkey, c_mktsegment, 'I', 1
        FROM customer WHERE c_custkey % 19 = 0
        UNION ALL
        SELECT c_custkey, 'MOVED', 'U', 1
        FROM customer WHERE c_custkey % 19 <> 0 AND c_custkey % 5 = 0
        UNION ALL
        SELECT c_custkey, c_mktsegment, 'D', 2
        FROM customer WHERE c_custkey % 11 = 0
    ),
    dim_after AS (
        SELECT c_custkey, c_mktsegment FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY c_custkey ORDER BY ts DESC) AS rn
            FROM dim_base
        ) WHERE rn = 1 AND op <> 'D'
    )
    SELECT f.o_orderkey, f.o_custkey, f.o_orderstatus,
           ROUND(f.o_totalprice, 2) AS o_totalprice, d.c_mktsegment
    FROM fact_after f JOIN dim_after d ON f.o_custkey = d.c_custkey
    """,
)
def incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance (`operators/incremental.py
    maintain_join`): a materialized orders⋈customer view maintained through
    one two-sided CDC batch by touching only changed keys — fact re-points
    (key%7 moves to a different customer), fact deletes (%13), fact inserts
    (%17), dim segment updates (%5), dim deletes (%11), and the hard case:
    dim INSERTS (%19, withheld from the initial dim state) that make
    previously-unmatched fact rows join, which an inner-join view cannot
    answer from its own rows. The oracle recomputes the post-batch join
    from scratch; the driver row proves incremental == recompute. Scale
    shape: every join against a touched-key set broadcasts (|batch|-sized
    probes); the corpus-sized view/fact inputs are scanned once with no
    corpus shuffle."""
    from tabular_cdc_bootstrapper_spark.operators.incremental import maintain_join

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dim_before = c.filter(F.col("c_custkey") % 19 != 0)
    view_before = o.join(dim_before, o["o_custkey"] == dim_before["c_custkey"])

    fact_cl = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumns(
            {
                "o_custkey": (F.col("o_custkey") % 100) + 1,
                "o_orderstatus": F.lit("X"),
                "op": F.lit("U"),
                "ts": F.lit(1).cast("int"),
            }
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 13 == 0).withColumns(
                {"op": F.lit("D"), "ts": F.lit(2).cast("int")}
            )
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 17 == 0).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                ((F.col("o_orderkey") % 50) + 1).alias("o_custkey"),
                F.lit("N").alias("o_orderstatus"),
                "o_totalprice",
                F.lit("I").alias("op"),
                F.lit(1).cast("int").alias("ts"),
            )
        )
    )
    dim_cl = (
        c.filter(F.col("c_custkey") % 19 == 0)
        .withColumns({"op": F.lit("I"), "ts": F.lit(1).cast("int")})
        .unionByName(
            dim_before.filter(F.col("c_custkey") % 5 == 0).withColumns(
                {
                    "c_mktsegment": F.lit("MOVED"),
                    "op": F.lit("U"),
                    "ts": F.lit(1).cast("int"),
                }
            )
        )
        .unionByName(
            c.filter(F.col("c_custkey") % 11 == 0).withColumns(
                {"op": F.lit("D"), "ts": F.lit(2).cast("int")}
            )
        )
    )
    out = maintain_join(
        view_before,
        fact_before=o,
        dim_before=dim_before,
        fact_changelog=fact_cl,
        dim_changelog=dim_cl,
        fact_keys="o_orderkey",
        dim_keys="c_custkey",
        fk_cols="o_custkey",
        ts_cols="ts",
    )
    return out.select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        F.round("o_totalprice", 2).alias("o_totalprice"),
        "c_mktsegment",
    )


# ---------------------------------------------------------------------------
# Table-maintenance registry entries (r10): the r9 maintenance surface —
# WAP (now on the bucketed layout, with anomaly rules in the gate), tags +
# clone + expiry composition, writable branches, and manifest-aware
# compaction — each pinned by a full DuckDB-hash oracle, per VERDICT r9
# "What's missing" #5 (test-pinned-only maintenance ops are exactly where
# subtle corruption hides from a rows-only check).
# ---------------------------------------------------------------------------


@query(
    "wap_anomaly_gate",
    oracle="""
    WITH a0 AS (
        SELECT CAST(COUNT(*) AS BIGINT) c, CAST(SUM(o_orderkey) AS BIGINT) s
        FROM orders
    ),
    a1 AS (
        SELECT CAST(COUNT(*) AS BIGINT) c, CAST(SUM(o_orderkey) AS BIGINT) s
        FROM orders WHERE o_orderkey % 13 <> 0
    ),
    ab AS (
        SELECT CAST(COUNT(*) AS BIGINT) c, CAST(SUM(o_orderkey) AS BIGINT) s
        FROM orders WHERE o_orderkey % 3 = 0
    ),
    f AS (
        SELECT
            CASE WHEN ABS(a1.c - a0.c) * 100 <= a0.c * 10 THEN 1 ELSE 0 END AS rc1,
            CASE WHEN ABS(a1.s - a0.s) * 100 <= ABS(a0.s) * 10 THEN 1 ELSE 0 END AS sm1,
            CASE WHEN ABS(ab.c - a1.c) * 100 <= a1.c * 10 THEN 1 ELSE 0 END AS rc2,
            CASE WHEN ABS(ab.s - a1.s) * 100 <= ABS(a1.s) * 10 THEN 1 ELSE 0 END AS sm2,
            a0.c AS c0, a0.s AS s0, a1.c AS c1, a1.s AS s1
        FROM a0, a1, ab
    )
    SELECT 'audit1:not_null(o_orderkey)' AS item, CAST(1 AS BIGINT) AS value FROM f
    UNION ALL SELECT 'audit1:row_count_within(10/100)', CAST(rc1 AS BIGINT) FROM f
    UNION ALL SELECT 'audit1:sum_within(o_orderkey,10/100)', CAST(sm1 AS BIGINT) FROM f
    UNION ALL SELECT 'audit1:published',
        CAST(CASE WHEN rc1 = 1 AND sm1 = 1 THEN 1 ELSE 0 END AS BIGINT) FROM f
    UNION ALL SELECT 'audit2:not_null(o_orderkey)', CAST(1 AS BIGINT) FROM f
    UNION ALL SELECT 'audit2:row_count_within(10/100)', CAST(rc2 AS BIGINT) FROM f
    UNION ALL SELECT 'audit2:sum_within(o_orderkey,10/100)', CAST(sm2 AS BIGINT) FROM f
    UNION ALL SELECT 'audit2:published',
        CAST(CASE WHEN rc2 = 1 AND sm2 = 1 THEN 1 ELSE 0 END AS BIGINT) FROM f
    UNION ALL SELECT 'n_versions', CAST(2 AS BIGINT) FROM f
    UNION ALL SELECT 'head_audited', CAST(1 AS BIGINT) FROM f
    UNION ALL SELECT 'v0_rows', c0 FROM f
    UNION ALL SELECT 'v0_keysum', s0 FROM f
    UNION ALL SELECT 'v1_rows', c1 FROM f
    UNION ALL SELECT 'v1_keysum', s1 FROM f
    """,
)
def wap_anomaly_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish with anomaly rules in the gate, on the
    bucketed 100 TB mirror layout (streaming/pipeline.py
    VersionedBucketMirror.write_audit_publish — VERDICT r10 task 1).

    Plants one PASSING batch (orders minus the %13 deletes, ~7.7% row
    drop — inside the 10% band) and one FAILING batch (only the %3 keys,
    a ~65% drop vs the new baseline), each audited by a mixed rule
    suite: a constraint Rule (not_null) plus two AnomalyRules
    (row_count_within, sum_within — baseline = the previous committed
    snapshot, so the second audit compares against the batch the first
    one published). Emits every per-rule verdict, both publish
    decisions, the resulting history length, the head's audited marker,
    and integer aggregates of both readable versions; the DuckDB oracle
    replays the cross-multiplied tolerance arithmetic exactly (the
    verdicts are integer-exact by construction, functions/
    constraints.py check_anomalies). A rejected batch leaving ANY trace
    in history or state breaks the hash."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        not_null,
        row_count_within,
        sum_within,
    )
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    mirror = VersionedBucketMirror(
        tempfile.mkdtemp(prefix="spark_graft_wapgate_"),
        n_buckets=8,
        key_col="o_orderkey",
        keep_versions=10,
    )
    mirror.initialize(orders)
    rules = [
        not_null("o_orderkey"),
        row_count_within(10, 100),
        sum_within("o_orderkey", 10, 100),
    ]
    r1 = mirror.write_audit_publish(
        spark, orders.filter(F.col("o_orderkey") % 13 != 0), rules
    )
    r2 = mirror.write_audit_publish(
        spark, orders.filter(F.col("o_orderkey") % 3 == 0), rules
    )
    items: list[tuple[str, int]] = []
    for tag, rep in (("audit1", r1), ("audit2", r2)):
        for row in rep["report"]:
            items.append((f"{tag}:{row['rule']}", int(bool(row["passed"]))))
        items.append((f"{tag}:published", int(bool(rep["published"]))))
    items.append(("n_versions", len(mirror.history())))
    items.append(("head_audited", int(bool(mirror.current().get("audited")))))
    out = local_df(spark, items, "item string, value long")

    def agg_rows(df: DataFrame, n_item: str, s_item: str) -> DataFrame:
        return (
            df.agg(
                F.count("*").cast("long").alias("__n"),
                F.sum("o_orderkey").cast("long").alias("__s"),
            )
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.lit(n_item).alias("item"),
                            F.col("__n").alias("value"),
                        ),
                        F.struct(
                            F.lit(s_item).alias("item"),
                            F.col("__s").alias("value"),
                        ),
                    )
                ).alias("p")
            )
            .select("p.item", "p.value")
        )

    out = out.unionByName(
        agg_rows(mirror.read_version(spark, 0), "v0_rows", "v0_keysum")
    )
    return out.unionByName(
        agg_rows(mirror.read_version(spark, 1), "v1_rows", "v1_keysum")
    )


@query(
    "snapshot_refs_report",
    oracle="""
    WITH s0 AS (SELECT o_orderkey, o_orderstatus FROM orders),
    s2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
                   AS o_orderstatus
        FROM orders WHERE o_orderkey % 13 <> 0
    ),
    a0 AS (
        SELECT CAST(COUNT(*) AS BIGINT) n,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'X') AS BIGINT) u,
               CAST(SUM(o_orderkey) AS BIGINT) s
        FROM s0
    ),
    a2 AS (
        SELECT CAST(COUNT(*) AS BIGINT) n,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'X') AS BIGINT) u,
               CAST(SUM(o_orderkey) AS BIGINT) s
        FROM s2
    ),
    a0p AS (
        SELECT CAST(COUNT(*) AS BIGINT) n,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'X') AS BIGINT) u,
               CAST(SUM(o_orderkey) AS BIGINT) s
        FROM s0 WHERE o_orderkey % 97 <> 0
    )
    SELECT 'src:v0' AS ref, CAST(0 AS BIGINT) AS version,
           n AS n_rows, u AS n_updated, s AS key_sum FROM a0
    UNION ALL SELECT 'src:v1', 1, -1, -1, -1
    UNION ALL SELECT 'src:v2', 2, n, u, s FROM a2
    UNION ALL SELECT 'src:tag:t0', 0, n, u, s FROM a0
    UNION ALL SELECT 'clone:main', 0, n, u, s FROM a0p
    UNION ALL SELECT 'clone:v0', 0, n, u, s FROM a0p
    UNION ALL SELECT 'bsrc:main', 0, n, u, s FROM a0
    UNION ALL SELECT 'bclone:main', 0, n, u, s FROM a0p
    UNION ALL SELECT 'bsrc:pruned', 0,
        (SELECT CAST(COUNT(*) AS BIGINT) FROM s0 WHERE o_orderkey <= 1000),
        (SELECT CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'X') AS BIGINT)
         FROM s0 WHERE o_orderkey <= 1000),
        (SELECT CAST(SUM(o_orderkey) AS BIGINT) FROM s0 WHERE o_orderkey <= 1000)
    """,
)
def snapshot_refs_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition of the r9 ref/maintenance surface under one hash
    (VERDICT r10 task 2): commit v0..v2 of the CDC mirror, tag v0,
    expire everything but the head (keep_last=1 — the tag must keep v0
    readable while v1's data is reclaimed), shallow-clone at the tag,
    GDPR-purge the CLONE, then report (ref, version, rows, updated,
    key_sum) for every readable ref on source and clone.

    The hash pins three retention laws at once: ref-keeps-snapshot (the
    tagged v0 survives expiry that reclaims v1 — v1's row reads -1
    sentinels), clone ownership isolation (the clone's purge rewrites
    only clone-owned references: src:v0 still contains the %97 keys the
    clone dropped), and clone-at-version semantics (clone history =
    exactly v0). The bsrc/bclone rows re-pin ownership isolation on the
    bucketed 100 TB layout (VersionedBucketMirror.clone_to, r10): the
    clone's purge rewrites only clone-owned bucket references; source
    dirs stay byte-intact. The bsrc:pruned row additionally pins
    manifest-stats data skipping (read_pruned, r10): a key-range read
    lists only bucket dirs whose recorded min/max overlap the range and
    must stay row-exact whatever the stats pruned. streaming/pipeline.py
    tag/expire_snapshots/clone_to/purge_keys/read_pruned."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    ch = derived_orders_changelog(spark, sf_dir).select(
        "o_orderkey", "o_orderstatus", "op", "ts"
    )
    mirror = ParquetStateTable(
        tempfile.mkdtemp(prefix="spark_graft_refs_"), keep_versions=10
    )
    # all three changelog folds land in ONE staged write job (r16,
    # guide §2.4 — this was three serial write actions)
    mirror.commit_many(
        [
            apply_changelog(
                ch.filter(F.col("ts") <= upto),
                key_cols="o_orderkey",
                ts_cols="ts",
                op_col="op",
                delete_op="D",
                drop_envelope=["op", "ts"],
            )
            for upto in (0, 1, 2)
        ]
    )
    mirror.tag("t0", 0)
    mirror.expire_snapshots(keep_last=1)  # reclaims v1; tag keeps v0
    clone = mirror.clone_to(
        tempfile.mkdtemp(prefix="spark_graft_refsclone_"),
        mode="shallow",
        version=mirror._tagset.resolve("t0"),
    )
    # the snapshot-clone purge and the whole bucketed-layout branch
    # (init from v0 → shallow clone → purge) touch disjoint tables and
    # dirs: overlap them from a 2-thread pool (r16, guide §2.6) so the
    # second chain's jobs back-fill the first's scheduling gaps
    from concurrent.futures import ThreadPoolExecutor

    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    purge_probe = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 97 == 0)
        .select("o_orderkey")
    )
    bmirror = VersionedBucketMirror(
        tempfile.mkdtemp(prefix="spark_graft_refs_b_"),
        n_buckets=8,
        key_col="o_orderkey",
        keep_versions=10,
        stats_cols=["o_orderkey"],
    )

    def _bucket_branch() -> "object":
        bmirror.initialize(mirror.read_version(spark, 0))
        bc = bmirror.clone_to(
            tempfile.mkdtemp(prefix="spark_graft_refs_bclone_"),
            mode="shallow",
        )
        bc.purge_keys(spark, purge_probe, "o_orderkey")
        return bc

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_purge = pool.submit(
            clone.purge_keys, spark, purge_probe, "o_orderkey"
        )
        f_bucket = pool.submit(_bucket_branch)
        f_purge.result()
        bclone = f_bucket.result()

    def ref_row(df: DataFrame | None, ref: str, version: int) -> DataFrame:
        if df is None:  # unreadable (expired) ref: sentinel row
            return local_df(spark, 
                [(ref, version, -1, -1, -1)],
                "ref string, version long, n_rows long, n_updated long, "
                "key_sum long",
            )
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.count(F.when(F.col("o_orderstatus") == "X", 1))
            .cast("long")
            .alias("n_updated"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        ).select(
            F.lit(ref).alias("ref"),
            F.lit(version).cast("long").alias("version"),
            "n_rows",
            "n_updated",
            "key_sum",
        )

    parts = []
    for e in mirror.history():
        parts.append(
            ref_row(
                mirror.read_version(spark, e["version"])
                if e["readable"]
                else None,
                f"src:v{e['version']}",
                e["version"],
            )
        )
    parts.append(
        ref_row(mirror.read_tag(spark, "t0"), "src:tag:t0", 0)
    )
    parts.append(ref_row(clone.read(spark), "clone:main", 0))
    for e in clone.history():
        parts.append(
            ref_row(
                clone.read_version(spark, e["version"]),
                f"clone:v{e['version']}",
                e["version"],
            )
        )
    # same ownership-isolation law on the bucketed 100 TB layout (r10):
    # the bucketed branch (bmirror/bclone) already ran above, overlapped
    # with the snapshot-clone purge — every source bucket dir must stay
    # byte-intact (the purge's _owns guard)
    parts.append(ref_row(bmirror.read(spark), "bsrc:main", 0))
    parts.append(ref_row(bclone.read(spark), "bclone:main", 0))
    # manifest-stats data skipping (r10): the range read lists only the
    # bucket dirs whose recorded min/max overlap [*, 1000] and must be
    # row-exact regardless of which buckets the stats pruned
    parts.append(
        ref_row(
            bmirror.read_pruned(spark, "o_orderkey", upper=1000),
            "bsrc:pruned",
            0,
        )
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "snapshot_branch_publish",
    oracle="""
    WITH s0 AS (SELECT o_orderkey, o_orderstatus FROM orders),
    s2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
                   AS o_orderstatus
        FROM orders WHERE o_orderkey % 13 <> 0
    ),
    a0 AS (
        SELECT CAST(COUNT(*) AS BIGINT) n,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'X') AS BIGINT) u,
               CAST(SUM(o_orderkey) AS BIGINT) s
        FROM s0
    ),
    a2 AS (
        SELECT CAST(COUNT(*) AS BIGINT) n,
               CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'X') AS BIGINT) u,
               CAST(SUM(o_orderkey) AS BIGINT) s
        FROM s2
    )
    SELECT 'main_before_ff' AS ref, n AS n_rows, u AS n_updated,
           s AS key_sum FROM a0
    UNION ALL SELECT 'branch_head', n, u, s FROM a2
    UNION ALL SELECT 'main_after_ff', n, u, s FROM a2
    UNION ALL SELECT 'bucket:main_before_ff', n, u, s FROM a0
    UNION ALL SELECT 'bucket:branch_head', n, u, s FROM a2
    UNION ALL SELECT 'bucket:main_after_ff', n, u, s FROM a2
    """,
)
def snapshot_branch_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writable branches + fast-forward publish (VERDICT r10 task 3,
    streaming/pipeline.py branch/commit(branch=)/fast_forward): stage
    the update+delete batch as an AUDITED commit on an 'etl' branch
    (write_audit_publish(branch=...) — the multi-batch WAP flow
    branches exist for), verify main still serves the fork point, then
    fast-forward and verify main serves the branch head.

    The aggregate rows pin the branch laws in one hash, on BOTH layouts
    (shared TableOps, r10 — the bucket: rows stage the same batch as a
    branch CDC MERGE on a VersionedBucketMirror, touched buckets only,
    carried from the branch head): staged commits invisible to main
    readers (main_before_ff == the fork state even though the branch
    commit already exists in the shared log), branch reads see the
    staged state, and fast-forward is an atomic publish (main_after_ff
    == branch_head). The frames are bound to snapshot dirs at call
    time, so before/after reads coexist in one result."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.functions.constraints import (
        not_null,
        row_count_within,
    )
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    ch = derived_orders_changelog(spark, sf_dir).select(
        "o_orderkey", "o_orderstatus", "op", "ts"
    )

    def agg_row(df: DataFrame, ref: str) -> DataFrame:
        return df.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.count(F.when(F.col("o_orderstatus") == "X", 1))
            .cast("long")
            .alias("n_updated"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        ).select(F.lit(ref).alias("ref"), "n_rows", "n_updated", "key_sum")

    # the snapshot-table WAP chain and the bucketed-mirror branch chain
    # share nothing (separate roots; both only READ ch): overlap them
    # from a 2-thread pool (r16, guide §2.6). Each chain returns its
    # three aggregate frames, every one bound to its snapshot dirs at
    # call time, so the union below keeps the exact pre-r16 row set.
    def _snapshot_chain() -> list[DataFrame]:
        table = ParquetStateTable(
            tempfile.mkdtemp(prefix="spark_graft_branchpub_"),
            keep_versions=10,
        )
        table.commit(
            apply_changelog(
                ch.filter(F.col("ts") <= 0),
                key_cols="o_orderkey",
                ts_cols="ts",
                op_col="op",
                delete_op="D",
                drop_envelope=["op", "ts"],
            )
        )
        table.branch("etl")
        staged_state = apply_changelog(
            ch,
            key_cols="o_orderkey",
            ts_cols="ts",
            op_col="op",
            delete_op="D",
            drop_envelope=["op", "ts"],
        )
        table.write_audit_publish(
            spark,
            staged_state,
            [not_null("o_orderkey"), row_count_within(20, 100)],
            branch="etl",
        )
        before = agg_row(table.read(spark), "main_before_ff")
        branch_head = agg_row(
            table.read_branch(spark, "etl"), "branch_head"
        )
        table.fast_forward("etl")
        return [before, branch_head, agg_row(table.read(spark), "main_after_ff")]

    # same laws on the bucketed 100 TB layout (shared TableOps, r10):
    # the update+delete batch stages as a branch CDC MERGE — touched
    # buckets only, carried from the BRANCH head — then fast-forwards
    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    def _bucket_chain() -> list[DataFrame]:
        mirror = VersionedBucketMirror(
            tempfile.mkdtemp(prefix="spark_graft_branchpub_b_"),
            n_buckets=8,
            key_col="o_orderkey",
            keep_versions=10,
        )
        mirror.initialize(ch.filter(F.col("ts") <= 0))
        mirror.branch("etl")
        mirror.merge_batch(
            ch.filter(F.col("ts") >= 1),
            CdcTarget(
                source_uri="file:///dev/null",
                key_column="o_orderkey",
                ts_column="ts",
            ),
            branch="etl",
        )
        b_before = agg_row(mirror.read(spark), "bucket:main_before_ff")
        b_head = agg_row(
            mirror.read_branch(spark, "etl"), "bucket:branch_head"
        )
        mirror.fast_forward("etl")
        return [b_before, b_head, agg_row(mirror.read(spark), "bucket:main_after_ff")]

    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_snap = pool.submit(_snapshot_chain)
        f_bucket = pool.submit(_bucket_chain)
        parts = f_snap.result() + f_bucket.result()
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@query(
    "bucket_compaction_roundtrip",
    oracle="""
    WITH a AS (
        SELECT CAST(COUNT(*) AS BIGINT) n, CAST(SUM(o_orderkey) AS BIGINT) s
        FROM orders
    )
    SELECT 'files_reduced' AS item, CAST(1 AS BIGINT) AS value FROM a
    UNION ALL SELECT 'head_op_is_rewrite', CAST(1 AS BIGINT) FROM a
    UNION ALL SELECT 'n_versions', CAST(2 AS BIGINT) FROM a
    UNION ALL SELECT 'v0_rows', n FROM a
    UNION ALL SELECT 'v0_keysum', s FROM a
    UNION ALL SELECT 'v1_rows', n FROM a
    UNION ALL SELECT 'v1_keysum', s FROM a
    """,
)
def bucket_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-aware small-file compaction (VERDICT r10 task 4,
    streaming/pipeline.py VersionedBucketMirror.rewrite_data_files):
    bulk-load orders fragmented (maxRecordsPerFile sized to ~4 files
    per bucket at ANY scale factor — the production file-size knob),
    compact, and verify the roundtrip under one hash — file count
    strictly reduced, the compaction is its own marked manifest commit,
    history grows to 2, and BOTH versions read back the identical
    integer aggregates (the pre-compaction manifest still references
    the fragmented dirs; compaction must never rewrite history)."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    mirror = VersionedBucketMirror(
        tempfile.mkdtemp(prefix="spark_graft_compact_"),
        n_buckets=8,
        key_col="o_orderkey",
        keep_versions=10,
    )
    # the file-sizing knob needs only the input ROW COUNT, which is
    # parquet-footer metadata — read it driver-side instead of paying a
    # full count() scan action (r16, guide §6: metadata, not data)
    from tabular_cdc_bootstrapper_spark.queries._registry import _parquet_rows

    mirror.initialize(
        orders, max_records_per_file=max(1, _parquet_rows(sf_dir, "orders") // 32)
    )
    out = mirror.rewrite_data_files(spark)
    items = [
        ("files_reduced", int(out["files_after"] < out["files_before"])),
        (
            "head_op_is_rewrite",
            int(mirror.current().get("operation") == "rewrite_data_files"),
        ),
        ("n_versions", len(mirror.history())),
    ]
    flags = local_df(spark, items, "item string, value long")

    def agg_rows(df: DataFrame, n_item: str, s_item: str) -> DataFrame:
        return (
            df.agg(
                F.count("*").cast("long").alias("__n"),
                F.sum("o_orderkey").cast("long").alias("__s"),
            )
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.lit(n_item).alias("item"),
                            F.col("__n").alias("value"),
                        ),
                        F.struct(
                            F.lit(s_item).alias("item"),
                            F.col("__s").alias("value"),
                        ),
                    )
                ).alias("p")
            )
            .select("p.item", "p.value")
        )

    return flags.unionByName(
        agg_rows(mirror.read_version(spark, 0), "v0_rows", "v0_keysum")
    ).unionByName(
        agg_rows(mirror.read_version(spark, 1), "v1_rows", "v1_keysum")
    )


@query(
    "concurrent_merge_serialization",
    oracle="""
    WITH a AS (
        SELECT CAST(COUNT(*) AS BIGINT) n, CAST(SUM(o_orderkey) AS BIGINT) s
        FROM orders
    )
    SELECT 'final_rows' AS item, n AS value FROM a
    UNION ALL SELECT 'final_keysum', s FROM a
    UNION ALL SELECT 'n_updated', n FROM a
    UNION ALL SELECT 'history_linear', CAST(1 AS BIGINT) FROM a
    UNION ALL SELECT 'b_rebased_on_a', CAST(1 AS BIGINT) FROM a
    UNION ALL SELECT 'overlap_conflict_raised', CAST(1 AS BIGINT) FROM a
    """,
)
def concurrent_merge_serialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic concurrency on snapshot commits (r11, VERDICT task 1 —
    the commit model the reference's Iceberg tables imply, reference
    batch-bootstrapper/tabular.py:69-70 ``transaction()`` = CAS + retry):
    two writers prepare merges against the SAME basis manifest of a
    ``VersionedBucketMirror``; writer A lands first; writer B's commit
    detects the moved head, validates that A touched only DISJOINT
    buckets, rebases, and lands on top — one linear history, neither
    update lost. A third writer then attempts a stale-basis merge into a
    bucket A already rewrote and must raise ``CommitConflict``. The hash
    pins the converged state (every row updated exactly once) plus the
    serialization flags. Writers split the key space by bucket-id parity
    (a Spark-side hash), so every emitted value is split-independent:
    totals over ALL keys, never per-writer counts."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.streaming._protocol import (
        CommitConflict,
    )
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    orders = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    mirror = VersionedBucketMirror(
        tempfile.mkdtemp(prefix="spark_graft_conc_"),
        n_buckets=8,
        key_col="o_orderkey",
        keep_versions=10,
    )
    mirror.initialize(orders)
    v0 = mirror.current()["version"]
    present = sorted(
        int(b)
        for b in mirror.current()["buckets"]
    )
    buckets_a = [b for b in present if b < 4]
    buckets_b = [b for b in present if b >= 4]

    def updated_slice(buckets):
        return (
            mirror.read_buckets(spark, buckets)
            .withColumn("o_orderstatus", F.lit("CONC"))
        )

    # writer A: normal merge on half the buckets, basis v0
    slice_a = updated_slice(buckets_a)
    rec_a = mirror.commit_merged(
        slice_a, touched=buckets_a, expected_version=v0
    )
    # writer B: prepared BEFORE A landed (stale basis v0) on the other,
    # provably disjoint half — validates and rebases onto A's manifest
    slice_b = updated_slice(buckets_b)
    rec_b = mirror.commit_merged(
        slice_b, touched=buckets_b, expected_version=v0
    )
    head = mirror.current()["buckets"]
    b_rebased = int(
        rec_b["version"] == v0 + 2
        and all(
            head[str(b)] == rec_a["buckets"][str(b)] for b in buckets_a
        )
    )
    # writer C: stale basis into a bucket A rewrote — must conflict
    try:
        mirror.commit_merged(
            updated_slice(buckets_a[:1]),
            touched=buckets_a[:1],
            expected_version=v0,
        )
        conflict_raised = 0
    except CommitConflict:
        conflict_raised = 1
    history = [e["version"] for e in mirror.history()]
    flags = local_df(spark, 
        [
            ("history_linear", int(history == [v0, v0 + 1, v0 + 2])),
            ("b_rebased_on_a", b_rebased),
            ("overlap_conflict_raised", conflict_raised),
        ],
        "item string, value long",
    )
    final = mirror.read(spark)
    aggs = final.agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("o_orderkey").cast("long").alias("__s"),
        F.count(F.when(F.col("o_orderstatus") == "CONC", 1))
        .cast("long")
        .alias("__u"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("final_rows").alias("item"),
                    F.col("__n").alias("value"),
                ),
                F.struct(
                    F.lit("final_keysum").alias("item"),
                    F.col("__s").alias("value"),
                ),
                F.struct(
                    F.lit("n_updated").alias("item"),
                    F.col("__u").alias("value"),
                ),
            )
        ).alias("p")
    ).select("p.item", "p.value")
    return flags.unionByName(aggs)


@query(
    "mor_merge_fold_roundtrip",
    oracle="""
    WITH final AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
                   AS st
        FROM orders WHERE o_orderkey % 13 <> 0
    ), a AS (
        SELECT CAST(COUNT(*) AS BIGINT) n,
               CAST(SUM(o_orderkey) AS BIGINT) s,
               CAST(COUNT(CASE WHEN st = 'X' THEN 1 END) AS BIGINT) x
        FROM final
    )
    SELECT 'prefold_rows' AS item, n AS value FROM a
    UNION ALL SELECT 'prefold_keysum', s FROM a
    UNION ALL SELECT 'prefold_x', x FROM a
    UNION ALL SELECT 'postfold_rows', n FROM a
    UNION ALL SELECT 'postfold_keysum', s FROM a
    UNION ALL SELECT 'postfold_x', x FROM a
    UNION ALL SELECT 'histfold_rows', n FROM a
    UNION ALL SELECT 'histfold_keysum', s FROM a
    UNION ALL SELECT 'histfold_x', x FROM a
    UNION ALL SELECT 'delta_chain_before', CAST(1 AS BIGINT) FROM a
    UNION ALL SELECT 'delta_chain_after', CAST(0 AS BIGINT) FROM a
    """,
)
def mor_merge_fold_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read CDC with compaction fold (r11, VERDICT task 2 —
    the Iceberg v2 delete-file / Delta deletion-vector cost model the
    reference's format family implies): initialize a ``merge_on_read``
    VersionedBucketMirror from orders, apply the derived update batch
    (status → 'X' where key%7=0) and delete batch (key%13=0) as DELTA
    commits — base dirs never rewritten, write amplification ∝ batch —
    then ``rewrite_data_files`` folds the chains into fresh bases. One
    hash pins: the folded read (pre-compaction), the post-fold read,
    AND the pre-fold SNAPSHOT re-read through its retained delta chain
    (history intact) — all equal to the CDC oracle — plus the chain
    presence flags."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    mirror = VersionedBucketMirror(
        tempfile.mkdtemp(prefix="spark_graft_mor_"),
        n_buckets=8,
        key_col="o_orderkey",
        keep_versions=10,
        merge_on_read=True,
    )
    target = CdcTarget(
        source_uri="file:///dev/null",
        key_column="o_orderkey",
        ts_column="ts",
    )
    mirror.initialize(
        o.withColumns({"op": F.lit("I"), "ts": F.lit(0).cast("int")})
    )
    updates = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumns({"op": F.lit("U"), "ts": F.lit(1).cast("int")})
    )
    deletes = o.filter(F.col("o_orderkey") % 13 == 0).withColumns(
        {"op": F.lit("D"), "ts": F.lit(2).cast("int")}
    )
    mirror.merge_batch(updates, target)
    mirror.merge_batch(deletes, target)
    pre_version = mirror.current()["version"]
    chain_before = int(bool(mirror.current().get("deltas")))

    def agg_items(df: DataFrame, prefix: str) -> DataFrame:
        return (
            df.agg(
                F.count("*").cast("long").alias("__n"),
                F.sum("o_orderkey").cast("long").alias("__s"),
                F.count(F.when(F.col("o_orderstatus") == "X", 1))
                .cast("long")
                .alias("__x"),
            )
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.lit(f"{prefix}_rows").alias("item"),
                            F.col("__n").alias("value"),
                        ),
                        F.struct(
                            F.lit(f"{prefix}_keysum").alias("item"),
                            F.col("__s").alias("value"),
                        ),
                        F.struct(
                            F.lit(f"{prefix}_x").alias("item"),
                            F.col("__x").alias("value"),
                        ),
                    )
                ).alias("p")
            )
            .select("p.item", "p.value")
        )

    pre = agg_items(mirror.read(spark), "prefold")
    mirror.rewrite_data_files(spark)
    chain_after = int(bool(mirror.current().get("deltas")))
    post = agg_items(mirror.read(spark), "postfold")
    hist = agg_items(mirror.read_version(spark, pre_version), "histfold")
    flags = local_df(spark, 
        [
            ("delta_chain_before", chain_before),
            ("delta_chain_after", chain_after),
        ],
        "item string, value long",
    )
    return pre.unionByName(post).unionByName(hist).unionByName(flags)


@query(
    "change_feed_stream_fold",
    oracle="""
    WITH final AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
                   AS st
        FROM orders WHERE o_orderkey % 13 <> 0
    ), a AS (
        SELECT CAST(COUNT(*) AS BIGINT) n,
               CAST(SUM(o_orderkey) AS BIGINT) s,
               CAST(COUNT(CASE WHEN st = 'X' THEN 1 END) AS BIGINT) x
        FROM final
    )
    SELECT 'n_windows' AS item, CAST(2 AS BIGINT) AS value FROM a
    UNION ALL SELECT 'folded_rows', n FROM a
    UNION ALL SELECT 'folded_keysum', s FROM a
    UNION ALL SELECT 'folded_x', x FROM a
    UNION ALL SELECT 'head_rows', n FROM a
    UNION ALL SELECT 'head_keysum', s FROM a
    UNION ALL SELECT 'head_x', x FROM a
    """,
)
def change_feed_stream_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming change-feed source (r11, VERDICT task 3 — the
    Delta-CDF ``readStream`` analog, ``streaming/pipeline.py
    ChangeFeedStream``): three commits on a snapshot table derived from
    orders (load → update statuses where key%7=0 → delete key%13=0); a
    checkpointed consumer drains the feed per commit (each commit's CDF
    exactly once — state is one acked-version file), and the fold of the
    delivered diffs onto the FIRST snapshot must equal the head. One
    hash pins the window count, the folded aggregates, and the head
    aggregates against the direct SQL of the final state."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.operators.cdc import apply_changelog
    from tabular_cdc_bootstrapper_spark.streaming.feeds import ChangeFeedStream
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    work = tempfile.mkdtemp(prefix="spark_graft_cfs_")
    t = ParquetStateTable(f"{work}/t", keep_versions=10)
    v1 = o.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    # one staged write job for all three versions (r16, guide §2.4)
    t.commit_many([o, v1, v1.filter(F.col("o_orderkey") % 13 != 0)])
    feed = ChangeFeedStream(
        t, key_cols="o_orderkey", checkpoint_path=f"{work}/ckpt.json"
    )
    state = t.read_version(spark, 0)
    windows = []

    def apply(diff, from_v, to_v):
        nonlocal state
        windows.append((from_v, to_v))
        log = state.selectExpr(
            "o_orderkey", "o_orderstatus", "'I' AS op", "0 AS seq"
        )
        state = apply_changelog(
            log.unionByName(
                diff.selectExpr("o_orderkey", "o_orderstatus", "op", "1 AS seq")
            ),
            key_cols="o_orderkey",
            ts_cols="seq",
            drop_envelope=["op", "seq"],
        )

    feed.process_available(spark, apply)

    def agg_items(df: DataFrame, prefix: str) -> DataFrame:
        return (
            df.agg(
                F.count("*").cast("long").alias("__n"),
                F.sum("o_orderkey").cast("long").alias("__s"),
                F.count(F.when(F.col("o_orderstatus") == "X", 1))
                .cast("long")
                .alias("__x"),
            )
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.lit(f"{prefix}_rows").alias("item"),
                            F.col("__n").alias("value"),
                        ),
                        F.struct(
                            F.lit(f"{prefix}_keysum").alias("item"),
                            F.col("__s").alias("value"),
                        ),
                        F.struct(
                            F.lit(f"{prefix}_x").alias("item"),
                            F.col("__x").alias("value"),
                        ),
                    )
                ).alias("p")
            )
            .select("p.item", "p.value")
        )

    flags = local_df(spark, 
        [("n_windows", len(windows))], "item string, value long"
    )
    return (
        flags.unionByName(agg_items(state, "folded"))
        .unionByName(agg_items(t.read(spark), "head"))
    )


def _history_probe(mirror, spark: SparkSession, version: int, o) -> DataFrame:
    """Rows ``hist`` and ``want`` (columns ``t``, ``n``, ``s``, ``x``) of
    the spec-evolution harnesses' history check: snapshot ``version``
    (every order, after the update batch set status 'X' on the
    ``o_orderkey % 7 = 0`` keys) re-read across the spec boundary, next
    to the same aggregates derived from the fixture ``o`` — row count,
    key sum, and 'X' rows against the number of %7 keys. Both sides
    come from different inputs, so damage to the old snapshot's dirs
    shows as a mismatch."""

    def _agg(df, tag, x):
        return df.agg(
            F.count("*").cast("long").alias("n"),
            F.sum("o_orderkey").cast("long").alias("s"),
            F.count(F.when(x, 1)).cast("long").alias("x"),
        ).select(F.lit(tag).alias("t"), "n", "s", "x")

    return _agg(
        mirror.read_version(spark, version), "hist",
        F.col("o_orderstatus") == "X",
    ).unionByName(_agg(o, "want", F.col("o_orderkey") % 7 == 0))


@query(
    "mirror_rebucket_roundtrip",
    oracle="""
    WITH final AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
                   AS st
        FROM orders WHERE o_orderkey % 13 <> 0
    ), a AS (
        SELECT CAST(COUNT(*) AS BIGINT) n,
               CAST(SUM(o_orderkey) AS BIGINT) s,
               CAST(COUNT(CASE WHEN st = 'X' THEN 1 END) AS BIGINT) x
        FROM final
    )
    SELECT 'final_rows' AS item, n AS value FROM a
    UNION ALL SELECT 'final_keysum', s FROM a
    UNION ALL SELECT 'final_x', x FROM a
    UNION ALL SELECT 'spec_after', CAST(32 AS BIGINT) FROM a
    UNION ALL SELECT 'history_intact', CAST(1 AS BIGINT) FROM a
    UNION ALL SELECT 'lookup_key',
        (SELECT CAST(MIN(o_orderkey) AS BIGINT) FROM orders
         WHERE o_orderkey % 13 <> 0) FROM a
    UNION ALL SELECT 'lookup_found', CAST(1 AS BIGINT) FROM a
    """,
)
def mirror_rebucket_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-count (partition-spec) evolution (r11, VERDICT task 4 —
    the Iceberg spec-evolution analog): a 4-bucket mirror takes the
    derived update batch, ``rebucket``s to 32 as ONE manifest commit,
    then takes the delete batch under the NEW spec. One hash pins: the
    final CDC state (equal to the oracle), the recorded spec, history
    intactness across the boundary (the pre-rebucket snapshot re-read
    equals the aggregates the fixture implies), and a point lookup of
    the minimum order key pruned under the new spec."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    mirror = VersionedBucketMirror(
        tempfile.mkdtemp(prefix="spark_graft_rebucket_"),
        n_buckets=4,
        key_col="o_orderkey",
        keep_versions=10,
    )
    target = CdcTarget(
        source_uri="file:///dev/null",
        key_column="o_orderkey",
        ts_column="ts",
    )
    mirror.initialize(
        o.withColumns({"op": F.lit("I"), "ts": F.lit(0).cast("int")})
    )
    mirror.merge_batch(
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumns({"op": F.lit("U"), "ts": F.lit(1).cast("int")}),
        target,
    )
    pre_version = mirror.current()["version"]
    mirror.rebucket(spark, 32)
    mirror.merge_batch(
        o.filter(F.col("o_orderkey") % 13 == 0).withColumns(
            {"op": F.lit("D"), "ts": F.lit(2).cast("int")}
        ),
        target,
    )
    # minimum SURVIVING key (%13 keys were deleted) and its bucket under
    # the NEW spec (_bucket reads n_buckets=32 now, post-rebucket);
    # the history probe and the lookup key+bucket evaluate in ONE
    # action after the chain (r16, guide §2.4)
    kb_f = (
        o.filter(F.col("o_orderkey") % 13 != 0)
        .agg(F.min("o_orderkey").cast("long").alias("n"))
        .select(
            "n",
            mirror._bucket(F.col("n")).cast("long").alias("s"),
            F.lit(0).cast("long").alias("x"),
        )
    )
    probe_rows = {
        r["t"]: r
        for r in _history_probe(mirror, spark, pre_version, o)
        .unionByName(kb_f.select(F.lit("kb").alias("t"), "n", "s", "x"))
        .collect()
    }
    history_intact = int(
        [probe_rows["hist"][c] for c in "nsx"]
        == [probe_rows["want"][c] for c in "nsx"]
    )
    k = probe_rows["kb"]["n"]
    b = int(probe_rows["kb"]["s"])
    # the point lookup itself rides the FINAL action: read_buckets binds
    # to the head manifest's dirs here, and `limit(2)` keeps the
    # hit==1 check exact (0, 1, or >1 all distinguish)
    lookup_f = (
        mirror.read_buckets(spark, [b])
        .filter(F.col("o_orderkey") == k)
        .limit(2)
        .agg((F.count("*") == 1).cast("long").alias("value"))
        .select(F.lit("lookup_found").alias("item"), "value")
    )
    flags = local_df(spark,
        [
            ("spec_after", int(mirror.current()["n_buckets"])),
            ("history_intact", history_intact),
            ("lookup_key", int(k)),
        ],
        "item string, value long",
    )
    flags = flags.unionByName(lookup_f)
    final = mirror.read(spark)
    aggs = final.agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("o_orderkey").cast("long").alias("__s"),
        F.count(F.when(F.col("o_orderstatus") == "X", 1))
        .cast("long")
        .alias("__x"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("final_rows").alias("item"),
                    F.col("__n").alias("value"),
                ),
                F.struct(
                    F.lit("final_keysum").alias("item"),
                    F.col("__s").alias("value"),
                ),
                F.struct(
                    F.lit("final_x").alias("item"),
                    F.col("__x").alias("value"),
                ),
            )
        ).alias("p")
    ).select("p.item", "p.value")
    return flags.unionByName(aggs)


@query(
    "mirror_regrain_roundtrip",
    oracle="""
    WITH final AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
                   AS st
        FROM orders WHERE o_orderkey % 13 <> 0
    ), a AS (
        SELECT CAST(COUNT(*) AS BIGINT) n,
               CAST(SUM(o_orderkey) AS BIGINT) s,
               CAST(COUNT(CASE WHEN st = 'X' THEN 1 END) AS BIGINT) x
        FROM final
    )
    SELECT 'final_rows' AS item, n AS value FROM a
    UNION ALL SELECT 'final_keysum', s FROM a
    UNION ALL SELECT 'final_x', x FROM a
    UNION ALL SELECT 'year_partitions', (
        SELECT CAST(COUNT(DISTINCT date_part('year', CAST(o_orderdate AS DATE)))
               AS BIGINT) FROM orders) FROM a
    UNION ALL SELECT 'history_intact', CAST(1 AS BIGINT) FROM a
    UNION ALL SELECT 'old_grain_partitions_listed', CAST(1 AS BIGINT) FROM a
    UNION ALL SELECT 'old_grain_rows', (
        SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        WHERE CAST(o_orderdate AS DATE) BETWEEN DATE '1995-03-01'
                                            AND DATE '1995-03-31') FROM a
    UNION ALL SELECT 'new_grain_partitions_listed', CAST(1 AS BIGINT) FROM a
    UNION ALL SELECT 'new_grain_rows', (
        SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        WHERE o_orderkey % 13 <> 0
          AND CAST(o_orderdate AS DATE) BETWEEN DATE '1996-01-01'
                                            AND DATE '1996-12-31') FROM a
    """,
)
def mirror_regrain_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-spec evolution across TRANSFORM grains (r15, VERDICT
    r14 #3 — the Iceberg partition-spec-evolution contract, reference
    tabular.py:8): a ``months(o_orderdate)``-partitioned mirror takes
    the derived update batch, ``regrain``s to ``years(o_orderdate)`` as
    ONE manifest commit, then takes the delete batch under the NEW
    grain. Pinned: the final CDC state (equal to the oracle), the new
    grain's partition count (= distinct order years), history intactness
    across the boundary, and a pruned window read on EACH grain — a
    month window at the pre-regrain version lists exactly one OLD-grain
    partition dir (the time-travel prune binds to the resolved
    manifest's own spec), a year window at head lists exactly one
    NEW-grain dir; both row counts recomputed by DuckDB."""
    import re as _re
    import tempfile

    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.col("o_orderdate").cast("date").alias("o_orderdate"),
    )
    mirror = VersionedBucketMirror(
        tempfile.mkdtemp(prefix="spark_graft_regrain_"),
        key_col="o_orderkey",
        keep_versions=10,
        partition_spec=("months", "o_orderdate"),
    )
    target = CdcTarget(
        source_uri="file:///dev/null",
        key_column="o_orderkey",
        ts_column="ts",
    )
    mirror.initialize(
        o.withColumns({"op": F.lit("I"), "ts": F.lit(0).cast("int")})
    )
    mirror.merge_batch(
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumns({"op": F.lit("U"), "ts": F.lit(1).cast("int")}),
        target,
    )
    pre_version = mirror.current()["version"]
    mirror.regrain(spark, ("years", "o_orderdate"))
    mirror.merge_batch(
        o.filter(F.col("o_orderkey") % 13 == 0).withColumns(
            {"op": F.lit("D"), "ts": F.lit(2).cast("int")}
        ),
        target,
    )

    def _parts(df) -> set[str]:
        return {
            m.group(1)
            for f in df.inputFiles()
            if (m := _re.search(r"/bucket=(\d+)/", f))
        }

    import datetime as _dt

    old_win = mirror.read_pruned(
        spark,
        "o_orderdate",
        _dt.date(1995, 3, 1),
        _dt.date(1995, 3, 31),
        version=pre_version,
    )
    old_parts = _parts(old_win)
    new_win = mirror.read_pruned(
        spark, "o_orderdate", _dt.date(1996, 1, 1), _dt.date(1996, 12, 31)
    )
    new_parts = _parts(new_win)

    def _cnt(df, tag):
        return df.agg(
            F.count("*").cast("long").alias("n"),
            F.lit(-1).cast("long").alias("s"),
            F.lit(-1).cast("long").alias("x"),
        ).select(F.lit(tag).alias("t"), "n", "s", "x")

    # the history probe and both pruned-window counts evaluate in ONE
    # action at the end (r16, guide §2.4)
    probe_rows = {
        r["t"]: r
        for r in _history_probe(mirror, spark, pre_version, o)
        .unionByName(_cnt(old_win, "old"))
        .unionByName(_cnt(new_win, "new"))
        .collect()
    }
    history_intact = int(
        [probe_rows["hist"][c] for c in "nsx"]
        == [probe_rows["want"][c] for c in "nsx"]
    )
    old_rows = probe_rows["old"]["n"]
    new_rows = probe_rows["new"]["n"]
    flags = local_df(spark, 
        [
            ("year_partitions", len(mirror.current()["buckets"])),
            ("history_intact", history_intact),
            ("old_grain_partitions_listed", len(old_parts)),
            ("old_grain_rows", int(old_rows)),
            ("new_grain_partitions_listed", len(new_parts)),
            ("new_grain_rows", int(new_rows)),
        ],
        "item string, value long",
    )
    final = mirror.read(spark)
    aggs = final.agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("o_orderkey").cast("long").alias("__s"),
        F.count(F.when(F.col("o_orderstatus") == "X", 1))
        .cast("long")
        .alias("__x"),
    ).select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("final_rows").alias("item"),
                    F.col("__n").alias("value"),
                ),
                F.struct(
                    F.lit("final_keysum").alias("item"),
                    F.col("__s").alias("value"),
                ),
                F.struct(
                    F.lit("final_x").alias("item"),
                    F.col("__x").alias("value"),
                ),
            )
        ).alias("p")
    ).select("p.item", "p.value")
    return aggs.unionByName(flags)


@query(
    "mirror_alter_schema_ddl",
    oracle="""
    WITH final AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
                   AS st
        FROM orders
    ), a AS (
        SELECT CAST(COUNT(*) AS BIGINT) n,
               CAST(SUM(o_orderkey) AS BIGINT) s,
               CAST(COUNT(CASE WHEN st = 'X' THEN 1 END) AS BIGINT) x
        FROM final
    )
    SELECT 'head_rows' AS item, n AS value FROM a
    UNION ALL SELECT 'head_keysum', s FROM a
    UNION ALL SELECT 'head_x', x FROM a
    UNION ALL SELECT 'post_rows', n FROM a
    UNION ALL SELECT 'post_keysum', s FROM a
    UNION ALL SELECT 'post_x', x FROM a
    UNION ALL SELECT 'old_snapshot_has_old_name', CAST(1 AS BIGINT) FROM a
    UNION ALL SELECT 'drop_metadata_only', CAST(1 AS BIGINT) FROM a
    UNION ALL SELECT 'materialized_physically', CAST(1 AS BIGINT) FROM a
    """,
)
def mirror_alter_schema_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only ALTER TABLE on the 100 TB layout (r11,
    ``VersionedBucketMirror.alter_schema`` — the Iceberg rename/drop
    semantics): initialize from orders, RENAME ``o_orderstatus →
    status`` and DROP ``o_custkey`` as one zero-data-movement manifest
    commit, merge the derived update batch UNDER THE NEW NAME (old and
    new physical dirs read uniformly through the manifest's rename
    fold), then ``rewrite_data_files(materialize=True)`` lands the
    logical names physically and reclaims the dropped column's bytes.
    One hash pins: head aggregates before and after materialization
    (both equal the oracle), the pre-alter snapshot still reading its
    own old schema, drop being metadata-only at first (bytes present in
    old files), and the physical materialization (old names and dropped
    column gone from the new files)."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_custkey"
    )
    mirror = VersionedBucketMirror(
        tempfile.mkdtemp(prefix="spark_graft_ddl_"),
        n_buckets=8,
        key_col="o_orderkey",
        keep_versions=10,
    )
    target = CdcTarget(
        source_uri="file:///dev/null",
        key_column="o_orderkey",
        ts_column="ts",
    )
    mirror.initialize(
        o.withColumns({"op": F.lit("I"), "ts": F.lit(0).cast("int")})
    )
    pre_version = mirror.current()["version"]
    mirror.alter_schema(drop=["o_custkey"], rename={"o_orderstatus": "status"})

    def raw_cols() -> set:
        # physical column check from parquet FOOTERS, driver-side (r16,
        # guide §6 — metadata, not data): this was one schema-inference
        # Spark job per bucket dir, twice; O(KB) footer reads answer the
        # same question. Falls back to inference on any surprise.
        import os as _os

        import pyarrow.parquet as _pq

        cols: set = set()
        for d in mirror.current()["buckets"].values():
            names = [
                n for n in _os.listdir(d) if n.endswith(".parquet")
            ]
            if not names:
                cols.update(spark.read.parquet(d).columns)
                continue
            for n in names:
                cols.update(
                    _pq.ParquetFile(_os.path.join(d, n)).schema_arrow.names
                )
        return cols

    drop_metadata_only = int(
        "o_custkey" in raw_cols() and "o_orderstatus" in raw_cols()
    )
    mirror.merge_batch(
        o.filter(F.col("o_orderkey") % 7 == 0)
        .select("o_orderkey", F.lit("X").alias("status"))
        .withColumns({"op": F.lit("U"), "ts": F.lit(1).cast("int")}),
        target,
    )
    old_snapshot_has_old_name = int(
        "o_orderstatus" in mirror.read(spark, version=pre_version).columns
    )

    def agg_items(df: DataFrame, prefix: str) -> DataFrame:
        return (
            df.agg(
                F.count("*").cast("long").alias("__n"),
                F.sum("o_orderkey").cast("long").alias("__s"),
                F.count(F.when(F.col("status") == "X", 1))
                .cast("long")
                .alias("__x"),
            )
            .select(
                F.explode(
                    F.array(
                        F.struct(
                            F.lit(f"{prefix}_rows").alias("item"),
                            F.col("__n").alias("value"),
                        ),
                        F.struct(
                            F.lit(f"{prefix}_keysum").alias("item"),
                            F.col("__s").alias("value"),
                        ),
                        F.struct(
                            F.lit(f"{prefix}_x").alias("item"),
                            F.col("__x").alias("value"),
                        ),
                    )
                ).alias("p")
            )
            .select("p.item", "p.value")
        )

    head = agg_items(mirror.read(spark), "head")
    mirror.rewrite_data_files(spark, materialize=True)
    post_cols = raw_cols()
    materialized = int(
        "status" in post_cols
        and "o_orderstatus" not in post_cols
        and "o_custkey" not in post_cols
        and "renames" not in mirror.current()
    )
    post = agg_items(mirror.read(spark), "post")
    flags = local_df(spark, 
        [
            ("old_snapshot_has_old_name", old_snapshot_has_old_name),
            ("drop_metadata_only", drop_metadata_only),
            ("materialized_physically", materialized),
        ],
        "item string, value long",
    )
    return flags.unionByName(head).unionByName(post)


@query(
    "column_generation_masking",
    oracle="""
    WITH a AS (
        SELECT CAST(COUNT(*) AS BIGINT) n,
               CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END)
                    AS BIGINT) f,
               CAST(COUNT(CASE WHEN o_orderkey % 5 = 0 THEN 1 END)
                    AS BIGINT) g2,
               CAST(COUNT(CASE WHEN o_orderkey % 11 = 0 THEN 1 END)
                    AS BIGINT) g3
        FROM orders
    )
    SELECT 'gen1_rows' AS item, n AS value FROM a
    UNION ALL SELECT 'gen1_f', f FROM a
    UNION ALL SELECT 'gen2_g2', g2 FROM a
    UNION ALL SELECT 'gen2_null', n - g2 FROM a
    UNION ALL SELECT 'head_rows', n FROM a
    UNION ALL SELECT 'head_g3', g3 FROM a
    UNION ALL SELECT 'head_null', n - g3 FROM a
    UNION ALL SELECT 'mask_metadata_only', CAST(1 AS BIGINT) FROM a
    """,
)
def column_generation_masking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Field-ID column identity across THREE generations of one column's
    life (r12, VERDICT task 3 — the Iceberg rule: a re-added column is a
    NEW field). The mirror's ``flag`` column is born holding order
    statuses (gen 1), dropped and re-added with no compaction in
    between (gen 2 — every pre-existing byte generation-masked to NULL),
    merged with 'G2' values, then dropped and re-added AGAIN (gen 3) and
    merged with 'G3' values. One hash pins all three generations read
    back, each version under its own schema record: gen 1 still reads
    the original statuses via time travel, the gen-2 snapshot reads 'G2'
    exactly where merged and NULL elsewhere (gen-1 bytes masked), and
    the head reads 'G3'/NULL (both earlier generations masked) — while
    the masking stays METADATA-ONLY (the initial data dirs physically
    hold the gen-1 bytes throughout; no file was rewritten by any DDL
    commit)."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_orderstatus").alias("flag")
    )
    mirror = VersionedBucketMirror(
        tempfile.mkdtemp(prefix="spark_graft_gen_"),
        n_buckets=8,
        key_col="o_orderkey",
        keep_versions=10,
    )
    target = CdcTarget(
        source_uri="file:///dev/null",
        key_column="o_orderkey",
        ts_column="ts",
    )
    mirror.initialize(
        o.withColumns({"op": F.lit("I"), "ts": F.lit(0).cast("int")})
    )  # v0: gen 1 (flag = o_orderstatus)
    gen1_dirs = list(mirror.current()["buckets"].values())
    mirror.alter_schema(drop=["flag"])  # v1
    mirror.alter_schema(add={"flag": "string"})  # v2: gen 2 (masked)
    mirror.merge_batch(
        o.filter(F.col("o_orderkey") % 5 == 0)
        .select("o_orderkey", F.lit("G2").alias("flag"))
        .withColumns({"op": F.lit("U"), "ts": F.lit(1).cast("int")}),
        target,
    )  # v3
    gen2_version = mirror.current()["version"]
    mirror.alter_schema(drop=["flag"])  # v4
    mirror.alter_schema(add={"flag": "string"})  # v5: gen 3 (masked)
    mirror.merge_batch(
        o.filter(F.col("o_orderkey") % 11 == 0)
        .select("o_orderkey", F.lit("G3").alias("flag"))
        .withColumns({"op": F.lit("U"), "ts": F.lit(2).cast("int")}),
        target,
    )  # v6: head
    # the DDL commits never rewrote the initial dirs: gen-1 bytes are
    # physically intact there even though two generations masked them.
    # The probe binds to gen-1's physical dirs (no later commit touches
    # them), so it rides the SAME final action as the generation counts
    # instead of a mid-chain limit/count round trip (r16, guide §2.4).
    raw_gen1 = spark.read.parquet(*gen1_dirs)
    mask_probe = (
        raw_gen1.filter(F.col("flag").isNotNull())
        .limit(1)
        .agg(F.count("*").cast("long").alias("value"))
        .select(F.lit("mask_metadata_only").alias("item"), "value")
    )

    def counts(df: DataFrame, prefix: str, val: str, items) -> DataFrame:
        n_item, hit_item, null_item = items
        aggs = [F.count("*").cast("long").alias("__n")] if n_item else []
        aggs += [
            F.count(F.when(F.col("flag") == val, 1))
            .cast("long")
            .alias("__h"),
            F.count(F.when(F.col("flag").isNull(), 1))
            .cast("long")
            .alias("__z"),
        ]
        row = df.agg(*aggs)
        structs = []
        if n_item:
            structs.append(
                F.struct(
                    F.lit(n_item).alias("item"), F.col("__n").alias("value")
                )
            )
        structs.append(
            F.struct(
                F.lit(hit_item).alias("item"), F.col("__h").alias("value")
            )
        )
        if null_item:
            structs.append(
                F.struct(
                    F.lit(null_item).alias("item"),
                    F.col("__z").alias("value"),
                )
            )
        return row.select(F.explode(F.array(*structs)).alias("p")).select(
            "p.item", "p.value"
        )

    gen1 = counts(
        mirror.read(spark, version=0), "gen1", "F", ("gen1_rows", "gen1_f", None)
    )
    gen2 = counts(
        mirror.read(spark, version=gen2_version),
        "gen2",
        "G2",
        (None, "gen2_g2", "gen2_null"),
    )
    head = counts(
        mirror.read(spark), "head", "G3", ("head_rows", "head_g3", "head_null")
    )
    return mask_probe.unionByName(gen1).unionByName(gen2).unionByName(head)


@query(
    "snapshot_table_ddl",
    oracle="""
    WITH final AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X' ELSE o_orderstatus END
                   AS st
        FROM orders
    ), a AS (
        SELECT CAST(COUNT(*) AS BIGINT) n,
               CAST(SUM(o_orderkey) AS BIGINT) s,
               CAST(COUNT(CASE WHEN st = 'X' THEN 1 END) AS BIGINT) x,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
                WHERE o_orderstatus = 'F') AS f
        FROM final
    )
    SELECT 'v1_rows' AS item, n AS value FROM a
    UNION ALL SELECT 'v1_f', f FROM a
    UNION ALL SELECT 'head_rows', n FROM a
    UNION ALL SELECT 'head_keysum', s FROM a
    UNION ALL SELECT 'head_x', x FROM a
    UNION ALL SELECT 'tier_nulls', n FROM a
    UNION ALL SELECT 'alter_metadata_only', CAST(1 AS BIGINT) FROM a
    UNION ALL SELECT 'old_snapshot_has_old_name', CAST(1 AS BIGINT) FROM a
    """,
)
def snapshot_table_ddl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only ALTER TABLE on the PLAIN snapshot layout (r12,
    VERDICT task 2 — DDL symmetry: ``ParquetStateTable.alter_schema``
    shares ``_alter_schema_meta`` with the bucketed mirror): commit
    orders, then RENAME ``o_orderstatus → status`` + DROP ``o_custkey``
    as ONE log commit that SHARES the previous version's data dir (zero
    data movement, pinned), read the head through the rename fold (the
    dir physically holds the OLD name — 'v1_f' counts statuses through
    the coalesce fold), commit the derived update as a full-state
    replace (which naturally materializes the logical schema), ADD a
    nullable column reading typed NULL from the un-rewritten files, and
    time-travel to v0 under its own pre-DDL schema."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_custkey"
    )
    t = ParquetStateTable(
        tempfile.mkdtemp(prefix="spark_graft_sddl_") + "/t",
        keep_versions=10,
    )
    t.commit(o)  # v0
    rec = t.alter_schema(
        drop=["o_custkey"],
        rename={"o_orderstatus": "status"},
        spark=spark,
    )  # v1: one commit, dir shared with v0
    alter_metadata_only = int(
        rec["dir"] == t._log.committed()[0]["dir"]
    )
    v1 = t.read(spark)
    v1_agg = v1.agg(
        F.count("*").cast("long").alias("__n"),
        F.count(F.when(F.col("status") == "F", 1))
        .cast("long")
        .alias("__f"),
    ).select(
        F.explode(
            F.array(
                F.struct(F.lit("v1_rows").alias("item"), F.col("__n").alias("value")),
                F.struct(F.lit("v1_f").alias("item"), F.col("__f").alias("value")),
            )
        ).alias("p")
    ).select("p.item", "p.value")
    t.commit(
        v1.withColumn(
            "status",
            F.when(F.col("o_orderkey") % 7 == 0, F.lit("X")).otherwise(
                F.col("status")
            ),
        )
    )  # v2: full-state replace materializes the logical schema
    # v3: metadata-only ADD (spark= again: the v2 full-state commit
    # materialized the logical schema and retired the DDL metadata, so
    # this alter re-binds from the fresh dir's parquet schema)
    t.alter_schema(add={"tier": "string"}, spark=spark)
    head = t.read(spark)
    head_agg = head.agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("o_orderkey").cast("long").alias("__s"),
        F.count(F.when(F.col("status") == "X", 1)).cast("long").alias("__x"),
        F.count(F.when(F.col("tier").isNull(), 1)).cast("long").alias("__t"),
    ).select(
        F.explode(
            F.array(
                F.struct(F.lit("head_rows").alias("item"), F.col("__n").alias("value")),
                F.struct(F.lit("head_keysum").alias("item"), F.col("__s").alias("value")),
                F.struct(F.lit("head_x").alias("item"), F.col("__x").alias("value")),
                F.struct(F.lit("tier_nulls").alias("item"), F.col("__t").alias("value")),
            )
        ).alias("p")
    ).select("p.item", "p.value")
    old_snapshot_has_old_name = int(
        "o_orderstatus" in t.read_version(spark, 0).columns
    )
    flags = local_df(spark, 
        [
            ("alter_metadata_only", alter_metadata_only),
            ("old_snapshot_has_old_name", old_snapshot_has_old_name),
        ],
        "item string, value long",
    )
    return flags.unionByName(v1_agg).unionByName(head_agg)


@query(
    "join_feed_availablenow",
    oracle="""
    WITH fact_after AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice * 2
                    ELSE o_totalprice END AS p
        FROM orders WHERE o_orderkey % 13 <> 0
    ),
    dim_after AS (
        SELECT c_custkey,
               CASE WHEN c_custkey % 10 = 0 THEN 'MOVED'
                    ELSE c_mktsegment END AS seg
        FROM customer
    ),
    j AS (
        SELECT f.o_orderkey, f.p, d.seg
        FROM fact_after f JOIN dim_after d ON f.o_custkey = d.c_custkey
    ),
    a AS (
        SELECT CAST(COUNT(*) AS BIGINT) n,
               CAST(SUM(o_orderkey) AS BIGINT) s,
               CAST(SUM(CAST(ROUND(p * 100) AS BIGINT)) AS BIGINT) cents,
               CAST(COUNT(CASE WHEN seg = 'MOVED' THEN 1 END) AS BIGINT) mv
        FROM j
    )
    SELECT 'n_triggers' AS item, CAST(2 AS BIGINT) AS value FROM a
    UNION ALL SELECT 'view_rows', n FROM a
    UNION ALL SELECT 'view_keysum', s FROM a
    UNION ALL SELECT 'view_cents', cents FROM a
    UNION ALL SELECT 'view_moved', mv FROM a
    """,
)
def join_feed_availablenow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trigger-driven maintained-view pipeline (r12, VERDICT task 1 —
    ``MaintainedJoinFeedDriver``): two snapshot tables (orders fact:
    load → double prices where key%7=0 → delete key%13=0; customer dim:
    load → re-segment custkey%10=0) each expose a checkpointed change
    feed, and the AvailableNow driver loop drains BOTH feeds into a
    ``MaintainedJoinView`` with ``max_commits_per_trigger=1`` (Spark's
    per-trigger rate-limit shape — the fact side needs two triggers,
    the dim side one). One hash pins the trigger count and the final
    view equalling the from-scratch join of both heads, integer-cent
    exact. Scale: each trigger is one keyed CDF per advanced side plus
    maintain_join's broadcast touched-key update — no corpus shuffle,
    no hand-rolled poll loop in consumer code."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.streaming.feeds import (
        ChangeFeedStream,
        MaintainedJoinFeedDriver,
        MaintainedJoinView,
    )
    from tabular_cdc_bootstrapper_spark.streaming.state_table import (
        ParquetStateTable,
    )

    work = tempfile.mkdtemp(prefix="spark_graft_jfeed_")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    fact = ParquetStateTable(f"{work}/fact", keep_versions=10)
    dim = ParquetStateTable(f"{work}/dim", keep_versions=10)
    v1 = o.withColumn(
        "o_totalprice",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") * 2
        ).otherwise(F.col("o_totalprice")),
    )
    # two independent tables, one staged write job each (r16, guide
    # §2.4), and the two jobs overlap from a 2-thread pool (guide §2.6 —
    # fact and dim histories share nothing)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_fact = pool.submit(
            fact.commit_many,
            [o, v1, v1.filter(F.col("o_orderkey") % 13 != 0)],
        )  # v0..v2
        f_dim = pool.submit(
            dim.commit_many,
            [
                c,
                c.withColumn(
                    "c_mktsegment",
                    F.when(
                        F.col("c_custkey") % 10 == 0, F.lit("MOVED")
                    ).otherwise(F.col("c_mktsegment")),
                ),
            ],
        )  # v0..v1
        f_fact.result()
        f_dim.result()
    view = MaintainedJoinView(
        f"{work}/view",
        fact_keys="o_orderkey",
        dim_keys="c_custkey",
        fk_cols="o_custkey",
        ts_col="ts",
    )
    driver = MaintainedJoinFeedDriver(
        view,
        fact,
        dim,
        ChangeFeedStream(
            fact, key_cols="o_orderkey", checkpoint_path=f"{work}/cf.json"
        ),
        ChangeFeedStream(
            dim, key_cols="c_custkey", checkpoint_path=f"{work}/cd.json"
        ),
    )
    done = driver.run_available(spark, max_commits_per_trigger=1)
    agg = view.read(spark).agg(
        F.count("*").cast("long").alias("__n"),
        F.sum("o_orderkey").cast("long").alias("__s"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
        .cast("long")
        .alias("__c"),
        F.count(F.when(F.col("c_mktsegment") == "MOVED", 1))
        .cast("long")
        .alias("__m"),
    ).select(
        F.explode(
            F.array(
                F.struct(F.lit("view_rows").alias("item"), F.col("__n").alias("value")),
                F.struct(F.lit("view_keysum").alias("item"), F.col("__s").alias("value")),
                F.struct(F.lit("view_cents").alias("item"), F.col("__c").alias("value")),
                F.struct(F.lit("view_moved").alias("item"), F.col("__m").alias("value")),
            )
        ).alias("p")
    ).select("p.item", "p.value")
    flags = local_df(spark, 
        [("n_triggers", len(done))], "item string, value long"
    )
    return flags.unionByName(agg)


@query(
    "change_feed_datasource_stream",
    oracle="""
    WITH changelog AS (
        SELECT o_orderkey, o_orderstatus, 'I' AS op, 0 AS ts FROM orders
        UNION ALL
        SELECT o_orderkey, 'X', 'U', 1 FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, o_orderstatus, 'D', 2
        FROM orders WHERE o_orderkey % 13 = 0
    ),
    s0 AS (
        SELECT o_orderkey, arg_max(o_orderstatus, ts) AS o_orderstatus,
               arg_max(op, ts) AS last_op
        FROM changelog WHERE ts <= 0 GROUP BY o_orderkey
    ),
    s2 AS (
        SELECT o_orderkey, arg_max(o_orderstatus, ts) AS o_orderstatus,
               arg_max(op, ts) AS last_op
        FROM changelog GROUP BY o_orderkey
    ),
    oldt AS (SELECT o_orderkey, o_orderstatus FROM s0 WHERE last_op <> 'D'),
    newt AS (SELECT o_orderkey, o_orderstatus FROM s2 WHERE last_op <> 'D')
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'I'
                WHEN n.o_orderkey IS NULL THEN 'D'
                ELSE 'U' END AS op,
           n.o_orderstatus AS o_orderstatus
    FROM oldt o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
    """,
)
def change_feed_datasource_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The change feed as a REAL Spark stream (r12 —
    ``streaming/datasource.py ChangeFeedDataSource``, the full
    ``spark.readStream.format("table_changes")`` integration of the
    Delta-CDF readStream surface): two CDC merges land on a bucketed
    versioned mirror, then Spark's own microbatch machinery drives the
    feed — offsets are snapshot versions, the planner emits one input
    partition per manifest-changed bucket, and each partition's keyed
    I/U/D diff executes ON EXECUTORS via pyarrow/pandas (no nested
    Spark, no corpus shuffle). The collected stream output must equal
    the from-scratch SQL diff of the two snapshot states — the same
    oracle as the in-engine ``cdc_change_feed``, proving the
    executor-side pandas fold+diff is semantics-identical to the
    DataFrame path."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.streaming.datasource import (
        register_stream_sources,
    )
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    register_stream_sources(spark)  # idempotent (re-register replaces)
    work = tempfile.mkdtemp(prefix="spark_graft_dsrc_")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus")
    target = CdcTarget(
        source_uri="file:///dev/null",
        key_column="o_orderkey",
        ts_column="ts",
    )
    mirror = VersionedBucketMirror(
        f"{work}/m", n_buckets=8, key_col="o_orderkey", keep_versions=10
    )
    mirror.initialize(
        o.withColumns({"op": F.lit("I"), "ts": F.lit(0).cast("long")})
    )  # v0
    mirror.merge_batch(
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumns({"op": F.lit("U"), "ts": F.lit(1).cast("long")}),
        target,
    )  # v1
    mirror.merge_batch(
        o.filter(F.col("o_orderkey") % 13 == 0)
        .withColumns({"op": F.lit("D"), "ts": F.lit(2).cast("long")}),
        target,
    )  # v2
    batches: list = []
    q = (
        spark.readStream.format("table_changes")
        .option("path", mirror.root)
        .option("keyCols", "o_orderkey")
        .option("startingVersion", "0")
        .load()
        .writeStream.foreachBatch(
            lambda df, bid: batches.append(df.collect())
        )
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = [
        (r["o_orderkey"], r["op"], r["o_orderstatus"])
        for b in batches
        for r in b
    ]
    return local_df(spark, 
        rows, "o_orderkey long, op string, o_orderstatus string"
    )


@query(
    "mirror_dml_delete_update",
    oracle="""
    WITH after_del AS (
        SELECT * FROM orders
        WHERE NOT COALESCE(
            o_orderstatus = 'F' AND o_totalprice < 100000, FALSE)
    ),
    after_upd AS (
        SELECT o_orderkey,
               CASE WHEN o_orderpriority = '1-URGENT'
                    THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderpriority = '1-URGENT'
                    THEN o_totalprice * 1.1 + 1
                    ELSE o_totalprice END AS o_totalprice,
               o_orderpriority
        FROM after_del
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price,
           CAST(COUNT(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 END)
                AS BIGINT) AS n_urgent
    FROM after_upd
    GROUP BY o_orderstatus
    """,
)
def mirror_dml_delete_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DML (r12): ``DELETE FROM t WHERE ...`` then
    ``UPDATE t SET ... WHERE ...`` on a ``VersionedBucketMirror`` built
    from `orders` — the Iceberg copy-on-write DELETE/UPDATE the
    reference's tables take through the Iceberg surface (tabular.py:8).
    The delete's predicate mixes a string equality with a numeric range;
    the update assigns TWO columns simultaneously (a literal status and
    a derived reprice, each cast to the column's existing type). Only
    match-holding buckets are rewritten (pinned in tests/test_dml.py);
    the oracle recomputes both statements as relational algebra and the
    per-status aggregate proves the head state row-for-row."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    m = VersionedBucketMirror(
        tempfile.mkdtemp(prefix="spark_graft_dml_") + "/t",
        n_buckets=16,
        key_col="o_orderkey",
        keep_versions=10,
    )
    m.initialize(o)
    m.delete_where(
        spark, "o_orderstatus = 'F' AND o_totalprice < 100000"
    )
    m.update_where(
        spark,
        "o_orderpriority = '1-URGENT'",
        {"o_orderstatus": "'R'", "o_totalprice": "o_totalprice * 1.1 + 1"},
    )
    return (
        m.read(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.count(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1)
            )
            .cast("long")
            .alias("n_urgent"),
        )
    )


@query(
    "sink_datasource_stream",
    oracle="""
    WITH changelog AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority, 'I' AS op, 0 AS ts
        FROM orders
        UNION ALL
        SELECT o_orderkey, o_custkey, 'X', o_totalprice,
               o_orderdate, o_orderpriority, 'U', 1
        FROM orders WHERE o_orderkey % 7 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
               o_orderdate, o_orderpriority, 'D', 2
        FROM orders WHERE o_orderkey % 13 = 0
    ),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY o_orderkey ORDER BY ts DESC) AS rn
        FROM changelog
    )
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           o_orderdate, o_orderpriority
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def sink_datasource_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``spark.writeStream.format("state_table")`` (r12): the WRITE-side
    streaming data source — the sink twin of
    ``change_feed_datasource_stream``. A mirror is initialized from
    `orders` (the ts=0 state) and the deterministic update+delete
    changelog (FIXTURES.md §C: status → 'X' where key%7=0 at ts=1,
    delete where key%13=0 at ts=2) streams into it as a file-source →
    ``state_table`` pipeline under Spark's own checkpoint machinery:
    executors bucket rows with the Python xxhash64 (bit-identical to
    the JVM hash, pinned in tests/test_sink_datasource.py), the
    driver-side commit installs merge-on-read delta dirs as ONE pure-
    metadata CAS publish, and a per-sink fence makes replayed batch ids
    free. The oracle is the same latest-per-key recompute as
    ``cdc_latest`` — the sink path must land the identical state."""
    import os
    import tempfile

    from tabular_cdc_bootstrapper_spark.streaming.datasource import (
        register_stream_sources,
    )
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    register_stream_sources(spark)  # idempotent (re-register replaces)
    work = tempfile.mkdtemp(prefix="spark_graft_sinkds_")
    o = _t(spark, sf_dir, "orders").select(*_ORDER_COLS)
    m = VersionedBucketMirror(
        f"{work}/t",
        n_buckets=16,
        key_col="o_orderkey",
        keep_versions=10,
        merge_on_read=True,
    )
    m.initialize(o)
    src = f"{work}/src"
    os.makedirs(src)
    updates = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumns({"op": F.lit("U"), "ts": F.lit(1).cast("long")})
    )
    deletes = o.filter(F.col("o_orderkey") % 13 == 0).withColumns(
        {"op": F.lit("D"), "ts": F.lit(2).cast("long")}
    )
    updates.unionByName(deletes).write.parquet(f"{src}/batch.parquet")
    schema_ddl = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, "
        "o_orderpriority string, op string, ts long"
    )
    q = (
        spark.readStream.schema(schema_ddl)
        .parquet(f"{src}/*.parquet")
        .writeStream.format("state_table")
        .option("path", m.root)
        .option("keyCol", "o_orderkey")
        .option("tsCols", "ts")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return m.read(spark).select(*_ORDER_COLS)


@query(
    "table_sql_lifecycle",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
        FROM orders
        UNION ALL
        SELECT * FROM (VALUES
            (CAST(-1 AS BIGINT), 'O', CAST(100.0 AS DOUBLE), '2-HIGH'),
            (CAST(-10 AS BIGINT), 'F', CAST(200.0 AS DOUBLE), '1-URGENT'),
            (CAST(-22 AS BIGINT), 'O', CAST(300.0 AS DOUBLE), '3-MEDIUM')
        ) AS ins(o_orderkey, o_orderstatus, o_totalprice, o_orderpriority)
    ),
    after_del AS (
        SELECT * FROM base
        WHERE NOT COALESCE(
            o_orderstatus = 'F' AND o_orderkey % 5 = 0, FALSE)
    ),
    after_upd AS (
        SELECT o_orderkey, o_orderstatus,
               CASE WHEN o_orderpriority = '2-HIGH'
                    THEN o_totalprice + 10
                    ELSE o_totalprice END AS o_totalprice
        FROM after_del
    ),
    after_merge AS (
        -- the MERGE source time-travels to VERSION AS OF 0 (pre-insert),
        -- so only ORIGINAL keys can match; inserted -22 stays 'O'
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 11 = 0 AND o_orderkey >= 0
                    THEN 'Z' ELSE o_orderstatus END AS o_orderstatus,
               o_totalprice
        FROM after_upd
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM after_merge
    GROUP BY o_orderstatus
    UNION ALL
    SELECT '_v0_rows', CAST(COUNT(*) AS BIGINT),
           CAST(0.0 AS DOUBLE)
    FROM orders
    """,
)
def table_sql_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front-end (r12, ``sql.py TableSql``): the maintenance
    dialect a reference user speaks to their Iceberg tables
    (tabular.py:8 — DELETE/UPDATE/MERGE/time travel arrive as SQL),
    dispatched onto the engine's table handles. One lifecycle, every
    statement a SQL string: ``INSERT INTO ... VALUES`` (r13 — the plain
    append verb; the inserted keys then flow through every later
    statement, and ``VERSION AS OF 0`` proves the append was its own
    commit), ``DELETE FROM``, ``UPDATE ... SET``
    (expression assignment), ``MERGE INTO ... USING (<subquery over a
    time-traveled SELECT>)`` with a src.-referenced update, then the
    reporting ``SELECT ... GROUP BY`` and a ``VERSION AS OF 0``
    time-travel count — all parsed heads here, all expressions by
    Spark's own parser. The oracle recomputes the full statement chain
    as relational algebra."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.sql import TableSql
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    m = VersionedBucketMirror(
        tempfile.mkdtemp(prefix="spark_graft_tsql_") + "/t",
        n_buckets=16,
        key_col="o_orderkey",
        keep_versions=10,
    )
    m.initialize(o)
    t = TableSql(spark, {"orders_t": m})
    # plain append (r13): new keys land as one commit; -10 is then
    # caught by the DELETE, -1 by the UPDATE — and -22, though %11==0,
    # is NOT merged because the MERGE source time-travels to v0,
    # BEFORE the insert (the append is provably its own snapshot)
    t.sql(
        "INSERT INTO orders_t VALUES "
        "(-1, 'O', 100.0, '2-HIGH'), "
        "(-10, 'F', 200.0, '1-URGENT'), "
        "(-22, 'O', 300.0, '3-MEDIUM')"
    )
    t.sql(
        "DELETE FROM orders_t "
        "WHERE o_orderstatus = 'F' AND o_orderkey % 5 = 0"
    )
    t.sql(
        "UPDATE orders_t SET o_totalprice = o_totalprice + 10 "
        "WHERE o_orderpriority = '2-HIGH'"
    )
    t.sql(
        """
        MERGE INTO orders_t USING (
            SELECT o_orderkey, 'Z' AS o_orderstatus
            FROM orders_t VERSION AS OF 0
            WHERE o_orderkey % 11 = 0
        ) ON o_orderkey
        WHEN MATCHED THEN UPDATE SET o_orderstatus = src.o_orderstatus
        """
    )
    return t.sql(
        """
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_price
        FROM orders_t
        GROUP BY o_orderstatus
        UNION ALL
        SELECT '_v0_rows', CAST(COUNT(*) AS BIGINT),
               CAST(0.0 AS DOUBLE)
        FROM orders_t VERSION AS OF 0
        """
    )


@query(
    "table_constraints_gate",
    oracle="""
    WITH upd AS (
        SELECT CASE WHEN o_orderstatus = 'O'
                    THEN o_totalprice + 1
                    ELSE o_totalprice END AS p
        FROM orders
    )
    SELECT 'refused_add' AS item, CAST(1 AS DOUBLE) AS value
    UNION ALL SELECT 'refused_update', 1
    UNION ALL SELECT 'head_unmoved_by_refusals', 1
    UNION ALL SELECT 'neg_rows', 0
    UNION ALL SELECT 'head_rows',
        (SELECT CAST(COUNT(*) AS DOUBLE) FROM upd)
    UNION ALL SELECT 'head_total', (SELECT ROUND(SUM(p), 2) FROM upd)
    """,
)
def table_constraints_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table CHECK constraints (r12 — the Delta ``ADD CONSTRAINT``
    model, SQL-driven end to end): a constraint is a table property
    added only if existing data passes (one validating scan) and
    enforced against every commit's OWN staged bytes before its
    manifest publishes. Lifecycle pinned here: a passing ADD, a
    failing ADD (existing data violates), a violating UPDATE (refused,
    head version unmoved, no negative row ever visible), then a valid
    UPDATE that carries the property forward. The oracle recomputes
    the surviving state — exactly one repricing, zero refused
    effects."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.sql import TableSql
    from tabular_cdc_bootstrapper_spark.streaming._protocol import (
        ConstraintViolation,
    )
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    m = VersionedBucketMirror(
        tempfile.mkdtemp(prefix="spark_graft_ck_") + "/t",
        n_buckets=16,
        key_col="o_orderkey",
        keep_versions=10,
    )
    m.initialize(o)
    t = TableSql(spark, {"orders_t": m})
    t.sql(
        "ALTER TABLE orders_t ADD CONSTRAINT price_pos "
        "CHECK (o_totalprice >= 0)"
    )
    refused_add = 0
    try:
        t.sql(
            "ALTER TABLE orders_t ADD CONSTRAINT price_small "
            "CHECK (o_totalprice < 100)"
        )
    except ConstraintViolation:
        refused_add = 1
    head_before = m.current()["version"]
    refused_update = 0
    try:
        t.sql(
            "UPDATE orders_t SET o_totalprice = -1 "
            "WHERE o_orderstatus = 'F'"
        )
    except ConstraintViolation:
        refused_update = 1
    head_unmoved = int(m.current()["version"] == head_before)
    t.sql(
        "UPDATE orders_t SET o_totalprice = o_totalprice + 1 "
        "WHERE o_orderstatus = 'O'"
    )
    # the head aggregate rides the FINAL action instead of a mid-chain
    # collect (r16, guide §2.4): the frame binds to the head manifest's
    # dirs here, and nothing commits after it
    agg_f = (
        t.sql(
            """
            SELECT CAST(COUNT(*) AS DOUBLE) AS n,
                   ROUND(SUM(o_totalprice), 2) AS total,
                   CAST(COUNT(CASE WHEN o_totalprice < 0 THEN 1 END)
                        AS DOUBLE) AS neg
            FROM orders_t
            """
        )
        .select(
            F.explode(
                F.array(
                    F.struct(
                        F.lit("neg_rows").alias("item"),
                        F.col("neg").alias("value"),
                    ),
                    F.struct(
                        F.lit("head_rows").alias("item"),
                        F.col("n").alias("value"),
                    ),
                    F.struct(
                        F.lit("head_total").alias("item"),
                        F.col("total").alias("value"),
                    ),
                )
            ).alias("p")
        )
        .select("p.item", "p.value")
    )
    return local_df(spark,
        [
            ("refused_add", float(refused_add)),
            ("refused_update", float(refused_update)),
            ("head_unmoved_by_refusals", float(head_unmoved)),
        ],
        "item string, value double",
    ).unionByName(agg_f)


@query(
    "auto_discovered_mirrors",
    oracle="""
    WITH src AS (
        SELECT 'auto_nation' AS tbl, n_nationkey AS id, n_name AS name
        FROM nation
        UNION ALL
        SELECT 'auto_region', r_regionkey, r_name FROM region
        UNION ALL
        SELECT 'auto_supplier', s_suppkey, s_name FROM supplier
    ),
    final AS (
        SELECT tbl, id,
               CASE WHEN id % 5 = 0 THEN upper(name) || '.X' ELSE name END
                   AS name
        FROM src WHERE id % 7 <> 3
    )
    SELECT tbl,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(id) AS BIGINT) AS sum_id,
           CAST(COUNT(CASE WHEN name LIKE '%.X' THEN 1 END) AS BIGINT)
               AS n_updated
    FROM final
    GROUP BY tbl
    """,
)
def auto_discovered_mirrors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-folder-path auto-discovery (r13; reference README.md:8 "will
    create tables in Iceberg when new folder paths are detected"). A
    staged root starts with TWO per-table folders (`auto_nation`,
    `auto_region`), each holding a DMS-style LOAD file plus an
    incremental changelog (update name where id%5=0 at ts=1, delete
    where id%7=3 at ts=2). ``bootstrap_discovered`` lists the root,
    synthesizes a target per folder (name = last path segment, exactly
    batch_bootstrapper.py:55), bootstraps each (changelog, mirror) pair,
    and the CDC pipeline replays each folder into its mirror. Then a
    THIRD folder (`auto_supplier`) appears and a re-run picks it up
    without re-processing the first two — the reference's poll-loop
    contract, minus the 24 h S3-inventory lag. The registered catalog
    tables (control plane) are re-pointed at the pipeline's state dirs
    (data plane) and the result aggregates THROUGH the catalog tables,
    so the oracle proves discovery, bootstrap, merge, and table wiring
    end-to-end against a per-table DuckDB recompute."""
    import os
    import re
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tabular_cdc_bootstrapper_spark.catalog import (
        bootstrap_discovered,
        discover_targets,
        point_table_to,
    )
    from tabular_cdc_bootstrapper_spark.config import EngineConfig
    from tabular_cdc_bootstrapper_spark.streaming.pipeline import (
        run_cdc_pipeline_available_now,
    )

    root = tempfile.mkdtemp(prefix="spark_graft_autodisc_")
    src_root = os.path.join(root, "staged")
    db = "cdc_disc_" + re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(root))
    specs = {
        "auto_nation": ("nation", "n_nationkey", "n_name"),
        "auto_region": ("region", "r_regionkey", "r_name"),
        "auto_supplier": ("supplier", "s_suppkey", "s_name"),
    }
    wire = pa.schema(
        [
            ("id", pa.int64()),
            ("name", pa.string()),
            ("op", pa.string()),
            ("transact_seq", pa.int64()),
        ]
    )

    def write_folder(name: str) -> None:
        base, keyc, namec = specs[name]
        pdf = (
            _t(spark, sf_dir, base)
            .select(F.col(keyc).cast("long").alias("id"), F.col(namec).alias("name"))
            .toPandas()
        )
        d = os.path.join(src_root, name)
        os.makedirs(d, exist_ok=True)
        load = pdf.assign(op="I", transact_seq=0)
        pq.write_table(
            pa.Table.from_pandas(load, schema=wire, preserve_index=False),
            os.path.join(d, "LOAD00000001.parquet"),
        )
        upd = pdf[pdf["id"] % 5 == 0].copy()
        upd["name"] = upd["name"].str.upper() + ".X"
        upd = upd.assign(op="U", transact_seq=1)
        dele = pdf[pdf["id"] % 7 == 3].assign(op="D", transact_seq=2)
        import pandas as _pd

        pq.write_table(
            pa.Table.from_pandas(
                _pd.concat([upd, dele]), schema=wire, preserve_index=False
            ),
            # dash-bearing name → matches the incremental pattern, so the
            # mirror's one-shot initial load excludes it (reference
            # batch_bootstrapper.py:85 '**/*-*')
            os.path.join(d, "2026-01-01T00-00-01.parquet"),
        )

    cfg = EngineConfig(database=db, warehouse_dir=os.path.join(root, "wh"))

    def run_pipe(target) -> None:
        schema = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(target.source_uri)
            .schema
        )
        out = run_cdc_pipeline_available_now(
            spark,
            target.source_uri,
            schema,
            os.path.join(root, "work", target.table_name),
            target,
            mirror_layout="snapshot",
        )
        loc = (out["mirror"].current() or {}).get("dir")
        if loc:
            point_table_to(spark, f"{db}.{target.table_name}", loc)

    # phase 1: two folders exist at first poll; their pipelines share
    # nothing (separate source dirs, work dirs, mirrors, catalog
    # tables), so the two CDC replays overlap from a 2-thread pool
    # (r16, guide §2.6 — the poll loop's folders are the canonical
    # "independent jobs" case)
    write_folder("auto_nation")
    write_folder("auto_region")
    bootstrap_discovered(spark, cfg, src_root)
    phase1 = discover_targets(spark, src_root)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        for f in [pool.submit(run_pipe, t) for t in phase1]:
            f.result()

    # phase 2: a NEW folder path is detected by the next poll; only the
    # newcomer is loaded (the first two pairs are untouched)
    write_folder("auto_supplier")
    bootstrap_discovered(spark, cfg, src_root)
    seen = {t.table_name for t in phase1}
    for t in discover_targets(spark, src_root):
        if t.table_name not in seen:
            run_pipe(t)

    parts = [
        spark.table(f"{db}.{name}")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("id").cast("long").alias("sum_id"),
            F.count(F.when(F.col("name").endswith(".X"), 1))
            .cast("long")
            .alias("n_updated"),
        )
        .withColumn("tbl", F.lit(name))
        .select("tbl", "n_rows", "sum_id", "n_updated")
        for name in specs
    ]
    return parts[0].unionByName(parts[1]).unionByName(parts[2])


@query(
    "partition_transform_pruning",
    oracle="""
    WITH merged AS (
        SELECT o_orderkey, o_orderdate,
               CASE WHEN o_orderkey % 7 = 0 THEN 'X'
                    ELSE o_orderstatus END AS o_orderstatus,
               o_totalprice
        FROM orders
    ),
    windowed AS (
        SELECT * FROM merged
        WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-05-31'
    )
    SELECT o_orderstatus AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM windowed
    GROUP BY o_orderstatus
    UNION ALL
    SELECT '_kept_partitions',
           CAST(COUNT(DISTINCT date_trunc('month', o_orderdate))
                AS BIGINT), CAST(0.0 AS DOUBLE)
    FROM orders
    WHERE o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-05-31'
    UNION ALL
    SELECT '_merge_touched',
           CAST(COUNT(DISTINCT date_trunc('month', o_orderdate))
                AS BIGINT), CAST(0.0 AS DOUBLE)
    FROM orders WHERE o_orderkey % 7 = 0
    """,
)
def partition_transform_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hidden-partition transform spec (r13): a ``months(o_orderdate)``
    partitioned ``VersionedBucketMirror`` — the Iceberg partition-spec
    surface beyond hash buckets (the reference's tables are Iceberg,
    README.md:8, whose specs are transforms; time-partitioned mirrors
    are the common warehouse shape). Lifecycle under oracle: initialize
    from `orders`, CDC-merge a status update (op='U' where key%7=0 —
    the merge plans its touched partitions from the batch's transform
    values, proven by the ``_merge_touched`` row = distinct order
    months of the updated keys), then a date-window ``read_pruned`` —
    the predicate on the SOURCE column maps to a partition-id range
    with no column stats recorded, so only in-window ``bucket=<month>``
    dirs are listed (``_kept_partitions`` = distinct in-window months).
    The grain is chosen to the data: months over 7 years ≈ 80
    partitions here; at 100 TB each month holds GBs and the same read
    touches |window|/|retention| of the table instead of all of it
    (days() exists for day-grain volumes — the test suite covers it)."""
    import datetime
    import tempfile

    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )
    from tabular_cdc_bootstrapper_spark.config import CdcTarget

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice"
    )
    m = VersionedBucketMirror(
        tempfile.mkdtemp(prefix="spark_graft_ptp_") + "/t",
        key_col="o_orderkey",
        partition_spec=("months", "o_orderdate"),
        keep_versions=5,
    )
    m.initialize(o)
    target = CdcTarget(
        source_uri="x", key_column="o_orderkey", ts_column="ts"
    )
    batch = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumns({"op": F.lit("U"), "ts": F.lit(1)})
    )
    rec = m.merge_batch(batch, target)
    lo, hi = datetime.date(1995, 3, 1), datetime.date(1995, 5, 31)
    kept, _total = m._pruned_buckets("o_orderdate", lo, hi)
    windowed = m.read_pruned(spark, "o_orderdate", lo, hi)
    agg = windowed.groupBy(
        F.col("o_orderstatus").alias("grp")
    ).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )
    meta = local_df(spark, 
        [
            ("_kept_partitions", len(kept), 0.0),
            ("_merge_touched", len(rec["touched_buckets"]), 0.0),
        ],
        "grp string, n_rows long, total_price double",
    )
    return agg.unionByName(meta)


@query(
    "declarative_agg_view",
    oracle="""
    WITH final AS (
        SELECT o_orderstatus,
               CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 5
                    ELSE o_totalprice END AS p
        FROM orders
        WHERE o_orderkey % 13 <> 0
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(SUM(p), 2) AS total_price
    FROM final
    GROUP BY o_orderstatus
    """,
)
def declarative_agg_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative maintained aggregate (r13, VERDICT r12 #7): a GROUP
    aggregate of a versioned table maintained by ONE
    ``readStream.format("table_changes") … writeStream.format(
    "state_table")`` statement — Spark's own checkpoint machinery, no
    foreachBatch. Three pieces compose: the change feed's
    ``emitPreimage=true`` turns every update into a D(old)+I(new)
    retraction pair (Iceberg's UPDATE_BEFORE/UPDATE_AFTER), the sink's
    ``mode=additive`` has each executor task fold its slice into signed
    per-group partials (one DuckDB aggregate per task) appended as
    sum-fold deltas, and the view's read folds base+deltas by SUM —
    order-free, so replay protection only needs the manifest batch-id
    fence. State is GROUP-cardinality: at 100 TB the stream moves
    |changed rows| and the view stores |groups|, never the corpus. A
    source mirror built from `orders` takes a DELETE (key%13=0) and a
    repricing UPDATE (key%7=0, +5); one AvailableNow drain later the
    view must equal the oracle's from-scratch GROUP BY of the mutated
    table."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.streaming.datasource import (
        register_stream_sources,
    )
    from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
        VersionedBucketMirror,
    )

    register_stream_sources(spark)
    work = tempfile.mkdtemp(prefix="spark_graft_declview_")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    a = VersionedBucketMirror(
        f"{work}/src", n_buckets=16, key_col="o_orderkey", keep_versions=10
    )
    view = VersionedBucketMirror(
        f"{work}/view",
        n_buckets=16,
        key_col="o_orderstatus",
        keep_versions=10,
        merge_on_read=True,
    )
    # the source mirror and the view baseline are independent tables:
    # overlap their bulk loads from a 2-thread pool (r16, guide §2.6)
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_a = pool.submit(a.initialize, o)
        f_v = pool.submit(
            view.initialize,
            o.groupBy("o_orderstatus").agg(
                F.count("*").cast("long").alias("n_orders"),
                F.sum("o_totalprice").cast("double").alias("total_price"),
            ),
        )
        f_a.result()
        f_v.result()
    v0 = a.history()[0]["version"]
    a.delete_where(spark, "o_orderkey % 13 = 0")
    a.update_where(
        spark, "o_orderkey % 7 = 0", {"o_totalprice": "o_totalprice + 5"}
    )
    q = (
        spark.readStream.format("table_changes")
        .option("path", a.root)
        .option("keyCols", "o_orderkey")
        .option("startingVersion", str(v0))
        .option("emitPreimage", "true")
        .load()
        .writeStream.format("state_table")
        .option("path", view.root)
        .option("mode", "additive")
        .option("groupCols", "o_orderstatus")
        .option("sumCols", "total_price=o_totalprice")
        .option("countCol", "n_orders")
        .option("checkpointLocation", f"{work}/ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return view.read(spark).select(
        "o_orderstatus",
        F.col("n_orders"),
        F.round(F.col("total_price"), 2).alias("total_price"),
    )


@query(
    "sql_pruned_dml",
    oracle="""
    WITH params AS (
        SELECT MIN(o_orderkey) AS k FROM orders
        WHERE o_orderstatus = 'O' AND o_orderdate >= DATE '1996-06-01'
    ),
    after_del AS (
        SELECT * FROM orders
        WHERE NOT COALESCE(
            o_orderstatus = 'F'
            AND o_orderdate BETWEEN DATE '1995-03-01'
                                AND DATE '1995-05-31',
            FALSE)
    ),
    after_upd AS (
        SELECT o_orderkey, o_orderdate, o_orderstatus,
               CASE WHEN o_orderkey = (SELECT k FROM params)
                    THEN o_totalprice * 2
                    ELSE o_totalprice END AS o_totalprice
        FROM after_del
    ),
    after_del2 AS (
        SELECT * FROM after_upd
        WHERE NOT COALESCE(
            o_orderdate IN (DATE '1996-01-15', DATE '1997-07-15'),
            FALSE)
    ),
    win AS (
        SELECT * FROM after_del2
        WHERE o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1996-03-31'
    )
    SELECT 'deleted_rows' AS item,
           CAST((SELECT COUNT(*) FROM orders)
                - (SELECT COUNT(*) FROM after_del) AS DOUBLE) AS value
    UNION ALL SELECT 'delete_matched_partitions', CAST((
        SELECT COUNT(DISTINCT date_trunc('month', o_orderdate))
        FROM orders
        WHERE o_orderstatus = 'F'
          AND o_orderdate BETWEEN DATE '1995-03-01' AND DATE '1995-05-31'
        ) AS DOUBLE)
    UNION ALL SELECT 'update_matched_partitions', 1.0
    UNION ALL SELECT 'updated_price', ROUND((
        SELECT SUM(o_totalprice) FROM after_upd
        WHERE o_orderkey = (SELECT k FROM params)), 2)
    UNION ALL SELECT 'inlist_sel_rows', CAST((
        SELECT COUNT(*) FROM after_upd
        WHERE o_orderdate IN (DATE '1996-01-15', DATE '1997-07-15')
        ) AS DOUBLE)
    UNION ALL SELECT 'inlist_partitions_listed', 2.0
    UNION ALL SELECT 'inlist_deleted_rows', CAST((
        SELECT COUNT(*) FROM after_upd
        WHERE o_orderdate IN (DATE '1996-01-15', DATE '1997-07-15')
        ) AS DOUBLE)
    UNION ALL SELECT 'inlist_matched_partitions', CAST((
        SELECT COUNT(DISTINCT date_trunc('month', o_orderdate))
        FROM after_upd
        WHERE o_orderdate IN (DATE '1996-01-15', DATE '1997-07-15')
        ) AS DOUBLE)
    UNION ALL SELECT 'window_rows',
        CAST((SELECT COUNT(*) FROM win) AS DOUBLE)
    UNION ALL SELECT 'window_total',
        ROUND((SELECT SUM(o_totalprice) FROM win), 2)
    UNION ALL SELECT 'window_partitions_listed', CAST((
        SELECT COUNT(DISTINCT date_trunc('month', o_orderdate)) FROM win
        ) AS DOUBLE)
    UNION ALL SELECT 'head_rows',
        CAST((SELECT COUNT(*) FROM after_del2) AS DOUBLE)
    """,
)
def sql_pruned_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WHERE-derived hidden-partition pruning through the SQL front-end
    (r14, VERDICT r13 #1 — the Iceberg hidden-partitioning contract the
    reference's tables imply, reference tabular.py:8). A
    ``MONTHS(o_orderdate)``-partitioned mirror is CTAS'd from `orders`;
    then every statement is partition-scoped SQL whose WHERE bounds the
    planner derives pruning from: a month-window DELETE (its planning
    scan lists only the window's partitions — pinned in
    tests/test_sql.py), a key-equality UPDATE, a quarter-window
    SELECT resolved through ``read_pruned`` whose physically-listed
    partition dirs are counted via ``inputFiles()`` and proven against
    the oracle's distinct-month recompute, and (r15, VERDICT r14 #4) a
    two-date IN-list SELECT + DELETE whose point-set prune lists
    exactly the two named month partitions instead of the seven-month
    [min, max] envelope. Receipts (rows deleted, partitions holding
    matches) and aggregates are all recomputed by DuckDB as plain
    relational algebra."""
    import re as _re
    import tempfile

    from tabular_cdc_bootstrapper_spark.sql import TableSql

    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderstatus", "o_totalprice"
    )
    o.createOrReplaceTempView("sql_pruned_src")
    root = tempfile.mkdtemp(prefix="spark_graft_sqlprune_")
    t = TableSql(spark)
    t.sql(
        f"CREATE TABLE ords LOCATION '{root}/t' PARTITIONED BY "
        "MONTHS(o_orderdate) KEY o_orderkey AS "
        "SELECT * FROM sql_pruned_src"
    )
    k = (
        o.filter(
            "o_orderstatus = 'O' AND o_orderdate >= DATE '1996-06-01'"
        )
        .agg(F.min("o_orderkey"))
        .collect()[0][0]
    )
    del_rec = t.sql(
        "DELETE FROM ords WHERE o_orderstatus = 'F' AND o_orderdate "
        "BETWEEN DATE '1995-03-01' AND DATE '1995-05-31'"
    )
    upd_rec = t.sql(
        f"UPDATE ords SET o_totalprice = o_totalprice * 2 "
        f"WHERE o_orderkey = {k}"
    )
    # IN-list point-set pruning (r15, VERDICT r14 #4): a two-date IN
    # SELECT physically lists exactly the two named month partitions
    # (not the 7-month [min, max] envelope), then the same IN scopes a
    # DELETE whose planning scan reports the matched partitions
    insel = t.sql(
        "SELECT o_orderkey, o_orderdate FROM ords WHERE o_orderdate IN "
        "(DATE '1996-01-15', DATE '1997-07-15')"
    )
    ords = t._table("ords")
    insel_version = ords.current()["version"]
    inlist_parts = {
        m2.group(1)
        for f in insel.inputFiles()
        if (m2 := _re.search(r"/bucket=(\d+)/", f))
    }
    del2_rec = t.sql(
        "DELETE FROM ords WHERE o_orderdate IN "
        "(DATE '1996-01-15', DATE '1997-07-15')"
    )
    win = t.sql(
        "SELECT o_orderdate, o_totalprice FROM ords "
        "WHERE o_orderdate >= DATE '1996-01-01' "
        "AND o_orderdate <= DATE '1996-03-31'"
    )
    parts_listed = {
        m.group(1)
        for f in win.inputFiles()
        if (m := _re.search(r"/bucket=(\d+)/", f))
    }
    # all four tail probes in ONE action (r16, guide §2.4): each frame
    # binds to its snapshot's dirs at call time, so deferring insel's
    # count is safe only while its pre-DELETE version is still within
    # retention — checked here, so a later extra commit fails loudly
    lag = ords.current()["version"] - insel_version
    if lag >= ords.keep_versions:
        raise RuntimeError(
            f"insel's snapshot v{insel_version} is {lag} commits behind "
            f"the head, outside keep_versions={ords.keep_versions}; "
            "count it before the later commits"
        )
    probe = {
        r["t"]: r
        for r in insel.agg(F.count("*").cast("double").alias("n"))
        .select(F.lit("insel").alias("t"), "n", F.lit(0.0).alias("s"))
        .unionByName(
            win.agg(
                F.count("*").cast("double").alias("n"),
                F.round(F.sum("o_totalprice"), 2).alias("s"),
            ).select(F.lit("win").alias("t"), "n", "s")
        )
        .unionByName(
            t.sql("SELECT COUNT(*) AS n FROM ords").select(
                F.lit("head").alias("t"),
                F.col("n").cast("double").alias("n"),
                F.lit(0.0).alias("s"),
            )
        )
        .unionByName(
            t.sql(
                f"SELECT o_totalprice FROM ords WHERE o_orderkey = {k}"
            ).select(
                F.lit("price").alias("t"),
                F.col("o_totalprice").cast("double").alias("n"),
                F.lit(0.0).alias("s"),
            )
        )
        .collect()
    }
    inlist_sel_rows = probe["insel"]["n"]
    wagg = probe["win"]
    head = probe["head"]["n"]
    upd_price = probe["price"]["n"]
    rows = [
        ("deleted_rows", float(del_rec["rows_deleted"])),
        (
            "delete_matched_partitions",
            float(len(del_rec["matched_buckets"])),
        ),
        (
            "update_matched_partitions",
            float(len(upd_rec["matched_buckets"])),
        ),
        ("updated_price", round(float(upd_price), 2)),
        ("inlist_sel_rows", float(inlist_sel_rows)),
        ("inlist_partitions_listed", float(len(inlist_parts))),
        ("inlist_deleted_rows", float(del2_rec["rows_deleted"])),
        (
            "inlist_matched_partitions",
            float(len(del2_rec["matched_buckets"])),
        ),
        ("window_rows", float(wagg["n"])),
        ("window_total", float(wagg["s"])),
        ("window_partitions_listed", float(len(parts_listed))),
        ("head_rows", float(head)),
    ]
    return local_df(spark, rows, "item string, value double")


@query(
    "schema_drift_discovery",
    oracle="""
    WITH final AS (
        SELECT n_nationkey AS id,
               CASE WHEN n_nationkey % 2 = 0
                    THEN n_name || '.v2' ELSE n_name END AS name,
               CASE WHEN n_nationkey % 2 = 0
                    THEN 'note-' || n_name ELSE NULL END AS note
        FROM nation
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(id) AS BIGINT) AS sum_id,
           CAST(COUNT(note) AS BIGINT) AS n_noted,
           CAST(COUNT(CASE WHEN name LIKE '%.v2' THEN 1 END) AS BIGINT)
               AS n_updated
    FROM final
    """,
)
def schema_drift_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema drift on an auto-discovered folder (r14, VERDICT r13 #5 —
    the back half of reference README.md:8-9's "new tables ... auto
    ingestion"): poll 1 discovers a folder whose LOAD file carries
    (id, name); poll 2 finds a later incremental batch that ADDS a
    ``note`` column (updates for even keys). The re-bootstrap widens the
    registered changelog+mirror tables (``widen_catalog_table`` — ALTER
    ADD COLUMNS from the mergeSchema-unioned inference) and the re-run
    pipeline merges the widened batch, so the catalog mirror serves the
    new column: populated for updated keys, NULL for the rest. The
    aggregate reads THROUGH the catalog table and the oracle recomputes
    it from `nation` directly."""
    import os
    import re
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tabular_cdc_bootstrapper_spark.catalog import (
        bootstrap_discovered,
        discover_targets,
        point_table_to,
    )
    from tabular_cdc_bootstrapper_spark.config import CdcTarget, EngineConfig
    from tabular_cdc_bootstrapper_spark.streaming.pipeline import (
        run_cdc_pipeline_available_now,
    )

    root = tempfile.mkdtemp(prefix="spark_graft_drift_")
    src_root = os.path.join(root, "staged")
    d = os.path.join(src_root, "drift_nation")
    os.makedirs(d)
    db = "cdc_drift_" + re.sub(r"[^A-Za-z0-9_]", "_", os.path.basename(root))
    pdf = (
        _t(spark, sf_dir, "nation")
        .select(
            F.col("n_nationkey").cast("long").alias("id"),
            F.col("n_name").alias("name"),
            F.concat(F.lit("note-"), F.col("n_name")).alias("note"),
        )
        .toPandas()
    )
    wire1 = pa.schema(
        [("id", pa.int64()), ("name", pa.string()),
         ("op", pa.string()), ("ts", pa.int64())]
    )
    load = pdf[["id", "name"]].assign(op="I", ts=0)
    pq.write_table(
        pa.Table.from_pandas(load, schema=wire1, preserve_index=False),
        os.path.join(d, "LOAD00000001.parquet"),
    )
    cfg = EngineConfig(database=db, warehouse_dir=os.path.join(root, "wh"))
    tmpl = CdcTarget(source_uri="", key_column="id", ts_column="ts")

    def poll() -> None:
        bootstrap_discovered(spark, cfg, src_root, template=tmpl)
        for t in discover_targets(spark, src_root, tmpl):
            schema = (
                spark.read.option("recursiveFileLookup", "true")
                .option("mergeSchema", "true")
                .parquet(t.source_uri)
                .schema
            )
            out = run_cdc_pipeline_available_now(
                spark,
                t.source_uri,
                schema,
                os.path.join(root, "work", t.table_name),
                t,
                mirror_layout="snapshot",
            )
            loc = (out["mirror"].current() or {}).get("dir")
            if loc:
                point_table_to(spark, f"{db}.{t.table_name}", loc)

    poll()  # first-poll schema has no `note`
    wire2 = pa.schema(
        [("id", pa.int64()), ("name", pa.string()),
         ("note", pa.string()), ("op", pa.string()), ("ts", pa.int64())]
    )
    upd = pdf[pdf["id"] % 2 == 0].copy()
    upd["name"] = upd["name"] + ".v2"
    pq.write_table(
        pa.Table.from_pandas(
            upd.assign(op="U", ts=1), schema=wire2, preserve_index=False
        ),
        os.path.join(d, "2026-01-01T00-00-01.parquet"),
    )
    poll()  # re-poll widens the registrations and merges the batch
    return spark.table(f"{db}.drift_nation").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("id").cast("long").alias("sum_id"),
        F.count("note").cast("long").alias("n_noted"),
        F.count(F.when(F.col("name").endswith(".v2"), 1))
        .cast("long")
        .alias("n_updated"),
    )


@query(
    "sql_refs_changes",
    oracle="""
    WITH half AS (
        SELECT o_orderkey, o_orderstatus FROM orders WHERE o_orderkey % 2 = 0
    ), head AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 10 = 6 THEN 'Z' ELSE o_orderstatus END
                   AS st
        FROM half WHERE o_orderkey % 10 NOT IN (4, 8)
    )
    SELECT 'tag_rows' AS item,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM half) AS value
    UNION ALL SELECT 'head_rows',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM head)
    UNION ALL SELECT 'head_z',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM head WHERE st = 'Z')
    UNION ALL SELECT 'changes_d',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM half
            WHERE o_orderkey % 10 IN (4, 8))
    UNION ALL SELECT 'changes_u',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM half
            WHERE o_orderkey % 10 = 6)
    UNION ALL SELECT 'vacuum_expired', CAST(2 AS BIGINT)
    UNION ALL SELECT 'tag_after_vacuum_rows',
           (SELECT CAST(COUNT(*) AS BIGINT) FROM half)
    """,
)
def sql_refs_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refs + change feeds driven end-to-end through the SQL dialect
    (r15): the Iceberg branch/tag DDL (``ALTER TABLE .. CREATE
    TAG/BRANCH``, ``FAST FORWARD``, ``DROP``), tag reads via ``VERSION
    AS OF '<tag>'``, the Delta-CDF ``TABLE_CHANGES(t, v1, v2)``
    table-valued read, and age-based ``VACUUM .. OLDER THAN`` — the
    reference's tables take the same ref/expiry verbs through their
    Iceberg engine (reference tabular.py:8). Lifecycle on a bucketed
    mirror CTAS'd from half of `orders`:

    v0 CTAS → TAG genesis → v1 DELETE (keys %10=4) → v2 UPDATE (status
    'Z' where %10=6) → BRANCH audit forked at v2 → a delete changelog
    (%10=8) staged ON the branch (invisible to main) → FAST FORWARD →
    head v3 → DROP BRANCH → VACUUM OLDER THAN far-future.

    Oracle-pinned: the tag still reads the FULL v0 state after head
    mutations AND after the vacuum (tags shield snapshots from expiry
    — exactly the two unpinned snapshots v1/v2 expire, v0 tagged and
    v3 the head); TABLE_CHANGES(0, 3, EXCLUDE (op, ts)) classifies
    exactly the deleted keys as D and the repriced keys as U — the
    EXCLUDE keeps the mirror's retained changelog envelope (op
    normalized to 'I' on merged rows) out of the comparison; head
    counts match DuckDB's recompute of the same mutations."""
    import tempfile

    from tabular_cdc_bootstrapper_spark.config import CdcTarget
    from tabular_cdc_bootstrapper_spark.sql import TableSql

    _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    ).createOrReplaceTempView("refs_src")
    root = tempfile.mkdtemp(prefix="spark_graft_sqlrefs_")
    t = TableSql(spark)
    t.sql(
        f"CREATE TABLE rt LOCATION '{root}/rt' "
        "PARTITIONED BY BUCKET(8, o_orderkey) "
        "AS SELECT * FROM refs_src WHERE o_orderkey % 2 = 0"
    )
    t.sql("ALTER TABLE rt CREATE TAG genesis")
    t.sql("DELETE FROM rt WHERE o_orderkey % 10 = 4")
    t.sql("UPDATE rt SET o_orderstatus = 'Z' WHERE o_orderkey % 10 = 6")
    t.sql("ALTER TABLE rt CREATE BRANCH audit")
    mirror = t._table("rt")
    staged = t.sql(
        "SELECT *, CAST(1 AS BIGINT) AS ts, 'D' AS op FROM rt "
        "WHERE o_orderkey % 10 = 8"
    )
    mirror.merge_batch(
        staged,
        CdcTarget(
            source_uri="file:///tmp/x",
            key_column="o_orderkey",
            ts_column="ts",
        ),
        branch="audit",
    )
    t.sql("ALTER TABLE rt FAST FORWARD audit")
    head_v = mirror.current()["version"]
    changes = (
        t.sql(f"SELECT _change_type FROM "
        f"TABLE_CHANGES(rt, 0, {head_v}, EXCLUDE (op, ts))")
        .groupBy("_change_type")
        .agg(F.count("*").cast("long").alias("n"))
        .collect()
    )
    by_op = {r["_change_type"]: r["n"] for r in changes}
    t.sql("ALTER TABLE rt DROP BRANCH audit")
    rec = t.sql("VACUUM rt OLDER THAN TIMESTAMP '2099-01-01'")

    # the four post-vacuum counts evaluate in ONE action (r16, guide
    # §2.4 — they were four serial collect() round-trips); each frame
    # still resolves its own ref (tag twice, head twice) post-vacuum,
    # exactly as before. The TABLE_CHANGES collect above stays
    # pre-vacuum: it reads versions the vacuum expires.
    def _nf(q: str, tag: str) -> DataFrame:
        return t.sql(q).select(
            F.lit(tag).alias("t"), F.col("n").cast("long").alias("n")
        )

    probes = (
        _nf("SELECT COUNT(*) AS n FROM rt VERSION AS OF 'genesis'", "tag")
        .unionByName(_nf("SELECT COUNT(*) AS n FROM rt", "head"))
        .unionByName(
            _nf(
                "SELECT COUNT(*) AS n FROM rt WHERE o_orderstatus = 'Z'",
                "head_z",
            )
        )
        .unionByName(
            _nf(
                "SELECT COUNT(*) AS n FROM rt VERSION AS OF 'genesis'",
                "tag2",
            )
        )
    )
    got = {r["t"]: int(r["n"]) for r in probes.collect()}
    flags = local_df(spark,
        [
            ("tag_rows", got["tag"]),
            ("head_rows", got["head"]),
            ("head_z", got["head_z"]),
            ("changes_d", int(by_op.get("D", 0))),
            ("changes_u", int(by_op.get("U", 0))),
            ("vacuum_expired", len(rec["expired_versions"])),
            ("tag_after_vacuum_rows", got["tag2"]),
        ],
        "item string, value long",
    )
    return flags
