"""TableSql — the SQL maintenance dialect over the versioned tables.

A dispatcher, not a SQL engine: statement HEADS (verb + table clause)
are parsed here; every expression inside (conditions, assignments,
sub-selects) goes through Spark's own parser. Pinned: each verb reaches
the right engine method with the right semantics, time-travel SELECTs
resolve snapshots, and malformed statements fail loudly.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.sql import TableSql, _split_top_level
from tabular_cdc_bootstrapper_spark.streaming.state_table import (
    ParquetStateTable,
)
from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
    VersionedBucketMirror,
)


def _frame(spark, n=400):
    return spark.range(0, n).select(
        "id", (F.col("id") % 7).alias("grp"), (F.col("id") * 1.5).alias("val")
    )


@pytest.fixture()
def tsql(spark, tmp_path):
    m = VersionedBucketMirror(
        str(tmp_path / "m"), n_buckets=8, key_col="id", keep_versions=10
    )
    m.initialize(_frame(spark))
    p = ParquetStateTable(str(tmp_path / "p"), keep_versions=10)
    p.commit(_frame(spark))
    return TableSql(spark, {"m": m, "p": p}), m, p


def test_split_top_level_respects_parens_and_strings():
    assert _split_top_level("a = f(x, y), b = 'p,q', c = (1,2)") == [
        "a = f(x, y)",
        "b = 'p,q'",
        "c = (1,2)",
    ]


def test_delete_update_select_roundtrip(tsql, spark):
    t, m, _ = tsql
    r = t.sql("DELETE FROM m WHERE grp = 5 AND val > 300")
    assert r["rows_deleted"] == _frame(spark).filter(
        "grp = 5 AND val > 300"
    ).count()
    r = t.sql("UPDATE m SET val = val * 2, grp = grp + 100 WHERE grp = 1;")
    assert r["rows_updated"] == _frame(spark).filter("grp = 1").count()
    rows = t.sql(
        "SELECT grp, COUNT(*) AS n FROM m WHERE grp >= 100 GROUP BY grp"
    ).collect()
    assert rows == [
        (101, _frame(spark).filter("grp = 1").count())
    ] or rows[0]["grp"] == 101


def test_select_time_travel_and_multi_table_join(tsql, spark):
    t, m, p = tsql
    t.sql("DELETE FROM m WHERE grp = 3")
    # VERSION AS OF resolves the pre-delete snapshot
    n0 = t.sql("SELECT COUNT(*) AS n FROM m VERSION AS OF 0").collect()[0][
        "n"
    ]
    assert n0 == 400
    # two registered tables in one statement (one time-traveled)
    j = t.sql(
        "SELECT COUNT(*) AS n FROM m a JOIN p b ON a.id = b.id"
    ).collect()[0]["n"]
    assert j == 400 - _frame(spark).filter("grp = 3").count()
    j0 = t.sql(
        "SELECT COUNT(*) AS n FROM m VERSION AS OF 0 a "
        "JOIN p b ON a.id = b.id"
    ).collect()[0]["n"]
    assert j0 == 400


def test_ddl_optimize_restore_vacuum(tsql, spark):
    t, m, _ = tsql
    r = t.sql("ALTER TABLE m RENAME COLUMN val TO price")
    assert r["operation"] == "alter_schema"
    s = t.sql("SELECT ROUND(SUM(price), 2) AS s FROM m").collect()[0]["s"]
    assert s == round(sum(i * 1.5 for i in range(400)), 2)
    t.sql("ALTER TABLE m ADD COLUMN note string")
    assert (
        t.sql("SELECT COUNT(*) AS n FROM m WHERE note IS NULL").collect()[0][
            "n"
        ]
        == 400
    )
    t.sql("OPTIMIZE m")  # materializes the rename fold
    assert not (m.current().get("renames") or {})
    r = t.sql("RESTORE TABLE m TO VERSION AS OF 0")
    assert r["rollback_of"] == 0
    assert t.sql("SELECT COUNT(*) AS n FROM m").collect()[0]["n"] == 400
    r = t.sql("VACUUM m RETAIN 3 VERSIONS")
    assert r["expired_versions"]
    # the restore head still reads (its dirs are shared/retained)
    assert t.sql("SELECT COUNT(*) AS n FROM m").collect()[0]["n"] == 400


def test_merge_into_with_subquery_source(tsql, spark):
    t, m, _ = tsql
    t.sql(
        """
        MERGE INTO m USING (
            SELECT id, grp, val * 0 - 5 AS val
            FROM m WHERE id < 30
        ) ON id
        WHEN MATCHED AND id % 2 = 0 THEN UPDATE SET val = src.val
        WHEN MATCHED AND id % 2 = 1 THEN DELETE
        """
    )
    got = t.sql(
        "SELECT COUNT(*) AS n FROM m WHERE val = -5"
    ).collect()[0]["n"]
    assert got == 15  # even ids 0..28
    assert (
        t.sql("SELECT COUNT(*) AS n FROM m").collect()[0]["n"]
        == 400 - 15  # odd ids 1..29 deleted
    )


def test_merge_insert_star_and_insert_suppression(tsql, spark):
    t, m, _ = tsql
    # NOT MATCHED THEN INSERT *: new keys land with source columns
    t.sql(
        """
        MERGE INTO m USING (
            SELECT id + 10000 AS id, grp, val FROM m WHERE id < 5
        ) ON id
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    assert (
        t.sql("SELECT COUNT(*) AS n FROM m WHERE id >= 10000").collect()[0][
            "n"
        ]
        == 5
    )
    # without a NOT MATCHED clause, inserts are suppressed
    t.sql(
        """
        MERGE INTO m USING (
            SELECT id + 20000 AS id, grp, val FROM m WHERE id < 5
        ) ON id
        WHEN MATCHED THEN UPDATE SET val = src.val
        """
    )
    assert (
        t.sql("SELECT COUNT(*) AS n FROM m WHERE id >= 20000").collect()[0][
            "n"
        ]
        == 0
    )


def test_plain_layout_takes_the_same_dialect(tsql, spark):
    t, _, p = tsql
    r = t.sql("DELETE FROM p WHERE grp = 2")
    assert r["rows_deleted"] == _frame(spark).filter("grp = 2").count()
    r = t.sql("UPDATE p SET val = -1.0 WHERE grp = 4")
    assert r["rows_updated"] == _frame(spark).filter("grp = 4").count()
    t.sql("ALTER TABLE p RENAME COLUMN val TO price")
    assert (
        t.sql("SELECT COUNT(*) AS n FROM p WHERE price = -1.0").collect()[0][
            "n"
        ]
        == _frame(spark).filter("grp = 4").count()
    )
    r = t.sql("RESTORE TABLE p TO VERSION AS OF 0")
    assert r.get("rollback_of") == 0


def test_errors_are_loud(tsql):
    t, _, _ = tsql
    with pytest.raises(ValueError, match="unknown table"):
        t.sql("DELETE FROM nope WHERE 1 = 1")
    with pytest.raises(ValueError, match="unconditional DELETE"):
        t.sql("DELETE FROM m")
    with pytest.raises(ValueError, match="unsupported statement"):
        t.sql("TRUNCATE TABLE m")
    with pytest.raises(ValueError, match="bad SET clause"):
        t.sql("UPDATE m SET val WHERE grp = 1")
    with pytest.raises(ValueError, match="INSERT \\*"):
        t.sql(
            "MERGE INTO m USING (SELECT 1 AS id) ON id "
            "WHEN NOT MATCHED THEN INSERT (id) VALUES (1)"
        )


def test_merge_first_match_wins_ordering(tsql, spark):
    # SQL MERGE is first-match-wins: rows matching the UPDATE clause's
    # condition must NOT be swallowed by a later unconditional DELETE
    t, m, _ = tsql
    t.sql(
        """
        MERGE INTO m USING (
            SELECT id, val FROM m WHERE id < 20
        ) ON id
        WHEN MATCHED AND id % 2 = 0 THEN UPDATE SET val = src.val + 10000
        WHEN MATCHED THEN DELETE
        """
    )
    got = t.sql(
        "SELECT COUNT(*) AS n FROM m WHERE val >= 10000"
    ).collect()[0]["n"]
    assert got == 10  # even ids 0..18 updated, NOT deleted
    assert (
        t.sql("SELECT COUNT(*) AS n FROM m").collect()[0]["n"]
        == 400 - 10  # only the odd ids 1..19 deleted
    )
    # duplicate same-kind clauses are refused, not silently folded
    with pytest.raises(ValueError, match="at most one"):
        t.sql(
            "MERGE INTO m USING (SELECT id, val FROM m WHERE id < 2) ON id "
            "WHEN MATCHED AND id = 0 THEN UPDATE SET val = src.val "
            "WHEN MATCHED THEN UPDATE SET val = src.val"
        )


def test_merge_case_when_expressions_parse(tsql, spark):
    # CASE WHEN inside a SET value must not be split as a WHEN clause
    t, m, _ = tsql
    t.sql(
        """
        MERGE INTO m USING (
            SELECT id, val FROM m WHERE id < 10
        ) ON id
        WHEN MATCHED THEN UPDATE SET
            val = CASE WHEN src.val > 5 THEN -100 ELSE -200 END
        """
    )
    rows = t.sql(
        "SELECT COUNT(*) AS n FROM m WHERE val IN (-100, -200)"
    ).collect()[0]["n"]
    assert rows == 10


def test_select_table_name_inside_string_literal_untouched(tsql, spark):
    t, _, _ = tsql
    # 'm' inside a quoted literal is DATA, not a table reference
    rows = t.sql(
        "SELECT COUNT(*) AS n FROM m WHERE 'm' = 'm'"
    ).collect()[0]["n"]
    assert rows == 400
    got = t.sql("SELECT 'm VERSION AS OF 0' AS s FROM m LIMIT 1").collect()
    assert got[0]["s"] == "m VERSION AS OF 0"


def test_select_cte_name_collision_is_loud(tsql):
    t, _, _ = tsql
    with pytest.raises(ValueError, match="CTE name"):
        t.sql("WITH m AS (SELECT 1 AS x) SELECT * FROM m")


def test_timestamp_as_of_is_utc(tsql, spark):
    import datetime as dt

    t, m, _ = tsql
    ts0 = m.current()["ts"]
    t.sql("DELETE FROM m WHERE grp = 1")
    # a naive ISO timestamp between the two commits reads as UTC
    stamp = (
        dt.datetime.fromtimestamp(ts0 + 0.001, dt.timezone.utc)
        .strftime("%Y-%m-%dT%H:%M:%S.%f")
    )
    n = t.sql(
        f"SELECT COUNT(*) AS n FROM m TIMESTAMP AS OF '{stamp}'"
    ).collect()[0]["n"]
    assert n == 400


def test_optimize_plain_layout_full_rewrite(tsql, spark):
    t, _, p = tsql
    t.sql("ALTER TABLE p RENAME COLUMN val TO price")
    assert p.current().get("renames")
    rec = t.sql("OPTIMIZE p")
    assert rec.get("operation") == "optimize"
    assert not p.current().get("renames")  # fold materialized
    assert t.sql("SELECT COUNT(*) AS n FROM p").collect()[0]["n"] == 400


def test_create_drop_describe_show(tsql, spark, tmp_path):
    t, m, _ = tsql
    # CTAS into a bucketed mirror
    rec = t.sql(
        f"CREATE TABLE top LOCATION '{tmp_path}/top' "
        "PARTITIONED BY BUCKET(4, id) "
        "AS SELECT id, val FROM m WHERE grp = 0"
    )
    assert rec["n_buckets"] == 4
    n = t.sql("SELECT COUNT(*) AS n FROM top").collect()[0]["n"]
    assert n == _frame(spark).filter("grp = 0").count()
    # the new table takes the full dialect (DML + history)
    t.sql("DELETE FROM top WHERE id < 7")
    hist = t.sql("DESCRIBE HISTORY top").collect()
    assert [r["version"] for r in hist] == sorted(
        r["version"] for r in hist
    )
    assert hist[-1]["is_current"] and hist[-1]["operation"] == "delete_where"
    # CTAS into a plain snapshot table (no BUCKET clause)
    t.sql(
        f"CREATE TABLE flat LOCATION '{tmp_path}/flat' "
        "AS SELECT grp, COUNT(*) AS n FROM m GROUP BY grp"
    )
    assert t.sql("SELECT COUNT(*) AS n FROM flat").collect()[0]["n"] == 7
    names = [r["name"] for r in t.sql("SHOW TABLES").collect()]
    assert {"m", "p", "top", "flat"} <= set(names)
    # guards: duplicate name, non-empty location, unknown drop
    with pytest.raises(ValueError, match="already registered"):
        t.sql(
            f"CREATE TABLE top LOCATION '{tmp_path}/x' AS SELECT 1 AS a"
        )
    with pytest.raises(ValueError, match="not empty"):
        t.sql(
            f"CREATE TABLE other LOCATION '{tmp_path}/top' "
            "AS SELECT 1 AS a"
        )
    # DROP unregisters but never deletes data; an unregistered name
    # falls through to Spark's own (loud) resolution error
    t.sql("DROP TABLE top")
    from pyspark.errors.exceptions.captured import AnalysisException

    with pytest.raises(AnalysisException):
        t.sql("SELECT * FROM top WHERE 1 = 1")
    import os

    assert os.path.isdir(f"{tmp_path}/top/data")


def test_insert_values_both_layouts(tsql, spark):
    """INSERT INTO ... VALUES: append lands as its own commit on both
    layouts; VERSION AS OF time travel shows the pre-insert state."""
    t, m, p = tsql
    for name, tbl in (("m", m), ("p", p)):
        v0 = tbl.current()["version"]
        r = t.sql(
            f"INSERT INTO {name} VALUES (1000, 3, 1.5), (1001, 4, 2.5)"
        )
        assert r["rows_inserted"] == 2
        got = t.sql(
            f"SELECT id, grp, val FROM {name} WHERE id >= 1000 ORDER BY id"
        ).collect()
        assert [(x["id"], x["grp"], x["val"]) for x in got] == [
            (1000, 3, 1.5),
            (1001, 4, 2.5),
        ]
        # pre-insert snapshot is intact
        assert (
            t.sql(
                f"SELECT COUNT(*) AS n FROM {name} VERSION AS OF {v0} "
                "WHERE id >= 1000"
            ).collect()[0]["n"]
            == 0
        )
    # bucketed layout: only the buckets the new keys hash into rewrote
    assert len(r and t.sql("SELECT * FROM m WHERE id >= 1000").columns) > 0


def test_insert_column_list_fills_nulls_and_casts(tsql, spark):
    t, m, _ = tsql
    r = t.sql("INSERT INTO m (id, grp) VALUES (2000, 9)")
    assert r["rows_inserted"] == 1
    row = t.sql("SELECT * FROM m WHERE id = 2000").collect()[0]
    assert row["grp"] == 9 and row["val"] is None
    # value cast to the column's existing type (int literal → double col)
    t.sql("INSERT INTO m (id, val) VALUES (2001, 7)")
    row = t.sql("SELECT * FROM m WHERE id = 2001").collect()[0]
    assert row["val"] == 7.0 and row["grp"] is None


def test_insert_select_reads_registered_tables(tsql, spark):
    t, m, p = tsql
    r = t.sql(
        "INSERT INTO p SELECT id + 10000, grp, val FROM m WHERE id < 5"
    )
    assert r["rows_inserted"] == 5
    assert (
        t.sql("SELECT COUNT(*) AS n FROM p WHERE id >= 10000").collect()[0][
            "n"
        ]
        == 5
    )


def test_insert_duplicate_key_refused_on_bucketed(tsql, spark):
    t, m, _ = tsql
    with pytest.raises(ValueError, match="already exist"):
        t.sql("INSERT INTO m VALUES (7, 0, 0.0)")
    # the refused insert left no commit behind
    assert (
        t.sql("SELECT COUNT(*) AS n FROM m WHERE id = 7").collect()[0]["n"]
        == 1
    )


def test_insert_respects_check_constraints(tsql, spark):
    from tabular_cdc_bootstrapper_spark.streaming._protocol import (
        ConstraintViolation,
    )

    t, m, p = tsql
    m.add_constraint(spark, "val_nonneg", "val IS NULL OR val >= 0")
    with pytest.raises(ConstraintViolation):
        t.sql("INSERT INTO m VALUES (3000, 1, -5.0)")
    p.add_constraint(spark, "val_nonneg", "val IS NULL OR val >= 0")
    with pytest.raises(ConstraintViolation):
        t.sql("INSERT INTO p VALUES (3000, 1, -5.0)")
    # valid rows still pass the gate
    assert t.sql("INSERT INTO m VALUES (3000, 1, 5.0)")["rows_inserted"] == 1


def test_insert_errors_are_loud(tsql):
    t, _, _ = tsql
    with pytest.raises(ValueError, match="unknown column"):
        t.sql("INSERT INTO m (id, nope) VALUES (1, 2)")
    with pytest.raises(ValueError, match="column"):
        t.sql("INSERT INTO m (id, grp) VALUES (1, 2, 3)")
    with pytest.raises(ValueError, match="expected: INSERT"):
        t.sql("INSERT m VALUES (1)")
    with pytest.raises(ValueError, match="unknown table"):
        t.sql("INSERT INTO nope VALUES (1)")


def test_ctas_transform_partitioning_and_show_partitions(tsql, spark, tmp_path):
    """r13: CTAS takes the Iceberg transform spec surface — a
    MONTHS(col)-partitioned mirror lands one partition per month, takes
    the full dialect (INSERT with the dup-probe, time travel), and
    SHOW PARTITIONS reports the manifest's partition map."""
    t, _, _ = tsql
    loc = str(tmp_path / "ctas_months")
    rec = t.sql(
        f"CREATE TABLE ev LOCATION '{loc}' "
        "PARTITIONED BY MONTHS(d) KEY id AS "
        "SELECT id, CAST(CONCAT('1995-0', CAST(id % 3 + 1 AS STRING), "
        "'-15') AS DATE) AS d, val FROM m WHERE id < 30"
    )
    # months ids: (1995-1970)*12 + {0,1,2}
    assert sorted(int(b) for b in rec["buckets"]) == [300, 301, 302]
    parts = t.sql("SHOW PARTITIONS ev").collect()
    assert [r["partition"] for r in parts] == [300, 301, 302]
    assert all(r["spec"] == "months/d" for r in parts)
    r = t.sql("INSERT INTO ev VALUES (1000, DATE'1996-06-01', 9.0)")
    assert r["rows_inserted"] == 1 and r["touched_buckets"] == [317]
    assert (
        t.sql("SELECT COUNT(*) AS n FROM ev").collect()[0]["n"] == 31
    )
    # truncate spec + errors
    loc2 = str(tmp_path / "ctas_trunc")
    rec2 = t.sql(
        f"CREATE TABLE tr LOCATION '{loc2}' "
        "PARTITIONED BY TRUNCATE(id, 100) KEY id AS "
        "SELECT id, val FROM m WHERE id < 250"
    )
    assert sorted(int(b) for b in rec2["buckets"]) == [0, 100, 200]
    with pytest.raises(ValueError, match="not in the SELECT"):
        t.sql(
            f"CREATE TABLE bad LOCATION '{tmp_path / 'b'}' "
            "PARTITIONED BY DAYS(nope) AS SELECT id FROM m"
        )
    with pytest.raises(ValueError, match="SHOW TABLES"):
        t.sql("SHOW COLUMNS")


def test_ctas_key_clause_errors(tsql, tmp_path):
    t, _, _ = tsql
    with pytest.raises(ValueError, match="redundant with BUCKET"):
        t.sql(
            f"CREATE TABLE b1 LOCATION '{tmp_path / 'b1'}' "
            "PARTITIONED BY BUCKET(8, id) KEY id AS SELECT id FROM m"
        )
    # transform spec without KEY and without an 'id' column: the error
    # names the hidden default and the fix
    with pytest.raises(ValueError, match="add KEY"):
        t.sql(
            f"CREATE TABLE b2 LOCATION '{tmp_path / 'b2'}' "
            "PARTITIONED BY IDENTITY(grp) AS SELECT grp, val FROM m"
        )


# ---------------------------------------------------------------------------
# r14: WHERE-derived partition pruning in the SQL front-end (VERDICT r13 #1).
# ---------------------------------------------------------------------------


def _capture_plan_buckets(monkeypatch, m):
    """Record the ``buckets=`` list of every ``_read_entry`` call — the
    listing scope of the DML planning scan and of reads."""
    calls: list[list[int] | None] = []
    orig = type(m)._read_entry

    def spy(self, spark, e, buckets=None):
        calls.append(sorted(int(b) for b in buckets) if buckets else None)
        return orig(self, spark, e, buckets=buckets)

    monkeypatch.setattr(type(m), "_read_entry", spy)
    return calls


@pytest.fixture()
def months_tsql(spark, tmp_path):
    """A months(d)-partitioned mirror spanning 1995-01..1995-06."""
    m = VersionedBucketMirror(
        str(tmp_path / "mt"),
        key_col="id",
        partition_spec=("months", "d"),
        keep_versions=10,
    )
    df = spark.range(0, 600).select(
        "id",
        F.date_add(
            F.to_date(F.lit("1995-01-01")), (F.col("id") % 180).cast("int")
        ).alias("d"),
        (F.col("id") % 9).alias("grp"),
    )
    m.initialize(df)
    return TableSql(spark, {"mt": m}), m


def test_sql_delete_prunes_to_transform_partitions(
    months_tsql, spark, monkeypatch
):
    t, m = months_tsql
    jan, feb = 25 * 12 + 0, 25 * 12 + 1  # (1995-1970)*12 + month-1
    before = {r["id"] for r in m.read(spark).collect()}
    calls = _capture_plan_buckets(monkeypatch, m)
    r = t.sql(
        "DELETE FROM mt WHERE d BETWEEN DATE '1995-01-10' "
        "AND DATE '1995-02-20' AND grp = 3"
    )
    # the PLANNING scan listed only the Jan+Feb partitions (six live)
    assert calls[0] is not None and set(calls[0]) <= {jan, feb}
    want_gone = {i for i in before if i % 9 == 3 and 9 <= i % 180 <= 50}
    assert r["rows_deleted"] == len(want_gone)
    assert {r["id"] for r in m.read(spark).collect()} == before - want_gone


def test_sql_update_key_equality_plans_single_bucket(
    tsql, spark, monkeypatch
):
    t, m, _ = tsql
    b = m._key_bucket(123)
    assert b is not None
    calls = _capture_plan_buckets(monkeypatch, m)
    r = t.sql("UPDATE m SET val = -1 WHERE id = 123")
    assert r["rows_updated"] == 1
    assert calls[0] == [b]  # planning read ONE bucket of 8
    assert r["matched_buckets"] == [b]
    got = t.sql("SELECT val FROM m WHERE id = 123").collect()
    assert got[0]["val"] == -1.0


def test_sql_select_resolves_through_pruned_read(
    months_tsql, spark, monkeypatch
):
    t, m = months_tsql
    mar = 25 * 12 + 2
    seen: list[tuple] = []
    orig = type(m).read_pruned

    def spy(self, spark_, col, lower=None, upper=None, version=None):
        seen.append((col, lower, upper))
        return orig(self, spark_, col, lower, upper, version)

    monkeypatch.setattr(type(m), "read_pruned", spy)
    df = t.sql(
        "SELECT grp, COUNT(*) AS n FROM mt "
        "WHERE d >= DATE '1995-03-05' AND d <= DATE '1995-03-25' "
        "GROUP BY grp ORDER BY grp"
    )
    rows = df.collect()
    assert seen == [("d", "1995-03-05", "1995-03-25")]
    # only March's dir is listed physically
    assert all(f"/bucket={mar}/" in f for f in df.inputFiles())
    # exact vs the unpruned recompute
    monkeypatch.setattr(type(m), "read_pruned", orig)
    want = (
        m.read(spark)
        .filter("d >= DATE '1995-03-05' AND d <= DATE '1995-03-25'")
        .groupBy("grp")
        .agg(F.count("*").alias("n"))
        .orderBy("grp")
        .collect()
    )
    assert rows == want


def test_sql_prune_never_misfires(months_tsql, tsql, spark):
    """Statements whose WHERE cannot be safely bounded must read
    unpruned and stay exact: OR, subqueries, expressions over the
    column, mistyped literals, multi-table SELECTs."""
    t, m = months_tsql
    full = m.read(spark).count()
    # OR disables derivation (bounds are not necessary conditions)
    assert t._derive_prune(m, "d >= DATE '1995-03-01' OR grp = 1") is None
    # expression on the column contributes no bound
    assert t._derive_prune(m, "date_add(d, 40) = DATE '1995-03-01'") is None
    # mistyped literal (numeric on a date column) must not prune
    assert t._derive_prune(m, "d >= 42") is None
    # a string containing ' and ' is data, not a connective
    assert t._derive_prune(m, "grp = 'a and b'") is None
    # qualified references never contribute bounds: the qualifier may
    # be a struct column or another relation — `meta.d` must not prune
    # the table's own `d` (r14 review)
    assert t._derive_prune(m, "meta.d >= DATE '1995-03-01'") is None
    assert (
        t._derive_prune(m, "meta.d BETWEEN DATE '1995-03-01' AND DATE '1995-03-31'")
        is None
    )
    # SELECT derivation bails on multi-relation FROMs — a JOINed temp
    # view's same-named column must never prune the registered table
    import re as _re

    pat = _re.compile(
        r"('(?:[^']|'')*')|" + type(t)._TT.format(names="mt"), _re.I
    )
    assert (
        t._select_prune_hint(
            "SELECT * FROM mt JOIN other ON mt.id = other.id "
            "WHERE d >= DATE '1995-03-01'",
            pat,
        )
        is None
    )
    assert (
        t._select_prune_hint(
            "SELECT * FROM mt, other WHERE d >= DATE '1995-03-01'", pat
        )
        is None
    )
    n = t.sql(
        "SELECT COUNT(*) AS n FROM mt WHERE d >= DATE '1995-05-01' "
        "OR d < DATE '1995-02-01'"
    ).collect()[0]["n"]
    want = m.read(spark).filter(
        "d >= DATE '1995-05-01' OR d < DATE '1995-02-01'"
    ).count()
    assert n == want and full == 600
    # key inequality on the hash layout: no prune, full result
    t2, m2, _ = tsql
    assert t2._derive_prune(m2, "id >= 10") == ("id", 10, None) or (
        t2._derive_prune(m2, "id >= 10") is None
    )
    got = t2.sql("SELECT COUNT(*) AS n FROM m WHERE id >= 390").collect()
    assert got[0]["n"] == 10


def test_sql_select_version_as_of_composes_with_pruning(
    months_tsql, spark, monkeypatch
):
    """VERSION AS OF + WHERE bounds resolve through read_pruned(version=)
    — the time-traveled manifest prunes, and the result is the OLD
    state (r14)."""
    t, m = months_tsql
    v0 = m.current()["version"]
    pre = m.read(spark).filter(
        "d BETWEEN DATE '1995-02-01' AND DATE '1995-02-28'"
    ).count()
    t.sql(
        "DELETE FROM mt WHERE d BETWEEN DATE '1995-02-01' "
        "AND DATE '1995-02-28'"
    )
    seen = []
    orig = type(m).read_pruned

    def spy(self, spark_, col, lower=None, upper=None, version=None):
        seen.append((col, lower, upper, version))
        return orig(self, spark_, col, lower, upper, version)

    monkeypatch.setattr(type(m), "read_pruned", spy)
    n_now = t.sql(
        "SELECT COUNT(*) AS n FROM mt WHERE d >= DATE '1995-02-01' "
        "AND d <= DATE '1995-02-28'"
    ).collect()[0]["n"]
    n_then = t.sql(
        f"SELECT COUNT(*) AS n FROM mt VERSION AS OF {v0} "
        "WHERE d >= DATE '1995-02-01' AND d <= DATE '1995-02-28'"
    ).collect()[0]["n"]
    assert n_now == 0 and n_then == pre > 0
    assert seen == [
        ("d", "1995-02-01", "1995-02-28", None),
        ("d", "1995-02-01", "1995-02-28", v0),
    ]


def test_select_prune_ignores_where_inside_string_literal(
    months_tsql, spark
):
    """r14 review (critical): a string literal containing 'WHERE col =
    lit' must never poison the derived bounds — the clause is located on
    the literal-MASKED statement."""
    t, m = months_tsql
    rows = t.sql(
        "SELECT 'flag WHERE grp = 7 AND ' AS note, COUNT(*) AS n "
        "FROM mt WHERE d >= DATE '1995-03-01' AND d <= DATE '1995-03-31'"
    ).collect()
    want = m.read(spark).filter(
        "d >= DATE '1995-03-01' AND d <= DATE '1995-03-31'"
    ).count()
    assert rows[0]["n"] == want and want > 0


def test_timestamp_prune_respects_session_timezone(spark, tmp_path):
    """r14 review: Spark evaluates a naive TIMESTAMP literal in the
    SESSION zone while the transform twin is UTC-pinned — the deriver
    must convert the bound through the session zone or a boundary
    partition holding matching rows is wrongly pruned (silent DELETE
    misses)."""
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Asia/Karachi")  # +5
        m = VersionedBucketMirror(
            str(tmp_path / "tzp"),
            key_col="id",
            partition_spec=("days", "ts"),
            keep_versions=10,
        )
        import datetime as dt

        def utc(*a):
            return int(
                dt.datetime(*a, tzinfo=dt.timezone.utc).timestamp()
            )

        # row at 2024-01-01T20:00Z = 2024-01-02T01:00 Karachi — matches
        # `ts >= TIMESTAMP '2024-01-02 00:00:00'` (session-zone bound =
        # 2024-01-01T19:00Z) but lives in UTC partition 2024-01-01
        df = spark.createDataFrame(
            [(1, utc(2024, 1, 1, 20, 0)), (2, utc(2024, 1, 2, 12, 0)),
             (3, utc(2024, 1, 1, 10, 0))],
            "id long, sec long",
        ).select("id", F.timestamp_seconds("sec").alias("ts"))
        m.initialize(df)
        t = TableSql(spark, {"tz": m})
        r = t.sql(
            "DELETE FROM tz WHERE ts >= TIMESTAMP '2024-01-02 00:00:00'"
        )
        # rows 1 AND 2 match under the session zone; a UTC-naive prune
        # would have dropped the 2024-01-01 partition and missed row 1
        assert r["rows_deleted"] == 2
        assert sorted(
            x["id"] for x in m.read(spark).collect()
        ) == [3]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_sql_select_timestamp_as_of_composes_with_pruning(
    months_tsql, spark, monkeypatch
):
    """TIMESTAMP AS OF + WHERE bounds resolve the timestamp to its
    manifest version and prune against THAT manifest (r14) — result is
    the pre-delete state, read through read_pruned(version=v0)."""
    import datetime as dt
    import time

    t, m = months_tsql
    v0 = m.current()["version"]
    time.sleep(0.05)
    t_mid = time.time()
    time.sleep(0.05)
    pre = m.read(spark).filter(
        "d BETWEEN DATE '1995-04-01' AND DATE '1995-04-30'"
    ).count()
    t.sql(
        "DELETE FROM mt WHERE d BETWEEN DATE '1995-04-01' "
        "AND DATE '1995-04-30'"
    )
    seen = []
    orig = type(m).read_pruned

    def spy(self, spark_, col, lower=None, upper=None, version=None):
        seen.append(version)
        return orig(self, spark_, col, lower, upper, version)

    monkeypatch.setattr(type(m), "read_pruned", spy)
    iso = dt.datetime.fromtimestamp(t_mid, tz=dt.timezone.utc).isoformat()
    n_then = t.sql(
        f"SELECT COUNT(*) AS n FROM mt TIMESTAMP AS OF '{iso}' "
        "WHERE d >= DATE '1995-04-01' AND d <= DATE '1995-04-30'"
    ).collect()[0]["n"]
    assert n_then == pre > 0
    assert seen == [v0]


def test_alter_partitioned_by_regrains(tsql, spark, tmp_path):
    """ALTER TABLE t PARTITIONED BY <spec> (r15): partition-spec
    evolution as one statement — transform ↔ hash both ways, pruned
    reads follow the new grain, history keeps the old one."""
    t, m, _ = tsql
    # hash → identity(grp): 7 identity partitions
    r = t.sql("ALTER TABLE m PARTITIONED BY IDENTITY(grp)")
    assert r["partition_spec"] == ["identity", "grp"]
    assert len(m.current()["buckets"]) == 7
    assert (
        t.sql("SELECT COUNT(*) AS n FROM m WHERE grp = 3").collect()[0]["n"]
        == _frame(spark).filter("grp = 3").count()
    )
    # identity → BUCKET(16): back to hash under a chosen count
    r = t.sql("ALTER TABLE m PARTITIONED BY BUCKET(16)")
    assert "partition_spec" not in r and r["n_buckets"] == 16
    assert t.sql("SELECT COUNT(*) AS n FROM m").collect()[0]["n"] == 400
    # plain snapshot tables refuse
    with pytest.raises(ValueError, match="not a partitioned mirror"):
        t.sql("ALTER TABLE p PARTITIONED BY IDENTITY(grp)")
    with pytest.raises(ValueError, match="BUCKET"):
        t.sql("ALTER TABLE m PARTITIONED BY BUCKET(16, id)")


def test_optimize_zorder_through_sql(tsql, spark):
    """OPTIMIZE t ZORDER BY (a, b) through the dialect (VERDICT r14
    #7): the rewrite lands z-ordered bytes — each bucket's files carry
    clustered (narrow-range) stats on both dims afterwards."""
    t, m, _ = tsql
    rec = t.sql("OPTIMIZE m ZORDER BY (grp, val)")
    assert rec["version"] == m.current()["version"]
    assert t.sql("SELECT COUNT(*) AS n FROM m").collect()[0]["n"] == 400


def test_sql_in_list_delete_prunes_to_named_partitions(
    months_tsql, spark, monkeypatch
):
    """IN-list point-set pruning (r15, VERDICT r14 #4): a DELETE scoped
    by ``d IN (..)`` plans against ONLY the named partitions — the
    union of each literal's own prune, not the [min, max] envelope
    (which would sweep in February here)."""
    t, m = months_tsql
    jan, mar = 25 * 12 + 0, 25 * 12 + 2
    before = {r["id"] for r in m.read(spark).collect()}
    calls = _capture_plan_buckets(monkeypatch, m)
    r = t.sql(
        "DELETE FROM mt WHERE d IN (DATE '1995-01-10', DATE '1995-03-05') "
        "AND grp = 2"
    )
    assert calls[0] is not None and set(calls[0]) <= {jan, mar}
    # offsets: 1995-01-10 = day 9, 1995-03-05 = day 63 since 1995-01-01
    want_gone = {i for i in before if i % 9 == 2 and (i % 180) in (9, 63)}
    assert r["rows_deleted"] == len(want_gone)
    assert {r["id"] for r in m.read(spark).collect()} == before - want_gone


def test_sql_key_in_list_plans_point_buckets(tsql, spark, monkeypatch):
    """A key IN-list on the hash layout unions the per-key point-hash
    prunes — the planning scan lists at most the keys' own buckets."""
    t, m, _ = tsql
    assert t._derive_prune(m, "id IN (7, 123)") == ("id", [7, 123], None)
    bs = {m._key_bucket(7), m._key_bucket(123)}
    calls = _capture_plan_buckets(monkeypatch, m)
    r = t.sql("UPDATE m SET val = -1 WHERE id IN (7, 123)")
    assert r["rows_updated"] == 2
    assert calls[0] is not None and set(calls[0]) <= bs
    got = t.sql(
        "SELECT COUNT(*) AS n FROM m WHERE val = -1"
    ).collect()[0]["n"]
    assert got == 2


def test_sql_select_in_list_through_pruned_read(months_tsql, spark):
    t, m = months_tsql
    jan, mar = 25 * 12 + 0, 25 * 12 + 2
    df = t.sql(
        "SELECT COUNT(*) AS n FROM mt "
        "WHERE d IN (DATE '1995-03-05', DATE '1995-01-10')"
    )
    assert df.collect()[0]["n"] == m.read(spark).filter(
        "d IN (DATE '1995-03-05', DATE '1995-01-10')"
    ).count()
    files = df.inputFiles()
    assert files and all(
        f"/bucket={jan}/" in f or f"/bucket={mar}/" in f for f in files
    )


def test_sql_in_list_prune_guards(months_tsql, spark):
    """IN shapes that cannot be safely bounded contribute nothing (or
    disable derivation) and stay exact through the unpruned path."""
    t, m = months_tsql
    # non-literal element: the point set would not be a superset
    assert t._derive_prune(m, "d IN (DATE '1995-01-10', other_col)") is None
    # NOT IN: NOT disables derivation entirely
    assert t._derive_prune(m, "d NOT IN (DATE '1995-01-10')") is None
    # IN (SELECT ...): subqueries disable derivation entirely
    assert t._derive_prune(m, "d IN (SELECT d FROM x)") is None
    # qualified references contribute nothing
    assert t._derive_prune(m, "meta.d IN (DATE '1995-01-10')") is None
    # mistyped literals (numeric points on a date column) never prune
    assert t._derive_prune(m, "d IN (1, 2)") is None
    # conjunct composition: IN + range pick the better pruner, exactly
    hint = t._derive_prune(
        m, "d IN (DATE '1995-01-10') AND grp = 2"
    )
    assert hint == ("d", ["1995-01-10"], None)
    n = t.sql(
        "SELECT COUNT(*) AS n FROM mt "
        "WHERE d IN (DATE '1995-01-10', DATE '1995-03-05') AND grp = 2"
    ).collect()[0]["n"]
    assert n == m.read(spark).filter(
        "d IN (DATE '1995-01-10', DATE '1995-03-05') AND grp = 2"
    ).count()


def test_sql_or_of_equalities_folds_to_point_set(
    months_tsql, tsql, spark, monkeypatch
):
    """``c = a OR c = b`` ≡ ``c IN (a, b)`` (r15 follow-up to the
    IN-list prune): same-column equality disjunctions — bare or
    parenthesized beside other conjuncts — prune as point sets."""
    t, m = months_tsql
    jan, mar = 25 * 12 + 0, 25 * 12 + 2
    # bare whole-condition disjunction
    assert t._derive_prune(
        m, "d = DATE '1995-01-10' OR d = DATE '1995-03-05'"
    ) == ("d", ["1995-01-10", "1995-03-05"], None)
    # parenthesized group beside another conjunct; reversed operands
    assert t._derive_prune(
        m, "(d = DATE '1995-01-10' OR DATE '1995-03-05' = d) AND grp = 2"
    ) == ("d", ["1995-01-10", "1995-03-05"], None)
    df = t.sql(
        "SELECT COUNT(*) AS n FROM mt "
        "WHERE d = DATE '1995-01-10' OR d = DATE '1995-03-05'"
    )
    assert df.collect()[0]["n"] == m.read(spark).filter(
        "d = DATE '1995-01-10' OR d = DATE '1995-03-05'"
    ).count()
    files = df.inputFiles()
    assert files and all(
        f"/bucket={jan}/" in f or f"/bucket={mar}/" in f for f in files
    )
    # DML: the planning scan lists only the named partitions
    before = {r["id"] for r in m.read(spark).collect()}
    calls = _capture_plan_buckets(monkeypatch, m)
    r = t.sql(
        "DELETE FROM mt WHERE (d = DATE '1995-01-10' "
        "OR d = DATE '1995-03-05') AND grp = 2"
    )
    assert calls[0] is not None and set(calls[0]) <= {jan, mar}
    want_gone = {i for i in before if i % 9 == 2 and (i % 180) in (9, 63)}
    assert r["rows_deleted"] == len(want_gone)
    # key equalities on the hash layout union point-hash buckets
    t2, m2, _ = tsql
    assert t2._derive_prune(m2, "id = 7 OR id = 123") == (
        "id", [7, 123], None,
    )


def test_sql_or_fold_guards(months_tsql, spark):
    """OR shapes that are NOT a same-column equality disjunction still
    disable derivation — their bounds are not necessary conditions —
    and the statement stays exact through the unpruned read."""
    t, m = months_tsql
    # two different columns
    assert t._derive_prune(m, "d = DATE '1995-01-10' OR grp = 1") is None
    # non-equality disjunct
    assert (
        t._derive_prune(m, "d = DATE '1995-01-10' OR d > DATE '1995-03-01'")
        is None
    )
    # qualified reference inside the disjunction
    assert (
        t._derive_prune(m, "meta.d = DATE '1995-01-10' OR d = DATE '1995-03-05'")
        is None
    )
    # AND inside a disjunct (precedence: the OR is the top level)
    assert (
        t._derive_prune(
            m, "d = DATE '1995-01-10' OR d = DATE '1995-03-05' AND grp = 1"
        )
        is None
    )
    # a non-literal RHS voids the fold
    assert t._derive_prune(m, "d = DATE '1995-01-10' OR d = other_col") is None
    # string literal containing ' or ' is data, not a connective
    assert t._derive_prune(m, "grp = 'a or b'") is None
    # NULL/TRUE keywords never become the folded column
    assert t._derive_prune(m, "TRUE = d OR d = DATE '1995-03-05'") is None
    # the guarded statement still answers exactly
    n = t.sql(
        "SELECT COUNT(*) AS n FROM mt WHERE d = DATE '1995-01-10' "
        "OR grp = 1"
    ).collect()[0]["n"]
    assert n == m.read(spark).filter(
        "d = DATE '1995-01-10' OR grp = 1"
    ).count()


def test_sql_prune_soundness_property(months_tsql, spark):
    """Property: whatever prune ``_derive_prune`` does or does not
    derive, a SELECT through the SQL front-end answers EXACTLY like the
    unpruned read filtered by the same condition — over hypothesis-
    generated conjunctions of ranges, equalities, BETWEENs, IN-lists,
    and OR groups (foldable and not) — each also read through VERSION
    AS OF 0 and through a tag ref (r15), so historical prunes bind to
    the right manifest. This is the safety net for the prune parser as
    it grows: a wrong prune shows up as a dropped partition, i.e. a
    count mismatch."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    t, m = months_tsql
    t.sql("ALTER TABLE mt CREATE TAG base")
    t.sql(
        "DELETE FROM mt WHERE d >= DATE '1995-04-01' "
        "AND d <= DATE '1995-04-30' AND grp = 5"
    )
    full = m.read(spark)
    full.persist().count()
    full0 = m.read_version(spark, 0)
    full0.persist().count()

    def _d(date):
        return f"DATE '{date.isoformat()}'"

    dates = st.dates(
        min_value=datetime.date(1994, 11, 1),
        max_value=datetime.date(1995, 8, 31),
    )
    grps = st.integers(min_value=-1, max_value=10)
    ids = st.integers(min_value=-5, max_value=650)

    date_eq = dates.map(lambda x: f"d = {_d(x)}")
    date_rng = st.tuples(dates, dates).map(
        lambda p: f"d >= {_d(min(p))} AND d <= {_d(max(p))}"
    )
    date_btw = st.tuples(dates, dates).map(
        lambda p: f"d BETWEEN {_d(min(p))} AND {_d(max(p))}"
    )
    date_in = st.lists(dates, min_size=1, max_size=4, unique=True).map(
        lambda ds: f"d IN ({', '.join(_d(x) for x in ds)})"
    )
    date_or = st.lists(dates, min_size=2, max_size=3, unique=True).map(
        lambda ds: "(" + " OR ".join(f"d = {_d(x)}" for x in ds) + ")"
    )
    grp_eq = grps.map(lambda g: f"grp = {g}")
    id_in = st.lists(ids, min_size=1, max_size=3, unique=True).map(
        lambda xs: f"id IN ({', '.join(map(str, xs))})"
    )
    mixed_or = st.tuples(dates, grps).map(
        lambda p: f"(d = {_d(p[0])} OR grp = {p[1]})"
    )
    not_grp = grps.map(lambda g: f"NOT (grp = {g})")
    conjunct = st.one_of(
        date_eq, date_rng, date_btw, date_in, date_or,
        grp_eq, id_in, mixed_or, not_grp,
    )
    cond = st.lists(conjunct, min_size=1, max_size=3).map(" AND ".join)

    @settings(
        max_examples=25,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(cond, st.sampled_from(["", " VERSION AS OF 0", " VERSION AS OF 'base'"]))
    def check(c, tt):
        got = t.sql(f"SELECT COUNT(*) AS n FROM mt{tt} WHERE {c}").collect()
        want = (full if tt == "" else full0).filter(c).count()
        assert got[0]["n"] == want, (c, tt)

    try:
        check()
    finally:
        full.unpersist()
        full0.unpersist()


# ---------------------------------------------------------------------------
# r15: refs + change feeds through SQL (branch/tag DDL, ref reads,
# age-based VACUUM, TABLE_CHANGES).
# ---------------------------------------------------------------------------


def _cdc_batch(spark, rows):
    return spark.createDataFrame(
        rows, "id long, name string, ts long, op string"
    )


def test_sql_ref_lifecycle(spark, tmp_path):
    """Branch/tag DDL through the dialect: CREATE TAG pins a snapshot
    readable via VERSION AS OF '<tag>'; CREATE BRANCH forks a writable
    ref whose staged commits stay invisible to main until FAST FORWARD;
    DROP releases the ref."""
    from tabular_cdc_bootstrapper_spark.config import CdcTarget

    m = VersionedBucketMirror(
        str(tmp_path / "refs"), n_buckets=4, key_col="id", keep_versions=10
    )
    m.initialize(_cdc_batch(spark, [(i, f"v0-{i}", 0, "I") for i in range(12)]))
    t = TableSql(spark, {"m": m})
    rec = t.sql("ALTER TABLE m CREATE TAG v0")
    assert rec["name"] == "v0" and rec["version"] == 0
    t.sql("UPDATE m SET name = 'mut' WHERE id = 5")
    assert (
        t.sql("SELECT name FROM m VERSION AS OF 'v0' WHERE id = 5")
        .collect()[0]["name"]
        == "v0-5"
    )
    assert (
        t.sql("SELECT name FROM m WHERE id = 5").collect()[0]["name"] == "mut"
    )
    # AS OF VERSION pins an explicit old snapshot
    rec2 = t.sql("ALTER TABLE m CREATE TAG genesis AS OF VERSION 0")
    assert rec2["version"] == 0
    # branch: fork, stage a merge invisibly, read through SQL, publish
    t.sql("ALTER TABLE m CREATE BRANCH audit")
    tgt = CdcTarget(
        source_uri="file:///tmp/x", key_column="id", ts_column="ts"
    )
    m.merge_batch(
        _cdc_batch(spark, [(50, "staged", 1, "I")]), tgt, branch="audit"
    )
    one = lambda q: t.sql(q).collect()[0]["n"]  # noqa: E731
    assert one("SELECT COUNT(*) AS n FROM m") == 12
    assert one("SELECT COUNT(*) AS n FROM m VERSION AS OF 'audit'") == 13
    t.sql("ALTER TABLE m FAST FORWARD audit")
    assert one("SELECT COUNT(*) AS n FROM m") == 13
    # SHOW TAGS / SHOW BRANCHES list the live refs
    tags = {r["name"]: r["version"] for r in t.sql("SHOW TAGS m").collect()}
    assert tags == {"v0": 0, "genesis": 0}
    brs = {
        r["name"]: (r["base"], r["head"])
        for r in t.sql("SHOW BRANCHES m").collect()
    }
    assert brs == {"audit": (1, 2)}
    assert t.sql("ALTER TABLE m DROP BRANCH audit") == {
        "dropped_branch": "audit"
    }
    assert t.sql("ALTER TABLE m DROP TAG v0") == {"dropped_tag": "v0"}
    with pytest.raises(Exception):
        t.sql("SELECT COUNT(*) AS n FROM m VERSION AS OF 'v0'").collect()
    assert t.sql("SHOW BRANCHES m").count() == 0
    assert {r["name"] for r in t.sql("SHOW TAGS m").collect()} == {"genesis"}


def test_sql_tag_read_composes_with_pruning(months_tsql, spark, monkeypatch):
    """VERSION AS OF '<tag>' resolves to the tag's snapshot number and
    composes with WHERE-derived partition pruning — the pruned read
    binds to the TAGGED manifest, and the answer is the old state."""
    t, m = months_tsql
    mar = 25 * 12 + 2
    t.sql("ALTER TABLE mt CREATE TAG base")
    t.sql(
        "DELETE FROM mt WHERE d >= DATE '1995-03-01' "
        "AND d <= DATE '1995-03-31'"
    )
    seen: list[tuple] = []
    orig = type(m).read_pruned

    def spy(self, spark_, col, lower=None, upper=None, version=None):
        seen.append((col, lower, upper, version))
        return orig(self, spark_, col, lower, upper, version)

    monkeypatch.setattr(type(m), "read_pruned", spy)
    df = t.sql(
        "SELECT COUNT(*) AS n FROM mt VERSION AS OF 'base' "
        "WHERE d >= DATE '1995-03-05' AND d <= DATE '1995-03-25'"
    )
    n = df.collect()[0]["n"]
    assert seen and seen[0][3] == 0  # pruned against the TAG's snapshot
    monkeypatch.setattr(type(m), "read_pruned", orig)
    assert n == m.read_version(spark, 0).filter(
        "d >= DATE '1995-03-05' AND d <= DATE '1995-03-25'"
    ).count() > 0
    assert all(f"/bucket={mar}/" in f for f in df.inputFiles())
    # head read reflects the delete
    assert (
        t.sql(
            "SELECT COUNT(*) AS n FROM mt "
            "WHERE d >= DATE '1995-03-05' AND d <= DATE '1995-03-25'"
        ).collect()[0]["n"]
        == 0
    )


def test_sql_vacuum_older_than(tsql, spark):
    """Age-based snapshot expiry through SQL — the Iceberg
    expire_snapshots older_than arm beside the version-count RETAIN."""
    t, m, _ = tsql
    t.sql("UPDATE m SET val = 0 WHERE id = 1")
    t.sql("UPDATE m SET val = 1 WHERE id = 1")  # versions 0, 1, 2
    # a cutoff in the past expires nothing
    rec = t.sql("VACUUM m OLDER THAN TIMESTAMP '2000-01-01'")
    assert rec["expired_versions"] == []
    # a future cutoff expires everything but the protected head
    rec = t.sql("VACUUM m OLDER THAN TIMESTAMP '2099-01-01'")
    assert set(rec["expired_versions"]) == {0, 1}
    with pytest.raises(ValueError, match="expired"):
        m.read_version(spark, 0)
    assert t.sql("SELECT COUNT(*) AS n FROM m").collect()[0]["n"] == 400
    # RETAIN and OLDER THAN compose in one statement
    rec = t.sql(
        "VACUUM m RETAIN 1 VERSIONS OLDER THAN TIMESTAMP '2000-01-01'"
    )
    assert rec["expired_versions"] == []


def test_sql_table_changes(tsql, spark):
    """TABLE_CHANGES(t, v1, v2) in FROM — the Delta CDF read as a
    table-valued reference, composing with the full SELECT surface."""
    t, m, _ = tsql
    t.sql("DELETE FROM m WHERE id = 3")
    t.sql("UPDATE m SET val = -5 WHERE id = 7")
    v = m.current()["version"]
    rows = t.sql(
        f"SELECT _change_type, id FROM TABLE_CHANGES(m, 0, {v}) ORDER BY id"
    ).collect()
    assert {(r["_change_type"], r["id"]) for r in rows} == {
        ("D", 3),
        ("U", 7),
    }
    n = t.sql(
        f"SELECT COUNT(*) AS n FROM TABLE_CHANGES(m, 0, {v}) "
        "WHERE _change_type = 'D'"
    ).collect()[0]["n"]
    assert n == 1
    # quoted text is data, never substituted
    got = t.sql(
        "SELECT COUNT(*) AS n FROM m WHERE 'TABLE_CHANGES(m, 0, 1)' = 'x'"
    ).collect()[0]["n"]
    assert got == 0
    # EXCLUDE keeps named columns out of the comparison: ignoring the
    # updated column demotes the repriced row out of the feed
    rows = t.sql(
        f"SELECT _change_type, id "
        f"FROM TABLE_CHANGES(m, 0, {v}, EXCLUDE (val)) ORDER BY id"
    ).collect()
    assert {(r["_change_type"], r["id"]) for r in rows} == {("D", 3)}
    # the key column must never be excluded
    with pytest.raises(ValueError, match="key column"):
        t.sql(f"SELECT * FROM TABLE_CHANGES(m, 0, {v}, EXCLUDE (id))")
    # keyless tables refuse: the changelog diff is keyed
    with pytest.raises(ValueError, match="no key"):
        t.sql("SELECT * FROM TABLE_CHANGES(p, 0, 0)")
