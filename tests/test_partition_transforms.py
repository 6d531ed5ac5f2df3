"""Hidden-partition transforms on VersionedBucketMirror (r13): Iceberg's
``days(col)`` / ``truncate(col, w)`` / ``identity(col)`` partition specs
beyond the classic key-hash bucketing — time-partitioned mirrors are the
common warehouse shape (reference tables are Iceberg, whose specs are
transforms). Contract under test: writes land in transform partitions,
merges/DML touch only the partitions their rows map to, a predicate on
the source column prunes partitions with no stats needed, the spec rides
the manifest (handles adopt it), and the golden CDC replay is exact.
"""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.config import CdcTarget
from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
    VersionedBucketMirror,
)

EPOCH = datetime.date(1970, 1, 1)


def _days(d: str) -> int:
    return (datetime.date.fromisoformat(d) - EPOCH).days


@pytest.fixture()
def days_mirror(spark, tmp_path):
    m = VersionedBucketMirror(
        str(tmp_path / "m"),
        key_col="id",
        partition_spec=("days", "d"),
        keep_versions=10,
    )
    df = spark.createDataFrame(
        [
            (1, "2024-01-01", "a"),
            (2, "2024-01-01", "b"),
            (3, "2024-01-05", "c"),
            (4, "2024-02-01", "d"),
        ],
        "id long, d string, v string",
    ).withColumn("d", F.col("d").cast("date"))
    m.initialize(df)
    return m


def test_days_partitions_and_manifest_spec(days_mirror):
    cur = days_mirror.current()
    assert sorted(cur["buckets"], key=int) == [
        str(_days("2024-01-01")),
        str(_days("2024-01-05")),
        str(_days("2024-02-01")),
    ]
    assert cur["partition_spec"] == ["days", "d"]


def test_merge_touches_only_event_partitions(spark, days_mirror):
    target = CdcTarget(source_uri="x", key_column="id", ts_column="ts")
    batch = spark.createDataFrame(
        [
            (3, "2024-01-05", "c2", "U", 1),  # same day as its live row
            (5, "2024-03-01", "e", "I", 1),  # brand-new day
            (2, "2024-01-01", "b", "D", 1),
        ],
        "id long, d string, v string, op string, ts long",
    ).withColumn("d", F.col("d").cast("date"))
    rec = days_mirror.merge_batch(batch, target)
    assert rec["touched_buckets"] == sorted(
        [_days("2024-01-05"), _days("2024-03-01"), _days("2024-01-01")]
    )
    got = {
        r["id"]: (str(r["d"]), r["v"])
        for r in days_mirror.read(spark).collect()
    }
    assert got == {
        1: ("2024-01-01", "a"),
        3: ("2024-01-05", "c2"),
        4: ("2024-02-01", "d"),
        5: ("2024-03-01", "e"),
    }


def test_fresh_handle_adopts_spec_and_hash_table_wins(spark, tmp_path, days_mirror):
    m2 = VersionedBucketMirror(days_mirror.root, key_col="id")
    assert m2.partition_spec == ("days", "d")
    # the reverse: a transform handle on a committed HASH table resets
    h = VersionedBucketMirror(str(tmp_path / "h"), key_col="id", n_buckets=4)
    h.initialize(spark.createDataFrame([(1, 1)], "id long, x long"))
    h2 = VersionedBucketMirror(
        h.root, key_col="id", partition_spec=("identity", "x")
    )
    assert h2.partition_spec == ("bucket",)


def test_hidden_partition_pruned_read(spark, days_mirror):
    """A range predicate on the spec's source column prunes by the
    transform itself — no column stats recorded, yet only in-range
    partition dirs are listed (the Iceberg hidden-partitioning read)."""
    kept, _ = days_mirror._pruned_buckets(
        "d", datetime.date(2024, 1, 2), datetime.date(2024, 2, 15)
    )
    assert kept == [str(_days("2024-01-05")), str(_days("2024-02-01"))]
    df = days_mirror.read_pruned(
        spark, "d", datetime.date(2024, 1, 2), datetime.date(2024, 2, 15)
    )
    # the physical read lists ONLY the kept partition dirs
    files = df.inputFiles()
    assert files and all(
        f"bucket={_days('2024-01-01')}/" not in f for f in files
    )
    assert sorted(r["id"] for r in df.collect()) == [3, 4]


def test_dml_and_insert_on_days_spec(spark, days_mirror):
    rec = days_mirror.update_where(spark, "id = 3", {"v": "'cc'"})
    assert rec["rows_updated"] == 1
    assert rec["matched_buckets"] == [_days("2024-01-05")]
    rec = days_mirror.delete_where(spark, "d = DATE'2024-02-01'")
    assert rec["rows_deleted"] == 1
    new = spark.createDataFrame(
        [(9, "2024-02-02", "z")], "id long, d string, v string"
    ).withColumn("d", F.col("d").cast("date"))
    rec = days_mirror.insert_rows(spark, new)
    assert rec["touched_buckets"] == [_days("2024-02-02")]
    got = {r["id"]: r["v"] for r in days_mirror.read(spark).collect()}
    assert got == {1: "a", 2: "b", 3: "cc", 9: "z"}
    # duplicate-key refusal still holds across partitions
    with pytest.raises(ValueError, match="already exist"):
        days_mirror.insert_rows(
            spark,
            spark.createDataFrame(
                [(1, "2025-01-01", "q")], "id long, d string, v string"
            ).withColumn("d", F.col("d").cast("date")),
        )


def test_rebucket_refused_and_purge_scans_all(spark, days_mirror):
    with pytest.raises(ValueError, match="hash-bucket"):
        days_mirror.rebucket(spark, 32)
    keys = spark.createDataFrame([(1,)], "id long")
    days_mirror.purge_keys(spark, keys)
    assert sorted(r["id"] for r in days_mirror.read(spark).collect()) == [
        2,
        3,
        4,
    ]


def test_truncate_spec_golden(spark, tmp_path):
    m = VersionedBucketMirror(
        str(tmp_path / "t"),
        key_col="id",
        partition_spec=("truncate", "id", 100),
        keep_versions=10,
    )
    df = spark.range(0, 250).select(
        "id", (F.col("id") % 10).alias("g")
    )
    m.initialize(df)
    assert sorted(m.current()["buckets"], key=int) == ["0", "100", "200"]
    target = CdcTarget(source_uri="x", key_column="id", ts_column="ts")
    batch = spark.createDataFrame(
        [(7, 99, "U", 1), (250, 5, "I", 1)],
        "id long, g long, op string, ts long",
    )
    rec = m.merge_batch(batch, target)
    assert rec["touched_buckets"] == [0, 200]
    got = {r["id"]: r["g"] for r in m.read(spark).collect()}
    assert len(got) == 251 and got[7] == 99 and got[250] == 5
    # truncate prune: id in [150, 260] → partitions 100, 200
    kept, _ = m._pruned_buckets("id", 150, 260)
    assert kept == ["100", "200"]


def test_days_spec_golden_vs_bruteforce(spark, tmp_path, sf_dir):
    """Golden CDC replay on a days(o_orderdate) mirror built from the
    orders fixture: two changelog batches (updates then deletes, the
    partition column immutable per key) must land exactly the
    latest-per-key recompute, and the merge-on-read variant must agree
    with copy-on-write."""
    o = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select("o_orderkey", "o_orderdate", "o_orderstatus")
        .limit(2000)
        .cache()
    )
    target = CdcTarget(
        source_uri="x", key_column="o_orderkey", ts_column="ts"
    )
    b1 = (
        o.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderstatus", F.lit("X"))
        .withColumns({"op": F.lit("U"), "ts": F.lit(1)})
    )
    b2 = o.filter(F.col("o_orderkey") % 13 == 0).withColumns(
        {"op": F.lit("D"), "ts": F.lit(2)}
    )
    expected = {
        r["o_orderkey"]: ("X" if r["o_orderkey"] % 7 == 0 else r["o_orderstatus"])
        for r in o.collect()
        if r["o_orderkey"] % 13 != 0
    }
    for mor in (False, True):
        m = VersionedBucketMirror(
            str(tmp_path / f"g{int(mor)}"),
            key_col="o_orderkey",
            partition_spec=("days", "o_orderdate"),
            keep_versions=10,
            merge_on_read=mor,
        )
        m.initialize(o)
        m.merge_batch(b1, target)
        m.merge_batch(b2, target)
        got = {
            r["o_orderkey"]: r["o_orderstatus"]
            for r in m.read(spark).select("o_orderkey", "o_orderstatus").collect()
        }
        assert got == expected, f"mor={mor}"


def test_months_and_years_specs(spark, tmp_path):
    m = VersionedBucketMirror(
        str(tmp_path / "mo"),
        key_col="id",
        partition_spec=("months", "d"),
        keep_versions=10,
    )
    df = spark.createDataFrame(
        [(1, "1995-01-15"), (2, "1995-01-20"), (3, "1995-03-02"), (4, "1996-01-01")],
        "id long, d string",
    ).withColumn("d", F.col("d").cast("date"))
    m.initialize(df)
    # months id = (year-1970)*12 + month-1
    assert sorted(m.current()["buckets"], key=int) == [
        str(25 * 12 + 0),
        str(25 * 12 + 2),
        str(26 * 12 + 0),
    ]
    kept, _ = m._pruned_buckets(
        "d", datetime.date(1995, 2, 1), datetime.date(1995, 12, 31)
    )
    assert kept == [str(25 * 12 + 2)]
    y = VersionedBucketMirror(
        str(tmp_path / "yr"),
        key_col="id",
        partition_spec=("years", "d"),
        keep_versions=10,
    )
    y.initialize(df)
    assert sorted(y.current()["buckets"], key=int) == ["25", "26"]


def test_main_entry_with_partition_spec(tmp_path, monkeypatch):
    """SPARK_CDC_PARTITION_SPEC wires a transform into the end-to-end
    pipeline: the mirror's manifest records the spec and partitions are
    transform ids, while the golden replay stays exact."""
    from tests.dms_scenario import generate

    src = tmp_path / "cdc" / "t1"
    expected = generate(str(src), seed=11)
    monkeypatch.setenv("TABULAR_BUCKET_NAME", "local-bucket")
    monkeypatch.setenv("TABULAR_BUCKET_MONITOR_PATH", "cdc/spec_table")
    monkeypatch.setenv("TABULAR_CDC_ID_FIELD", "id")
    monkeypatch.setenv("TABULAR_CDC_TIMESTAMP_FIELD", "ts")
    monkeypatch.setenv("SPARK_CDC_SOURCE_DIR", str(src))
    monkeypatch.setenv("SPARK_CDC_WORK_DIR", str(tmp_path / "work"))
    monkeypatch.setenv("SPARK_CDC_MIRROR_LAYOUT", "bucketed_versioned")
    # identity on the id column: one partition per key decade bucket is
    # overkill for 100 rows, but proves the spec reaches the mirror
    monkeypatch.setenv("SPARK_CDC_PARTITION_SPEC", "truncate:id:25")

    from tabular_cdc_bootstrapper_spark.__main__ import main

    assert main() == 0
    spark = __import__(
        "tabular_cdc_bootstrapper_spark.session", fromlist=["get_spark"]
    ).get_spark()
    m = VersionedBucketMirror(
        str(tmp_path / "work" / "spec_table" / "mirror"), key_col="id"
    )
    assert m.partition_spec == ("truncate", "id", 25)
    got = {
        r["id"]: r["name"]
        for r in m.read(spark).select("id", "name").collect()
    }
    assert got == {k: v["name"] for k, v in expected.items()}
    # spec on a non-versioned layout is refused loudly
    monkeypatch.setenv("SPARK_CDC_MIRROR_LAYOUT", "snapshot")
    monkeypatch.setenv("SPARK_CDC_WORK_DIR", str(tmp_path / "work2"))
    with pytest.raises(ValueError, match="versioned layouts"):
        main()


def test_spec_survives_constraint_ddl_and_wap(spark, days_mirror):
    """r13 review: every manifest-record builder must carry the
    transform spec — a single ADD CONSTRAINT / ALTER / WAP commit that
    dropped it would make _sync_spec degrade the table to hash
    bucketing and the next merge would corrupt the layout."""
    days_mirror.add_constraint(spark, "v_ok", "v IS NOT NULL")
    assert days_mirror.current().get("partition_spec") == ["days", "d"]
    h = VersionedBucketMirror(days_mirror.root, key_col="id")
    assert h.partition_spec == ("days", "d")
    days_mirror.drop_constraint("v_ok")
    assert days_mirror.current().get("partition_spec") == ["days", "d"]
    days_mirror.alter_schema(add={"note": "string"})
    assert days_mirror.current().get("partition_spec") == ["days", "d"]
    new = spark.createDataFrame(
        [(50, "2024-05-01", "w", None)],
        "id long, d string, v string, note string",
    ).withColumn("d", F.col("d").cast("date"))
    days_mirror.write_audit_publish(spark, new, rules=())
    assert days_mirror.current().get("partition_spec") == ["days", "d"]
    # and the layout still behaves as a transform table end-to-end
    h2 = VersionedBucketMirror(days_mirror.root, key_col="id")
    assert h2.partition_spec == ("days", "d")
    rec = h2.insert_rows(
        spark,
        spark.createDataFrame(
            [(60, "2024-06-01", "x", None)],
            "id long, d string, v string, note string",
        ).withColumn("d", F.col("d").cast("date")),
    )
    assert rec["touched_buckets"] == [_days("2024-06-01")]


def test_insert_refuses_batch_dups_and_null_keys(spark, days_mirror):
    dup = spark.createDataFrame(
        [(100, "2025-01-01", "a"), (100, "2025-01-01", "b")],
        "id long, d string, v string",
    ).withColumn("d", F.col("d").cast("date"))
    with pytest.raises(ValueError, match="repeats"):
        days_mirror.insert_rows(spark, dup)
    nul = spark.createDataFrame(
        [(None, "2025-01-01", "a")], "id long, d string, v string"
    ).withColumn("d", F.col("d").cast("date"))
    with pytest.raises(ValueError, match="NULL in key"):
        days_mirror.insert_rows(spark, nul)
    assert days_mirror.read(spark).count() == 4  # nothing landed


def test_truncate_prune_is_integer_exact_above_2_53(spark, tmp_path):
    m = VersionedBucketMirror(
        str(tmp_path / "big"),
        key_col="id",
        partition_spec=("truncate", "id", 1000),
        keep_versions=5,
    )
    base = 9_007_199_254_741_993  # > 2^53; float() rounds it
    m.initialize(
        spark.createDataFrame([(base, 1)], "id long, x long")
    )
    want = (base // 1000) * 1000
    assert list(m.current()["buckets"]) == [str(want)]
    kept, _ = m._pruned_buckets("id", base, base)
    assert kept == [str(want)]  # a float round-trip would miss it


def test_transform_id_agrees_with_row_partition_property(spark, tmp_path):
    """The pruning-correctness invariant: the driver-side value→id map
    (``_transform_id``, used to prune) must agree with the executor-side
    Column expression (``_row_partition``, used to write) on every
    value — disagreement silently drops partitions from pruned reads.
    Property-checked over hypothesis-generated dates and ints (incl.
    negatives and 2^53+ longs) for days/months/years/truncate/identity."""
    from hypothesis import given, settings, strategies as st

    dates = st.dates(
        min_value=datetime.date(1960, 1, 1),
        max_value=datetime.date(2120, 12, 31),
    )

    @settings(max_examples=30, deadline=None)
    @given(st.lists(dates, min_size=1, max_size=8, unique=True))
    def check_dates(ds):
        for kind in ("days", "months", "years"):
            m = VersionedBucketMirror(
                str(tmp_path / f"p_{kind}_{len(ds)}_{ds[0]}"),
                key_col="id",
                partition_spec=(kind, "d"),
            )
            df = spark.createDataFrame(
                [(i, d) for i, d in enumerate(ds)], "id long, d date"
            )
            got = {
                r["d"]: r["b"]
                for r in df.withColumn("b", m._row_partition()).collect()
            }
            for d in ds:
                assert m._transform_id(d) == got[d], (kind, d)

    check_dates()

    longs = st.one_of(
        st.integers(min_value=-(2**62), max_value=2**62),
        st.integers(min_value=-1000, max_value=1000),
    )

    @settings(max_examples=30, deadline=None)
    @given(
        st.lists(longs, min_size=1, max_size=8, unique=True),
        st.integers(min_value=1, max_value=10**6),
    )
    def check_truncate(vals, w):
        m = VersionedBucketMirror(
            str(tmp_path / f"p_tr_{w}_{abs(hash(tuple(vals))) % 10**6}"),
            key_col="id",
            partition_spec=("truncate", "x", w),
        )
        df = spark.createDataFrame(
            [(i, v) for i, v in enumerate(vals)], "id long, x long"
        )
        got = {
            r["x"]: r["b"]
            for r in df.withColumn("b", m._row_partition()).collect()
        }
        for v in vals:
            assert m._transform_id(v) == got[v], (v, w)

    check_truncate()


# ---------------------------------------------------------------------------
# r14: general MERGE on transform specs (ADVICE r13 high #1), the
# partition-source-column assignment refusal (high #2), and the UTC
# timezone contract for TIMESTAMP sources (low #3 / VERDICT #2).
# ---------------------------------------------------------------------------


def test_update_where_refuses_transform_source_column(spark, days_mirror):
    """ADVICE r13 (high): SET on the spec's source column would stage
    moved rows under partition ids outside the touched set — silently
    lost. Refused like the key column; the state must be untouched."""
    before = {r["id"]: str(r["d"]) for r in days_mirror.read(spark).collect()}
    with pytest.raises(ValueError, match="partition transform"):
        days_mirror.update_where(spark, "id = 3", {"d": "DATE'2024-09-09'"})
    after = {r["id"]: str(r["d"]) for r in days_mirror.read(spark).collect()}
    assert after == before


def test_merge_into_table_on_days_spec(spark, days_mirror):
    """ADVICE r13 (high): MERGE INTO a transform-partitioned mirror used
    to plan touched buckets with the KEY HASH — reading wrong
    partitions, discarding merged rows staged under transform ids, and
    popping colliding manifest entries. The fix plans matched partitions
    from the data and insert partitions from the source's transform
    values."""
    from tabular_cdc_bootstrapper_spark.operators.merge import (
        merge_into_table,
        src,
    )

    cur0 = days_mirror.current()
    untouched_dir = cur0["buckets"][str(_days("2024-02-01"))]
    source = spark.createDataFrame(
        [
            (3, "2024-01-05", "c9"),  # matched → update in its partition
            (2, "2024-01-01", "DEL"),  # matched → delete
            (7, "2024-04-01", "g"),  # unmatched → insert, NEW partition
        ],
        "id long, d string, v string",
    ).withColumn("d", F.col("d").cast("date"))
    # fast path (source carries the spec column): every read is scoped
    # to the source's own transform partitions — no all-partition probe
    reads: list[list[int] | None] = []
    orig_read = type(days_mirror)._read_entry

    def spy(self, spark_, e, buckets=None):
        reads.append(sorted(int(b) for b in buckets) if buckets else None)
        return orig_read(self, spark_, e, buckets=buckets)

    type(days_mirror)._read_entry = spy
    try:
        rec = merge_into_table(
            spark,
            days_mirror,
            source,
            on=["id"],
            update_set={"v": src("v")},
            delete_cond=src("v") == F.lit("DEL"),
        )
    finally:
        type(days_mirror)._read_entry = orig_read
    expected_touched = {
        _days("2024-01-01"), _days("2024-01-05"), _days("2024-04-01")
    }
    assert reads and all(
        r is not None and set(r) <= expected_touched for r in reads
    )
    assert rec["touched_buckets"] == sorted(
        [_days("2024-01-01"), _days("2024-01-05"), _days("2024-04-01")]
    )
    got = {
        r["id"]: (str(r["d"]), r["v"])
        for r in days_mirror.read(spark).collect()
    }
    assert got == {
        1: ("2024-01-01", "a"),
        3: ("2024-01-05", "c9"),
        4: ("2024-02-01", "d"),
        7: ("2024-04-01", "g"),
    }
    cur = days_mirror.current()
    # manifest keys are TRANSFORM ids (no hash-id pollution), and the
    # untouched partition's dir carried forward byte-identical
    assert set(cur["buckets"]) == {
        str(_days(d))
        for d in ("2024-01-01", "2024-01-05", "2024-02-01", "2024-04-01")
    }
    assert cur["buckets"][str(_days("2024-02-01"))] == untouched_dir


def test_merge_into_table_update_only_without_spec_column(spark, days_mirror):
    """The SQL-shaped update-only MERGE (insert branch statically FALSE,
    source carries only key + updated columns) must plan ZERO insert
    partitions and not require the spec source column."""
    from tabular_cdc_bootstrapper_spark.operators.merge import (
        merge_into_table,
        src,
    )

    source = spark.createDataFrame([(1, "a2"), (99, "zz")], "id long, v string")
    rec = merge_into_table(
        spark,
        days_mirror,
        source,
        on=["id"],
        update_set={"v": src("v")},
        insert_cond=F.lit(False),
        insert_set={c: F.lit(None) for c in ["id", "d", "v"]},
    )
    assert rec["touched_buckets"] == [_days("2024-01-01")]
    got = {r["id"]: r["v"] for r in days_mirror.read(spark).collect()}
    assert got == {1: "a2", 2: "b", 3: "c", 4: "d"}  # 99 NOT inserted


def test_merge_into_table_unplannable_insert_raises(spark, days_mirror):
    """Inserts into a transform table whose source lacks the spec column
    cannot be partition-planned — refused loudly, state untouched."""
    from tabular_cdc_bootstrapper_spark.operators.merge import (
        merge_into_table,
        src,
    )

    source = spark.createDataFrame([(42, "new")], "id long, v string")
    with pytest.raises(ValueError, match="cannot be planned"):
        merge_into_table(
            spark, days_mirror, source, on=["id"],
            update_set={"v": src("v")},
        )
    assert days_mirror.read(spark).count() == 4


def test_merge_refuses_assigning_spec_column(spark, days_mirror):
    from tabular_cdc_bootstrapper_spark.operators.merge import (
        merge_into_table,
    )

    source = spark.createDataFrame(
        [(3, "2024-08-08", "x")], "id long, d string, v string"
    ).withColumn("d", F.col("d").cast("date"))
    with pytest.raises(ValueError, match="partition transform"):
        merge_into_table(
            spark, days_mirror, source, on=["id"],
            update_set={"d": F.col("__s_d")},
        )


def test_sql_merge_into_transform_table(spark, tmp_path, sf_dir):
    """MERGE INTO through the SQL front-end on a CTAS
    days()-partitioned table — the exact surface ADVICE r13 flagged."""
    from tabular_cdc_bootstrapper_spark.sql import TableSql

    t = TableSql(spark)
    spark.read.parquet(f"{sf_dir}/orders.parquet").limit(500).select(
        "o_orderkey", "o_orderdate", "o_totalprice"
    ).createOrReplaceTempView("ord_src_r14")
    t.sql(
        f"CREATE TABLE ot LOCATION '{tmp_path}/ot' PARTITIONED BY "
        "DAYS(o_orderdate) KEY o_orderkey AS "
        "SELECT * FROM ord_src_r14"
    )
    base = {
        r["o_orderkey"]: float(r["o_totalprice"])
        for r in spark.table("ord_src_r14").collect()
    }
    t.sql(
        "MERGE INTO ot USING (SELECT o_orderkey, o_orderdate, "
        "o_totalprice * 2 AS o_totalprice FROM ord_src_r14 "
        "WHERE o_orderkey % 10 = 1) ON o_orderkey "
        "WHEN MATCHED THEN UPDATE SET o_totalprice = src.o_totalprice "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = {
        r["o_orderkey"]: float(r["o_totalprice"])
        for r in t.sql("SELECT o_orderkey, o_totalprice FROM ot").collect()
    }
    want = {
        k: (v * 2 if k % 10 == 1 else v) for k, v in base.items()
    }
    assert got == pytest.approx(want)
    # the manifest stayed transform-partitioned
    mt = t._table("ot")
    assert mt.partition_spec == ("days", "o_orderdate")


def _utc_ts(*args) -> int:
    return int(
        datetime.datetime(*args, tzinfo=datetime.timezone.utc).timestamp()
    )


def test_timestamp_transform_utc_across_session_tz(spark, tmp_path):
    """VERDICT r13 #2 / ADVICE low: days() on a TIMESTAMP source is
    UTC-exact — a table written under session tz A and merged/pruned
    under tz B computes identical partition ids (Iceberg computes
    days() in UTC). The two instants straddle a UTC midnight that is
    NOT a midnight in either test zone."""
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        m = VersionedBucketMirror(
            str(tmp_path / "tsu"),
            key_col="id",
            partition_spec=("days", "ts"),
            keep_versions=10,
        )
        t1 = _utc_ts(2024, 1, 1, 23, 30)  # UTC Jan 1 / LA Jan 1 / Tokyo Jan 2
        t2 = _utc_ts(2024, 1, 2, 1, 0)  # UTC Jan 2 / LA Jan 1 / Tokyo Jan 2
        df = spark.createDataFrame(
            [(1, t1, "a"), (2, t2, "b")], "id long, sec long, v string"
        ).select(
            "id", F.timestamp_seconds("sec").alias("ts"), "v"
        )
        m.initialize(df)
        assert sorted(m.current()["buckets"], key=int) == [
            str(_days("2024-01-01")),
            str(_days("2024-01-02")),
        ]
        # flip the session zone: a merge for the SAME instants must
        # touch the SAME partitions (no duplicate keys in new dirs)
        spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
        target = CdcTarget(source_uri="x", key_column="id", ts_column="seq")
        batch = spark.createDataFrame(
            [(1, t1, "a2", "U", 1)], "id long, sec long, v string, op string, seq long"
        ).select(
            "id", F.timestamp_seconds("sec").alias("ts"), "v", "op", "seq"
        )
        rec = m.merge_batch(batch, target)
        assert rec["touched_buckets"] == [_days("2024-01-01")]
        got = {r["id"]: r["v"] for r in m.read(spark).collect()}
        assert got == {1: "a2", 2: "b"}
        # hidden-partition prune under tz B with tz-AWARE bounds: only
        # the UTC Jan 1 partition is listed
        lo = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
        hi = datetime.datetime(
            2024, 1, 1, 23, 59, 59, tzinfo=datetime.timezone.utc
        )
        kept, _ = m._pruned_buckets("ts", lo, hi)
        assert kept == [str(_days("2024-01-01"))]
        pr = m.read_pruned(spark, "ts", lo, hi)
        assert [r["id"] for r in pr.collect()] == [1]
        assert all(
            f"bucket={_days('2024-01-02')}/" not in f
            for f in pr.inputFiles()
        )
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_timestamp_transform_id_twin_under_tz(spark, tmp_path):
    """Write-side (_row_partition) and prune-side (_transform_id) agree
    on TIMESTAMP sources for every temporal grain, under a non-UTC
    session zone, on instants straddling UTC midnights / month and year
    boundaries."""
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "Australia/Sydney")
        instants = [
            _utc_ts(2023, 12, 31, 23, 59, 59),
            _utc_ts(2024, 1, 1, 0, 0, 0),
            _utc_ts(2024, 2, 29, 13, 0, 0),
            _utc_ts(1969, 12, 31, 22, 0, 0),  # pre-epoch
            _utc_ts(2024, 6, 30, 14, 30, 0),
        ]
        for kind in ("days", "months", "years"):
            m = VersionedBucketMirror(
                str(tmp_path / f"twin_{kind}"),
                key_col="id",
                partition_spec=(kind, "ts"),
            )
            df = spark.createDataFrame(
                [(i, s) for i, s in enumerate(instants)], "id long, sec long"
            ).select("id", F.timestamp_seconds("sec").alias("ts"))
            rows = df.withColumn("b", m._row_partition(df)).collect()
            for r, sec in zip(sorted(rows, key=lambda r: r["id"]), instants):
                aware = datetime.datetime.fromtimestamp(
                    sec, tz=datetime.timezone.utc
                )
                naive_utc = aware.replace(tzinfo=None)
                assert m._transform_id(aware) == r["b"], (kind, aware)
                assert m._transform_id(naive_utc) == r["b"], (kind, aware)
                # and the id is the UTC calendar value, not session-local
                if kind == "days":
                    assert r["b"] == (aware.date() - EPOCH).days
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


def test_timestamp_transform_utc_merge_on_read(spark, tmp_path):
    """r14 review (critical): the merge-on-read delta commit
    (``_commit_delta``) must stage under the SAME UTC partition ids its
    touched-set planning computes — under a non-UTC session a
    session-tz cast would stage a UTC-midnight-straddling row under the
    wrong id and the install loop would silently DROP it."""
    tz0 = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        m = VersionedBucketMirror(
            str(tmp_path / "mor"),
            key_col="id",
            partition_spec=("days", "ts"),
            keep_versions=10,
            merge_on_read=True,
        )
        t1 = _utc_ts(2024, 1, 1, 23, 30)  # UTC Jan 1, LA Jan 1
        t2 = _utc_ts(2024, 1, 2, 1, 0)  # UTC Jan 2, LA Jan 1 (straddle!)
        df = spark.createDataFrame(
            [(1, t1, "a"), (2, t2, "b")], "id long, sec long, v string"
        ).select("id", F.timestamp_seconds("sec").alias("ts"), "v")
        m.initialize(df)
        target = CdcTarget(source_uri="x", key_column="id", ts_column="seq")
        batch = spark.createDataFrame(
            [(2, t2, "b2", "U", 1), (3, _utc_ts(2024, 1, 2, 2, 0), "c", "I", 1)],
            "id long, sec long, v string, op string, seq long",
        ).select(
            "id", F.timestamp_seconds("sec").alias("ts"), "v", "op", "seq"
        )
        rec = m.merge_batch(batch, target)
        assert rec["touched_buckets"] == [_days("2024-01-02")]
        # THE bug: the delta for id=2/3 staged under the LA day
        # (2024-01-01) was never installed — the rows vanished
        got = {r["id"]: r["v"] for r in m.read(spark).collect()}
        assert got == {1: "a", 2: "b2", 3: "c"}
        # and the delta chain landed under the UTC id
        deltas = m.current().get("deltas") or {}
        assert set(deltas) == {str(_days("2024-01-02"))}
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz0)


# -- regrain: partition-spec evolution across transform specs (r15, ------
# -- VERDICT r14 #3 — the rebucket pattern generalized: days→months, ----
# -- transform↔hash, all as ONE manifest commit with history intact) ----


def _months(d: str) -> int:
    dd = datetime.date.fromisoformat(d)
    return (dd.year - 1970) * 12 + dd.month - 1


def test_regrain_days_to_months(spark, days_mirror):
    m = days_mirror
    pre_version = m.current()["version"]
    pre = sorted(
        (r["id"], str(r["d"]), r["v"]) for r in m.read(spark).collect()
    )
    rec = m.regrain(spark, ("months", "d"))
    assert rec["partition_spec"] == ["months", "d"]
    # 3 day partitions re-grained into 2 month partitions
    assert sorted(rec["buckets"], key=int) == [
        str(_months("2024-01-01")),
        str(_months("2024-02-01")),
    ]
    # state identical through the regrain
    post = sorted(
        (r["id"], str(r["d"]), r["v"]) for r in m.read(spark).collect()
    )
    assert post == pre
    # history intact: the pre-regrain snapshot still reads under ITS spec
    old = m.read_version(spark, pre_version)
    assert sorted(
        (r["id"], str(r["d"]), r["v"]) for r in old.collect()
    ) == pre
    # a fresh handle adopts the new spec from the manifest
    h = VersionedBucketMirror(m.root, key_col="id")
    assert h.partition_spec == ("months", "d")
    # subsequent merges plan in MONTH partitions
    target = CdcTarget(source_uri="x", key_column="id", ts_column="ts")
    batch = spark.createDataFrame(
        [(9, "2024-01-20", "z", "I", 1)],
        "id long, d string, v string, op string, ts long",
    ).withColumn("d", F.col("d").cast("date"))
    rec2 = m.merge_batch(batch, target)
    assert rec2["touched_buckets"] == [_months("2024-01-20")]
    # hidden-partition pruning under the new grain
    kept, _ = m._pruned_buckets(
        "d", datetime.date(2024, 2, 1), datetime.date(2024, 2, 28)
    )
    assert kept == [str(_months("2024-02-01"))]


def test_regrain_transform_to_hash_and_back(spark, days_mirror):
    m = days_mirror
    pre = sorted((r["id"], r["v"]) for r in m.read(spark).collect())
    rec = m.regrain(spark, ("bucket",))
    # hash manifests record no partition_spec key (the absence IS the
    # hash spec — _sync_spec's contract)
    assert "partition_spec" not in rec
    assert m.partition_spec == ("bucket",)
    assert sorted(
        (r["id"], r["v"]) for r in m.read(spark).collect()
    ) == pre
    # a key point-lookup now prunes by the hash
    kept, _ = m._pruned_buckets("id", 3, 3)
    assert len(kept) == 1
    # and back onto a transform
    m.regrain(spark, ("days", "d"))
    assert m.current()["partition_spec"] == ["days", "d"]
    assert sorted(
        (r["id"], r["v"]) for r in m.read(spark).collect()
    ) == pre


def test_regrain_validation_and_noop(spark, days_mirror):
    m = days_mirror
    with pytest.raises(ValueError, match="unknown partition_spec"):
        m.regrain(spark, ("hour", "d"))
    with pytest.raises(ValueError, match="not a table column"):
        m.regrain(spark, ("months", "nope"))
    v = m.current()["version"]
    rec = m.regrain(spark, ("days", "d"))  # same spec: no-op, no commit
    assert rec["version"] == v and m.current()["version"] == v


def test_regrain_mor_folds_delta_chain(spark, tmp_path):
    """Regraining a merge-on-read mirror folds its delta chains into the
    rewritten partitions (touched=None full replace), exactly like
    compaction — the new-spec manifest starts chain-free."""
    m = VersionedBucketMirror(
        str(tmp_path / "mm"),
        key_col="id",
        partition_spec=("days", "d"),
        keep_versions=10,
        merge_on_read=True,
    )
    df = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-02", "b")],
        "id long, d string, v string",
    ).withColumn("d", F.col("d").cast("date"))
    m.initialize(df)
    target = CdcTarget(source_uri="x", key_column="id", ts_column="ts")
    m.merge_batch(
        spark.createDataFrame(
            [(1, "2024-01-01", "a2", "U", 1), (2, "2024-01-02", None, "D", 1)],
            "id long, d string, v string, op string, ts long",
        ).withColumn("d", F.col("d").cast("date")),
        target,
    )
    assert m.current().get("deltas")
    rec = m.regrain(spark, ("months", "d"))
    assert not rec.get("deltas")
    got = {r["id"]: r["v"] for r in m.read(spark).collect()}
    assert got == {1: "a2"}


def test_pruned_read_of_old_version_after_regrain(spark, days_mirror):
    """Time-travel prune binds to the RESOLVED manifest's spec (r15):
    after a regrain, an old snapshot's partitions still carry the OLD
    grain's ids — pruning them under the new grain would prove false
    disjointness and drop every bucket."""
    m = days_mirror
    pre_version = m.current()["version"]
    m.regrain(spark, ("years", "d"))
    kept, _ = m._pruned_buckets(
        "d",
        datetime.date(2024, 1, 2),
        datetime.date(2024, 2, 15),
        version=pre_version,
    )
    assert kept == [str(_days("2024-01-05")), str(_days("2024-02-01"))]
    df = m.read_pruned(
        spark,
        "d",
        datetime.date(2024, 1, 2),
        datetime.date(2024, 2, 15),
        version=pre_version,
    )
    assert sorted(r["id"] for r in df.collect()) == [3, 4]


def test_key_point_prune_of_old_version_after_rebucket(spark, tmp_path):
    """Same law for hash specs: a key point-lookup prune at an old
    version hashes under THAT version's recorded n_buckets."""
    m = VersionedBucketMirror(
        str(tmp_path / "r"), key_col="id", n_buckets=4, keep_versions=10
    )
    m.initialize(
        spark.createDataFrame([(i, i) for i in range(20)], "id long, x long")
    )
    v0 = m.current()["version"]
    m.rebucket(spark, 16)
    kept, _ = m._pruned_buckets("id", 7, 7, version=v0)
    assert len(kept) == 1
    got = m._read_entry(spark, m._resolve(v0), buckets=[int(kept[0])])
    assert got.filter(F.col("id") == 7).count() == 1
