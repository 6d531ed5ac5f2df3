"""Control plane: idempotent bootstrap of (changelog, mirror) table pairs.

Native-Spark rebuild of the reference's bootstrapper (reference
batch_bootstrapper.py:33-94 main loop; tabular.py:77-143 bootstrap_table).
Where the reference POSTs to a SaaS REST API to materialize tables and set
loader properties, this engine creates catalog tables directly and stores
the same pipeline wiring as TBLPROPERTIES — config lives *on the table*,
not in app state (reference tabular.py:58-62,72-75).
"""

from __future__ import annotations

import logging

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from tabular_cdc_bootstrapper_spark.config import CdcTarget, EngineConfig

log = logging.getLogger(__name__)


def cdc_mirror_properties(key_column: str, ts_column: str) -> dict[str, str]:
    """CDC wiring properties (reference tabular.py:58-62) — config-driven,
    not hardcoded (the reference hardcodes ('id','transact_seq') at
    tabular.py:68; SURVEY.md §1.4 flags that as a bug to fix)."""
    return {
        "etl.job-type": "cdc",
        "cdc.type": "DMS",
        "cdc.ts-column": ts_column,
        "cdc.key-column": key_column,
    }


def dependent_tables_property(mirror_fqn: str) -> dict[str, str]:
    """Changelog→mirror dependency edge (reference tabular.py:72-75)."""
    return {"dependent-tables": mirror_fqn}


def _q(ident: str) -> str:
    return ".".join(f"`{p}`" for p in ident.split("."))


def ensure_database(spark: SparkSession, database: str) -> None:
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {_q(database)}")


def table_exists(spark: SparkSession, database: str, table: str) -> bool:
    """Existence probe that survives names needing quoting.

    ``spark.catalog.tableExists`` parses its argument as an identifier, so
    a dash-bearing table name (routine in S3 prefixes → table_name
    derivation, config.py) raises ParseException before the quoted CREATE
    ever runs. SHOW TABLES takes the name as a pattern STRING instead;
    only its wildcards need escaping.

    The final compare is case-INSENSITIVE: Spark stores catalog
    identifiers lowercased, so a mixed-case name (e.g. an S3 segment
    'CustomerData') comes back as 'customerdata' and an exact compare
    would report False on every probe — sending each bootstrap down the
    create path forever (masked by IF NOT EXISTS, but the returned
    created/existed signal would be wrong)."""
    pattern = table.replace("*", r"\*").replace("|", r"\|")
    try:
        rows = spark.sql(
            f"SHOW TABLES IN {_q(database)} LIKE '{pattern}'"
        ).collect()
    except Exception:  # database itself missing → table can't exist
        return False
    return any(r["tableName"].lower() == table.lower() for r in rows)


def _location_has_data(spark: SparkSession, location: str) -> bool:
    try:
        spark.read.parquet(location).schema
        return True
    except Exception:
        return False


def bootstrap_table(
    spark: SparkSession,
    database: str,
    table: str,
    location: str | None = None,
    schema: T.StructType | None = None,
    properties: dict[str, str] | None = None,
) -> bool:
    """Idempotently create ``database.table``; returns True if created.

    Mirrors reference tabular.py:77-143: existence probe (:91-99) → early
    return (:99) → create (:101-143), minus the REST/OAuth layer (control
    plane is local). Schema may be omitted — the reference never declares
    one (tabular.py:130-139 passes only bucket/prefix/format; the loader
    infers) — in which case the table is created only once its location
    holds data to infer from (a schema-less CREATE over an empty LOCATION
    raises UNABLE_TO_INFER_SCHEMA); until then registration is deferred to
    the next bootstrap run, matching the loader's lazy behavior.

    Re-running against an EXISTING table still applies ``properties``:
    the reference re-puts loader/CDC wiring on every bootstrap
    (tabular.py:69-70), so a corrected TABULAR_CDC_TIMESTAMP_FIELD
    propagates instead of being silently dropped. The create itself stays
    idempotent (returns False, no DDL beyond the property refresh).
    """
    fqn = f"{database}.{table}"
    if table_exists(spark, database, table):
        if schema is not None:
            added = widen_catalog_table(spark, fqn, schema)
            if added:
                log.info(
                    "table %s widened with new column(s) %s (schema "
                    "drift in the monitored folder)", fqn, added,
                )
        if properties:
            set_table_properties(spark, fqn, properties)
        log.info("table %s exists — refreshed properties, skipping create", fqn)
        return False
    if schema is None and (not location or not _location_has_data(spark, location)):
        log.info(
            "deferring %s: no schema given and no existing data at %r "
            "to infer one from (will register on a later bootstrap run)",
            fqn, location,
        )
        return False
    cols = f" ({', '.join(f'`{f.name}` {f.dataType.simpleString()}' for f in schema.fields)})" if schema else ""
    loc = f" LOCATION '{location}'" if location else ""
    spark.sql(f"CREATE TABLE IF NOT EXISTS {_q(fqn)}{cols} USING PARQUET{loc}")
    if properties:
        set_table_properties(spark, fqn, properties)
    log.info("bootstrapped table %s", fqn)
    return True


def widen_catalog_table(
    spark: SparkSession, fqn: str, schema: T.StructType
) -> list[str]:
    """``ALTER TABLE ... ADD COLUMNS`` for inferred fields the registered
    table lacks (r14, VERDICT r13 #5 — completes the reference's "new
    tables ... auto ingestion" story, reference README.md:8-9): a
    discovered folder whose LATER files add a column widens its
    changelog/mirror registrations on the next bootstrap poll instead of
    staying pinned to the first-poll schema. Name-NEW fields only — the
    data plane already union-widens on its own (``apply_changelog``'s
    ``unionByName`` and the manifest ``_widen_struct``); the catalog just
    has to declare the new columns so ``SELECT *`` sees them. Old files
    read the added columns as NULL (parquet missing-column semantics).
    Type changes are left to the data plane's widening reads — Spark
    cannot ALTER COLUMN TYPE on a datasource table. Returns the added
    column names (empty when nothing drifted)."""
    rows = spark.sql(f"DESCRIBE TABLE {_q(fqn)}").collect()
    have = set()
    for r in rows:
        name = (r["col_name"] or "").strip()
        if name.startswith("#"):
            break  # partition/detail sections follow the column list
        if name:
            have.add(name.lower())
    new = [f for f in schema.fields if f.name.lower() not in have]
    if not new:
        return []
    cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in new
    )
    spark.sql(f"ALTER TABLE {_q(fqn)} ADD COLUMNS ({cols})")
    spark.sql(f"REFRESH TABLE {_q(fqn)}")
    return [f.name for f in new]


def point_table_to(spark: SparkSession, fqn: str, location: str) -> None:
    """Re-point a registered table at the data plane's current storage and
    refresh reader caches — the glue that makes ``SELECT * FROM mirror``
    see what the pipeline actually wrote (the snapshot mirror swaps its
    current-version directory per commit, so the location moves)."""
    spark.sql(f"ALTER TABLE {_q(fqn)} SET LOCATION '{location}'")
    spark.sql(f"REFRESH TABLE {_q(fqn)}")


def point_table_to_partitioned(
    spark: SparkSession,
    fqn: str,
    location: str,
    manifest: dict,
    partition_col: str = "bucket",
) -> None:
    """Re-point a table at a bucketed mirror's head ``manifest``.

    The mirror keeps each bucket's rows in an immutable version dir
    (``<location>/bucket=N/v-<n>-<id>/``) that only the manifest's
    ``{bucket: dir}`` map names; older versions sit beside it. So neither
    ``ALTER TABLE SET LOCATION`` (no partition discovery: zero files) nor
    ``MSCK REPAIR`` (cannot see the version dirs) registers it. This
    re-creates a PARTITIONED registration with the manifest's schema
    (catalog metadata only; zero data movement) and adds exactly one
    partition per manifest entry, located at that entry's dir. User-set
    TBLPROPERTIES survive: they're read first and re-applied after the
    re-create. A merge-on-read manifest (``deltas``) and one with
    metadata-only renames or column-generation masks are refused: their
    reads fold what a catalog table cannot express.
    """
    folded = [k for k in ("deltas", "renames", "shadowed") if manifest.get(k)]
    if folded:
        raise ValueError(
            f"the head manifest of {location!r} carries {folded}; a "
            "catalog table cannot express the read-time fold they need"
        )
    buckets = manifest["buckets"]
    schema = (
        T.StructType.fromJson(manifest["schema"])
        if manifest.get("schema")
        else spark.read.option("mergeSchema", "true")
        .parquet(*buckets.values())
        .schema
    )
    db, _, tbl = fqn.rpartition(".")
    existed = bool(db) and table_exists(spark, db, tbl)
    keep_props = {
        k: v
        for k, v in (get_table_properties(spark, fqn) if existed else {}).items()
        # engine-managed keys are re-derived by the CREATE below
        if not k.startswith(("transient_", "spark.sql.create", "external"))
    }
    data_cols = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in schema.fields
        if f.name != partition_col
    )
    spark.sql(f"DROP TABLE IF EXISTS {_q(fqn)}")
    spark.sql(
        f"CREATE TABLE {_q(fqn)} ({data_cols}, `{partition_col}` int) "
        f"USING PARQUET PARTITIONED BY (`{partition_col}`) "
        f"LOCATION '{location}'"
    )
    if buckets:
        parts = " ".join(
            f"PARTITION (`{partition_col}`={int(b)}) LOCATION '{d}'"
            for b, d in buckets.items()
        )
        spark.sql(f"ALTER TABLE {_q(fqn)} ADD {parts}")
    if keep_props:
        set_table_properties(spark, fqn, keep_props)
    spark.sql(f"REFRESH TABLE {_q(fqn)}")


def set_table_properties(spark: SparkSession, fqn: str, props: dict[str, str]) -> None:
    """Atomic property write (reference tabular.py:69-70 uses a pyiceberg
    transaction; Spark's ALTER TABLE SET TBLPROPERTIES is a single catalog
    op)."""
    kv = ", ".join(f"'{k}'='{v}'" for k, v in props.items())
    spark.sql(f"ALTER TABLE {_q(fqn)} SET TBLPROPERTIES ({kv})")


def get_table_properties(spark: SparkSession, fqn: str) -> dict[str, str]:
    rows = spark.sql(f"SHOW TBLPROPERTIES {_q(fqn)}").collect()
    return {r["key"]: r["value"] for r in rows}


def bootstrap_target(
    spark: SparkSession, cfg: EngineConfig, target: CdcTarget,
    schema: T.StructType | None = None,
) -> tuple[str, str]:
    """Bootstrap one prefix → (changelog_fqn, mirror_fqn).

    Sequence mirrors reference batch_bootstrapper.py:49-94: derive names
    (:55-56) → changelog table with loader enabled (:59-71) → dependency
    property (:72) → mirror table, loader disabled (:75-87) → CDC props
    (:88)."""
    target.validate()
    ensure_database(spark, cfg.database)
    mirror = f"{cfg.database}.{target.table_name}"
    changelog = f"{cfg.database}.{target.changelog_table_name}"
    wh = cfg.warehouse_dir.rstrip("/")
    bootstrap_table(
        spark, cfg.database, target.changelog_table_name,
        location=f"{wh}/{target.changelog_table_name}", schema=schema,
        properties={
            **dependent_tables_property(mirror),
            # loader wiring the reference passes in its REST payload
            # (tabular.py:130-139): mode + exclusion filter
            "fileloader.mode": "CREATE_AUTO_LOAD",
            "fileloader.file-filter": target.changelog_exclude_glob,
            "fileloader.source-uri": target.source_uri,
        },
    )
    mirror_schema = None
    if schema is not None:
        keep = [f for f in schema.fields if f.name not in (target.op_column, target.ts_column, "table")]
        mirror_schema = T.StructType(keep)
    bootstrap_table(
        spark, cfg.database, target.table_name,
        location=f"{wh}/{target.table_name}", schema=mirror_schema,
        properties={
            **cdc_mirror_properties(target.key_column, target.ts_column),
            "fileloader.mode": "CREATE_LOAD",
            "fileloader.file-filter": target.initial_load_exclude_glob,
            "fileloader.source-uri": target.source_uri,
        },
    )
    return changelog, mirror


def list_child_prefixes(spark: SparkSession, monitor_uri: str) -> list[str]:
    """First-level folder URIs under a monitored prefix.

    The reference's delegated layer "will create tables in Iceberg when
    new folder paths are detected" (reference README.md:8); this is the
    detection half, done through the Hadoop FileSystem API so the same
    call works on ``file://`` fixtures and ``s3a://``/``hdfs://``
    deployments alike. One LIST call per run — a control-plane probe,
    never a data read, so it costs the same at 100 TB as at 100 KB.
    """
    jvm = spark._jvm
    path = jvm.org.apache.hadoop.fs.Path(monitor_uri)
    fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(path):
        return []
    return sorted(
        str(st.getPath().toString())
        for st in fs.listStatus(path)
        if st.isDirectory()
    )


def discover_targets(
    spark: SparkSession,
    monitor_uri: str,
    template: CdcTarget | None = None,
) -> tuple[CdcTarget, ...]:
    """Synthesize one ``CdcTarget`` per first-level folder under
    ``monitor_uri`` (reference README.md:8 auto-discovery; the folder's
    last path segment names the mirror exactly as
    batch_bootstrapper.py:55 does for configured URIs). ``template``
    carries the CDC wiring (key/ts/op columns, glob filters) every
    synthesized target inherits — discovery finds WHERE the tables are,
    config still says HOW they change."""
    from dataclasses import replace

    tmpl = template or CdcTarget(source_uri="")
    return tuple(
        replace(tmpl, source_uri=child)
        for child in list_child_prefixes(spark, monitor_uri)
    )


def discovered_and_configured(
    cfg: EngineConfig, discovered: tuple[CdcTarget, ...]
) -> tuple[CdcTarget, ...]:
    """Configured targets first, then discovered folders that don't
    collide with them on table name — an operator's explicit config
    (custom key/ts columns) must win over a synthesized default for the
    same table."""
    seen = {t.table_name for t in cfg.targets}
    extra = tuple(t for t in discovered if t.table_name not in seen)
    return cfg.targets + extra


def bootstrap_discovered(
    spark: SparkSession,
    cfg: EngineConfig,
    monitor_uri: str,
    template: CdcTarget | None = None,
) -> dict[str, tuple[str, str] | Exception]:
    """Auto-discovery bootstrap loop (reference README.md:8): list the
    monitored prefix, synthesize a target per unseen folder, bootstrap
    every (changelog, mirror) pair idempotently. Re-running after a new
    folder appears picks it up and no-ops the rest — this call IS the
    reference's poll loop, minus the 24 h S3-inventory lag.

    Each folder infers its OWN schema from the files it already holds
    (different source tables have different shapes); folders that are
    still empty bootstrap schema-less and register on a later run
    (``bootstrap_table``'s deferral contract). Per-target error
    isolation as in ``bootstrap_all`` (C1).
    """
    targets = discovered_and_configured(
        cfg, discover_targets(spark, monitor_uri, template)
    )
    return bootstrap_targets(spark, cfg, targets)


def bootstrap_targets(
    spark: SparkSession,
    cfg: EngineConfig,
    targets: tuple[CdcTarget, ...],
    schemas: dict[str, T.StructType | None] | None = None,
) -> dict[str, tuple[str, str] | Exception]:
    """Bootstrap an explicit target list with per-folder schema inference
    and per-target error isolation — the loop ``bootstrap_discovered``
    runs after discovery, split out (r13 review) so callers that already
    listed the prefix (``__main__``'s auto-discover path) bootstrap the
    SAME list they will run pipelines for: one LIST per poll, and no
    folder can appear between two listings and reach the pipeline loop
    un-bootstrapped.

    ``schemas``, when given, receives each target's inferred source schema
    (``None``: no data yet), so a caller that runs the pipeline next reuses
    it instead of running a second footer job per target."""
    results: dict[str, tuple[str, str] | Exception] = {}
    for target in targets:
        try:
            schema = None
            try:
                # mergeSchema: a re-poll must see the UNION of every
                # file's columns (r14 schema drift — without it Spark
                # infers from one footer and a widened later batch
                # stays invisible to the catalog tables)
                schema = (
                    spark.read.option("recursiveFileLookup", "true")
                    .option("mergeSchema", "true")
                    .parquet(target.source_uri)
                    .schema
                )
            except Exception:  # empty/unreadable folder → defer, don't fail
                pass
            if schemas is not None:
                schemas[target.source_uri] = schema
            results[target.source_uri] = bootstrap_target(
                spark, cfg, target, schema=schema
            )
        except Exception as exc:  # noqa: BLE001 — isolation is the contract
            log.error("bootstrap failed for %s: %s", target.source_uri, exc)
            results[target.source_uri] = exc
    return results


def bootstrap_all(
    spark: SparkSession, cfg: EngineConfig,
    schema: T.StructType | None = None,
) -> dict[str, tuple[str, str] | Exception]:
    """Per-target loop with error isolation — one bad prefix must not kill
    the run (reference batch_bootstrapper.py:49-94, try/except at :50,91-94).
    Returns {source_uri: (changelog, mirror) | exception}."""
    results: dict[str, tuple[str, str] | Exception] = {}
    for target in cfg.targets:
        try:
            results[target.source_uri] = bootstrap_target(spark, cfg, target, schema)
        except Exception as exc:  # noqa: BLE001 — isolation is the contract
            # never log credentials (reference tabular.py:105 redacts)
            log.error("bootstrap failed for %s: %s", target.source_uri, exc)
            results[target.source_uri] = exc
    return results
