"""DDL + schema governance for sink tables.

Reference parity (rebuilt, not ported):
  * CREATE DATABASE / CREATE TABLE DDL rendered from a StructType with
    column comments, NOT NULL, PARTITIONED BY, LOCATION and TBLPROPERTIES —
    src/core/table_manager.py:49-114 in the reference.
  * Schema drift validation (missing/extra columns, type mismatch,
    nullability tightening) — reference table_manager.py:141-195.
  * Comment enrichment: config column descriptions copied into StructField
    metadata so they surface in ``DESCRIBE`` — reference
    table_manager.py:116-139.

Format: ``USING PARQUET`` by default; ``USING DELTA`` is emitted when the
config asks for it (requires delta-spark on the cluster — import-gated, not
assumed).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import types as T


def enrich_schema_with_comments(
    schema: T.StructType, descriptions: dict[str, str]
) -> T.StructType:
    """Copy column descriptions into StructField metadata (-> DDL COMMENT)."""
    fields = []
    for f in schema.fields:
        meta = dict(f.metadata or {})
        if f.name in descriptions:
            meta["comment"] = descriptions[f.name]
        fields.append(T.StructField(f.name, f.dataType, f.nullable, meta))
    return T.StructType(fields)


def _sql_literal(value: str) -> str:
    return "'" + value.replace("'", "''") + "'"


def render_create_table(
    table_name: str,
    schema: T.StructType,
    *,
    fmt: str = "parquet",
    partition_by: list[str] | None = None,
    location: str | None = None,
    properties: dict[str, str] | None = None,
    or_replace: bool = False,
    if_not_exists: bool = True,
) -> str:
    """Render CREATE TABLE DDL from a StructType (comments + NOT NULL)."""
    cols = []
    for f in schema.fields:
        line = f"  `{f.name}` {f.dataType.simpleString()}"
        if not f.nullable:
            line += " NOT NULL"
        comment = (f.metadata or {}).get("comment")
        if comment:
            line += f" COMMENT {_sql_literal(comment)}"
        cols.append(line)
    head = "CREATE OR REPLACE TABLE" if or_replace else (
        "CREATE TABLE IF NOT EXISTS" if if_not_exists else "CREATE TABLE"
    )
    ddl = f"{head} {table_name} (\n" + ",\n".join(cols) + f"\n) USING {fmt.upper()}"
    if partition_by:
        ddl += "\nPARTITIONED BY (" + ", ".join(f"`{c}`" for c in partition_by) + ")"
    if location:
        ddl += f"\nLOCATION {_sql_literal(location)}"
    if properties:
        props = ", ".join(
            f"{_sql_literal(k)} = {_sql_literal(v)}" for k, v in sorted(properties.items())
        )
        ddl += f"\nTBLPROPERTIES ({props})"
    return ddl


@dataclass
class SchemaDriftIssue:
    issue_type: str  # missing_column | extra_column | type_mismatch | nullability_tightened
    column: str
    detail: str


@dataclass
class SchemaDriftReport:
    issues: list[SchemaDriftIssue] = field(default_factory=list)

    @property
    def ok(self) -> bool:
        return not self.issues


def validate_schema(actual: T.StructType, expected: T.StructType) -> SchemaDriftReport:
    """Drift between a live table's schema and the declared contract.

    * missing_column — declared but absent in the table;
    * extra_column — present in the table but undeclared (warning-grade);
    * type_mismatch — same name, different Spark type;
    * nullability_tightened — declared NOT NULL but the table allows nulls
      (the direction that breaks writers; the opposite is safe).
    """
    report = SchemaDriftReport()
    actual_by_name = {f.name: f for f in actual.fields}
    expected_by_name = {f.name: f for f in expected.fields}
    for name, exp in expected_by_name.items():
        act = actual_by_name.get(name)
        if act is None:
            report.issues.append(
                SchemaDriftIssue("missing_column", name, exp.dataType.simpleString())
            )
            continue
        if act.dataType != exp.dataType:
            report.issues.append(
                SchemaDriftIssue(
                    "type_mismatch",
                    name,
                    f"expected {exp.dataType.simpleString()}, "
                    f"found {act.dataType.simpleString()}",
                )
            )
        if not exp.nullable and act.nullable:
            report.issues.append(
                SchemaDriftIssue(
                    "nullability_tightened", name, "declared NOT NULL, table allows NULL"
                )
            )
    for name in actual_by_name:
        if name not in expected_by_name:
            report.issues.append(
                SchemaDriftIssue(
                    "extra_column", name, actual_by_name[name].dataType.simpleString()
                )
            )
    return report


class TableManager:
    """Create sink databases/tables and police their schemas."""

    def __init__(self, spark: SparkSession) -> None:
        self.spark = spark

    def ensure_database(self, name: str) -> None:
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS `{name}`")

    def create_table(
        self,
        table_name: str,
        schema: T.StructType,
        *,
        fmt: str = "parquet",
        partition_by: list[str] | None = None,
        location: str | None = None,
        properties: dict[str, str] | None = None,
        descriptions: dict[str, str] | None = None,
        or_replace: bool = False,
    ) -> str:
        """CREATE (OR REPLACE) the table; returns the DDL executed."""
        if "." in table_name:
            self.ensure_database(table_name.rsplit(".", 1)[0].strip("`"))
        if descriptions:
            schema = enrich_schema_with_comments(schema, descriptions)
        ddl = render_create_table(
            table_name,
            schema,
            fmt=fmt,
            partition_by=partition_by,
            location=location,
            properties=properties,
            or_replace=or_replace,
        )
        self.spark.sql(ddl)
        return ddl

    def validate_table(self, table_name: str, expected: T.StructType) -> SchemaDriftReport:
        actual = self.spark.table(table_name).schema
        return validate_schema(actual, expected)

    def write_bucketed(
        self,
        df,
        table_name: str,
        bucket_cols: list[str],
        n_buckets: int,
        *,
        sort_cols: list[str] | None = None,
        fmt: str = "parquet",
        mode: str = "overwrite",
        location: str | None = None,
    ) -> None:
        """Persist ``df`` as a bucketed (optionally sorted) table.

        Bucketing is THE repeated-join amortizer at 100 TB: both sides of an
        equi-join bucketed on the join key with the same bucket count join
        with ZERO shuffle exchanges (each task reads matching bucket files
        directly — proven at the plan level in tests/test_table_manager.py),
        and with ``sort_cols`` the sort-merge join skips its sort too. One
        write-time shuffle buys every downstream join/agg on that key.
        Bucket count rule of thumb: total size / target task input
        (~128-256 MB); both join sides MUST agree on count and key.
        """
        if "." in table_name:
            self.ensure_database(table_name.rsplit(".", 1)[0].strip("`"))
        w = df.write.format(fmt).mode(mode).bucketBy(n_buckets, *bucket_cols)
        if sort_cols:
            w = w.sortBy(*sort_cols)
        if location:
            w = w.option("path", location)
        w.saveAsTable(table_name)


# The in-place rewrites here (compact_files, upsert_parquet,
# layout.optimize_zorder) share one swap protocol: the new layout is
# written to ``<location>__<op>_tmp``, the live layout is renamed to
# ``<location>__<op>_old``, the new one is renamed into place and the old
# one is deleted. recover_scratch resolves what a crash leaves behind.
_SWAP_OPS = ("compact", "upsert", "zorder")


def swap_scratch(location: str, op: str, stage: str) -> str:
    """``<location>__<op>_<stage>``: where the ``op`` swap writes the new
    layout (stage ``tmp``) or parks the live one (stage ``old``)."""
    return location.rstrip("/") + f"__{op}_{stage}"


SCRATCH_SUFFIXES = tuple(
    swap_scratch("", op, stage) for op in _SWAP_OPS for stage in ("tmp", "old")
)


def hadoop_fs(spark: SparkSession, location: str):
    """``(FileSystem, Path)`` of ``location``: the Hadoop FileSystem that
    resolves it (file:, hdfs:, s3a:, ...) and the JVM Path constructor."""
    sc = spark.sparkContext
    jvm_path = sc._jvm.org.apache.hadoop.fs.Path  # noqa: SLF001
    fs = jvm_path(location).getFileSystem(sc._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs, jvm_path


def path_exists(spark: SparkSession, location: str) -> bool:
    """Whether ``location`` exists — one Hadoop ``FileSystem.exists``
    call, no Spark job."""
    fs, jvm_path = hadoop_fs(spark, location)
    return bool(fs.exists(jvm_path(location)))


def swap_in_rewrite(spark: SparkSession, location: str, op: str, write) -> None:
    """Replace the layout at ``location`` with the one ``write(tmp)``
    writes, by the two-rename swap.

    A crash leaves either the old or the new layout, never a mix, but
    there IS a brief no-sink window between the two renames: serialize
    against concurrent readers (on object stores rename is copy+delete and
    the window is longer — prefer Delta OPTIMIZE there). A failed second
    rename puts the old layout back before raising ``OSError``.
    """
    assert op in _SWAP_OPS, op
    fs, path = hadoop_fs(spark, location)
    tmp, old = swap_scratch(location, op, "tmp"), swap_scratch(location, op, "old")
    write(tmp)
    if not fs.rename(path(location), path(old)):
        raise OSError(f"{op} swap: rename {location} -> {old} failed")
    if not fs.rename(path(tmp), path(location)):
        fs.rename(path(old), path(location))
        raise OSError(f"{op} swap: rename {tmp} -> {location} failed")
    fs.delete(path(old), True)


def compact_files(
    spark: SparkSession,
    location: str,
    fmt: str = "parquet",
    target_file_mb: int = 128,
    partition_by: tuple[str, ...] = (),
    drop_ids=None,
    drop_id_col: str = "",
) -> dict:
    """Compact a fragmented append sink into ~target-sized files.

    Per-batch appends (the HTTP pipeline's write pattern) fragment the sink:
    at 200 partitions x many batches the file count grows unbounded and
    scan planning slows. Rewrite with a size-derived partition count
    (parquet has no OPTIMIZE; Delta users should prefer OPTIMIZE/Z-ORDER).

    Pass ``partition_by`` for a HIVE-PARTITIONED layout (e.g. the stored
    IVF index's ``centroid_id`` buckets, which a streaming
    foreachBatch append fragments one-file-per-batch-per-bucket): the
    rewrite repartitions BY the partition columns (each bucket lands
    wholly in one task -> exactly one file per bucket) and writes
    ``partitionBy`` so directory structure — and with it file-level
    partition pruning — survives compaction. The size-derived count then
    only bounds write parallelism. Appropriate when buckets are small
    relative to ``target_file_mb`` (the small-files regime that needs
    compacting); a bucket larger than the target should stay multi-file
    and skip compaction.

    The rewrite is swapped in by :func:`swap_in_rewrite` through the
    Hadoop FileSystem that resolves the location, so it works on any
    scheme (file:, hdfs:, s3a:), not just local POSIX paths. Returns
    {files_before, files_after, bytes, rows_dropped}.

    ``drop_ids`` (a 1-column frame of ``drop_id_col`` values) makes the
    rewrite a VACUUM: tombstoned rows are excluded (broadcast left-anti
    during the rewrite), physically reclaiming the deletes that
    tombstone-masked serving (ivf_int8_topk_from_index ``tombstones=``)
    only hides — after a vacuum the tombstone set can be emptied. This is
    how immutable layouts actually apply deletes: never per-delete, once
    per compaction cycle.
    """
    import math

    fs, jvm_path = hadoop_fs(spark, location)
    df = spark.read.format(fmt).load(location)
    # capture the pre-join file census from the location-only frame: after
    # the left-anti join below, inputFiles() would also count the tombstone
    # frame's source files (e.g. parquet backing drop_ids), inflating the stat
    files_before = len(df.inputFiles())
    rows_dropped = 0
    if drop_ids is not None:
        from pyspark.sql import functions as F

        # ONE extra scan (semi-join count), not a before/after count pair —
        # the rewrite below is already a full read, and a vacuum of a
        # 100-TB layout should pay 2 reads total, not 3. File sizing
        # (n_out) still uses pre-drop bytes: conservative direction only
        # (files come out smaller than target when many rows drop).
        dids = F.broadcast(drop_ids.select(drop_id_col))
        rows_dropped = df.join(dids, drop_id_col, "left_semi").count()
        df = df.join(dids, drop_id_col, "left_anti")
    summary = fs.getContentSummary(jvm_path(location))
    total_bytes = summary.getLength()
    n_out = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    if partition_by:
        writer = (
            df.repartition(n_out, *[df[c] for c in partition_by])
            .write.format(fmt)
            .partitionBy(*partition_by)
        )
    else:
        writer = df.repartition(n_out).write.format(fmt)
    swap_in_rewrite(spark, location, "compact", writer.mode("overwrite").save)
    files_after = sum(1 for _ in spark.read.format(fmt).load(location).inputFiles())
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": int(total_bytes),
        "rows_dropped": int(rows_dropped),
    }


def upsert_parquet(
    spark: SparkSession,
    location: str,
    updates,
    key_col: str = "request_id",
) -> dict:
    """Copy-on-write UPSERT for parquet sinks: matched keys take the update
    row, unmatched sink rows survive, new keys insert — Delta's
    ``whenMatchedUpdateAll + whenNotMatchedInsertAll`` without a transaction
    log (beyond the reference, whose merge is insert-only:
    src/orchestration/batch_handler.py:47).

    Plan: one left-anti join (sink rows whose key is NOT updated) unioned
    with the updates, rewritten to a temp dir, then the two-rename swap
    (:func:`swap_in_rewrite`) — a crash leaves the old or the new
    layout, never a mix. Concurrent writers must be externally serialized
    (no log to detect conflicts); at scale partition the sink so the
    rewrite touches only affected partitions, or use Delta/Iceberg where
    available — the semantics here are the portable floor, not a
    transaction-log replacement. Returns {rows_before, rows_after,
    rows_updated, rows_inserted}.

    ``updates`` must be unique on ``key_col`` (asserted — duplicate update
    keys would write duplicate rows and corrupt the stats). Crash recovery:
    a failure between the two renames leaves the data parked at
    ``<location>__upsert_old`` with no live ``location`` — run
    :func:`recover_scratch` (both snapshots are complete, never a mix).
    """
    if not path_exists(spark, location):
        updates.write.format("parquet").mode("overwrite").save(location)
        n = updates.count()
        return {"rows_before": 0, "rows_after": n, "rows_updated": 0, "rows_inserted": n}
    existing = spark.read.parquet(location)
    rows_before = existing.count()
    updates = updates.persist()
    n_updates = updates.count()
    n_keys = updates.select(key_col).distinct().count()
    if n_keys != n_updates:
        updates.unpersist()
        raise ValueError(
            f"upsert_parquet: updates must be unique on {key_col!r} "
            f"({n_updates} rows, {n_keys} distinct keys); dedupe first"
        )
    kept = existing.join(updates.select(key_col), key_col, "left_anti")
    merged = kept.unionByName(updates)
    swap_in_rewrite(
        spark, location, "upsert", merged.write.format("parquet").mode("overwrite").save
    )
    rows_after = spark.read.parquet(location).count()
    rows_inserted = rows_after - rows_before
    updates.unpersist()
    return {
        "rows_before": rows_before,
        "rows_after": rows_after,
        "rows_updated": n_updates - rows_inserted,
        "rows_inserted": rows_inserted,
    }


def recover_scratch(spark: SparkSession, location: str) -> dict:
    """Resolve leftovers of a crashed two-rename swap at ``location``.

    Every atomic-swap writer here (compact_files, upsert_parquet,
    optimize_zorder) parks state at ``<location>__<op>_tmp/old`` during the
    swap; a crash can leave (a) scratch beside a live table — delete the
    scratch, or (b) NO live table with a complete ``__old`` snapshot — the
    crash hit between the two renames, so restore ``__old`` as the table.
    A ``__tmp`` without a live table also restores (it is the complete new
    layout). Run before reading a location that might have died mid-
    maintenance; idempotent. Returns {restored, deleted}.
    """
    fs, jvm_path = hadoop_fs(spark, location)
    base = location.rstrip("/")
    live = fs.exists(jvm_path(base))
    restored, deleted = [], []
    # prefer __old (the pre-swap snapshot) over __tmp when both could restore
    for suffix in sorted(SCRATCH_SUFFIXES, key=lambda s: not s.endswith("_old")):
        scratch = base + suffix
        if not fs.exists(jvm_path(scratch)):
            continue
        if not live:
            if not fs.rename(jvm_path(scratch), jvm_path(base)):
                raise OSError(f"recover_scratch: rename {scratch} -> {base} failed")
            restored.append(suffix)
            live = True
        else:
            fs.delete(jvm_path(scratch), True)
            deleted.append(suffix)
    return {"restored": restored, "deleted": deleted}
