"""Snapshot reconciliation: keyed diff of two table versions.

The data-engineering dual of schema-drift validation
(core/table_manager.validate_schema): given OLD and NEW snapshots of the
same logical table, classify every key as ``added`` / ``removed`` /
``changed`` / ``unchanged`` — the audit primitive behind CDC validation,
backfill verification, and sink-vs-source reconciliation.

Plan shape: both sides reduce to (key, row_hash) BEFORE the join — the
full-outer join then ships two narrow columns per row instead of full
rows, and the hash comparison is a codegen equality. At 100 TB both scans
are column-pruned to the compared columns, the single shuffle is on the
join key, and AQE skew-splits hot keys; emitting only non-``unchanged``
rows (the default) keeps the output proportional to the CHANGE rate, not
the table size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def row_signature(df: DataFrame, key_col: str, compare_cols: list[str]) -> DataFrame:
    """(key, row_hash) — md5 over the null-tagged string forms of
    ``compare_cols`` in declared order. The null tag keeps (NULL, 'x')
    distinct from ('x', NULL); md5-of-concat is engine-portable (the
    portable_hash32 rationale, functions/portable.py).
    """
    parts = []
    for c in compare_cols:
        parts.append(
            F.coalesce(F.concat(F.lit("v:"), F.col(c).cast("string")), F.lit("null"))
        )
    return df.select(
        F.col(key_col).alias("k"),
        F.md5(F.concat_ws("|", *parts)).alias("row_hash"),
    )


def snapshot_diff(
    old_df: DataFrame,
    new_df: DataFrame,
    key_col: str,
    compare_cols: list[str],
    include_unchanged: bool = False,
) -> DataFrame:
    """Classify every key across two snapshots.

    Returns (key, change_type) with change_type in
    ``added`` (key only in new), ``removed`` (key only in old),
    ``changed`` (both, differing row hash), ``unchanged`` (suppressed
    unless ``include_unchanged``). Keys must be unique per snapshot —
    duplicate keys make 'changed' ill-defined (enforced upstream by
    latest_by_key / upsert_parquet's uniqueness check).
    """
    old_sig = row_signature(old_df, key_col, compare_cols).withColumnRenamed(
        "row_hash", "old_hash"
    )
    new_sig = row_signature(new_df, key_col, compare_cols).withColumnRenamed(
        "row_hash", "new_hash"
    )
    joined = old_sig.join(new_sig, "k", "full_outer")
    change = (
        F.when(F.col("old_hash").isNull(), F.lit("added"))
        .when(F.col("new_hash").isNull(), F.lit("removed"))
        .when(F.col("old_hash") != F.col("new_hash"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = joined.select(F.col("k").alias(key_col), change.alias("change_type"))
    if not include_unchanged:
        out = out.where(F.col("change_type") != "unchanged")
    return out
