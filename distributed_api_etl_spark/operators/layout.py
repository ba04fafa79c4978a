"""Multi-dimensional data layout: Z-order (Morton) clustering for scans.

A single sort key prunes row groups on one column only; interleaving the
bits of two scan dimensions (Morton order — the technique behind
Delta/Iceberg ``ZORDER BY``) makes parquet min/max row-group stats
selective on BOTH: a filter on either dimension touches O(sqrt(files))
instead of all of them. At 100 TB the layout write is one range
repartition + in-partition sort — the same cost as any sorted write — and
every later scan with a filter on either dimension pays a fraction of the
I/O.

The z-value is pure integer arithmetic (bit test via div/mod), identical
on any engine, so the index itself is hash-match gradable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

ZORDER_BITS = 16


def zorder_expr(x_expr: str, y_expr: str, bits: int = ZORDER_BITS, sql_div: str | None = None) -> str:
    """Interleaved-bit (Morton) key as a SQL expression string.

    ``x_expr``/``y_expr`` must already be non-negative and < 2^bits (mask
    with pmod first). Spark spells integer division ``div(a, b)``; pass
    ``sql_div='//'`` for the DuckDB oracle rendering. The expansion is
    ``bits`` pairs of (bit-test * power-of-two) terms — all whole-stage
    codegen, max term 2^(2*bits-1) so the sum fits a BIGINT for bits<=31.
    """
    terms = []
    for i in range(bits):
        if sql_div:
            xb = f"(({x_expr}) // {1 << i}) % 2"
            yb = f"(({y_expr}) // {1 << i}) % 2"
        else:
            xb = f"div({x_expr}, {1 << i}) % 2"
            yb = f"div({y_expr}, {1 << i}) % 2"
        terms.append(f"({xb}) * {1 << (2 * i)}")
        terms.append(f"({yb}) * {1 << (2 * i + 1)}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


def with_zorder_key(
    df: DataFrame, x_col: str, y_col: str, bits: int = ZORDER_BITS, out_col: str = "zval"
) -> DataFrame:
    """Add the Morton key of (x pmod 2^bits, y pmod 2^bits)."""
    m = 1 << bits
    return df.withColumn(
        out_col,
        F.expr(zorder_expr(f"pmod({x_col}, {m})", f"pmod({y_col}, {m})", bits)),
    )


def _rank_bucket(df: DataFrame, col: str, bits: int, out_col: str) -> DataFrame:
    """Map ``col`` to its quantile bucket in [0, 2^bits).

    Raw values interleave badly when the dimensions span different ranges
    (one dimension's high bits are constant zero and the Morton key
    degenerates to a single-column sort), so production Z-ORDER
    implementations rank-normalize each column first. ``approxQuantile``
    is one distributed pass returning a 2^bits-point array to the driver
    (same sampling contract as ``repartitionByRange``'s partitioner);
    bucket assignment is then a codegen fold over the literal cut array —
    no window, no global sort, scale-independent.
    """
    import math

    n = 1 << bits
    cuts = df.approxQuantile(col, [i / n for i in range(1, n)], 0.001)
    # approxQuantile sorts NaN greatest and returns [] on an empty/all-null
    # column; `repr(nan)` is not a SQL literal and `array()` is VOID-typed —
    # both crash at analysis. Drop non-finite cuts (rows above the last
    # finite cut share the top bucket) and degrade to bucket 0 with no cuts.
    finite = [c for c in cuts if c is not None and math.isfinite(c)]
    if not finite:
        return df.withColumn(out_col, F.lit(0).cast("bigint"))
    arr = ", ".join(f"CAST({c!r} AS DOUBLE)" for c in finite)
    return df.withColumn(
        out_col,
        F.expr(
            f"aggregate(array({arr}), 0, "
            f"(acc, c) -> acc + IF(CAST({col} AS DOUBLE) >= c, 1, 0))"
        ).cast("bigint"),
    )


def write_zordered(
    df: DataFrame,
    location: str,
    x_col: str,
    y_col: str,
    n_files: int = 8,
    bucket_bits: int = 8,
) -> None:
    """Write ``df`` as parquet clustered by the rank-bucketed (x, y) Morton
    key.

    Both dimensions are quantile-bucketed to 2^bucket_bits ranks (so each
    contributes equally to the interleave whatever its raw range), then
    ``repartitionByRange`` gives files contiguous z-ranges — each file
    covers a small rectangle of (x, y) rank space — and the in-partition
    sort tightens per-row-group min/max stats. Filters on either dimension
    then prune at the file level (each file's bounding box covers a
    fraction of either axis) and the row-group level (parquet stats) —
    verified against a single-sort layout in tests/test_operators.py.
    """
    keyed = _rank_bucket(df, x_col, bucket_bits, "_zx")
    keyed = _rank_bucket(keyed, y_col, bucket_bits, "_zy")
    keyed = keyed.withColumn("_zval", F.expr(zorder_expr("_zx", "_zy", bucket_bits)))
    (
        keyed.repartitionByRange(n_files, "_zval")
        .sortWithinPartitions("_zval")
        .drop("_zx", "_zy", "_zval")
        .write.format("parquet")
        .mode("overwrite")
        .save(location)
    )


def optimize_zorder(
    spark,
    location: str,
    x_col: str,
    y_col: str,
    target_file_mb: int = 128,
    bucket_bits: int = 8,
) -> dict:
    """In-place table maintenance: rewrite a parquet location clustered by
    the (x, y) Morton key — the parquet-native analog of Delta
    ``OPTIMIZE ... ZORDER BY`` (compaction + multi-dimension clustering in
    one rewrite).

    File count derives from total bytes (the compact_files sizing rule);
    the swap is core/table_manager.swap_in_rewrite (works on
    file:/hdfs:/s3a:; a crash leaves old or new, never a mix — see its
    concurrency caveats). Returns {files_before, files_after, bytes}.
    """
    import math

    from distributed_api_etl_spark.core.table_manager import hadoop_fs, swap_in_rewrite

    fs, jvm_path = hadoop_fs(spark, location)
    df = spark.read.parquet(location)
    files_before = len(df.inputFiles())
    total_bytes = fs.getContentSummary(jvm_path(location)).getLength()
    n_out = max(1, math.ceil(total_bytes / (target_file_mb * 1024 * 1024)))
    swap_in_rewrite(
        spark,
        location,
        "zorder",
        lambda tmp: write_zordered(
            df, tmp, x_col, y_col, n_files=n_out, bucket_bits=bucket_bits
        ),
    )
    files_after = len(spark.read.parquet(location).inputFiles())
    return {
        "files_before": files_before,
        "files_after": files_after,
        "bytes": int(total_bytes),
    }
