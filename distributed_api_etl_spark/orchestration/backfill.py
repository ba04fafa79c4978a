"""Incremental backfill driver: process work units once, resume after crashes.

The HTTP pipeline's idempotency is row-level (sink anti-join,
batch_processor). Backfills need the same property one level up: a historical
re-computation over many PARTITIONS (dates, shards, tenants) that can die
mid-run and resume without re-processing finished units. The bookmark is a
tiny parquet state table (unit, status, rows, processed_at) appended after
each unit commits — the unit's own write must be idempotent or atomic (the
engine's sinks are: overwrite-per-partition, merge, or the two-rename swap).

Driver-loop note (100 TB): like the reference's batch retry loop, the units
iterate on the driver — each iteration launches one DISTRIBUTED job and
appends one bookmark row; the driver holds unit ids only, never data. Run
units serially for ordered sinks or fan out externally for independent ones.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Sequence

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from distributed_api_etl_spark.core.table_manager import path_exists

STATE_SCHEMA = "unit string, status string, rows bigint, processed_at double"


def completed_units(spark: SparkSession, state_location: str) -> set[str]:
    """Units with a committed 'done' bookmark (empty on first run).

    First run is exact, and corruption raises:
    - a state location that does not exist was never written;
    - a directory with NO committed parquet files (a crash during the very
      first bookmark append leaves only ``_temporary/``, which the reader
      skips as hidden) reads as zero rows under the declared
      ``STATE_SCHEMA``: no bookmark ever committed, so "no units done" is
      exact, and treating it as corruption would permanently block the
      resume path this module exists to provide.
    A committed part file that cannot be read (an unreadable footer) is
    genuine corruption: silently returning the empty set would restart the
    whole backfill, so the read error propagates.

    Accepted residual risk: externally deleting every committed part file
    while leaving the directory also reads as zero rows and therefore as
    first-run — indistinguishable from the crash shape by construction (an
    explicit init marker would not help: whatever deleted the part files
    can delete the marker). The tradeoff is deliberate: self-healing after
    a first-append crash (an expected failure mode of this module) over
    detecting external state destruction (not one). Unit writes are
    idempotent by contract, so the cost of the silent restart is wasted
    work, never duplicated data.
    """
    if not path_exists(spark, state_location):
        return set()
    state = spark.read.schema(STATE_SCHEMA).parquet(state_location)
    # Driver-side collect is bounded by the UNIT universe (dates/partitions
    # handed to run_backfill) — metadata cardinality, never row data; a
    # 100 TB backfill still collects only its few thousand unit ids.
    return {
        r["unit"]
        for r in state.where(F.col("status") == "done").select("unit").collect()
    }


def run_backfill(
    spark: SparkSession,
    units: Sequence[str],
    process_fn: Callable[[SparkSession, str], int],
    state_location: str,
    continue_on_error: bool = False,
) -> dict:
    """Process each unit exactly once across any number of invocations.

    ``process_fn(spark, unit) -> row_count`` must write its own output
    idempotently (overwrite its partition / merge / atomic swap) — the
    bookmark commits AFTER it returns, so a crash between write and
    bookmark re-runs that one unit (idempotent write makes that safe:
    at-least-once execution, exactly-once effect). Already-bookmarked
    units are skipped, making re-invocation the resume mechanism — no
    separate recovery path. Returns {processed, skipped, failed}.
    """
    done = completed_units(spark, state_location)
    processed = skipped = failed = 0
    for unit in units:
        if unit in done:
            skipped += 1
            continue
        try:
            n_rows = process_fn(spark, unit)
        except Exception:
            failed += 1
            if continue_on_error:
                continue
            raise
        bookmark = spark.createDataFrame(
            [(unit, "done", int(n_rows), time.time())], STATE_SCHEMA
        )
        bookmark.write.mode("append").parquet(state_location)
        processed += 1
    return {"processed": processed, "skipped": skipped, "failed": failed}
