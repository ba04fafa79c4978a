"""Cross-engine deterministic column functions.

The correctness oracle (DuckDB) and Spark must compute bit-identical values.
Spark's ``hash()``/``xxhash64()`` and DuckDB's ``hash()`` are different
algorithms, so anything graded (batch assignment, shingle hashing, minhash)
uses ``portable_hash32``: the first 8 hex chars of md5 of the string form,
as an unsigned 32-bit value in a BIGINT. md5 is identical everywhere.

Reference parity: the reference buckets rows with ``F.hash(request_id) %
num_batches`` (src/orchestration/batch_processor.py:42-54), which can yield
*negative* batch ids; we use a non-negative portable hash instead (the fix
SURVEY.md flags).

Decimal casts: double aggregation order differs between engines, so graded
sums go through exact decimals (``dec``) and only the final value is cast
back to double.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

#: Modulus used by batch assignment demos; 2**32 fits in BIGINT.
PORTABLE_HASH_MOD = 2**32


def portable_hash32(col: Column | str) -> Column:
    """Unsigned 32-bit deterministic hash of the column's string form (JVM-side).

    Stays inside whole-stage codegen (md5/conv/substring are built-ins), so
    it is shuffle-key-safe at 100 TB: no Python round-trip.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("bigint")


def portable_hash32_sql(expr: str) -> str:
    """DuckDB SQL equivalent of :func:`portable_hash32`."""
    return f"CAST(('0x' || substr(md5(CAST(({expr}) AS VARCHAR)), 1, 8)) AS BIGINT)"


#: Milliseconds per UTC day — the divisor behind every epoch-day index.
MS_PER_DAY = 86_400_000


def epoch_day(ts_expr: str = "ts") -> Column:
    """FLOOR-division epoch-day index of a timestamp column (JVM-side).

    The calendar-correct convention: 1969-12-31 23:00 is day -1, not day 0.
    NEITHER engine floors natively — Spark's ``div`` truncates toward zero
    AND DuckDB's integer ``//`` also truncates (probed: ``-7 // 2 = -3``;
    the round-4 advice claiming ``//`` floors was wrong — pinned by
    tests/test_operators.py:test_epoch_day_and_dow_floor_semantics_pre_1970).
    Both sides therefore build floor explicitly: subtract the non-negative
    remainder first (``ms - pmod(ms, d)`` is exactly ``floor(ms/d) * d``),
    then the truncating division of that difference IS floor division —
    pure integer arithmetic, whole-stage codegen, no double rounding.
    """
    ms = f"unix_millis(cast({ts_expr} as timestamp))"
    return F.expr(
        f"div({ms} - pmod({ms}, {MS_PER_DAY}), {MS_PER_DAY})"
    ).cast("long")


def pmod_sql(expr: str, m: int) -> str:
    """Non-negative mod for oracle SQL — the counterpart of Spark ``pmod``.

    Both engines' ``%`` keeps the DIVIDEND's sign, so any oracle modding a
    possibly-negative value must go through this ONE audited
    ``(((x % m) + m) % m)`` form (the parenthesization is load-bearing:
    ``%`` binds tighter than ``-``/``+``). Hand-rolling it per call site is
    how the pre-1970 dow/zorder divergences happened.
    """
    return f"((({expr}) % {m} + {m}) % {m})"


def epoch_day_sql(ts_expr: str = "ts") -> str:
    """DuckDB SQL equivalent of :func:`epoch_day` (integer-exact floor).

    Subtracting the non-negative remainder (:func:`pmod_sql`) makes the
    ``//`` exact, so the truncating division equals floor — mirror image
    of the Spark form.
    """
    ms = f"epoch_ms(CAST({ts_expr} AS TIMESTAMP))"
    return f"(({ms} - {pmod_sql(ms, MS_PER_DAY)}) // {MS_PER_DAY})"


def dec(col: Column | str, precision: int = 12, scale: int = 2) -> Column:
    """Exact-decimal cast for cross-engine-stable aggregation."""
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DecimalType(precision, scale))
