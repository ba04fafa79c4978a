"""The driver-local fast path of the size-gated operators.

``connected_components`` (union-find) and ``pq_train`` (numpy Lloyd's) run
on the driver when their input is small: ONE bounded collect replaces
several distributed rounds whose job and planning latency dominates small
inputs. Larger inputs take the distributed path unchanged.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame

# PQ at dim 64 (8 B id + 64 doubles per row) fits the row cap in ~104 MB.
DRIVER_MAX_ROWS = 200_000
DRIVER_MAX_BYTES = 128 << 20

# Key types whose Python/Arrow order equals Spark's ORDER BY: integers
# trivially, strings because UTF-8 byte order equals code-point order.
_SAFE_KEY_TYPES = frozenset({"tinyint", "smallint", "int", "bigint", "string"})


def bounded_collect(
    df: DataFrame,
    keys: tuple[str, ...],
    max_rows: int,
    vec_width: int = 0,
) -> pa.Table | None:
    """``df`` as an Arrow table when the driver may process it, else
    ``None`` (the caller takes its distributed path).

    One ``limit(n + 1)`` job, ``n = min(max_rows, DRIVER_MAX_BYTES //
    row_bytes)``, with ``row_bytes`` estimated from the schema: 8 B per
    integer key, Spark's ``defaultSize`` per string key, 8 B per component
    of a ``vec_width``-wide vector. ``None`` also when a key is null (the
    distributed path orders nulls by join/ORDER BY semantics Python cannot
    mirror) or when the keys do not share one ``_SAFE_KEY_TYPES`` type
    (mixed types compare differently in Python, and a wider column would
    narrow). ``max_rows <= 0`` returns ``None`` without a job.
    """
    types = {df.schema[k].dataType.simpleString() for k in keys}
    if len(types) != 1 or not types <= _SAFE_KEY_TYPES:
        return None
    jschema = df._jdf.schema()  # noqa: SLF001 - defaultSize is JVM-only
    row_bytes = 8 * vec_width + sum(
        max(8, jschema.apply(k).dataType().defaultSize()) for k in keys
    )
    n = min(max_rows, DRIVER_MAX_BYTES // row_bytes)
    if n <= 0:
        return None
    table = df.limit(n + 1).toArrow()
    if table.num_rows > n or any(table.column(k).null_count for k in keys):
        return None
    return table


def vector_matrix(vecs, width: int) -> tuple[np.ndarray, np.ndarray]:
    """``(ok, V)`` of an Arrow list column: ``ok`` marks the rows that are
    non-null with at least ``width`` components, ``V`` is the float64
    ``ok.sum() x width`` matrix of their first ``width`` components, built
    from the list buffers (float32 widens exactly). ``vecs`` may be an
    Array or a ChunkedArray."""
    ok = pc.fill_null(
        pc.greater_equal(pc.list_value_length(vecs), width), False
    ).to_numpy(zero_copy_only=False)
    flat = pc.list_flatten(pc.list_slice(vecs.filter(pa.array(ok)), 0, width))
    V = flat.to_numpy(zero_copy_only=False).astype(np.float64)
    return ok, V.reshape(int(ok.sum()), width)
