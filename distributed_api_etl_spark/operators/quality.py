"""Data-quality expectations: declarative row rules -> violation report.

Extends the reference's schema/contract validation (which checks shape,
config/models.py parity) to row-level CONTENT checks — the gate a 100 TB
ingest needs before promoting bronze to silver.

Scale notes: all row rules evaluate in ONE aggregation over ONE scan (one
``sum(case)`` per rule, map-side combined — never one job per rule).
Referential rules need the lookup side; they evaluate as a left-anti
aggregate against the (typically broadcastable) key set, one join per
referenced table, and report through the same schema.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Rule names feed generated column names and expression strings; anything
#: outside identifier characters would silently re-parse (``price-pos`` ->
#: ``price - pos``) or fail analysis, so reject it eagerly.
_RULE_NAME_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


@dataclass(frozen=True)
class Rule:
    """A named boolean expectation; rows where ``cond`` is false/NULL
    violate it (SQL three-valued logic: an unknown check is a failure)."""

    name: str
    cond: Column

    def __post_init__(self) -> None:
        if not _RULE_NAME_RE.match(self.name):
            raise ValueError(
                f"rule name {self.name!r} must be a plain identifier "
                "([A-Za-z_][A-Za-z0-9_]*): it becomes a generated column "
                "name inside the report aggregation"
            )


def rule(name: str, cond: Column | str) -> Rule:
    return Rule(name, F.expr(cond) if isinstance(cond, str) else cond)


def dq_report(df: DataFrame, rules: list[Rule]) -> DataFrame:
    """Evaluate all row rules in one pass.

    Output: (rule_name, n_rows, n_violations, violation_ppm) — ppm as
    integer parts-per-million via integer division, cross-engine exact.
    """
    aggs = [F.count("*").alias("_n")]
    for r in rules:
        aggs.append(
            # coalesce: sum() over an EMPTY frame is NULL, not 0
            F.coalesce(
                F.sum(F.when(r.cond.isNull() | ~r.cond, 1).otherwise(0)),
                F.lit(0),
            ).alias(f"_v_{r.name}")
        )
    wide = df.agg(*aggs)
    per_rule = [
        F.struct(
            F.lit(r.name).alias("rule_name"),
            F.col("_n").alias("n_rows"),
            F.col(f"_v_{r.name}").cast("bigint").alias("n_violations"),
            # empty input: _n = 0 would make div() return NULL — report 0
            F.when(F.col("_n") == 0, F.lit(0).cast("bigint"))
            .otherwise(F.expr(f"div(1000000 * _v_{r.name}, _n)"))
            .alias("violation_ppm"),
        )
        for r in rules
    ]
    return wide.select(F.explode(F.array(*per_rule)).alias("r")).select("r.*")


def fk_violations(
    df: DataFrame, fk_col: str, ref: DataFrame, ref_col: str, rule_name: str
) -> DataFrame:
    """Referential-integrity rule: count fact rows whose ``fk_col`` has no
    match in ``ref[ref_col]`` (NULL fks violate too — use a row rule to
    allow nullable fks). Same output schema as :func:`dq_report` rows."""
    n_rows = df.count()
    viol = df.select(F.col(fk_col)).join(
        ref.select(F.col(ref_col).alias(fk_col)).distinct(), fk_col, "left_anti"
    )
    # an empty fact table divides by zero: div() returns NULL (non-ANSI) and
    # a ppm<=limit gate would silently pass unknown — report 0 explicitly
    ppm = (
        F.lit(0).cast("bigint")
        if n_rows == 0
        else F.expr(f"div(1000000 * count(*), {n_rows})")
    )
    return viol.agg(
        F.lit(rule_name).alias("rule_name"),
        F.lit(n_rows).cast("bigint").alias("n_rows"),
        F.count("*").cast("bigint").alias("n_violations"),
        ppm.alias("violation_ppm"),
    )
