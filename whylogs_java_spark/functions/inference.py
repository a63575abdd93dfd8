"""Column-type inference: the SchemaTracker decision tree as expressions.

Reproduces SchemaTracker.getInferredType (core/.../SchemaTracker.java:41-105)
over per-type counts. The tree (totalCount includes NULL and UNKNOWN):

1. total == 0                      -> UNKNOWN
2. most-popular ratio > 0.7        -> that type
3. candidate STRING and
   string_count > int+frac         -> STRING (coerced ratio)
4. candidate ratio > 0.5           -> candidate (FRACTIONAL absorbs INTEGRAL,
                                      SchemaTracker.java:84-86)
5. (int+frac)/total > 0.5          -> FRACTIONAL
6. else                            -> UNKNOWN

Deviation from the reference: ties in "most popular" are HashMap-iteration-
order-dependent in Java (SchemaTracker.java:135-138); here ties break by the
fixed priority STRING > FRACTIONAL > INTEGRAL > BOOLEAN > NULL > UNKNOWN so
results are deterministic.

The tree is built as SQL text only, so the Spark plan
(``plans.spark_sql.finalize_select_sql``) and the DuckDB oracle run
literally the same logic.
"""

from __future__ import annotations

from ..constants import (
    TYPE_BOOLEAN,
    TYPE_FRACTIONAL,
    TYPE_INTEGRAL,
    TYPE_NULL,
    TYPE_STRING,
    TYPE_UNKNOWN,
)


def inferred_type_sql(
    null_count: str,
    fractional_count: str,
    integral_count: str,
    boolean_count: str,
    string_count: str,
    unknown_count: str,
) -> str:
    """ANSI-SQL text of the decision tree above (Spark and DuckDB).

    Arguments are SQL expressions (typically aggregate aliases) for the six
    per-type counts.
    """
    c = {
        TYPE_NULL: null_count,
        TYPE_FRACTIONAL: fractional_count,
        TYPE_INTEGRAL: integral_count,
        TYPE_BOOLEAN: boolean_count,
        TYPE_STRING: string_count,
        TYPE_UNKNOWN: unknown_count,
    }
    total = " + ".join(c.values())
    # candidate count = greatest; candidate type via the same priority walk
    greatest = f"GREATEST({', '.join(c.values())})"
    # choose the highest-priority type attaining the max
    cand_type = f"""CASE
        WHEN {c[TYPE_STRING]} = {greatest} THEN '{TYPE_STRING}'
        WHEN {c[TYPE_FRACTIONAL]} = {greatest} THEN '{TYPE_FRACTIONAL}'
        WHEN {c[TYPE_INTEGRAL]} = {greatest} THEN '{TYPE_INTEGRAL}'
        WHEN {c[TYPE_BOOLEAN]} = {greatest} THEN '{TYPE_BOOLEAN}'
        WHEN {c[TYPE_NULL]} = {greatest} THEN '{TYPE_NULL}'
        ELSE '{TYPE_UNKNOWN}' END"""
    frac_int = f"({c[TYPE_FRACTIONAL]} + {c[TYPE_INTEGRAL]})"
    return f"""CASE
      WHEN ({total}) = 0 THEN '{TYPE_UNKNOWN}'
      WHEN {greatest} / CAST(({total}) AS DOUBLE) > 0.7 THEN {cand_type}
      WHEN ({cand_type}) = '{TYPE_STRING}' AND {c[TYPE_STRING]} > {frac_int} THEN '{TYPE_STRING}'
      WHEN {greatest} / CAST(({total}) AS DOUBLE) > 0.5 THEN {cand_type}
      WHEN {frac_int} / CAST(({total}) AS DOUBLE) > 0.5 THEN '{TYPE_FRACTIONAL}'
      ELSE '{TYPE_UNKNOWN}' END"""
