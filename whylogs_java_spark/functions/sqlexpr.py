"""SQL-text twins of the hot Column-API expression builders.

Why this module exists (optimization guide §4 — the Python boundary,
applied to PLAN CONSTRUCTION): every `F.lit` / `F.col` / higher-order
lambda built through the Column API costs py4j round trips. Measured on
this box (local[32]):

    dot() via Column API (3 lambdas)    20.2 ms per call
    the same fold via one F.expr text    0.46 ms
    F.array of 16 F.lit doubles         10.4 ms
    the same array as one expr text      0.57 ms

Expression-heavy operators (PQ codebook tables, IVF scoring folds, LSH
signatures, RIFF/BMFF header walks) were building THOUSANDS of such
nodes per query — ann_recall_embeddings spent 13.2 s of its 17.9 s
construction in 43k py4j socket round trips, re-paid on every run
because queries are rebuilt per invocation. Emitting the identical
expression as ONE SQL string parsed JVM-side removes ~95% of that cost
while producing the same resolved Catalyst tree (same functions, same
fold order, same literal values — results are bit-identical; the
affected queries stay hash-green against their DuckDB oracles, and the
profile module has used this exact technique since r4:
plans/spark_sql.py).

Conventions:
- all fragments are *expression strings*; compose with f-strings and
  wrap the final fragment in `F.expr(...)` (or pass to `selectExpr`);
- double literals use `repr(float)` + `D` suffix — repr round-trips
  IEEE-754 doubles exactly and the SQL parser reads `...D` as DOUBLE
  (a bare `0.1` in SQL would be DECIMAL — never emit one);
- column names are backtick-quoted by `qcol` (caller-supplied names may
  collide with SQL keywords, or hold spaces, dots, quotes or backticks);
- strings that become SQL literals, column names among them, go through
  `slit`.
"""

from __future__ import annotations

import math
from collections.abc import Iterable


def qcol(name: str) -> str:
    """Backtick-quote a column name for safe embedding in SQL text."""
    return "`" + name.replace("`", "``") + "`"


def slit(s: str) -> str:
    """Spark-SQL string literal of ``s``: the parser processes backslash
    escapes, so backslashes double, and a single quote doubles."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def dlit(x: float) -> str:
    """Exact DOUBLE literal. repr() round-trips the IEEE value; the D
    suffix keeps the parser away from DECIMAL."""
    x = float(x)
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return repr(x) + "D"


def darr(values: Iterable[float]) -> str:
    """array(...) of exact DOUBLE literals."""
    return "array(" + ",".join(dlit(v) for v in values) + ")"


def as_double_s(vec: str) -> str:
    """transform(vec, x -> CAST(x AS DOUBLE)) — the `_as_double` twin."""
    return f"transform({vec}, x -> CAST(x AS DOUBLE))"


def dot_s(a: str, b: str) -> str:
    """Strict left-to-right double dot-product fold — the `dot` twin.
    Identical fold order and zero value, so results are bit-identical."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x)"
    )


def norm_s(a: str) -> str:
    """sqrt of the strict self-dot fold — the `norm` twin."""
    return (
        f"sqrt(aggregate(transform({a}, x -> x * x), "
        f"0.0D, (acc, x) -> acc + x))"
    )


def sq_l2_s(vec: str, centroid: list[float]) -> str:
    """Strict-fold squared L2 distance to a literal centroid — the
    `cluster._sq_l2` twin: fold over zip_with(vec, centroid, (x, c) ->
    (x - c)^2) in index order, 0.0 start."""
    return (
        f"aggregate(zip_with({vec}, {darr(centroid)}, "
        f"(x, c) -> (x - c) * (x - c)), 0.0D, (acc, x) -> acc + x)"
    )
