"""Null / truncation / type-coercion predicates.

Reproduces the reference's value-level semantics:
- null predicate: Java null, NaN / ±Infinity fractionals, and membership in
  a configurable null-string set (core/.../ColumnProfile.java:119-130).
- tracked-string truncation at 256 chars (core/.../ColumnProfile.java:132-138).
- string→number/boolean coercion regexes
  (core/.../TypedDataConverter.java:18-20, 62-84), opt-in in the reference
  via WHYLOGS_ENABLE_STRING_MATCHING.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..constants import STRING_LENGTH_MAX

# TypedDataConverter.java:18-20 (java.util.regex, translated to Spark rlike /
# RE2-safe syntax; the reference allows a single optional space after sign).
INTEGRAL_RE = r"^[-+]? ?\d+$"
FRACTIONAL_RE = r"^[-+]? ?\d+[.]\d+$"
BOOLEAN_RE = r"^(?i)(true|false)$"

_FLOATING = (T.DoubleType, T.FloatType)


def is_floating(dt: T.DataType) -> bool:
    return isinstance(dt, _FLOATING)


def null_predicate(
    col: Column, dt: T.DataType, null_strings: Sequence[str] = ()
) -> Column:
    """Column-typed version of ColumnProfile.isNull (ColumnProfile.java:119-130).

    SQL NULL is always null; fractional NaN/±Inf are null; strings equal to a
    member of ``null_strings`` are null. Other types only via SQL NULL.
    """
    pred = col.isNull()
    if is_floating(dt):
        pred = pred | F.isnan(col) | (F.abs(col) == float("inf"))
    if isinstance(dt, T.StringType) and null_strings:
        pred = pred | col.isin(list(null_strings))
    return pred


def masked(col: Column, dt: T.DataType, null_strings: Sequence[str] = ()) -> Column:
    """The column with every reference-null value replaced by SQL NULL.

    All value aggregates (min/max/sum/mean/var/quantiles/uniques) run on the
    masked column, mirroring how the reference skips isNull values before
    tracker updates (ColumnProfile.java:87-117).
    """
    return F.when(~null_predicate(col, dt, null_strings), col)


def truncated_text(col: Column) -> Column:
    """String representation capped at 256 chars (ColumnProfile.java:132-138)."""
    return F.substring(col.cast("string"), 1, STRING_LENGTH_MAX)
