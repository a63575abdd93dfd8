"""String-coercion patterns.

The reference's string→number/boolean coercion regexes
(core/.../TypedDataConverter.java:18-20, 62-84), opt-in in the reference
via WHYLOGS_ENABLE_STRING_MATCHING. The null predicate
(ColumnProfile.java:119-130) and the 256-char text truncation
(ColumnProfile.java:132-138) are SQL text in ``plans.spark_sql``
(``masked_sql``, ``truncated_text_sql``).
"""

from __future__ import annotations

# TypedDataConverter.java:18-20 (java.util.regex, translated to Spark rlike /
# RE2-safe syntax; the reference allows a single optional space after sign).
INTEGRAL_RE = r"^[-+]? ?\d+$"
FRACTIONAL_RE = r"^[-+]? ?\d+[.]\d+$"
BOOLEAN_RE = r"^(?i)(true|false)$"
