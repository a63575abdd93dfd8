"""Per-column metric expression builders — the heart of the engine.

The reference keeps one ColumnProfile per column holding counters, a schema
tracker, a NumberTracker (min/max/sum/mean/variance + sketches) and a
StringTracker (length/token stats) — all associative & mergeable
(core/.../ColumnProfile.java:37-74, core/.../statistics/NumberTracker.java:23-40,
core/.../statistics/datatypes/StringTracker.java:24-49). Here every tracker
becomes a set of built-in Catalyst aggregate expressions over the masked
column, so a whole DatasetProfile is ONE grouped aggregation with map-side
partial aggregation and whole-stage codegen — no opaque Java-serialized
buffers (contrast DatasetProfileAggregator.scala:125-127). The
expressions are SQL text: the Spark profile's per-column fragments and
the numeric suite's projection/aggregation live in plans.spark_sql
(``ColumnSql``, ``_num_projection_sql``, ``_num_aggs_sql``); this module
holds the suite's finalizer (``numeric_final_sql``, run by Spark and the
DuckDB oracles alike), its single-phase DuckDB aggregate
(``numeric_atom_sql``) and the atom schema.

Mergeability: we aggregate *atoms* — counts, min, max, exact hi/lo long
sums of x and x² (and of derived length/token-count columns). Two profiles merge by
summing counts/sums and min/max-ing extremes, exactly the algebra of
DatasetProfile.merge (DatasetProfile.java:251-300) and Chan's variance
combine (VarianceTracker.java:49-69) re-expressed on (n, Σx, Σx²).

Determinism note: floating sums use magnitude-tiered exact integer
accumulation (see the tiering note below), which is
order-independent and reproduces bit-identically in DuckDB oracles; all
derived doubles (mean/variance/stddev) are computed from those exact atoms
with the same double arithmetic on both engines.
"""

from __future__ import annotations

from ..constants import ROUND_DIGITS

# ---------------------------------------------------------------------------
# numeric atom suite over an arbitrary (already-masked) numeric value
# ---------------------------------------------------------------------------


# Magnitude-tiered exact summation
# --------------------------------
# Goal: Σx and Σx² that are (a) order/partitioning-independent — so results
# are bit-reproducible across engines and runs — and (b) never silently
# wrong at scale (a naive Σ floor(x²) AS BIGINT wraps for |x|~1e6 columns
# in the hundreds of millions of rows, and errors outright for id/epoch
# magnitudes).
#
# Per value, chosen by the VALUE (not data order, so determinism holds):
# - |x| < 2^31 ("small"): exact integer path.
#   Σx:  floor(x) as LONG (|term| < 2^31 -> safe to ~4.3e9 rows/group) +
#        1e-6-quantized fraction as LONG (safe to ~9.2e12 rows/group).
#   Σx²: p = floor(x²) < 2^62 splits base-2^31 into (p DIV 2^31, p MOD
#        2^31) — two LONG sums, each term < 2^31, safe to ~4.3e9
#        rows/group — plus the quantized fraction.
# - |x| >= 2^31 ("big": ids, epoch-nanos...): accumulate x and x² in
#   DOUBLE sums. These are order-dependent in the last ulp, but such
#   magnitudes exceed exact double range anyway; columns without big
#   values keep full determinism.
#
# Variance tier (r12): the raw-moment formula (Σx² − (Σx)²/n)/(n−1) over
# the double sum2_big accumulator cancels ~log10(x²/var) digits once the
# big tier engages — at epoch-millis magnitude only ~4 digits survive,
# and epoch-nanos variance collapses to pure noise. The reference is
# precision-correct at any magnitude (Welford update + Chan merge,
# core/.../VarianceTracker.java:21-69). We therefore also carry an
# ``_m2`` atom — the central second moment Σ(x−μ)², computed by the
# engine's NATIVE stable variance aggregate (Spark/DuckDB var_samp, both
# Welford/Chan-based) — and finalize variance from m2 WHENEVER the big
# tier engaged (sum2_big ≠ 0). Small-tier groups keep the exact-integer
# raw-moment path, bit-reproducible across engines; big-tier variance is
# order-dependent in the last ulp (documented deviation — such columns
# already have order-dependent double sums).
#
# All accumulators are LONG/DOUBLE -> whole-stage codegen (~10x faster
# than DECIMAL(38,_) aggregation, measured on the sf0.1 flagship).

BIG = 2147483648  # 2^31


def numeric_atom_sql(val_sql: str, prefix: str) -> str:
    """DuckDB aggregate SQL for the tiered atoms in one phase (``val_sql``
    pre-masked) — the oracle's twin of Spark's two-phase
    ``plans.spark_sql._num_projection_sql`` + ``_num_aggs_sql``.
    """
    d = f"CAST({val_sql} AS DOUBLE)"
    d2 = f"({d} * {d})"
    small = f"ABS({d}) < 2147483648.0"
    p = f"CAST(FLOOR({d2}) AS BIGINT)"
    a = f"({p} >> 31)"
    b = f"({p} & 2147483647)"
    case = "CASE WHEN {c} THEN {v} ELSE {e} END"
    hi = case.format(c=small, v=f"CAST(FLOOR({d}) AS BIGINT)", e="0")
    lo = case.format(
        c=small, v=f"CAST(FLOOR(({d} - FLOOR({d})) * 1000000.0 + 0.5) AS BIGINT)", e="0"
    )
    bigv = case.format(c=f"NOT ({small})", v=d, e="0.0")
    av = case.format(c=small, v=a, e="0")
    bv = case.format(c=small, v=b, e="0")
    lo2 = case.format(
        c=small, v=f"CAST(FLOOR(({d2} - FLOOR({d2})) * 1000000.0 + 0.5) AS BIGINT)", e="0"
    )
    big2 = case.format(c=f"NOT ({small})", v=d2, e="0.0")
    return (
        f"COUNT({val_sql}) AS {prefix}_n, "
        f"MIN({d}) AS {prefix}_min, MAX({d}) AS {prefix}_max, "
        f"SUM({hi}) AS {prefix}_sum_hi, "
        f"SUM({lo}) AS {prefix}_sum_lo, "
        f"SUM({bigv}) AS {prefix}_sum_big, "
        f"SUM({av}) AS {prefix}_sum2_a, "
        f"SUM({bv}) AS {prefix}_sum2_b, "
        f"SUM({lo2}) AS {prefix}_sum2_lo, "
        f"SUM({big2}) AS {prefix}_sum2_big, "
        f"COALESCE(VAR_SAMP({d}) * (COUNT({val_sql}) - 1), 0.0) AS {prefix}_m2"
    )


def numeric_final_sql(row_prefix: str, out_prefix: str = "") -> str:
    """SELECT-list finalizing a numeric atom suite into summary metrics.

    variance is sample variance (n-1) from exact sums; n==1 -> 0.0, n==0 ->
    NULL (the reference yields NaN for n==0 — VarianceTracker.java:31-46 — we
    use SQL NULL; documented deviation for SQL-comparability).
    """
    n = f"{row_prefix}_n"
    sx = (
        f"(CAST({row_prefix}_sum_hi AS DOUBLE) + CAST({row_prefix}_sum_lo AS DOUBLE) / 1000000.0"
        f" + {row_prefix}_sum_big)"
    )
    sx2 = (
        f"(CAST({row_prefix}_sum2_a AS DOUBLE) * 2147483648.0"
        f" + CAST({row_prefix}_sum2_b AS DOUBLE)"
        f" + CAST({row_prefix}_sum2_lo AS DOUBLE) / 1000000.0"
        f" + {row_prefix}_sum2_big)"
    )
    # Tier gate (see the variance-tier note above): once any |x| >= 2^31
    # value engaged the big tier (sum2_big != 0 — big x² terms are >= 2^62,
    # a sum of them can't be 0.0), the raw-moment formula cancels
    # catastrophically, so variance comes from the stable m2 atom instead;
    # small-tier groups keep the bit-exact formula. Negative cancellation
    # residue clamps to 0 (keeping SQRT total); `+ 0.0` normalizes -0.0
    # to +0.0 on both engines.
    var_raw = (
        f"(CASE WHEN COALESCE({row_prefix}_sum2_big, 0.0) <> 0.0 "
        f"THEN {row_prefix}_m2 / ({n} - 1) "
        f"ELSE ({sx2} - {sx} * {sx} / {n}) / ({n} - 1) END)"
    )
    var = (
        f"CASE WHEN {n} > 1 THEN GREATEST({var_raw}, 0.0) "
        f"WHEN {n} = 1 THEN 0.0 END"
    )
    o = out_prefix
    return (
        f"{n} AS {o}n, {row_prefix}_min AS {o}min, {row_prefix}_max AS {o}max, "
        f"CASE WHEN {n} > 0 THEN ROUND({sx}, {ROUND_DIGITS}) + 0.0 END AS {o}sum, "
        f"CASE WHEN {n} > 0 THEN ROUND({sx} / {n}, {ROUND_DIGITS}) + 0.0 END AS {o}mean, "
        f"ROUND({var}, {ROUND_DIGITS}) + 0.0 AS {o}variance, "
        f"ROUND(SQRT({var}), {ROUND_DIGITS}) + 0.0 AS {o}stddev"
    )


# ---------------------------------------------------------------------------
# the per-column atom schema (built per column by plans.spark_sql.ColumnSql)
# ---------------------------------------------------------------------------

ATOM_METRICS = [
    # (field name, spark type) — the mergeable long-format atom schema
    ("count", "long"),
    ("null_count", "long"),
    ("true_count", "long"),
    ("integral_count", "long"),
    ("fractional_count", "long"),
    ("boolean_count", "long"),
    ("string_count", "long"),
    ("unknown_count", "long"),
    ("num_n", "long"),
    ("num_min", "double"),
    ("num_max", "double"),
    ("num_sum_hi", "long"),
    ("num_sum_lo", "long"),
    ("num_sum_big", "double"),
    ("num_sum2_a", "long"),
    ("num_sum2_b", "long"),
    ("num_sum2_lo", "long"),
    ("num_sum2_big", "double"),
    ("num_m2", "double"),
    ("len_n", "long"),
    ("len_min", "double"),
    ("len_max", "double"),
    ("len_sum_hi", "long"),
    ("len_sum_lo", "long"),
    ("len_sum_big", "double"),
    ("len_sum2_a", "long"),
    ("len_sum2_b", "long"),
    ("len_sum2_lo", "long"),
    ("len_sum2_big", "double"),
    ("len_m2", "double"),
    ("tok_n", "long"),
    ("tok_min", "double"),
    ("tok_max", "double"),
    ("tok_sum_hi", "long"),
    ("tok_sum_lo", "long"),
    ("tok_sum_big", "double"),
    ("tok_sum2_a", "long"),
    ("tok_sum2_b", "long"),
    ("tok_sum2_lo", "long"),
    ("tok_sum2_big", "double"),
    ("tok_m2", "double"),
]


