"""Per-column metric expression builders — the heart of the engine.

The reference keeps one ColumnProfile per column holding counters, a schema
tracker, a NumberTracker (min/max/sum/mean/variance + sketches) and a
StringTracker (length/token stats) — all associative & mergeable
(core/.../ColumnProfile.java:37-74, core/.../statistics/NumberTracker.java:23-40,
core/.../statistics/datatypes/StringTracker.java:24-49). Here every tracker
becomes a set of built-in Catalyst aggregate expressions over the masked
column, so a whole DatasetProfile is ONE grouped aggregation with map-side
partial aggregation and whole-stage codegen — no opaque Java-serialized
buffers (contrast DatasetProfileAggregator.scala:125-127). The profile's
per-column expressions are SQL text (plans.spark_sql.ColumnSql); this
module holds the numeric suite they share, as SQL and, for the operators
that still build Column trees, as Columns.

Mergeability: we aggregate *atoms* — counts, min, max, exact hi/lo long
sums of x and x² (and of derived length/token-count columns). Two profiles merge by
summing counts/sums and min/max-ing extremes, exactly the algebra of
DatasetProfile.merge (DatasetProfile.java:251-300) and Chan's variance
combine (VarianceTracker.java:49-69) re-expressed on (n, Σx, Σx²).

Determinism note: floating sums use magnitude-tiered exact integer
accumulation (see the tiering note above _suite_projection), which is
order-independent and reproduces bit-identically in DuckDB oracles; all
derived doubles (mean/variance/stddev) are computed from those exact atoms
with the same double arithmetic on both engines.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..constants import ROUND_DIGITS

# ---------------------------------------------------------------------------
# numeric atom suite over an arbitrary (already-masked) numeric Column
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


def _suite_projection(d: Column, prefix: str) -> list[Column]:
    """Row-level pieces of one numeric suite (see tiering note above).

    Branch-minimized: the value is CLAMPED to 0 outside the small range
    (``dc``), so floor/shift/round run unguarded (overflow-safe) and
    Catalyst's subexpression elimination shares them across the output
    columns — CASE WHEN around each expression would block CSE and
    re-evaluate d² per column (measured 4x slower). Big values contribute 0
    through the integer path and flow through the two ``big`` doubles.
    NULL values yield NULL pieces (skipped by SUM), identical totals.
    """
    small = F.abs(d) < F.lit(float(BIG))
    dc = F.when(small, d).otherwise(F.lit(0.0))  # clamped: |dc| < 2^31
    dc2 = dc * dc
    flc = F.floor(dc)
    p = F.floor(dc2)  # < 2^62, exact long
    return [
        d.alias(f"{prefix}_v"),
        flc.alias(f"{prefix}_hi"),
        # quantize via floor(y+0.5): identical to ROUND half-up for y >= 0
        # but pure double arithmetic (Spark's Round on doubles goes through
        # BigDecimal — measured 8x slower per row)
        F.floor((dc - flc) * 1000000.0 + 0.5).alias(f"{prefix}_lo"),
        F.when(small, F.lit(0.0)).otherwise(d).alias(f"{prefix}_big"),
        # p >= 0, so shiftright/bitand give exact (p DIV 2^31, p MOD 2^31)
        F.shiftright(p, 31).alias(f"{prefix}_a31"),
        p.bitwiseAND(F.lit(BIG - 1)).alias(f"{prefix}_b31"),
        F.floor((dc2 - p) * 1000000.0 + 0.5).alias(f"{prefix}_lo2"),
        F.when(small, F.lit(0.0)).otherwise(d * d).alias(f"{prefix}_big2"),
    ]


def numeric_atom_exprs(val: Column, prefix: str) -> list[Column]:
    """Single-phase atoms for one NumberTracker suite: n, min, max, Σx, Σx².

    ``val`` must already be null-masked; NULLs are skipped by the aggregates
    just as the reference skips isNull values (ColumnProfile.java:87-117).
    Prefer the two-phase projection+agg path for wide profiles.
    """
    d = val.cast("double")
    pieces = _suite_projection(d, "x")
    # strip the projection aliases and aggregate the raw expressions
    exprs = dict(zip(
        ["v", "hi", "lo", "big", "a31", "b31", "lo2", "big2"], pieces
    ))
    return [
        F.count(val).alias(f"{prefix}_n"),
        F.min(d).alias(f"{prefix}_min"),
        F.max(d).alias(f"{prefix}_max"),
        F.sum(exprs["hi"]).alias(f"{prefix}_sum_hi"),
        F.sum(exprs["lo"]).alias(f"{prefix}_sum_lo"),
        F.sum(exprs["big"]).alias(f"{prefix}_sum_big"),
        F.sum(exprs["a31"]).alias(f"{prefix}_sum2_a"),
        F.sum(exprs["b31"]).alias(f"{prefix}_sum2_b"),
        F.sum(exprs["lo2"]).alias(f"{prefix}_sum2_lo"),
        F.sum(exprs["big2"]).alias(f"{prefix}_sum2_big"),
        F.coalesce(F.var_samp(d) * (F.count(d) - F.lit(1)), F.lit(0.0)).alias(
            f"{prefix}_m2"
        ),
    ]


def numeric_final_exprs(row_prefix: str, out_prefix: str = "") -> dict[str, Column]:
    """Finalize a numeric atom suite into summary metrics.

    variance is sample variance (n-1) from exact sums; n==1 -> 0.0, n==0 ->
    NULL (the reference yields NaN for n==0 — VarianceTracker.java:31-46 — we
    use SQL NULL; documented deviation for SQL-comparability).
    """
    n = F.col(f"{row_prefix}_n")
    sx = (
        F.col(f"{row_prefix}_sum_hi").cast("double")
        + F.col(f"{row_prefix}_sum_lo").cast("double") / 1000000.0
        + F.col(f"{row_prefix}_sum_big")
    )
    sx2 = (
        F.col(f"{row_prefix}_sum2_a").cast("double") * 2147483648.0
        + F.col(f"{row_prefix}_sum2_b").cast("double")
        + F.col(f"{row_prefix}_sum2_lo").cast("double") / 1000000.0
        + F.col(f"{row_prefix}_sum2_big")
    )
    mean = sx / n
    # clamp tiny negative cancellation residue to 0 (also keeps the SQL
    # oracle's SQRT total); `+ 0.0` normalizes -0.0 -> +0.0 on both engines.
    # Tier gate (see the variance-tier note above _suite_projection): once
    # any |x| >= 2^31 value engaged the big tier (sum2_big != 0 — big x²
    # terms are >= 2^62, a sum of them can't be 0.0), the raw-moment
    # formula cancels catastrophically, so variance comes from the stable
    # m2 atom instead; small-tier groups keep the bit-exact formula.
    big_engaged = F.coalesce(F.col(f"{row_prefix}_sum2_big"), F.lit(0.0)) != 0.0
    var_raw = F.when(big_engaged, F.col(f"{row_prefix}_m2") / (n - 1)).otherwise(
        (sx2 - sx * sx / n) / (n - 1)
    )
    var = F.when(n > 1, F.greatest(var_raw, F.lit(0.0))).when(n == 1, F.lit(0.0))
    o = out_prefix
    return {
        f"{o}n": n,
        f"{o}min": F.col(f"{row_prefix}_min"),
        f"{o}max": F.col(f"{row_prefix}_max"),
        f"{o}sum": F.when(n > 0, F.round(sx, ROUND_DIGITS) + 0.0),
        f"{o}mean": F.when(n > 0, F.round(mean, ROUND_DIGITS) + 0.0),
        f"{o}variance": F.round(var, ROUND_DIGITS) + 0.0,
        f"{o}stddev": F.round(F.sqrt(var), ROUND_DIGITS) + 0.0,
    }


def numeric_atom_sql(val_sql: str, prefix: str, dialect: str = "duckdb") -> str:
    """Aggregate SQL for the same tiered atoms (``val_sql`` pre-masked).

    The only dialect differences are integer shift/and spellings.
    """
    d = f"CAST({val_sql} AS DOUBLE)"
    d2 = f"({d} * {d})"
    small = f"ABS({d}) < 2147483648.0"
    p = f"CAST(FLOOR({d2}) AS BIGINT)"
    if dialect == "duckdb":
        a = f"({p} >> 31)"
        b = f"({p} & 2147483647)"
    else:  # spark
        a = f"SHIFTRIGHT({p}, 31)"
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


