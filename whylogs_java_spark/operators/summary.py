"""Summary finalizer operators: quantiles, histogram, frequent items, uniques.

Reference semantics:
- quantile summary at {0,.01,.05,.25,.5,.75,.95,.99,1}
  (core/.../SummaryConverters.java:110-124; KLL k=256 sketch in the
  reference, exact interpolated percentiles in the correctness tier here,
  ``approx_percentile`` in the approx tier).
- histogram: equal-width bins over [min, max], counts scaled from PMF
  (core/.../SummaryConverters.java:161-222). Here: exact counts via
  ``floor((x-min)/width)`` with the last bin right-closed.
- frequent items: ItemsSketch(128) with no-false-negatives extraction
  (core/.../FrequentStringsSketch.java:18-48); exact tier = true top-k with
  deterministic (count desc, value) tie-break.
- unique counts: Theta/HLL estimates (core/.../NumberTracker.java:31,46);
  exact tier = COUNT(DISTINCT), approx tier = approx_count_distinct /
  hll_sketch_agg(lgK=12).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..constants import (
    FREQUENT_ITEMS_K,
    HISTOGRAM_DEFAULT_BINS,
    HLL_LGK,
    ROUND_DIGITS,
    SUMMARY_QUANTILES,
)
from ..plans.spark_sql import masked_sql, truncated_text_sql


def _resolve_tier(tier: str | None, exact: bool | None) -> str:
    """Reconcile the tier= kwarg with the legacy exact= boolean spelling
    (one release of overlap; conflicting values raise)."""
    if exact is None:
        return tier if tier is not None else "sketch"
    legacy = "exact" if exact else "sketch"
    if tier is not None and tier != legacy:
        raise ValueError(f"conflicting tier={tier!r} and exact={exact!r}")
    return legacy


def quantile_summary(
    df: DataFrame,
    columns: Sequence[str],
    group_by: Sequence[str] = (),
    quantiles: Sequence[float] = tuple(SUMMARY_QUANTILES),
    tier: str | None = None,
    accuracy: int = 10000,
    exact: bool | None = None,
) -> DataFrame:
    """Long-format quantiles: (keys..., column_name, quantile, value).

    One aggregation pass for all columns; the per-(column, quantile) rows
    are exploded from the already-aggregated arrays (no extra shuffle).

    ``tier="sketch"`` (the default — the scale path, matching the
    reference's KLL-sketch quantiles, NumberTracker.java:38) aggregates a
    bounded-memory approx-percentile sketch; ``tier="exact"`` buffers
    per-group values for interpolated exact percentiles — use it only for
    oracle/correctness runs, it is OOM-prone on huge groups.

    ``exact=`` is the pre-tier boolean spelling, kept for callers of the
    old signature (maps to ``tier="exact"``/``"sketch"``; the default
    flipped from exact to sketch when tiers landed).
    """
    tier = _resolve_tier(tier, exact)
    if tier not in ("sketch", "exact"):
        raise ValueError(f"tier must be 'sketch' or 'exact', got {tier!r}")
    schema = {f.name: f.dataType for f in df.schema.fields}
    qs = list(quantiles)
    aggs = []
    for c in columns:
        m = F.expr(masked_sql(c, schema[c])).cast("double")
        agg = (
            F.percentile(m, F.lit(qs))
            if tier == "exact"
            else F.percentile_approx(m, F.lit(qs), F.lit(accuracy))
        )
        aggs.append(agg.alias(f"{c}__q"))
    grouped = df.groupBy(*group_by) if group_by else df.groupBy()
    wide = grouped.agg(*aggs)

    elems = []
    for c in columns:
        for i, q in enumerate(qs):
            elems.append(
                F.struct(
                    F.lit(c).alias("column_name"),
                    F.lit(float(q)).alias("quantile"),
                    (F.round(F.col(f"{c}__q").getItem(i), ROUND_DIGITS) + 0.0).alias("value"),
                )
            )
    return wide.select(*group_by, F.explode(F.array(*elems)).alias("e")).select(
        *group_by, "e.*"
    )


def histogram_custom_splits(
    df: DataFrame,
    column: str,
    split_points: Sequence[float],
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Histogram over caller-supplied split points
    (SummaryConverters.fromUpdateDoublesSketch splitPoints variant,
    core/.../SummaryConverters.java:165-168, 200-206): bins are
    (-inf, s0), [s0, s1), ..., [s_{n-1}, +inf).
    Output: (keys..., column_name, bin, bin_start, bin_end, count)."""
    schema = {f.name: f.dataType for f in df.schema.fields}
    m = F.expr(masked_sql(column, schema[column])).cast("double")
    keys = list(group_by)
    pts = sorted(float(s) for s in split_points)

    data = df.select(*keys, m.alias("__v")).where(F.col("__v").isNotNull())
    bin_idx = F.lit(0)
    for i, s in enumerate(pts):
        bin_idx = F.when(F.col("__v") >= s, F.lit(i + 1)).otherwise(bin_idx)
    out = data.select(*keys, bin_idx.alias("bin")).groupBy(*keys, "bin").agg(
        F.count(F.lit(1)).alias("count")
    )
    edges = [float("-inf"), *pts, float("inf")]
    start = F.lit(None).cast("double")
    end = F.lit(None).cast("double")
    for i in range(len(pts) + 1):
        start = F.when(F.col("bin") == i, F.lit(edges[i])).otherwise(start)
        end = F.when(F.col("bin") == i, F.lit(edges[i + 1])).otherwise(end)
    return out.select(
        *keys,
        F.lit(column).alias("column_name"),
        F.col("bin").cast("int").alias("bin"),
        start.alias("bin_start"),
        end.alias("bin_end"),
        F.col("count"),
    )


def histogram(
    df: DataFrame,
    column: str,
    group_by: Sequence[str] = (),
    bins: int = HISTOGRAM_DEFAULT_BINS,
) -> DataFrame:
    """Equal-width histogram with exact counts.

    Two passes (per-group min/max, then binning) joined via broadcast —
    the stats side is one row per group, so the join never shuffles the
    data side; at 100 TB the scan dominates and both passes are
    column-pruned parquet scans of one column.
    Output: (keys..., column_name, bin, bin_start, bin_end, count).
    """
    schema = {f.name: f.dataType for f in df.schema.fields}
    m = F.expr(masked_sql(column, schema[column])).cast("double")
    keys = list(group_by)

    grouped = df.groupBy(*keys) if keys else df.groupBy()
    stats = grouped.agg(
        F.min(m).alias("__min"), F.max(m).alias("__max"), F.count(m).alias("__n")
    )

    data = df.select(*keys, m.alias("__v")).where(F.col("__v").isNotNull())
    joined = (
        data.join(F.broadcast(stats), on=keys) if keys else data.crossJoin(F.broadcast(stats))
    )

    width = (F.col("__max") - F.col("__min")) / F.lit(float(bins))
    # degenerate min==max -> everything lands in bin 0 (reference pads width
    # by ulp; SummaryConverters.java:196-198)
    bin_idx = F.when(F.col("__max") == F.col("__min"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col("__v") - F.col("__min")) / width).cast("int"),
            F.lit(bins - 1),
        )
    )
    binned = joined.select(*keys, F.col("__min"), F.col("__max"), bin_idx.alias("bin"))
    out = binned.groupBy(*keys, "__min", "__max", "bin").agg(
        F.count(F.lit(1)).alias("count")
    )
    width2 = (F.col("__max") - F.col("__min")) / F.lit(float(bins))
    return out.select(
        *keys,
        F.lit(column).alias("column_name"),
        F.col("bin").cast("int").alias("bin"),
        (F.round(F.col("__min") + F.col("bin") * width2, ROUND_DIGITS) + 0.0).alias("bin_start"),
        (F.round(F.col("__min") + (F.col("bin") + 1) * width2, ROUND_DIGITS) + 0.0).alias("bin_end"),
        F.col("count"),
    )


def frequent_items(
    df: DataFrame,
    column: str,
    group_by: Sequence[str] = (),
    k: int = FREQUENT_ITEMS_K,
    unique_gate: int | None = None,
    null_strings: Sequence[str] = (),
    partial_buckets: int = 64,
) -> DataFrame:
    """Exact top-k items by count with deterministic tie-break.

    Values are tracked as 256-char-truncated strings
    (ColumnProfile.trackText, ColumnProfile.java:132-138); null values
    (SQL NULL ∪ NaN/±Inf ∪ null-strings) are never tracked, matching the
    reference's isNull guard before tracker updates
    (ColumnProfile.java:82-85). The ranking runs over the *aggregated
    counts* (one row per distinct value), not the data, and is ALWAYS
    two-phase so no single partition ever holds a whole distinct-value
    table: partial top-k within (group keys, hash-salt bucket) — a value
    lands in exactly one bucket per group, so the per-group top-k is a
    subset of the union of per-bucket top-k — then a final rank per group
    over ≤ partial_buckets·k candidate rows. Bounded memory at any
    cardinality even for few-groups × many-distinct shapes, the same
    intent as the reference's O(1)-memory ItemsSketch(128)
    (FrequentStringsSketch.java:14-20).
    Output: (keys..., column_name, value, count, rank).
    """
    keys = list(group_by)
    schema = {f.name: f.dataType for f in df.schema.fields}
    v = F.expr(
        truncated_text_sql(masked_sql(column, schema[column], null_strings))
    ).alias("value")
    counts = (
        df.select(*keys, v)
        .where(F.col("value").isNotNull())
        .groupBy(*keys, "value")
        .agg(F.count(F.lit(1)).alias("count"))
    )
    if unique_gate is not None:
        # the reference emits frequent strings only while the estimated
        # unique count stays below 100 (SummaryConverters.java:54-60); the
        # distinct count per group falls out of the same counts table as a
        # keys-agg + join (never a window buffering a whole group),
        # evaluated BEFORE the top-k cut
        if keys:
            uniq = counts.groupBy(*keys).agg(F.count(F.lit(1)).alias("__uniq"))
            counts = (
                counts.join(uniq, on=keys)
                .where(F.col("__uniq") < unique_gate)
                .drop("__uniq")
            )
        else:
            total = counts.agg(F.count(F.lit(1)).alias("__uniq"))
            counts = (
                counts.crossJoin(F.broadcast(total))
                .where(F.col("__uniq") < unique_gate)
                .drop("__uniq")
            )
    order = [F.desc("count"), F.asc("value")]
    salt = F.pmod(F.xxhash64("value"), F.lit(partial_buckets))
    cand = (
        counts.withColumn(
            "__pr",
            F.row_number().over(Window.partitionBy(*keys, salt).orderBy(*order)),
        )
        .where(F.col("__pr") <= k)
        .drop("__pr")
    )
    ranked = cand.withColumn(
        "rank", F.row_number().over(Window.partitionBy(*keys).orderBy(*order))
    )
    return (
        ranked.where(F.col("rank") <= k)
        .select(*keys, F.lit(column).alias("column_name"), "value", "count", "rank")
    )


def unique_counts(
    df: DataFrame,
    columns: Sequence[str],
    group_by: Sequence[str] = (),
    tier: str | None = None,
    exact: bool | None = None,
) -> DataFrame:
    """Per-column distinct counts, long format.

    ``tier="sketch"`` (the default — the scale path, matching the
    reference's theta/HLL cardinality, NumberTracker.java:31,46) is
    approx_count_distinct: HLL++, one pass, bounded memory, no distinct
    expansion. ``tier="exact"`` is count_distinct (oracle-comparable) —
    it expands distinct values per group; use only for correctness runs.
    ``exact=`` is the legacy boolean spelling of the same choice.
    Output: (keys..., column_name, unique_count).
    """
    tier = _resolve_tier(tier, exact)
    if tier not in ("sketch", "exact"):
        raise ValueError(f"tier must be 'sketch' or 'exact', got {tier!r}")
    keys = list(group_by)
    # rsd 0.016 == the reference's HLL lgK=12 accuracy (1.04/sqrt(4096));
    # tighter rsd forces a much larger HLL++ register array for little gain
    agg_fn = (
        F.count_distinct
        if tier == "exact"
        else (lambda c: F.approx_count_distinct(c, 0.016))
    )
    grouped = df.groupBy(*keys) if keys else df.groupBy()
    wide = grouped.agg(
        *[agg_fn(F.col(c)).alias(f"{c}__u") for c in columns]
    )
    elems = [
        F.struct(
            F.lit(c).alias("column_name"), F.col(f"{c}__u").cast("long").alias("unique_count")
        )
        for c in columns
    ]
    return wide.select(*keys, F.explode(F.array(*elems)).alias("e")).select(*keys, "e.*")


def hll_sketch_profile(
    df: DataFrame, columns: Sequence[str], group_by: Sequence[str] = ()
) -> DataFrame:
    """Mergeable HLL sketch binaries per column (lgK=12, ColumnProfile.java:39).

    The sketch binary column is re-mergeable with ``hll_union_agg`` — the
    direct analogue of the reference's serialized HllSketch inside profile
    blobs, but Catalyst-native.
    """
    keys = list(group_by)
    grouped = df.groupBy(*keys) if keys else df.groupBy()
    return grouped.agg(
        *[
            F.hll_sketch_agg(
                F.expr(truncated_text_sql(f"`{c}`")), F.lit(HLL_LGK)
            ).alias(f"{c}__hll")
            for c in columns
        ]
    )
