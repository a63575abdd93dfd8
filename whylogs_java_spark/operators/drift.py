"""Distribution drift between two data slices — the downstream read of a
whylogs profile.

The reference produces mergeable profiles; the thing consumers DO with
two profiles (yesterday vs today, train vs serve) is compare them. These
operators compute the standard drift suite directly from two slices of
raw data in one aggregation pass per slice, so the comparison is exact
(not sketch-derived) and oracle-checkable:

- ``numeric_drift``: per (group, column) — counts, null rates, moments,
  plus PSI and the binned CDF L-inf distance ("binned KS") over shared
  equal-width or caller-supplied bins.
- ``categorical_drift``: per (group,) — PSI / L1 (total variation) /
  binned L-inf over category frequencies, full-outer-joined so
  categories present in only one slice count against drift.

Scale shape: each slice is scanned once into a per-(group, bin) partial
HashAggregate — the shuffle carries O(groups × bins) rows, never data
rows. The two binned tables join on (group, bin): both sides are
aggregate-sized, so the join is trivially broadcastable. A 100 TB slice
costs exactly its column-pruned scan.

PSI convention: bins where either side is empty use the standard epsilon
substitution (p -> max(p, eps)) so the sum stays finite; eps defaults to
1e-6 and is part of the contract (the same substitution a monitoring
system applies).
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ckpt import materialize

PSI_EPS = 1e-6

# sentinel category NULLs map to (SQL NULL join keys never equal each
# other); shared with streaming/drift_stream.py
NULL_CAT = "\x00null"


def _valid_value(v):
    """NULL ∪ NaN ∪ ±Inf are non-values — the package null convention
    (the null predicate of plans/spark_sql.masked_sql, mirrored here on
    an already-double column)."""
    return v.isNotNull() & ~F.isnan(v) & (F.abs(v) != F.lit(float("inf")))


def _bin_index(v, splits: Sequence[float]):
    """Split-point bin index: bin i = [s_{i-1}, s_i) with open ends,
    mirroring summary.histogram_custom_splits."""
    bin_idx = F.lit(0)
    for i, s in enumerate(sorted(float(x) for x in splits)):
        bin_idx = F.when(v >= F.lit(s), F.lit(i + 1)).otherwise(bin_idx)
    return bin_idx


def _psi_cdf_terms(keys: Sequence[str], a: str, b: str, eps: float):
    """(psi_term, cdf_gap) column pair over a binned-counts table with
    count columns ``a``/``b``, windowed per ``keys`` ordered by `bin`.
    The shared core of numeric_drift / rolling_drift (and the same math
    drift_stream.drift_scores applies against a precomputed reference)."""
    tot_a = F.sum(a).over(_group_window(keys))
    tot_b = F.sum(b).over(_group_window(keys))
    pa = F.greatest(F.coalesce(F.try_divide(F.col(a), tot_a), F.lit(0.0)), F.lit(eps))
    pb = F.greatest(F.coalesce(F.try_divide(F.col(b), tot_b), F.lit(0.0)), F.lit(eps))
    cum_a = F.coalesce(
        F.try_divide(F.sum(a).over(_group_window(keys, order="bin")), tot_a),
        F.lit(0.0),
    )
    cum_b = F.coalesce(
        F.try_divide(F.sum(b).over(_group_window(keys, order="bin")), tot_b),
        F.lit(0.0),
    )
    psi_term = (pa - pb) * (F.log(pa) - F.log(pb))
    cdf_gap = F.abs(cum_a - cum_b)
    return psi_term, cdf_gap


def _binned_counts(
    df: DataFrame,
    column: str,
    splits: Sequence[float],
    group_by: Sequence[str],
    side: str,
) -> DataFrame:
    """(keys..., bin, n_<side>) exact counts over valid values."""
    keys = list(group_by)
    v = F.col(column).cast("double")
    return (
        df.where(_valid_value(v))
        .select(*keys, _bin_index(v, splits).alias("bin"))
        .groupBy(*keys, "bin")
        .agg(F.count(F.lit(1)).alias(f"n_{side}"))
    )


def numeric_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    column: str,
    splits: Sequence[float],
    group_by: Sequence[str] = (),
    eps: float = PSI_EPS,
) -> DataFrame:
    """Drift metrics for one numeric column between slices A and B.

    Output, one row per group: (keys..., column_name, count_a, count_b,
    null_rate_a, null_rate_b, mean_a, mean_b, mean_delta, stddev_a,
    stddev_b, psi, cdf_linf). ``splits`` are the shared bin edges (use
    ``auto_splits`` for data-driven equal-width edges); stddev is the
    population form (whylogs reports sample stddev — here both slices
    use stddevPop so the comparison is self-consistent and exact).
    """
    keys = list(group_by)
    v = F.col(column).cast("double")
    ok = _valid_value(v)

    def _stats(df: DataFrame, side: str) -> DataFrame:
        return df.groupBy(*keys).agg(
            F.count(F.lit(1)).alias(f"count_{side}"),
            F.sum(F.when(~ok, 1).otherwise(0)).alias(f"nulls_{side}"),
            F.avg(F.when(ok, v)).alias(f"mean_{side}"),
            F.stddev_pop(F.when(ok, v)).alias(f"stddev_{side}"),
        )

    sa = _stats(df_a, "a")
    sb = _stats(df_b, "b")
    ba = _binned_counts(df_a, column, splits, keys, "a")
    bb = _binned_counts(df_b, column, splits, keys, "b")

    # A USING full-outer join coalesces the join keys into single
    # output columns, so the post-join select can name them directly.
    bins = ba.join(bb, on=keys + ["bin"], how="full").select(
        *keys,
        "bin",
        F.coalesce(F.col("n_a"), F.lit(0)).alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0)).alias("n_b"),
    )

    # try_divide inside _psi_cdf_terms: a slice with zero valid rows in
    # a group (or a group present on one side only) yields p=0 -> eps,
    # not a division error.
    psi_term, cdf_gap = _psi_cdf_terms(keys, "n_a", "n_b", eps)
    per_bin = bins.select(
        *keys,
        psi_term.alias("__psi_term"),
        cdf_gap.alias("__cdf_gap"),
    )
    drift = per_bin.groupBy(*keys).agg(
        F.sum("__psi_term").alias("psi"),
        F.max("__cdf_gap").alias("cdf_linf"),
    )

    if keys:
        out = sa.join(sb, on=keys, how="full").join(drift, on=keys, how="left")
    else:
        # LEFT join on a dummy key, not crossJoin(drift): when neither
        # slice has a valid value the binned table is empty and a cross
        # join would drop the whole output row — the grouped path keeps
        # counts/null rates with NULL psi, and the ungrouped path must
        # match that semantics.
        out = (
            sa.crossJoin(sb)
            .withColumn("__k", F.lit(1))
            .join(drift.withColumn("__k", F.lit(1)), on="__k", how="left")
            .drop("__k")
        )
    ca, cb = F.col("count_a"), F.col("count_b")
    return out.select(
        *keys,
        F.lit(column).alias("column_name"),
        F.coalesce(ca, F.lit(0)).alias("count_a"),
        F.coalesce(cb, F.lit(0)).alias("count_b"),
        F.try_divide(F.col("nulls_a"), ca).alias("null_rate_a"),
        F.try_divide(F.col("nulls_b"), cb).alias("null_rate_b"),
        F.col("mean_a"),
        F.col("mean_b"),
        (F.col("mean_b") - F.col("mean_a")).alias("mean_delta"),
        F.col("stddev_a"),
        F.col("stddev_b"),
        F.col("psi"),
        F.col("cdf_linf"),
    )


def _group_window(keys: Sequence[str], order: str | None = None):
    from pyspark.sql import Window

    w = Window.partitionBy(*keys) if keys else Window.partitionBy()
    if order is not None:
        return w.orderBy(order).rowsBetween(Window.unboundedPreceding, 0)
    return w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)


def categorical_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    column: str,
    group_by: Sequence[str] = (),
    eps: float = PSI_EPS,
) -> DataFrame:
    """Category-frequency drift between slices A and B.

    Output per group: (keys..., column_name, n_categories, psi, l1,
    linf). NULL categories count as a category of their own (monitoring
    cares when nulls appear) — they are mapped to a sentinel string so
    the full-outer join matches them across slices (SQL NULL keys never
    equal each other). l1 is twice the total variation distance; linf
    the largest single-category frequency gap.
    """
    keys = list(group_by)
    cat = F.coalesce(F.col(column).cast("string"), F.lit(NULL_CAT))

    def _counts(df: DataFrame, side: str) -> DataFrame:
        return df.groupBy(*keys, cat.alias("__cat")).agg(
            F.count(F.lit(1)).alias(f"n_{side}")
        )

    ca, cb = _counts(df_a, "a"), _counts(df_b, "b")
    both = ca.join(cb, on=keys + ["__cat"], how="full").select(
        *keys,
        "__cat",
        F.coalesce(F.col("n_a"), F.lit(0)).alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0)).alias("n_b"),
    )
    tot_a = F.sum("n_a").over(_group_window(keys))
    tot_b = F.sum("n_b").over(_group_window(keys))
    # an empty slice in a group means every category frequency is 0 on
    # that side (drifted-in group), not an error
    pa_raw = F.coalesce(F.try_divide(F.col("n_a"), tot_a), F.lit(0.0))
    pb_raw = F.coalesce(F.try_divide(F.col("n_b"), tot_b), F.lit(0.0))
    pa = F.greatest(pa_raw, F.lit(eps))
    pb = F.greatest(pb_raw, F.lit(eps))
    per_cat = both.select(
        *keys,
        ((pa - pb) * (F.log(pa) - F.log(pb))).alias("__psi_term"),
        F.abs(pa_raw - pb_raw).alias("__gap"),
    )
    return per_cat.groupBy(*keys).agg(
        F.lit(column).alias("column_name"),
        F.count(F.lit(1)).alias("n_categories"),
        F.sum("__psi_term").alias("psi"),
        F.sum("__gap").alias("l1"),
        F.max("__gap").alias("linf"),
    )


def rolling_drift(
    df: DataFrame,
    column: str,
    time_column: str,
    splits: Sequence[float],
    group_by: Sequence[str] = (),
    eps: float = PSI_EPS,
) -> DataFrame:
    """PSI + binned-CDF L-inf of each day's distribution vs the PREVIOUS
    calendar day — continuous monitoring over a time-series table.

    Output per (keys..., day) with a non-empty previous day:
    (keys..., day, column_name, count_cur, count_prev, psi, cdf_linf).
    Days whose previous calendar day has no rows (including the first
    day) are dropped — there is nothing to compare against; a gap day
    therefore also resets the comparison rather than silently comparing
    across the gap.

    One scan reduces the table to per-(day, keys, bin) counts; the
    "previous day" side is the SAME aggregate shifted by one day, so the
    self-join and the PSI windows run over O(days × groups × bins) rows.
    At 100 TB this costs the column-pruned scan plus aggregate-sized
    exchanges — never a second data pass.
    """
    keys = list(group_by)
    day = F.col(time_column).cast("date").alias("__day")
    v = F.col(column).cast("double")
    binned = (
        df.where(_valid_value(v))
        .select(day, *keys, _bin_index(v, splits).alias("bin"))
        .groupBy("__day", *keys, "bin")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    cur = binned.select(
        F.col("__day"), *keys, "bin", F.col("n").alias("n_cur")
    )
    prev = binned.select(
        F.date_add("__day", 1).alias("__day"),
        *keys,
        "bin",
        F.col("n").alias("n_prev"),
    )
    both = cur.join(prev, on=["__day", *keys, "bin"], how="full").select(
        "__day",
        *keys,
        "bin",
        F.coalesce(F.col("n_cur"), F.lit(0)).alias("n_cur"),
        F.coalesce(F.col("n_prev"), F.lit(0)).alias("n_prev"),
    )
    wk = ["__day", *keys]
    psi_term, cdf_gap = _psi_cdf_terms(wk, "n_cur", "n_prev", eps)
    per = both.select(
        "__day",
        *keys,
        F.col("n_cur"),
        F.col("n_prev"),
        psi_term.alias("__psi_term"),
        cdf_gap.alias("__cdf_gap"),
    )
    out = per.groupBy("__day", *keys).agg(
        F.sum("n_cur").alias("count_cur"),
        F.sum("n_prev").alias("count_prev"),
        F.sum("__psi_term").alias("psi"),
        F.max("__cdf_gap").alias("cdf_linf"),
    )
    return out.where(
        (F.col("count_prev") > 0) & (F.col("count_cur") > 0)
    ).select(
        F.col("__day").alias("day"),
        *keys,
        F.lit(column).alias("column_name"),
        "count_cur",
        "count_prev",
        "psi",
        "cdf_linf",
    )


def profile_diff(
    profile_a: DataFrame,
    profile_b: DataFrame,
    keys: Sequence[str] = ("column_name",),
) -> DataFrame:
    """Column-level diff of two finalized profiles — drift straight from
    the PROFILE STORE, no raw-data pass.

    Inputs are long-format finalized profiles (the output of
    ``operators/profile.profile`` / ``finalize_profile``, or a stored
    profile parquet read back): one row per (keys...) carrying count /
    null_count / inferred_type / numeric stats. Output per key:

      count_a, count_b, count_ratio (b/a), null_rate_a/b/_delta,
      type_changed + inferred_type_a/b, mean_a/b/_delta, stddev_delta,
      min_delta, max_delta

    Numeric deltas are NULL for columns without numeric stats (strings).
    Columns present in only one profile keep the other side's metrics
    NULL — schema drift (new/dropped columns) is visible as such rows.
    Profiles are O(columns) rows, so this join is driver-trivial at any
    data scale; the heavy lifting already happened when the profiles
    were built.
    """
    ks = list(keys)
    a = profile_a.select(
        *ks,
        F.col("count").alias("count_a"),
        F.col("null_count").alias("nulls_a"),
        F.col("inferred_type").alias("inferred_type_a"),
        F.col("mean").alias("mean_a"),
        F.col("stddev").alias("stddev_a"),
        F.col("min").alias("min_a"),
        F.col("max").alias("max_a"),
    )
    b = profile_b.select(
        *ks,
        F.col("count").alias("count_b"),
        F.col("null_count").alias("nulls_b"),
        F.col("inferred_type").alias("inferred_type_b"),
        F.col("mean").alias("mean_b"),
        F.col("stddev").alias("stddev_b"),
        F.col("min").alias("min_b"),
        F.col("max").alias("max_b"),
    )
    j = a.join(b, on=ks, how="full")
    nr_a = F.try_divide(F.col("nulls_a"), F.col("count_a"))
    nr_b = F.try_divide(F.col("nulls_b"), F.col("count_b"))
    return j.select(
        *ks,
        F.col("count_a"),
        F.col("count_b"),
        F.try_divide(F.col("count_b"), F.col("count_a")).alias("count_ratio"),
        nr_a.alias("null_rate_a"),
        nr_b.alias("null_rate_b"),
        (nr_b - nr_a).alias("null_rate_delta"),
        (
            F.col("inferred_type_a").isNotNull()
            & F.col("inferred_type_b").isNotNull()
            & (F.col("inferred_type_a") != F.col("inferred_type_b"))
        ).alias("type_changed"),
        F.col("inferred_type_a"),
        F.col("inferred_type_b"),
        F.col("mean_a"),
        F.col("mean_b"),
        (F.col("mean_b") - F.col("mean_a")).alias("mean_delta"),
        (F.col("stddev_b") - F.col("stddev_a")).alias("stddev_delta"),
        (F.col("min_b") - F.col("min_a")).alias("min_delta"),
        (F.col("max_b") - F.col("max_a")).alias("max_delta"),
    )


def topk_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    column: str,
    k: int = 10,
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Heavy-hitter churn between slices A and B — the frequent-items
    face of drift monitoring: which values entered the top-k, which
    vanished, how ranks and frequencies moved.

    Both slices rank with the exact bounded two-phase
    ``summary.frequent_items`` (null semantics and 256-char truncation
    included), then full-outer join per (keys…, value). Output per
    surviving value: (keys…, column_name, value, count_a, count_b,
    rank_a, rank_b, freq_a, freq_b, freq_delta, status) where status ∈
    {'new', 'vanished', 'moved', 'stable'} ('new' = in B's top-k only,
    'vanished' = in A's only, 'moved' = rank changed). Frequencies are
    counts over the slice's TRACKED rows (the frequent-items
    denominator: non-null values), rounded to 6.

    Aggregate-sized end to end: each slice reduces to ≤ k rows per
    group plus one total row; the join is trivially broadcastable.
    """
    from .summary import frequent_items

    keys = list(group_by)

    def side(df: DataFrame, tag: str) -> DataFrame:
        top = frequent_items(df, column, group_by=keys, k=k).select(
            *keys,
            "value",
            F.col("count").alias(f"count_{tag}"),
            F.col("rank").alias(f"rank_{tag}"),
        )
        from ..plans.spark_sql import masked_sql

        schema = {f.name: f.dataType for f in df.schema.fields}
        tot = df.groupBy(*keys).agg(
            F.count(F.expr(masked_sql(column, schema[column]))).alias(f"__tot_{tag}")
        )
        if keys:
            return top.join(tot, on=keys, how="left")
        return top.crossJoin(tot)

    a, b = side(df_a, "a"), side(df_b, "b")
    j = a.join(b, on=keys + ["value"], how="full")
    ra, rb = F.col("rank_a"), F.col("rank_b")
    fa = F.try_divide(F.col("count_a"), F.col("__tot_a"))
    fb = F.try_divide(F.col("count_b"), F.col("__tot_b"))
    status = (
        F.when(ra.isNull(), F.lit("new"))
        .when(rb.isNull(), F.lit("vanished"))
        .when(ra != rb, F.lit("moved"))
        .otherwise(F.lit("stable"))
    )
    return j.select(
        *keys,
        F.lit(column).alias("column_name"),
        "value",
        "count_a",
        "count_b",
        ra.alias("rank_a"),
        rb.alias("rank_b"),
        (F.round(fa, 6) + F.lit(0.0)).alias("freq_a"),
        (F.round(fb, 6) + F.lit(0.0)).alias("freq_b"),
        (F.round(fb - fa, 6) + F.lit(0.0)).alias("freq_delta"),
        status.alias("status"),
    )


def rolling_topk_drift(
    df: DataFrame,
    column: str,
    time_column: str,
    k: int = 10,
    eps_days: int = 1,
) -> DataFrame:
    """Day-over-day heavy-hitter churn — the rolling face of
    ``topk_drift``: each calendar day's top-k values vs the previous
    day's, with rank moves and new/vanished/moved/stable statuses.

    One scan reduces the table to per-(day, value) counts; both the
    ranking and the previous-day side are derived from that aggregate
    (shifted by ``eps_days``), so everything after the scan is
    O(days × values) rows. Days without a previous day drop (gap
    resets, the ``rolling_drift`` contract). NULL values are not
    tracked (frequent-items semantics).
    """
    from pyspark.sql import Window

    day = F.col(time_column).cast("date")
    counts = (
        df.where(F.col(column).isNotNull())
        .groupBy(day.alias("day"), F.col(column).cast("string").alias("value"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("day").orderBy(
        F.col("n").desc(), F.col("value").asc()
    )
    ranked = counts.select(
        "day", "value", "n", F.row_number().over(w).alias("rank")
    ).where(F.col("rank") <= k)
    cur = ranked.select(
        "day", "value", F.col("n").alias("count_cur"), F.col("rank").alias("rank_cur")
    )
    prev = ranked.select(
        F.date_add("day", eps_days).alias("day"),
        "value",
        F.col("n").alias("count_prev"),
        F.col("rank").alias("rank_prev"),
    )
    # only days that HAVE a previous top-k participate (gap reset)
    prev_days = ranked.select(
        F.date_add("day", eps_days).alias("day")
    ).distinct()
    cur_days = ranked.select("day").distinct()
    both_days = cur_days.join(prev_days, on="day")
    j = (
        cur.join(prev, on=["day", "value"], how="full")
        .join(F.broadcast(both_days), on="day")
    )
    rc, rp = F.col("rank_cur"), F.col("rank_prev")
    status = (
        F.when(rp.isNull(), F.lit("new"))
        .when(rc.isNull(), F.lit("vanished"))
        .when(rc != rp, F.lit("moved"))
        .otherwise(F.lit("stable"))
    )
    return j.select(
        "day",
        F.lit(column).alias("column_name"),
        "value",
        "count_cur",
        "count_prev",
        rc.alias("rank_cur"),
        rp.alias("rank_prev"),
        status.alias("status"),
    )


def sketch_profile_diff(
    sketch_a: DataFrame,
    sketch_b: DataFrame,
    keys: Sequence[str] = (),
    bins: int = 10,
    splits: Sequence[float] | None = None,
    eps: float = PSI_EPS,
) -> DataFrame:
    """Distribution drift straight from STORED SKETCH profiles — no raw
    data, no exact atoms.

    Inputs are two ``approx.sketch_profile`` outputs (one row per group
    carrying ``{col}__kll`` / ``{col}__theta`` / ``{col}__hll`` binaries
    — the mergeable state a profile store persists). For every column
    with a KLL sketch on BOTH sides, the quantile sketch is read back as
    a CDF (``kll_sketch_get_rank_float`` — the same quantile surface the
    reference exposes from stored profiles, SummaryConverters.java:110-124)
    and scored with the numeric_drift math:

    - shared bin edges: ``splits`` if given (numeric_drift-compatible
      split points), else ``bins`` equal-width edges over the combined
      sketch [min, max];
    - psi over the per-bin probabilities (rank deltas), with the same
      eps substitution as the exact tier;
    - cdf_linf = max CDF gap at the interior edges;
    - count_a/b (sketch n), median_a/b/delta, unique_theta_a/b.

    Output, long format per (keys..., column_name). Estimates inherit
    KLL rank error (k=256 → ~1% normalized) — this is the rows-only
    sketch tier; ``tests/test_sketch_tolerances.py`` brackets it against
    the exact ``numeric_drift`` twin. Both inputs are aggregate-sized
    (O(groups) rows × O(columns) sketch binaries), so the join and every
    rank read cost nothing at any raw-data scale: diffing two 100 TB
    days = reading two profile rows.

    Columns present on one side only (schema drift) yield NULL metrics;
    a side whose sketch is empty (zero valid values) likewise — guarded
    by lazy CaseWhen so empty KLL binaries are never queried.
    """
    ks = list(keys)

    def _prefixed(df: DataFrame, side: str) -> DataFrame:
        return df.select(
            *ks,
            *[
                F.col(f.name).alias(f"{side}__{f.name}")
                for f in df.schema.fields
                if f.name not in ks
            ],
        )

    a, b = _prefixed(sketch_a, "a"), _prefixed(sketch_b, "b")
    if ks:
        j = a.join(b, on=ks, how="full")
    else:
        # sketch_profile's global groupBy() always yields exactly one
        # row per side, so the cross join is 1×1
        j = a.crossJoin(b)
    if splits is None:
        # the lo/hi probe below is an ACTION: without materialization it
        # would execute both sketch aggregations once for the probe and
        # again for the real output — two full input scans per side. The
        # joined table is aggregate-sized (O(groups) rows of binaries),
        # so checkpointing it costs its size, and both the probe and the
        # final select read the materialized rows.
        j = j.transform(materialize)

    fields = {f.name for f in j.schema.fields}
    cols = sorted(
        {
            n[len("a__"): -len("__kll")]
            for n in fields
            if n.startswith("a__") and n.endswith("__kll")
        }
        | {
            n[len("b__"): -len("__kll")]
            for n in fields
            if n.startswith("b__") and n.endswith("__kll")
        }
    )

    def _rank(sk, edge):
        # the probe value must be FOLDABLE (kll_sketch_get_rank_float
        # rejects data-dependent probes) — edges below are literals, and
        # a cast of a literal stays foldable under constant folding
        return F.kll_sketch_get_rank_float(sk, edge.cast("float"))

    def _q(sk, p: float):
        return F.kll_sketch_get_quantile_float(sk, F.lit(float(p)))

    def _guarded_q(name: str, p: float):
        if name not in fields:
            return F.lit(None).cast("float")
        sk = F.col(name)
        return F.when(
            sk.isNotNull() & (F.kll_sketch_get_n_float(sk) > 0), _q(sk, p)
        )

    # Shared literal bin edges per column. With caller splits they are
    # literal already; otherwise derive [lo, hi] with ONE driver-side
    # aggregate over the sketch table — aggregate-sized input (O(groups)
    # rows of binaries), the same tiny-collect shape as auto_splits, so
    # this costs nothing at any raw-data scale.
    edges_by_col: dict[str, list] = {}
    if splits is not None:
        lits = [F.lit(float(s)) for s in sorted(float(x) for x in splits)]
        for c in cols:
            edges_by_col[c] = lits
    else:
        probe_aggs = []
        for c in cols:
            ka, kb = f"a__{c}__kll", f"b__{c}__kll"
            probe_aggs.append(
                F.min(F.least(_guarded_q(ka, 0.0), _guarded_q(kb, 0.0)))
                .cast("double")
                .alias(f"{c}__lo")
            )
            probe_aggs.append(
                F.max(F.greatest(_guarded_q(ka, 1.0), _guarded_q(kb, 1.0)))
                .cast("double")
                .alias(f"{c}__hi")
            )
        probe = j.agg(*probe_aggs).first()
        for c in cols:
            lo, hi = probe[f"{c}__lo"], probe[f"{c}__hi"]
            if (
                lo is None
                or hi is None
                or not math.isfinite(hi - lo)
                or hi <= lo
            ):
                # constant/empty column: no distributional information —
                # a single bin scores psi 0, cdf_linf 0
                edges_by_col[c] = []
                continue
            width = (hi - lo) / bins
            edges_by_col[c] = [
                F.lit(float(lo + i * width)) for i in range(1, bins)
            ]

    structs = []
    for c in cols:
        ka, kb = f"a__{c}__kll", f"b__{c}__kll"
        parts = [F.lit(c).alias("column_name")]
        sk_a_col = F.col(ka) if ka in fields else F.lit(None).cast("binary")
        sk_b_col = F.col(kb) if kb in fields else F.lit(None).cast("binary")
        n_a = (
            F.kll_sketch_get_n_float(sk_a_col) if ka in fields else F.lit(None)
        ).cast("long")
        n_b = (
            F.kll_sketch_get_n_float(sk_b_col) if kb in fields else F.lit(None)
        ).cast("long")
        both = (
            sk_a_col.isNotNull()
            & sk_b_col.isNotNull()
            & (n_a > 0)
            & (n_b > 0)
        )
        parts.append(n_a.alias("count_a"))
        parts.append(n_b.alias("count_b"))

        edges = edges_by_col[c]

        ra = [F.lit(0.0)] + [_rank(sk_a_col, e).cast("double") for e in edges] + [F.lit(1.0)]
        rb = [F.lit(0.0)] + [_rank(sk_b_col, e).cast("double") for e in edges] + [F.lit(1.0)]
        psi_terms = []
        for i in range(len(edges) + 1):
            pa = F.greatest(ra[i + 1] - ra[i], F.lit(eps))
            pb = F.greatest(rb[i + 1] - rb[i], F.lit(eps))
            psi_terms.append((pa - pb) * (F.log(pa) - F.log(pb)))
        psi = sum(psi_terms[1:], psi_terms[0])
        gaps = [
            F.abs(ra[i + 1] - rb[i + 1]) for i in range(len(edges))
        ]
        cdf_linf = F.greatest(*gaps) if len(gaps) > 1 else (
            gaps[0] if gaps else F.lit(0.0)
        )
        med_a = F.when(sk_a_col.isNotNull() & (n_a > 0), _q(sk_a_col, 0.5)).cast(
            "double"
        )
        med_b = F.when(sk_b_col.isNotNull() & (n_b > 0), _q(sk_b_col, 0.5)).cast(
            "double"
        )
        parts.append(med_a.alias("median_a"))
        parts.append(med_b.alias("median_b"))
        parts.append((med_b - med_a).alias("median_delta"))
        parts.append(F.when(both, psi).alias("psi"))
        parts.append(F.when(both, cdf_linf).alias("cdf_linf"))
        ta, tb = f"a__{c}__theta", f"b__{c}__theta"
        parts.append(
            (
                F.theta_sketch_estimate(F.col(ta))
                if ta in fields
                else F.lit(None)
            ).cast("double").alias("unique_theta_a")
        )
        parts.append(
            (
                F.theta_sketch_estimate(F.col(tb))
                if tb in fields
                else F.lit(None)
            ).cast("double").alias("unique_theta_b")
        )
        structs.append(F.struct(*parts))

    return j.select(*ks, F.explode(F.array(*structs)).alias("m")).select(
        *ks, "m.*"
    )


def quantile_splits(
    df_a: DataFrame, df_b: DataFrame, column: str, bins: int = 10
) -> list[float]:
    """Quantile (equal-mass) interior edges over the COMBINED slices —
    the standard PSI binning (each bin holds ~1/bins of the combined
    mass, so no bin is starved and the eps floor rarely fires, unlike
    equal-width edges on skewed columns). EXACT percentiles (one tiny
    sort-based aggregate per call, deciles of a 100 TB column cost one
    column-pruned scan) so the edges — and the resulting drift scores —
    are engine-deterministic. Duplicated edges (heavy atoms) collapse
    to one. Feed to ``numeric_drift`` like ``auto_splits``.
    """
    v = F.col(column).cast("double")
    ok = _valid_value(v)
    qs = [i / bins for i in range(1, bins)]
    row = (
        df_a.select(v.alias("v")).where(ok)
        .unionAll(df_b.select(v.alias("v")).where(ok))
        .agg(F.percentile(F.col("v"), F.lit(qs)).alias("p"))
        .first()
    )
    if row["p"] is None:
        return []
    out: list[float] = []
    for x in row["p"]:
        if x is not None and math.isfinite(x) and (not out or x > out[-1]):
            out.append(float(x))
    return out


def auto_splits(
    df_a: DataFrame, df_b: DataFrame, column: str, bins: int = 10
) -> list[float]:
    """Equal-width interior edges over the COMBINED slices' [min, max].

    One tiny aggregate per slice (a scalar row — the histogram
    two-pass shape); the returned edges feed ``numeric_drift`` so both
    slices bin identically.
    """
    v = F.col(column).cast("double")
    ok = _valid_value(v)
    lo_hi = (
        df_a.select(v.alias("v")).where(ok)
        .unionAll(df_b.select(v.alias("v")).where(ok))
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        .first()
    )
    lo, hi = lo_hi["lo"], lo_hi["hi"]
    if lo is None or hi is None or not math.isfinite(hi - lo) or hi <= lo:
        return []
    width = (hi - lo) / bins
    return [lo + i * width for i in range(1, bins)]


def embedding_dim_sums(df: DataFrame, vec_col: str, tag: str) -> DataFrame:
    """Per-dimension exact-integer atom sums of an embedding column:
    (dim, n_<tag>, s_<tag>) — the reduction both the batch diff and the
    streaming windowed twin share (floor(x*1e6 + 0.5) BIGINT atoms, the
    functions/metrics.py convention)."""
    e = df.select(F.posexplode(F.col(vec_col)).alias("dim", "__v"))
    return e.groupBy("dim").agg(
        F.count(F.lit(1)).alias(f"n_{tag}"),
        F.sum(
            F.floor(
                F.col("__v").cast("double") * _EMB_SCALE + F.lit(0.5)
            ).cast("long")
        ).alias(f"s_{tag}"),
    )


_EMB_SCALE = 1_000_000


def embedding_drift_scores(
    joined: DataFrame, group_cols: "list[str] | None" = None
) -> DataFrame:
    """Score rows of (group_cols..., dim, n_ref, s_ref, n_cur, s_cur)
    into one drift row per group — the shared integer-exact math of
    ``embedding_drift`` (see its docstring); the streaming twin feeds
    windowed sums through the same scorer."""
    scale = _EMB_SCALE
    keys = list(group_cols or [])
    mean_i = lambda s, n: F.floor(
        F.round(F.col(s) / F.col(n) / F.lit(float(scale)), 6) * scale
        + F.lit(0.5)
    ).cast("long")
    mm = joined.select(
        *keys,
        F.col("n_ref"),
        F.col("n_cur"),
        mean_i("s_ref", "n_ref").alias("mr"),
        mean_i("s_cur", "n_cur").alias("mc"),
    )
    agg = mm.groupBy(*keys).agg(
        F.max("n_ref").alias("n_ref"),
        F.max("n_cur").alias("n_cur"),
        F.sum(F.col("mr") * F.col("mc")).alias("dot_rc"),
        F.sum(F.col("mr") * F.col("mr")).alias("dot_rr"),
        F.sum(F.col("mc") * F.col("mc")).alias("dot_cc"),
        F.max(F.abs(F.col("mr") - F.col("mc"))).alias("max_shift_i"),
        F.sum(F.abs(F.col("mr") - F.col("mc"))).alias("sum_shift_i"),
        F.count(F.lit(1)).alias("n_dims"),
    )
    # int64 -> double casts BEFORE the norm product (dot_rr * dot_cc
    # overflows int64 at realistic magnitudes; the doubles are exact
    # conversions of ints < 2^53, so the result is still deterministic)
    cos = F.try_divide(
        F.col("dot_rc").cast("double"),
        F.sqrt(F.col("dot_rr").cast("double") * F.col("dot_cc").cast("double")),
    )
    l2 = (
        F.sqrt(
            (F.col("dot_rr") - 2 * F.col("dot_rc") + F.col("dot_cc")).cast(
                "double"
            )
        )
        / F.lit(float(scale))
    )
    return agg.select(
        *keys,
        F.col("n_ref").cast("long").alias("n_ref"),
        F.col("n_cur").cast("long").alias("n_cur"),
        (F.round(cos, 6) + F.lit(0.0)).alias("cosine_means"),
        (F.round(l2, 6) + F.lit(0.0)).alias("l2_means"),
        (F.round(F.col("max_shift_i") / F.lit(float(scale)), 6) + F.lit(0.0)).alias(
            "max_dim_shift"
        ),
        (
            F.round(
                F.col("sum_shift_i")
                / (F.col("n_dims") * F.lit(float(scale))),
                6,
            )
            + F.lit(0.0)
        ).alias("mean_abs_shift"),
    )


def embedding_drift(
    ref: DataFrame,
    cur: DataFrame,
    vec_col: str,
) -> DataFrame:
    """Embedding-space drift between a reference slice and a current
    slice of an `array<float>` column — the semantic sibling of
    ``numeric_drift`` for representation monitoring (did the corpus /
    feature distribution move in embedding space?).

    One row out: (n_ref, n_cur, cosine_means, l2_means, max_dim_shift,
    mean_abs_shift), where the mean vectors are compared by cosine and
    L2, plus the largest and average per-dimension shift for
    localization.

    Engine-determinism: each slice reduces to per-dimension means via
    EXACT integer sums (floor(x·1e6 + 0.5) as BIGINT — the atom
    convention of functions/metrics.py), the rounded means re-scale to
    integers, and every dot product / norm / shift is integer
    arithmetic until the final divides — so the output replays
    bit-for-bit in the DuckDB oracle despite double-typed embeddings.
    Scale shape: two scans (one per slice) -> posexplode ->
    dimension-keyed partial aggregation; everything after the two
    (dims)-row aggregates is O(dims) — a 100 TB slice pair reduces to
    2 x dims rows before any join. No data x data joins, no UDFs.
    The reduction and the scorer are shared with the streaming twin
    (``embedding_dim_sums`` / ``embedding_drift_scores``).
    """
    m = embedding_dim_sums(ref, vec_col, "ref").join(
        embedding_dim_sums(cur, vec_col, "cur"), on="dim"
    )
    return embedding_drift_scores(m)
