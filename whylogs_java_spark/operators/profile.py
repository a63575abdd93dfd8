"""DatasetProfile as a DataFrame: the flagship grouped profiling operator.

Reference flow (WhyLogs.scala:125-177): session builder -> groupBy(tags, ts)
-> custom Aggregator with Java-serialized DatasetProfile buffers -> union of
100-column batches -> second merge pass. Here the whole pipeline is ONE
declarative aggregation:

    df.groupBy(*group_by, time_bucket) .agg(<all column atom exprs>)

followed by a zero-shuffle explode into long format
``(group keys..., column_name, <atom fields>)``. Catalyst runs it as a
partial+final HashAggregate with whole-stage codegen; state per group is
O(columns x constants) just like the reference's profile footprint
(README.md:56-60), so the same plan holds at 100 TB: the shuffle carries
only partial aggregate rows, never data rows.

Scale notes:
- No second pass / union: wide inputs (600+ cols, WhyLogs.scala:146-148's
  100-column batching) are handled by the single agg.
- Two atoms plans, one choice. The wide plan above costs ~30 aggregates
  per column to analyze, optimize and compile on every call, however few
  the rows; the melt plan (``profile_atoms_melted``) stacks each row into
  per-column entries first and aggregates them with one generic suite, so
  its plan is O(1) in width but its work is rows x columns entries — the
  reference's column-batch rationale, Spark-first. ``profile()`` picks by
  the input's size estimate: melt at or below ``MELT_MAX_BYTES``, wide
  above it (see the constant for the measured crossover).
- No ``coalesce(defaultParallelism)`` (WhyLogs.scala:134-137): built-in aggs
  have small per-group state; AQE picks partitioning.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..constants import TAG_PREFIX
from ..functions.metrics import ATOM_METRICS

# Plan estimate (bytes) at or below which profile() runs the melt plan.
# Set from warm process CPU-s per profile() call, wide vs melt (medians of
# 7 alternating pairs in one local[4] JVM, 4 vCPUs):
#   lineitem slices, 16 columns: 117 KB (6k rows) 1.29 vs 0.84, 218 KB
#     (10k) 1.42 vs 0.90, 393 KB (20k) 1.24 vs 1.08, 558 KB (30k) 1.48
#     vs 1.20, 723 KB (40k) 1.25 vs 1.18, 884 KB (50k) 1.15 vs 1.20,
#     1.04 MB (60k) 1.30 vs 1.33: melt stops winning at ~700-900 KB;
#   store_log batches, 12 columns: 325 KB (5k rows) 1.35 vs 0.84, 611 KB
#     (10k) 1.75 vs 1.25.
# 512 KiB routes every store_log batch and lineitem up to ~30k rows to
# melt, below lineitem's crossover. Bytes on disk only proxy rows, so the
# worst case the rule admits is a highly compressible file just under
# the constant: 12 columns of 1,000-row runs, 522 KB holding 8.9M rows,
# cost 50.8 vs 109.4 CPU-s (2.2x; 235 KB / 4M rows: 20.8 vs 50.5).
MELT_MAX_BYTES = 512 * 1024


def profile_atoms(
    df: DataFrame,
    group_by: Sequence[str] = (),
    time_column: str | None = None,
    time_granularity: str | None = "day",
    columns: Sequence[str] | None = None,
    null_strings: Sequence[str] = (),
    coerce_strings: bool = False,
) -> DataFrame:
    """Mergeable long-format profile atoms.

    Output: one row per (group key values, profiled column) with the
    ATOM_METRICS fields. Group-by / time columns are excluded from profiling
    (DatasetProfileAggregator.scala:92-95 semantics).

    The plan is emitted as ONE generated Spark-SQL statement
    (plans.spark_sql): building the ~400 expressions of a wide profile via
    the Column API costs seconds of py4j round trips per query; the SQL
    text is a single JVM call producing the identical Catalyst plan
    (projection -> partial+final hash-agg -> inline explode).
    ``finalize_profile`` adds its summary SELECT the same way, so a
    ``profile()`` build is two ``spark.sql`` calls whatever the width.
    """
    from ..plans.spark_sql import build_atoms_sql

    schema = {f.name: f.dataType for f in df.schema.fields}
    sql, _ = build_atoms_sql(
        "{src}",
        schema,
        group_by,
        time_column,
        time_granularity,
        columns,
        null_strings,
        coerce_strings,
    )
    return df.sparkSession.sql(sql, src=df)


def profile_atoms_melted(
    df: DataFrame,
    group_by: Sequence[str] = (),
    time_column: str | None = None,
    time_granularity: str | None = "day",
    columns: Sequence[str] | None = None,
    null_strings: Sequence[str] = (),
) -> DataFrame:
    """Melt-plan atoms: the same rows and schema as ``profile_atoms``
    from a plan whose size is O(1) in width.

    Rows melt into per-column entries and ONE generic suite aggregates by
    (keys, column_name). Trade-off: the work and the shuffle are rows x
    columns entries (map-side combined), vs the wide plan's per-call cost
    of analyzing and compiling ~30 aggregates per column — so it is the
    cheaper plan when that fixed cost dominates: small inputs, which
    ``profile()`` routes here, and very wide tables (the Spark-first
    equivalent of the reference's 100-column batching,
    WhyLogs.scala:146-176). String coercion is wide-plan only.
    """
    from ..plans.spark_sql import build_melted_atoms_sql

    schema = {f.name: f.dataType for f in df.schema.fields}
    sql, _ = build_melted_atoms_sql(
        "{src}", schema, group_by, time_column, time_granularity, columns, null_strings
    )
    return df.sparkSession.sql(sql, src=df)


def profile_melted(
    df: DataFrame,
    group_by: Sequence[str] = (),
    time_column: str | None = None,
    time_granularity: str | None = "day",
    columns: Sequence[str] | None = None,
    null_strings: Sequence[str] = (),
) -> DataFrame:
    """Finalized profile via the melt plan whatever the input size (see
    ``profile_atoms_melted``)."""
    key_names = list(group_by) + (["dataset_timestamp"] if time_column else [])
    atoms = profile_atoms_melted(
        df, group_by, time_column, time_granularity, columns, null_strings
    )
    return finalize_profile(atoms, key_names)


def finalize_profile(atoms: DataFrame, key_names: Sequence[str]) -> DataFrame:
    """Atoms -> summary metrics (mean/variance/stddev/inferred type...),
    as one SQL statement over the atoms (the finalizer text the DuckDB
    oracle also runs)."""
    from ..plans.spark_sql import finalize_select_sql

    return atoms.sparkSession.sql(
        f"{finalize_select_sql(key_names)} FROM {{atoms}}", atoms=atoms
    )


def _plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df`` (optimized-plan statistics): a
    file scan's bytes on disk scaled to the columns read; huge when
    unknown (an RDD-backed frame estimates ``spark.sql.defaultSizeInBytes``)."""
    return df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()


def profile(
    df: DataFrame,
    group_by: Sequence[str] = (),
    time_column: str | None = None,
    time_granularity: str | None = "day",
    columns: Sequence[str] | None = None,
    null_strings: Sequence[str] = (),
    coerce_strings: bool = False,
) -> DataFrame:
    """Grouped dataset profile in long format — the flagship query.

    Equivalent of ``df.newProfilingSession(name).withTimeColumn(ts)
    .groupBy(cols).aggProfiles()`` (WhyLogs.scala:36-177) with summary
    finalization applied (DatasetProfile.toSummary,
    DatasetProfile.java:174-188).

    The one place that chooses the atoms plan: an input whose plan
    estimate is at most ``MELT_MAX_BYTES`` profiles through the melt plan
    (``profile_atoms_melted``), whose fixed cost per call does not grow
    with width; a larger one, an unknown estimate, or ``coerce_strings``
    (which only the wide plan supports) through the wide plan
    (``profile_atoms``), which is cheaper per row. Measured per warm
    call, melt is ~1.5x cheaper on a 5k-row store batch and on lineitem
    up to 10k rows, 1.1-1.2x at 20-30k rows, and stops winning at
    ~700-900 KB of lineitem (the constant's comment has the table). Both give the same rows and
    schema (see ``build_melted_atoms_sql``); the row order differs.
    """
    key_names = list(group_by) + (["dataset_timestamp"] if time_column else [])
    if not coerce_strings and _plan_bytes(df) <= MELT_MAX_BYTES:
        atoms = profile_atoms_melted(
            df, group_by, time_column, time_granularity, columns, null_strings
        )
    else:
        atoms = profile_atoms(
            df, group_by, time_column, time_granularity, columns, null_strings,
            coerce_strings,
        )
    return finalize_profile(atoms, key_names)


def with_session_meta(
    profiled: DataFrame,
    group_keys: Sequence[str],
    session_id: str,
    session_timestamp: int,
    metadata: dict[str, str] | None = None,
) -> DataFrame:
    """Session/tag metadata parity (DatasetProfile.java:40-53, 107-110):
    prepend sessionId / sessionTimestamp columns, a ``tags`` map carrying
    every group key under the reference's ``whylogs.tag.<key>`` prefix, and
    an optional ``metadata`` map. Stored profiles filtered by tag behave
    like the reference's tagged profiles; the protobuf writer
    (sources/protobuf.py) emits the same convention on the wire.
    """
    entries: list[Column] = []
    for k in group_keys:
        entries.append(F.lit(TAG_PREFIX + k))
        entries.append(F.coalesce(F.col(k).cast("string"), F.lit("")))
    tags = (
        F.create_map(*entries)
        if entries
        else F.create_map().cast("map<string,string>")
    )
    meta_entries: list[Column] = []
    for mk, mv in (metadata or {}).items():
        meta_entries.append(F.lit(mk))
        meta_entries.append(F.lit(mv))
    meta = (
        F.create_map(*meta_entries)
        if meta_entries
        else F.create_map().cast("map<string,string>")
    )
    return profiled.select(
        F.lit(session_id).alias("session_id"),
        F.lit(session_timestamp).cast("long").alias("session_timestamp"),
        tags.alias("tags"),
        meta.alias("metadata"),
        "*",
    )


def merge_profile_atoms(atoms: DataFrame, key_names: Sequence[str]) -> DataFrame:
    """Merge profile atoms sharing (keys, column_name) — DatasetProfile.merge.

    The algebra of DatasetProfile.merge / ColumnProfile.merge
    (DatasetProfile.java:251-300, ColumnProfile.java:158-196): counts add,
    extremes min/max, exact sums add — which subsumes Chan's parallel
    variance combine (VarianceTracker.java:49-69) since variance is derived
    from (n, Σx, Σx²). Column-name alignment across profiles is the groupBy
    itself (full outer union on column_name, DatasetProfile.java:284-291).

    The ``_m2`` atoms (stable big-magnitude variance tier — see the
    variance-tier note in functions/metrics.py) merge via Chan's identity
    re-based about a shared pivot c = MIN(min) over the merge group:
    combined m2 = Σᵢ(m2ᵢ + Tᵢ²/nᵢ) − (ΣᵢTᵢ)²/N with Tᵢ = Σxᵢ − nᵢ·c.
    Shifting by c (always inside the data range) keeps the quadratic terms
    at deviation scale, so no catastrophic cancellation at any magnitude —
    the same reason the reference's VarianceTracker.java:49-69 combines
    central (not raw) moments. The pivot window runs over ATOM rows
    (O(groups × columns), aggregate-sized) and shares the groupBy's
    partitioning, so no extra data-scale exchange.

    Usage: ``merge_profile_atoms(atoms_a.unionByName(atoms_b), keys)``.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(*key_names, "column_name")
    pre = atoms
    for s in ("num", "len", "tok"):
        n_i = F.col(f"{s}_n")
        s_i = (
            F.col(f"{s}_sum_hi").cast("double")
            + F.col(f"{s}_sum_lo").cast("double") / 1000000.0
            + F.col(f"{s}_sum_big")
        )
        t_i = s_i - n_i.cast("double") * F.min(f"{s}_min").over(w)
        pre = pre.withColumn(
            f"__{s}_t", F.when(n_i > 0, t_i).otherwise(F.lit(0.0))
        ).withColumn(
            f"__{s}_q",
            F.when(
                n_i > 0, F.coalesce(F.col(f"{s}_m2"), F.lit(0.0)) + t_i * t_i / n_i
            ).otherwise(F.lit(0.0)),
        )
    aggs: list[Column] = []
    for fname, _ in ATOM_METRICS:
        if fname.endswith("_m2"):
            s = fname[: -len("_m2")]
            n_tot = F.sum(f"{s}_n")
            t_tot = F.sum(f"__{s}_t")
            q_tot = F.sum(f"__{s}_q")
            aggs.append(
                F.when(n_tot > 1, F.greatest(q_tot - t_tot * t_tot / n_tot, F.lit(0.0)))
                .when(F.count(f"{s}_m2") > 0, F.lit(0.0))
                .alias(fname)
            )
        elif fname.endswith("_min"):
            aggs.append(F.min(fname).alias(fname))
        elif fname.endswith("_max"):
            aggs.append(F.max(fname).alias(fname))
        else:
            # counts and exact decimal sums both merge by addition
            aggs.append(F.sum(fname).alias(fname))
    merged = pre.groupBy(*key_names, "column_name").agg(*aggs)
    # F.sum widens decimal scale/precision and long->bigint stays; re-cast to
    # the canonical atom schema so merged output unions cleanly with fresh atoms
    casts = [F.col(f).cast(t).alias(f) for f, t in ATOM_METRICS]
    return merged.select(*key_names, "column_name", *casts)


def compact_profile_atoms(
    atoms: DataFrame,
    key_names: Sequence[str],
    to_granularity: str,
    time_key: str = "dataset_timestamp",
) -> DataFrame:
    """Profile-store compaction: re-bucket stored atoms to a coarser
    time grain and re-merge — the rollup a long-lived store runs so a
    year of hourly profiles compacts to daily/weekly rows without ever
    touching raw data.

    Exactness is the merge algebra's (``merge_profile_atoms``: counts
    add, extremes min/max, exact sums add), so
    ``compact(hourly atoms → day) == profile(raw, granularity='day')``
    bit-for-bit — pinned by the `profile_events_compacted` oracle, which
    derives the daily answer independently from raw data. Cost is one
    hash-aggregate over the STORE (O(buckets × keys × columns) rows),
    never a raw-data scan.

    ``key_names`` are the final keys INCLUDING ``time_key``; the grain
    cast mirrors `plans.spark_sql.build_atoms_sql` (date grains become
    DATE) so compacted output unions/compares cleanly with directly
    profiled atoms.
    """
    from ..plans.spark_sql import _DATE_GRAINS

    b = F.date_trunc(to_granularity, F.col(time_key))
    if to_granularity in _DATE_GRAINS:
        b = b.cast("date")
    coarse = atoms.withColumn(time_key, b)
    return merge_profile_atoms(coarse, list(key_names))
