"""Approximate (sketch) tier — the 100 TB scale path.

The reference's accuracy/footprint tradeoffs come from Apache DataSketches
(core/build.gradle.kts:41): KllFloatsSketch(k=256) for quantiles
(NumberTracker.java:38), Theta unions for unique counts
(ThetaSketch.java:12-21), HllSketch(lgK=12) for text cardinality
(ColumnProfile.java:39). Spark 4 ships the same DataSketches algorithms as
native aggregates — so this tier is *algorithm-identical* to the
reference, not merely comparable:

- ``kll_sketch_agg_float(col, 256)``  ≙ KllFloatsSketch(256) updates
- ``theta_sketch_agg``                ≙ theta Union
- ``hll_sketch_agg(col, 12)``         ≙ HllSketch(lgK=12)

Sketch binaries are mergeable with kll_sketch_merge / theta_union_agg /
hll_union_agg — the same union algebra the reference uses for profile
merge, but Catalyst-native (fixed-size buffers, partial+final agg, no
Java-serialized blobs).

Estimates are approximate by construction: the driver records rows-only
checks for these queries; exactness is covered by the exact tier.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..constants import HLL_LGK, KLL_K, SUMMARY_QUANTILES
from ..functions.sqlexpr import qcol
from ..plans.spark_sql import masked_sql, truncated_text_sql


def sketch_aggs(
    df: DataFrame,
    columns: Sequence[str] | None,
    exclude: Sequence[str],
    null_strings: Sequence[str] = (),
) -> list[str]:
    """The per-column sketch aggregates as Spark-SQL text. The batch
    ``sketch_profile`` runs them as one statement; the streaming
    ``windowed_sketch_profile`` wraps each in ``F.expr``. Text, not Column
    trees: each Column node is a py4j round trip, and these lists are
    three aggregates per column. Every sketch sees the masked column
    (``masked_sql``): the reference checks for null before it updates
    any tracker, so NaN, ±Inf and ``null_strings`` members are never
    counted as distinct values."""
    schema = {f.name: f.dataType for f in df.schema.fields}
    cols = [c for c in (columns or df.columns) if c not in set(exclude)]
    aggs = []
    for c in cols:
        dt = schema[c]
        m = masked_sql(c, dt, null_strings)
        if dt.typeName() in ("double", "float", "long", "integer", "short", "byte"):
            aggs.append(
                f"kll_sketch_agg_float(CAST({m} AS FLOAT), {KLL_K}) AS {qcol(c + '__kll')}"
            )
            aggs.append(f"theta_sketch_agg(CAST({m} AS DOUBLE)) AS {qcol(c + '__theta')}")
        aggs.append(
            f"hll_sketch_agg({truncated_text_sql(m)}, {HLL_LGK}) AS {qcol(c + '__hll')}"
        )
    return aggs


def sketch_profile(
    df: DataFrame,
    columns: Sequence[str] | None = None,
    group_by: Sequence[str] = (),
    null_strings: Sequence[str] = (),
) -> DataFrame:
    """Mergeable sketch atoms: one row per group, sketch binaries per column.

    Numeric columns get a KLL(256) quantile sketch + theta distinct sketch;
    every column gets an HLL(lgK=12) sketch over its 256-char-truncated
    string form (ColumnProfile.trackText semantics). Null-like values
    (SQL NULL, NaN/±Inf, ``null_strings`` members) feed no sketch. Built
    as one SQL statement.
    """
    keys = [qcol(k) for k in group_by]
    select = ", ".join(keys + sketch_aggs(df, columns, group_by, null_strings))
    group = f" GROUP BY {', '.join(keys)}" if keys else ""
    return df.sparkSession.sql(f"SELECT {select} FROM {{src}}{group}", src=df)


def merge_sketch_profiles(sketches: DataFrame, group_by: Sequence[str] = ()) -> DataFrame:
    """Union sketch atoms down to coarser groups (profile merge, approx tier)."""
    keys = list(group_by)
    aggs = []
    for f in sketches.schema.fields:
        if f.name in keys:
            continue
        if f.name.endswith("__kll"):
            aggs.append(F.kll_merge_agg_float(f.name).alias(f.name))
        elif f.name.endswith("__theta"):
            aggs.append(F.theta_union_agg(f.name).alias(f.name))
        elif f.name.endswith("__hll"):
            aggs.append(F.hll_union_agg(f.name).alias(f.name))
    grouped = sketches.groupBy(*keys) if keys else sketches.groupBy()
    return grouped.agg(*aggs)


def sketch_summary(
    sketches: DataFrame,
    group_by: Sequence[str] = (),
    quantiles: Sequence[float] = tuple(SUMMARY_QUANTILES),
) -> DataFrame:
    """Finalize sketch atoms into estimates, long format.

    Output: (keys..., column_name, unique_theta, unique_theta_lower,
    unique_theta_upper, unique_hll, q_0 .. q_1 as quantile array).
    Theta bounds are 1-std-err (SummaryConverters.java:29-36 parity; see
    ``theta_bounds``).
    """
    keys = list(group_by)
    cols = sorted(
        {
            f.name.rsplit("__", 1)[0]
            for f in sketches.schema.fields
            if "__" in f.name
        }
    )
    structs = []
    field_names = {f.name for f in sketches.schema.fields}
    for c in cols:
        parts = [F.lit(c).alias("column_name")]
        parts.append(
            (
                F.theta_sketch_estimate(F.col(f"{c}__theta"))
                if f"{c}__theta" in field_names
                else F.lit(None).cast("double")
            ).alias("unique_theta")
        )
        if f"{c}__theta" in field_names:
            tb = theta_bounds(F.col(f"{c}__theta"))
            parts.append(tb["lower"].alias("unique_theta_lower"))
            parts.append(tb["upper"].alias("unique_theta_upper"))
        else:
            parts.append(F.lit(None).cast("double").alias("unique_theta_lower"))
            parts.append(F.lit(None).cast("double").alias("unique_theta_upper"))
        parts.append(
            (
                F.hll_sketch_estimate(F.col(f"{c}__hll"))
                if f"{c}__hll" in field_names
                else F.lit(None).cast("long")
            ).cast("double").alias("unique_hll")
        )
        parts.append(
            (
                F.array(
                    *[
                        F.kll_sketch_get_quantile_float(
                            F.col(f"{c}__kll"), F.lit(float(q))
                        )
                        for q in quantiles
                    ]
                )
                if f"{c}__kll" in field_names
                else F.lit(None).cast("array<float>")
            ).alias("quantiles")
        )
        structs.append(F.struct(*parts))
    return sketches.select(*keys, F.explode(F.array(*structs)).alias("m")).select(
        *keys, "m.*"
    )


def _le_int(col, pos: int, nbytes: int):
    """Little-endian unsigned int from ``nbytes`` bytes of a binary column
    starting at 1-based byte ``pos`` — pure JVM expressions (hex + conv)."""
    parts = [F.hex(F.substring(col, pos + i, 1)) for i in reversed(range(nbytes))]
    return F.conv(F.concat(*parts), 16, 10).cast("long")


def theta_bounds(sketch) -> dict[str, "F.Column"]:
    """Estimate + upper/lower bounds (1 std err) from a theta sketch binary.

    The reference surfaces getUpperBound(1)/getLowerBound(1) from the
    DataSketches theta sketch (ThetaSketch.java:12-21,
    SummaryConverters.java:29-36). Spark only exposes
    ``theta_sketch_estimate``, but the compact-sketch binary is documented,
    so the bounds inputs parse with JVM expressions (no UDF):

    - serVer 3, 8 bytes: empty sketch (0 distinct).
    - serVer 3, preLongs 1 (16 bytes): single-item sketch (1 distinct).
    - serVer 3, preLongs 2: exact mode — curCount (LE int32) at bytes
      8..12; theta = 1, bounds = estimate.
    - serVer 3, preLongs 3: estimation mode — curCount at bytes 8..12,
      thetaLong (LE int64) at bytes 16..24 (the layout reference-written
      profiles carry and ``theta_v4_to_v3`` emits); estimate =
      curCount / (theta / 2^63).
    - serVer 4, preLongs 1: exact mode — numEntries (little-endian,
      byte-width at byte 4) at offset 8; theta = 1, bounds = estimate.
    - serVer 4, preLongs 2: estimation mode — theta (LE int64) at bytes
      8..16, numEntries after it; estimate = entries / (theta / 2^63).

    Documented deviation: bounds use the standard theta RSE approximation
    1/sqrt(retained - 1) (lower = est/(1+rse), upper = est/(1-rse));
    the reference's BinomialBoundsN quantile is within a fraction of a
    std-err of this for retained >= 1024 (lgK=12 sketches retain >= 4096
    in estimation mode).
    """
    byte = lambda pos: F.conv(F.hex(F.substring(sketch, pos, 1)), 16, 10).cast("int")  # noqa: E731
    pre = byte(1) % 64
    ser = byte(2)
    neb = byte(5)
    ln = F.length(sketch)

    def entries_at(off: int):
        e = F.lit(None).cast("long")
        for nb in (1, 2, 3, 4):
            e = F.when(neb == nb, _le_int(sketch, off, nb)).otherwise(e)
        return e

    theta_frac = (_le_int(sketch, 9, 8).cast("double") / F.lit(float(1 << 63)))
    cur3 = _le_int(sketch, 9, 4)
    theta3_frac = (_le_int(sketch, 17, 8).cast("double") / F.lit(float(1 << 63)))
    est3 = (
        F.when(ln <= 8, F.lit(0.0))
        .when(pre == 1, F.lit(1.0))
        .when(pre == 2, cur3.cast("double"))
        .otherwise(cur3.cast("double") / theta3_frac)
    )
    ret3 = (
        F.when(ln <= 8, F.lit(0))
        .when(pre == 1, F.lit(1))
        .otherwise(cur3)
    )
    est = (
        F.when(ser == 3, est3)
        .when(pre == 1, entries_at(9).cast("double"))
        .otherwise(entries_at(17).cast("double") / theta_frac)
    )
    retained = (
        F.when(ser == 3, ret3)
        .when(pre == 1, entries_at(9))
        .otherwise(entries_at(17))
    )
    est_mode = (
        ((ser == 4) & (pre >= 2)) | ((ser == 3) & (pre == 3))
    ) & (retained > 1)
    rse = F.lit(1.0) / F.sqrt((retained - 1).cast("double"))
    lower = F.when(est_mode, est / (F.lit(1.0) + rse)).otherwise(est)
    upper = F.when(est_mode, est / (F.lit(1.0) - rse)).otherwise(est)
    return {"estimate": est, "lower": lower, "upper": upper}


def approx_unique_counts(
    df: DataFrame, columns: Sequence[str], group_by: Sequence[str] = ()
) -> DataFrame:
    """HLL++ distinct estimates (long format) — one pass, no expand, the
    default cardinality path at scale (vs exact count_distinct)."""
    keys = list(group_by)
    grouped = df.groupBy(*keys) if keys else df.groupBy()
    wide = grouped.agg(
        *[F.approx_count_distinct(c, 0.016).alias(f"{c}__u") for c in columns]
    )
    elems = [
        F.struct(
            F.lit(c).alias("column_name"),
            F.col(f"{c}__u").cast("long").alias("unique_count"),
        )
        for c in columns
    ]
    return wide.select(*keys, F.explode(F.array(*elems)).alias("e")).select(*keys, "e.*")
