"""Streaming sketch profiles — the sketch tier's streaming face.

One watermark-bounded stateful aggregation builds the SAME mergeable
sketch atoms the batch ``approx.sketch_profile`` produces (Spark-native
DataSketches: KLL(256) quantiles + theta distincts per numeric column,
HLL(lgK=12) text cardinality per column), per event-time window. Append
mode emits each window's sketch row once its watermark passes — exactly
the row a profile store persists, so the downstream story composes
unchanged: ``approx.merge_sketch_profiles`` unions windows to coarser
grains, ``approx.sketch_summary`` finalizes estimates,
``drift.sketch_profile_diff`` scores drift between stored windows.

Scale shape: the stream shuffles once on (window, keys); state per
group is O(columns × sketch constants) — the whylogs footprint
invariant (14→15 MB from 2.2M→178M rows) carried to streams. No
Python in the loop; the sketch updates are JVM TypedImperativeAggregate
buffers.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.approx import sketch_aggs


def windowed_sketch_profile(
    stream_df: DataFrame,
    time_column: str,
    columns: Sequence[str] | None = None,
    window_duration: str = "1 hour",
    slide_duration: str | None = None,
    watermark: str = "10 minutes",
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Sketch-profile rows per (event-time window, keys).

    Output: (window_start, window_end, keys…, {col}__kll / __theta /
    __hll binaries) — schema-compatible with ``sketch_profile`` plus
    the window bounds, ready for a profile-store append sink.
    """
    keys = list(group_by)
    aggs = [F.expr(a) for a in sketch_aggs(stream_df, columns, set(keys) | {time_column})]
    win = F.window(
        F.col(time_column), window_duration, slide_duration or window_duration
    )
    out = (
        stream_df.withWatermark(time_column, watermark)
        .groupBy(win.alias("__w"), *keys)
        .agg(*aggs)
    )
    return out.select(
        F.col("__w.start").alias("window_start"),
        F.col("__w.end").alias("window_end"),
        *keys,
        *[c for c in out.columns if c != "__w" and c not in keys],
    )
