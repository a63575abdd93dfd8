"""Structured Streaming profiling.

The reference claims batch+stream fit but implements no streaming operators
(SURVEY.md §2.10; README.md:18-20 vs the source). Because every metric here
is a built-in mergeable aggregate, the batch profile's atom SQL
(plans.spark_sql) runs unchanged under Structured Streaming:
tumbling/sliding windows + watermark give the time-bucketed profiles the
reference produces per (tag, timestamp) group — with late-data semantics
the reference never had.

State per (window, tags) group is the same O(columns × constants) atom row
as batch, so streaming state stays bounded.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.metrics import ATOM_METRICS
from ..functions.sqlexpr import qcol
from ..plans.spark_sql import ColumnSql


def profile_stream(
    stream_df: DataFrame,
    time_column: str,
    window_duration: str = "1 hour",
    slide_duration: str | None = None,
    session_gap: str | None = None,
    watermark: str = "10 minutes",
    group_by: Sequence[str] = (),
    columns: Sequence[str] | None = None,
    null_strings: Sequence[str] = (),
) -> DataFrame:
    """Windowed streaming profile atoms.

    Output: (window_start, window_end, group keys..., one wide atom column
    set per profiled column, named ``<column>_<metric>``). Use
    ``outputMode("update")`` with a mergeable sink, or ``append`` after
    watermark expiry. Raises ``ValueError`` when two output names coincide
    (columns ``a`` and ``a_null`` both give ``a_null_count``).
    """
    excluded = set(group_by) | {time_column}
    profiled = [c for c in (columns or stream_df.columns) if c not in excluded]
    schema = {f.name: f.dataType for f in stream_df.schema.fields}
    specs = [
        ColumnSql(i, c, schema[c], null_strings, coerce_strings=False)
        for i, c in enumerate(profiled)
    ]
    names = Counter(
        ["window_start", "window_end", *group_by]
        + [f"{s.name}_{m}" for s in specs for m, _ in ATOM_METRICS]
    )
    dups = sorted(n for n, k in names.items() if k > 1)
    if dups:
        raise ValueError(f"profile_stream output names collide: {dups}")
    # the batch profile's own SQL fragments (plans.spark_sql), in its two
    # projection layers
    passed = [qcol(c) for c in (time_column, *group_by)]
    projected = stream_df.selectExpr(
        *passed, *[e for s in specs for e in s.raw_projection()]
    ).selectExpr(*passed, *[e for s in specs for e in s.piece_projection()])
    agg_exprs = [F.expr(e) for s in specs for e in s.aggs()]

    if session_gap is not None:
        # session windows: activity-gap bucketing (additive over the
        # reference — SURVEY.md §2.10; Spark's session_window handles state
        # merging of overlapping sessions)
        win = F.session_window(F.col(time_column), session_gap)
    elif slide_duration:
        win = F.window(F.col(time_column), window_duration, slide_duration)
    else:
        win = F.window(F.col(time_column), window_duration)
    out = (
        projected.withWatermark(time_column, watermark)
        .groupBy(win.alias("window"), *group_by)
        .agg(*agg_exprs)
    )
    return out.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *group_by,
        *[
            F.col(s.attr(f"_{m}")).alias(f"{s.name}_{m}")
            for s in specs
            for m, _ in ATOM_METRICS
        ],
    )
