"""Model performance metrics: confusion matrix + regression.

Reference:
- ClassificationMetrics (core/.../metrics/ClassificationMetrics.java:81-127):
  dynamic sorted label list, per-cell counts + NumberTracker over scores,
  booleans rendered "1"/"0" (:118-127). Labels are data here — the long
  format needs no matrix reallocation; merge is plain count/sum addition.
- RegressionMetrics (core/.../metrics/RegressionMetrics.java:24-33): running
  sumAbsDiff / sumDiff / sum2Diff / count over (prediction - target).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.metrics import numeric_final_sql
from ..plans.spark_sql import _num_aggs_sql, _num_projection_sql


def _label(col: Column, dt: T.DataType) -> Column:
    # boolean labels -> "1"/"0" (ClassificationMetrics.java:118-127);
    # everything else -> string form
    if isinstance(dt, T.BooleanType):
        return F.when(col, "1").otherwise("0")
    return col.cast("string")


def confusion_matrix(
    df: DataFrame,
    prediction: str,
    target: str,
    score: str | None = None,
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Long-format confusion matrix with per-cell score stats.

    Output: (keys..., prediction, target, count[, score suite...]).
    One hash aggregation; labels are group keys so new labels never
    reallocate anything (contrast ClassificationMetrics.java:91-115).
    """
    schema = {f.name: f.dataType for f in df.schema.fields}
    keys = list(group_by)
    out = df.select(
        *keys,
        _label(F.col(prediction), schema[prediction]).alias("prediction"),
        _label(F.col(target), schema[target]).alias("target"),
        *([F.col(score).cast("double").alias("__score")] if score else []),
    )
    aggs = [F.count(F.lit(1)).alias("count")]
    if score:
        out = out.selectExpr("*", *_num_projection_sql("__score", "__s"))
        aggs += [F.expr(e) for e in _num_aggs_sql("__s", "score")]
    res = out.groupBy(*keys, "prediction", "target").agg(*aggs)
    if score:
        ks = "".join(f"`{k}`, " for k in keys)
        res = res.sparkSession.sql(
            f"SELECT {ks}prediction, target, `count`, "
            f"{numeric_final_sql('score', 'score_')} FROM {{res}}",
            res=res,
        )
    return res


def regression_metrics(
    df: DataFrame,
    prediction: str,
    target: str,
    group_by: Sequence[str] = (),
) -> DataFrame:
    """Regression error sums + derived mae/mse/rmse.

    Atoms are the reference's four running sums (RegressionMetrics.java:24-33)
    computed as exact decimal hi/lo sums, so profiles merge by addition.
    Output: (keys..., count, sum_abs_diff, sum_diff, sum2_diff, mae, mse, rmse).
    """
    keys = list(group_by)
    diff = (F.col(prediction) - F.col(target)).cast("double")

    def split_sum(d: Column, name: str) -> list[Column]:
        hi = F.sum(F.floor(d)).alias(f"{name}_hi")
        lo = F.sum(F.floor((d - F.floor(d)) * 1000000.0 + 0.5)).alias(f"{name}_lo")
        return [hi, lo]

    grouped = df.groupBy(*keys) if keys else df.groupBy()
    wide = grouped.agg(
        F.count(diff).alias("count"),
        *split_sum(F.abs(diff), "sad"),
        *split_sum(diff, "sd"),
        *split_sum(diff * diff, "s2d"),
    )

    def tot(name: str) -> Column:
        return (
            F.col(f"{name}_hi").cast("double")
            + F.col(f"{name}_lo").cast("double") / 1000000.0
        )

    n = F.col("count")
    return wide.select(
        *keys,
        n,
        (F.round(tot("sad"), 6) + 0.0).alias("sum_abs_diff"),
        (F.round(tot("sd"), 6) + 0.0).alias("sum_diff"),
        (F.round(tot("s2d"), 6) + 0.0).alias("sum2_diff"),
        F.when(n > 0, F.round(tot("sad") / n, 6) + 0.0).alias("mae"),
        F.when(n > 0, F.round(tot("s2d") / n, 6) + 0.0).alias("mse"),
        F.when(n > 0, F.round(F.sqrt(tot("s2d") / n), 6) + 0.0).alias("rmse"),
    )
