"""Tests for operators/joins.py (as-of + range join) and
operators/drift.py (numeric/categorical drift)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from whylogs_java_spark.operators.drift import (
    auto_splits,
    categorical_drift,
    numeric_drift,
)
from whylogs_java_spark.operators.joins import asof_join, range_join_points


# ---------------------------------------------------------------- as-of join


@pytest.fixture(scope="module")
def asof_sides(spark):
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 5, "b"), (2, 7, "c"), (3, 1, "d")],
        "k int, ts int, lab string",
    )
    right = spark.createDataFrame(
        [(1, 10, 1.0), (1, 3, 2.0), (2, 99, 3.0), (1, 10, 9.0)],
        "k int, ts int, p double",
    )
    return left, right


def _asof_map(df):
    return {r["lab"]: (r["ts_r"], r["p_r"]) for r in df.collect()}


def test_asof_backward(spark, asof_sides):
    left, right = asof_sides
    out = _asof_map(
        asof_join(left, right, on="k", left_ts="ts", right_tiebreak="p")
    )
    # equal timestamps match; tiebreak picks the greatest p at (1, 10)
    assert out["a"] == (10, 9.0)
    assert out["b"] == (3, 2.0)
    assert out["c"] == (None, None)  # right row is in the future
    assert out["d"] == (None, None)  # no right rows for key 3


def test_asof_forward(spark, asof_sides):
    left, right = asof_sides
    out = _asof_map(
        asof_join(
            left, right, on="k", left_ts="ts",
            direction="forward", right_tiebreak="p",
        )
    )
    assert out["a"] == (10, 9.0)  # equality matches forward too
    assert out["b"] == (10, 9.0)  # nearest later right row
    assert out["c"] == (99, 3.0)
    assert out["d"] == (None, None)


def test_asof_tolerance(spark, asof_sides):
    left, right = asof_sides
    out = _asof_map(
        asof_join(
            left, right, on="k", left_ts="ts",
            tolerance=2, right_tiebreak="p",
        )
    )
    assert out["a"] == (10, 9.0)  # gap 0
    assert out["b"] == (3, 2.0)  # gap 2 == tolerance: kept
    out1 = _asof_map(
        asof_join(
            left, right, on="k", left_ts="ts",
            tolerance=1, right_tiebreak="p",
        )
    )
    assert out1["b"] == (None, None)  # gap 2 > 1: dropped, not replaced


def test_asof_left_rows_preserved(spark, asof_sides):
    left, right = asof_sides
    out = asof_join(left, right, on="k", left_ts="ts")
    assert out.count() == left.count()
    assert set(out.columns) == {"k", "ts", "lab", "ts_r", "p_r"}


def test_asof_plan_single_shuffle_no_nested_loop(spark, asof_sides):
    left, right = asof_sides
    plan = (
        asof_join(left, right, on="k", left_ts="ts")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    # one Exchange for the window; local relations add no shuffles
    assert plan.count("Exchange hashpartitioning") == 1


def test_asof_vs_pandas_merge_asof(spark):
    """Randomized check against pandas' reference implementation."""
    import pandas as pd

    rng = __import__("numpy").random.default_rng(7)
    lpd = pd.DataFrame(
        {
            "k": rng.integers(0, 5, 200),
            "ts": rng.integers(0, 1000, 200),
            "lid": range(200),
        }
    )
    rpd = pd.DataFrame(
        {
            "k": rng.integers(0, 5, 150),
            "ts": rng.integers(0, 1000, 150),
            "val": rng.normal(size=150).round(3),
        }
    )
    # unique (k, ts) on the right so the match is deterministic
    rpd = rpd.drop_duplicates(["k", "ts"])
    expected = pd.merge_asof(
        lpd.sort_values("ts"),
        rpd.sort_values("ts"),
        on="ts", by="k", direction="backward",
        suffixes=("", "_r"),
    ).set_index("lid")["val"].to_dict()

    out = asof_join(
        spark.createDataFrame(lpd),
        spark.createDataFrame(rpd),
        on="k", left_ts="ts",
    ).collect()
    for row in out:
        exp = expected[row["lid"]]
        got = row["val_r"]
        if got is None:
            assert pd.isna(exp)
        else:
            assert got == pytest.approx(exp)


# ---------------------------------------------------------------- range join


def test_range_join_basic(spark):
    pts = spark.createDataFrame(
        [(1, 5.0), (2, 20.0), (3, 0.5), (4, 6.0)], "pid int, x double"
    )
    iv = spark.createDataFrame(
        [(10, 0.0, 6.0), (11, 4.0, 30.0)], "iid int, lo double, hi double"
    )
    got = {
        (r["pid"], r["iid"])
        for r in range_join_points(pts, iv, "x", "lo", "hi", bucket_width=5.0).collect()
    }
    # [lo, hi): x=6.0 is excluded from [0, 6) but inside [4, 30)
    assert got == {(1, 10), (1, 11), (2, 11), (3, 10), (4, 11)}


def test_range_join_closed_modes(spark):
    pts = spark.createDataFrame([(1, 6.0), (2, 0.0)], "pid int, x double")
    iv = spark.createDataFrame([(9, 0.0, 6.0)], "iid int, lo double, hi double")

    def pairs(closed):
        return {
            (r["pid"], r["iid"])
            for r in range_join_points(
                pts, iv, "x", "lo", "hi", bucket_width=2.0, closed=closed
            ).collect()
        }

    assert pairs("left") == {(2, 9)}
    assert pairs("both") == {(1, 9), (2, 9)}
    assert pairs("right") == {(1, 9)}
    assert pairs("neither") == set()


def test_range_join_keys_and_multi_bucket_span(spark):
    # interval spans many buckets; key column separates groups
    pts = spark.createDataFrame(
        [("g1", 1, 50.0), ("g2", 2, 50.0)], "g string, pid int, x double"
    )
    iv = spark.createDataFrame(
        [("g1", 7, 0.0, 100.0)], "g string, iid int, lo double, hi double"
    )
    out = range_join_points(
        pts, iv, "x", "lo", "hi", on=["g"], bucket_width=1.0
    ).collect()
    assert [(r["pid"], r["iid"]) for r in out] == [(1, 7)]


def test_range_join_no_duplicate_matches(spark):
    # a point matches an interval exactly once even when the interval
    # explodes to many buckets
    pts = spark.createDataFrame([(1, 5.0)], "pid int, x double")
    iv = spark.createDataFrame([(2, 0.0, 1000.0)], "iid int, lo double, hi double")
    out = range_join_points(pts, iv, "x", "lo", "hi", bucket_width=0.5)
    assert out.count() == 1


def test_range_join_plan_equi_join(spark):
    pts = spark.createDataFrame([(1, 5.0)], "pid int, x double")
    iv = spark.createDataFrame([(2, 0.0, 10.0)], "iid int, lo double, hi double")
    plan = (
        range_join_points(pts, iv, "x", "lo", "hi", bucket_width=5.0)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


# -------------------------------------------------------------------- drift


def test_numeric_drift_identical_slices(spark):
    a = spark.createDataFrame([(float(i % 7),) for i in range(70)], "v double")
    d = numeric_drift(a, a, "v", splits=[2.0, 4.0]).first()
    assert d["psi"] == pytest.approx(0.0)
    assert d["cdf_linf"] == pytest.approx(0.0)
    assert d["mean_delta"] == pytest.approx(0.0)
    assert d["count_a"] == d["count_b"] == 70


def test_numeric_drift_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    av = rng.normal(0, 1, 500)
    bv = rng.normal(0.5, 1.2, 400)
    splits = [-1.0, 0.0, 1.0]
    d = numeric_drift(
        spark.createDataFrame([(float(x),) for x in av], "v double"),
        spark.createDataFrame([(float(x),) for x in bv], "v double"),
        "v",
        splits=splits,
    ).first()

    def binc(vals):
        bins = np.zeros(len(splits) + 1)
        for x in vals:
            bins[sum(x >= s for s in splits)] += 1
        return bins

    na, nb = binc(av), binc(bv)
    pa = np.maximum(na / na.sum(), 1e-6)
    pb = np.maximum(nb / nb.sum(), 1e-6)
    psi = float(((pa - pb) * (np.log(pa) - np.log(pb))).sum())
    linf = float(np.abs(np.cumsum(na) / na.sum() - np.cumsum(nb) / nb.sum()).max())

    assert d["psi"] == pytest.approx(psi)
    assert d["cdf_linf"] == pytest.approx(linf)
    assert d["mean_a"] == pytest.approx(av.mean())
    assert d["stddev_b"] == pytest.approx(bv.std())


def test_numeric_drift_nulls_and_nan(spark):
    a = spark.createDataFrame(
        [(1.0,), (None,), (float("nan"),), (3.0,)], "v double"
    )
    b = spark.createDataFrame([(1.0,), (3.0,)], "v double")
    d = numeric_drift(a, b, "v", splits=[2.0]).first()
    assert d["null_rate_a"] == pytest.approx(0.5)  # NULL and NaN both count
    assert d["null_rate_b"] == pytest.approx(0.0)
    assert d["mean_a"] == pytest.approx(2.0)
    assert d["psi"] == pytest.approx(0.0)


def test_numeric_drift_grouped_one_sided_group(spark):
    # a group present only in slice B must not error and must carry
    # count_a = 0
    a = spark.createDataFrame([("g1", 1.0)], "g string, v double")
    b = spark.createDataFrame([("g1", 1.0), ("g2", 5.0)], "g string, v double")
    rows = {
        r["g"]: r
        for r in numeric_drift(a, b, "v", splits=[2.0], group_by=["g"]).collect()
    }
    assert rows["g2"]["count_a"] == 0
    assert rows["g2"]["count_b"] == 1
    assert rows["g1"]["psi"] == pytest.approx(0.0)


def test_categorical_drift_distances(spark):
    a = spark.createDataFrame([("x",), ("x",), ("y",), (None,)], "c string")
    b = spark.createDataFrame([("x",), ("z",), (None,), (None,)], "c string")
    d = categorical_drift(a, b, "c").first()
    # pa = {x:.5, y:.25, null:.25}; pb = {x:.25, z:.25, null:.5}
    assert d["n_categories"] == 4
    assert d["l1"] == pytest.approx(1.0)
    assert d["linf"] == pytest.approx(0.25)
    assert d["psi"] > 0


def test_categorical_drift_identical(spark):
    a = spark.createDataFrame([("x",), ("y",), (None,)], "c string")
    d = categorical_drift(a, a, "c").first()
    assert d["psi"] == pytest.approx(0.0)
    assert d["l1"] == pytest.approx(0.0)


def test_auto_splits(spark):
    a = spark.createDataFrame([(0.0,), (10.0,)], "v double")
    b = spark.createDataFrame([(5.0,), (None,)], "v double")
    edges = auto_splits(a, b, "v", bins=5)
    assert edges == pytest.approx([2.0, 4.0, 6.0, 8.0])
    # degenerate range -> no interior edges
    c = spark.createDataFrame([(3.0,), (3.0,)], "v double")
    assert auto_splits(c, c, "v") == []


def test_drift_aggregate_sized_shuffles(spark):
    """The binned-counts join must join aggregate outputs, not data rows:
    no bin/category table in the plan carries the raw row count."""
    a = spark.createDataFrame([(float(i % 5), "g") for i in range(1000)], "v double, g string")
    d = numeric_drift(a, a, "v", splits=[1.0, 3.0], group_by=["g"])
    plan = d._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert d.count() == 1


# ---------------------------------------------------------- streaming drift


def test_drift_scores_matches_categorical_drift_math(spark):
    from whylogs_java_spark.streaming.drift_stream import (
        drift_scores,
        reference_fractions,
    )

    ref_df = spark.createDataFrame(
        [("x",), ("x",), ("y",), (None,)], "c string"
    )
    live = spark.createDataFrame(
        [("x",), ("z",), (None,), (None,)], "c string"
    )
    reference = reference_fractions(ref_df, "c")
    # one synthetic closed window over the live slice
    counts = (
        live.select(
            F.lit("2024-01-01 00:00:00").cast("timestamp").alias("window_start"),
            F.lit("2024-01-01 01:00:00").cast("timestamp").alias("window_end"),
            F.coalesce(F.col("c"), F.lit("\x00null")).alias("cat"),
        )
        .groupBy("window_start", "window_end", "cat")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    got = drift_scores(counts, reference).first()
    # same distributions as test_categorical_drift_distances
    assert got["l1"] == pytest.approx(1.0)
    assert got["linf"] == pytest.approx(0.25)
    expected_psi = categorical_drift(ref_df, live, "c").first()["psi"]
    assert got["psi"] == pytest.approx(expected_psi)


def test_drift_scores_counts_vanished_categories(spark):
    """A category present only in the reference still contributes."""
    from whylogs_java_spark.streaming.drift_stream import (
        drift_scores,
        reference_fractions,
    )

    ref_df = spark.createDataFrame([("x",), ("gone",)], "c string")
    counts = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-01-01 01:00:00", "x", 2)],
        "window_start string, window_end string, cat string, n long",
    ).select(
        F.col("window_start").cast("timestamp").alias("window_start"),
        F.col("window_end").cast("timestamp").alias("window_end"),
        "cat",
        "n",
    )
    got = drift_scores(counts, reference_fractions(ref_df, "c")).first()
    # live = {x: 1.0}; ref = {x: .5, gone: .5} -> l1 = 0.5 + 0.5
    assert got["l1"] == pytest.approx(1.0)
    assert got["linf"] == pytest.approx(0.5)


def test_windowed_category_counts_stream_matches_batch(spark, tmp_path):
    from whylogs_java_spark.streaming.drift_stream import (
        windowed_category_counts,
    )

    rows = [
        (f"2024-01-01 {h:02d}:{m:02d}:00", cat)
        for h in range(3)
        for m, cat in [(5, "a"), (20, "b"), (40, "a")]
    ]
    # sentinel far in the future flushes every real window past the
    # watermark so append mode emits them
    rows.append(("2024-01-02 12:00:00", "flush"))
    df = spark.createDataFrame(rows, "ts string, cat string").select(
        F.col("ts").cast("timestamp").alias("ts"), "cat"
    )
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    counts = windowed_category_counts(
        stream, "cat", "ts", window_duration="1 hour", watermark="0 seconds"
    )
    q = (
        counts.writeStream.outputMode("append")
        .format("memory")
        .queryName("drift_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (str(r["window_start"]), r["cat"]): r["n"]
            for r in spark.sql("SELECT * FROM drift_counts").collect()
        }
    finally:
        q.stop()

    batch = {
        (str(r["window_start"]), r["cat"]): r["n"]
        for r in df.groupBy(
            F.window("ts", "1 hour").alias("w"), "cat"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "cat", "n")
        .collect()
        if r["cat"] != "flush"
    }
    assert got == batch


# ------------------------------------------------------ interval overlap join


def test_interval_overlap_vs_brute_force(spark):
    from whylogs_java_spark.operators.joins import range_join_intervals
    import numpy as np

    rng = np.random.default_rng(3)
    n = 120
    lo = rng.integers(0, 300, n)
    length = rng.integers(0, 60, n)
    rows = [(int(i), float(lo[i]), float(lo[i] + length[i])) for i in range(n)]
    a = spark.createDataFrame(rows, "a_id int, a_lo double, a_hi double")
    b = spark.createDataFrame(
        [(i, l, h) for i, l, h in rows], "b_id int, b_lo double, b_hi double"
    )
    got = {
        (r["a_id"], r["b_id"])
        for r in range_join_intervals(
            a, b, "a_lo", "a_hi", "b_lo", "b_hi", bucket_width=25.0
        ).collect()
    }
    expected = {
        (i, j)
        for i, (_, li_, hi_) in enumerate(rows)
        for j, (_, lj, hj) in enumerate(rows)
        if li_ <= hj and lj <= hi_
    }
    assert got == expected


def test_interval_overlap_no_duplicate_pairs(spark):
    from whylogs_java_spark.operators.joins import range_join_intervals

    # long overlapping intervals share MANY buckets; the first-shared-
    # bucket rule must emit each pair exactly once
    a = spark.createDataFrame([(1, 0.0, 1000.0)], "a_id int, a_lo double, a_hi double")
    b = spark.createDataFrame([(2, 500.0, 900.0)], "b_id int, b_lo double, b_hi double")
    out = range_join_intervals(a, b, "a_lo", "a_hi", "b_lo", "b_hi", bucket_width=10.0)
    assert out.count() == 1


def test_interval_overlap_keys_and_disjoint(spark):
    from whylogs_java_spark.operators.joins import range_join_intervals

    a = spark.createDataFrame(
        [("g1", 1, 0.0, 5.0), ("g2", 2, 0.0, 5.0)],
        "g string, a_id int, a_lo double, a_hi double",
    )
    b = spark.createDataFrame(
        [("g1", 7, 5.0, 9.0), ("g1", 8, 6.0, 9.0)],
        "g string, b_id int, b_lo double, b_hi double",
    )
    got = {
        (r["a_id"], r["b_id"])
        for r in range_join_intervals(
            a, b, "a_lo", "a_hi", "b_lo", "b_hi", on=["g"], bucket_width=3.0
        ).collect()
    }
    # closed intervals: touching at 5.0 overlaps; g2 never joins g1 rows
    assert got == {(1, 7)}


# ------------------------------------------------------------- rolling drift


def test_rolling_drift_day_pairs_and_gap_reset(spark):
    from whylogs_java_spark.operators.drift import rolling_drift

    rows = []
    # day 1 and day 2: identical distributions; day 3 missing; day 4
    # present (must be dropped: previous calendar day is empty)
    for d in ("2024-01-01", "2024-01-02", "2024-01-04"):
        rows += [(f"{d} 10:00:00", float(v)) for v in (1, 1, 5, 9)]
    df = spark.createDataFrame(rows, "ts string, v double").select(
        F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    out = {str(r["day"]): r for r in rolling_drift(df, "v", "ts", splits=[4.0, 8.0]).collect()}
    assert set(out) == {"2024-01-02"}  # first day and post-gap day dropped
    assert out["2024-01-02"]["psi"] == pytest.approx(0.0)
    assert out["2024-01-02"]["count_cur"] == 4
    assert out["2024-01-02"]["count_prev"] == 4


def test_rolling_drift_detects_shift(spark):
    from whylogs_java_spark.operators.drift import rolling_drift

    rows = [("2024-01-01 00:00:00", float(v % 10)) for v in range(100)]
    rows += [("2024-01-02 00:00:00", float(v % 10) + 5) for v in range(100)]
    df = spark.createDataFrame(rows, "ts string, v double").select(
        F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    out = rolling_drift(df, "v", "ts", splits=[5.0, 10.0]).collect()
    assert len(out) == 1
    assert out[0]["psi"] > 0.5
    assert out[0]["cdf_linf"] > 0.4


def test_rolling_drift_grouped(spark):
    from whylogs_java_spark.operators.drift import rolling_drift

    rows = [("2024-01-01 00:00:00", "g1", 1.0), ("2024-01-02 00:00:00", "g1", 1.0),
            ("2024-01-02 00:00:00", "g2", 1.0)]
    df = spark.createDataFrame(rows, "ts string, g string, v double").select(
        F.col("ts").cast("timestamp").alias("ts"), "g", "v"
    )
    out = rolling_drift(df, "v", "ts", splits=[2.0], group_by=["g"]).collect()
    # only (g1, Jan 2) has a previous day within its group
    assert [(str(r["day"]), r["g"]) for r in out] == [("2024-01-02", "g1")]


def test_asof_null_ts_and_keys(spark):
    """SQL/merge_asof NULL semantics: NULL right ts never matches; NULL
    left ts or NULL keys on either side yield NULL match columns."""
    left = spark.createDataFrame(
        [(1, 5, "a"), (1, None, "b"), (None, 5, "c")],
        "k int, ts int, lab string",
    )
    right = spark.createDataFrame(
        [(1, None, 7.0), (1, 3, 2.0), (None, 1, 9.0)],
        "k int, ts int, p double",
    )
    out = _asof_map(asof_join(left, right, on="k", left_ts="ts"))
    assert out["a"] == (3, 2.0)  # NULL-ts right row (p=7.0) ignored
    assert out["b"] == (None, None)  # NULL left ts matches nothing
    assert out["c"] == (None, None)  # NULL key matches nothing (not even NULL key)

    fwd = _asof_map(
        asof_join(left, right, on="k", left_ts="ts", direction="forward")
    )
    assert fwd["b"] == (None, None)  # NULL ts sorts last under desc: still no match
    assert fwd["c"] == (None, None)


def test_numeric_drift_infinity_is_invalid(spark):
    """±Inf follows the package null convention (spark_sql.masked_sql)."""
    a = spark.createDataFrame(
        [(1.0,), (float("inf",),), (float("-inf"),), (3.0,)], "v double"
    )
    b = spark.createDataFrame([(1.0,), (3.0,)], "v double")
    d = numeric_drift(a, b, "v", splits=[2.0]).first()
    assert d["null_rate_a"] == pytest.approx(0.5)
    assert d["mean_a"] == pytest.approx(2.0)  # Inf excluded from moments
    assert d["psi"] == pytest.approx(0.0)  # Inf rows never reach a bin
    assert math.isfinite(d["stddev_a"])


# ------------------------------------------------------ streaming as-of


def test_asof_enrich_stream_matches_batch(spark, tmp_path):
    """Streaming enrichment (broadcast dim + mapInPandas merge_asof)
    must agree row-for-row with the batch asof_join on the same data."""
    from whylogs_java_spark.streaming.asof_stream import asof_enrich_stream

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    if "ts" in [f.name for f in ev.schema.fields if str(f.dataType) != "TimestampType()"]:
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
    left = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    dim = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )

    src = str(tmp_path / "src")
    left.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(left.schema).parquet(src)
    enriched = asof_enrich_stream(
        stream, dim, on="user_id", left_ts="ts", right_cols=["view_value"]
    )
    q = (
        enriched.writeStream.outputMode("append")
        .format("memory")
        .queryName("asof_enriched")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["event_id"]: (r["ts_r"], r["view_value_r"])
            for r in spark.sql("SELECT * FROM asof_enriched").collect()
        }
    finally:
        q.stop()

    batch = {
        r["event_id"]: (r["ts_r"], r["view_value_r"])
        for r in asof_join(
            left, dim, on="user_id", left_ts="ts", right_cols=["view_value"]
        ).collect()
    }
    assert got == batch
    assert len(got) == left.count()


def test_asof_enrich_stream_null_rows(spark, tmp_path):
    from whylogs_java_spark.streaming.asof_stream import asof_enrich_stream

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, None, "b"), (None, 10, "c")],
        "k int, ts int, lab string",
    )
    dim = spark.createDataFrame(
        [(1, 5, 2.0), (1, None, 9.0)], "k int, ts int, p double"
    )
    src = str(tmp_path / "src")
    left.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(left.schema).parquet(src)
    out = asof_enrich_stream(stream, dim, on="k", left_ts="ts")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("asof_nulls")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            r["lab"]: (r["ts_r"], r["p_r"])
            for r in spark.sql("SELECT * FROM asof_nulls").collect()
        }
    finally:
        q.stop()
    assert got["a"] == (5, 2.0)  # NULL-ts dim row ignored
    assert got["b"] == (None, None)
    assert got["c"] == (None, None)


# -------------------------------------------------------------- profile diff


def test_profile_diff_schema_drift_and_types(spark):
    from whylogs_java_spark import profile
    from whylogs_java_spark.operators.drift import profile_diff

    a = spark.createDataFrame(
        [(1, 7, 10.0), (2, 9, None)], "id long, s long, v double"
    )
    b = spark.createDataFrame(
        [(3, "abc", 20.0), (4, "def", 30.0)], "id long, s string, v double"
    ).withColumnRenamed("v", "w")
    d = {
        r["column_name"]: r
        for r in profile_diff(profile(a), profile(b)).collect()
    }
    # dropped column v: only side a; new column w: only side b
    assert d["v"]["count_b"] is None and d["v"]["count_a"] == 2
    assert d["w"]["count_a"] is None and d["w"]["count_b"] == 2
    # s is a long column in profile a, a string column in profile b
    assert d["s"]["type_changed"] is True
    assert d["s"]["inferred_type_a"] == "INTEGRAL"
    assert d["s"]["inferred_type_b"] == "STRING"
    # shared numeric column id: exact deltas from the profile atoms
    assert d["id"]["mean_delta"] == pytest.approx(2.0)
    assert d["id"]["count_ratio"] == pytest.approx(1.0)
    # null-rate delta for v is NULL on the b side (column absent)
    assert d["v"]["null_rate_b"] is None


def test_profile_diff_identical_profiles(spark):
    from whylogs_java_spark import profile
    from whylogs_java_spark.operators.drift import profile_diff

    a = spark.createDataFrame([(i, float(i)) for i in range(50)], "id long, v double")
    p = profile(a)
    d = profile_diff(p, p).collect()
    for r in d:
        assert r["count_ratio"] == pytest.approx(1.0)
        assert r["type_changed"] is False
        if r["mean_delta"] is not None:
            assert r["mean_delta"] == pytest.approx(0.0)


def test_windowed_bin_counts_and_numeric_reference(spark, tmp_path):
    """Numeric streaming drift: windowed bin counts + bin-fraction
    reference score shifted data above the identical-data baseline."""
    from whylogs_java_spark.streaming.drift_stream import (
        drift_scores,
        reference_bin_fractions,
        windowed_bin_counts,
    )

    ref = spark.createDataFrame(
        [(float(i % 10),) for i in range(100)], "v double"
    )
    rows = [("2024-01-01 00:10:00", float(i % 10) + 4) for i in range(100)]
    rows.append(("2024-01-02 00:00:00", 0.0))  # watermark flush
    df = spark.createDataFrame(rows, "ts string, v double").select(
        F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    splits = [3.0, 6.0, 9.0]
    counts = windowed_bin_counts(
        stream, "v", splits, "ts", window_duration="1 hour", watermark="0 seconds"
    )
    q = (
        counts.writeStream.outputMode("append")
        .format("memory")
        .queryName("bin_counts")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM bin_counts")
        scored = drift_scores(got, reference_bin_fractions(ref, "v", splits)).collect()
    finally:
        q.stop()
    shifted = [r for r in scored if str(r["window_start"]).startswith("2024-01-01 00")]
    assert len(shifted) == 1
    assert shifted[0]["psi"] > 0.3  # +4 shift across 3 splits is loud
    # identical distribution scores ~0
    base = drift_scores(
        spark.createDataFrame(
            [("2024-01-01 00:00:00", "2024-01-01 01:00:00", str(b), n)
             for b, n in [(0, 30), (1, 30), (2, 30), (3, 10)]],
            "window_start string, window_end string, cat string, n long",
        ).select(
            F.col("window_start").cast("timestamp").alias("window_start"),
            F.col("window_end").cast("timestamp").alias("window_end"),
            "cat", "n",
        ),
        reference_bin_fractions(ref, "v", splits),
    ).first()
    assert base["psi"] == pytest.approx(0.0, abs=1e-9)


def test_drift_scores_grouped_reference(spark):
    from whylogs_java_spark.streaming.drift_stream import (
        drift_scores,
        reference_fractions,
    )

    ref_df = spark.createDataFrame(
        [("g1", "x"), ("g1", "y"), ("g2", "x")], "g string, c string"
    )
    counts = spark.createDataFrame(
        [("2024-01-01 00:00:00", "2024-01-01 01:00:00", "g1", "x", 4)],
        "window_start string, window_end string, g string, cat string, n long",
    ).select(
        F.col("window_start").cast("timestamp").alias("window_start"),
        F.col("window_end").cast("timestamp").alias("window_end"),
        "g", "cat", "n",
    )
    got = {
        r["g"]: r
        for r in drift_scores(
            counts, reference_fractions(ref_df, "c", group_by=["g"]),
            group_by=["g"],
        ).collect()
    }
    # only g1 has a window; live {x:1.0} vs ref {x:.5, y:.5}: l1 = 1.0
    assert set(got) == {"g1"}
    assert got["g1"]["l1"] == pytest.approx(1.0)


def test_asof_tolerance_timestamp_seconds(spark):
    """Timestamp ts columns take tolerance in SECONDS (the streaming
    twin's convention) instead of erroring on interval-vs-int."""
    left = spark.createDataFrame(
        [(1, "2024-01-01 00:01:00", "a")], "k int, ts string, lab string"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "lab")
    right = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 5.0)], "k int, ts string, p double"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "p")
    hit = _asof_map(asof_join(left, right, on="k", left_ts="ts", tolerance=60))
    miss = _asof_map(asof_join(left, right, on="k", left_ts="ts", tolerance=59))
    assert hit["a"][1] == 5.0
    assert miss["a"] == (None, None)


def test_banded_buckets_keeps_null_vectors(spark):
    from whylogs_java_spark.operators.similarity import banded_buckets

    emb = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None)], "vec_id long, embedding array<double>"
    )
    out = {r["vec_id"]: r["bucket"] for r in banded_buckets(
        emb, "vec_id", "embedding", planes=4, bands=1
    ).collect()}
    assert set(out) == {1, 2}
    assert out[2] == "0000"  # NULL projections -> all-zero bucket


def test_windowed_bin_counts_invalid_values_advance_watermark(spark, tmp_path):
    """A stream gone all-NaN must still flush completed windows: the
    invalid rows advance event time even though they count in no bin."""
    from whylogs_java_spark.streaming.drift_stream import windowed_bin_counts

    rows = [("2024-01-01 00:30:00", 5.0)]
    rows += [("2024-01-01 %02d:00:00" % h, float("nan")) for h in range(2, 8)]
    df = spark.createDataFrame(rows, "ts string, v double").select(
        F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    src = str(tmp_path / "src")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    counts = windowed_bin_counts(
        stream, "v", [3.0], "ts", window_duration="1 hour", watermark="0 seconds"
    )
    q = (
        counts.writeStream.outputMode("append")
        .format("memory")
        .queryName("nan_flush")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM nan_flush").collect()
    finally:
        q.stop()
    # the 00:00 window (one valid value, bin '1') emitted because the
    # NaN tail advanced the watermark past its end; the NaN windows
    # themselves emit under the invalid sentinel (drift signal)
    from whylogs_java_spark.streaming.drift_stream import INVALID_CAT

    out = {(str(r["window_start"]), r["cat"]): r["n"] for r in got}
    assert out[("2024-01-01 00:00:00", "1")] == 1
    nan_windows = {k for k in out if k[1] == INVALID_CAT}
    # hours 02..06 closed (the 07:00 row is the watermark frontier)
    assert nan_windows == {
        ("2024-01-01 %02d:00:00" % h, INVALID_CAT) for h in range(2, 7)
    }


def test_rolling_window_scores(spark):
    from whylogs_java_spark.streaming.drift_stream import rolling_window_scores

    def w(h):
        return (f"2024-01-01 {h:02d}:00:00", f"2024-01-01 {h+1:02d}:00:00")

    rows = []
    # window 0 and 1 identical; window 3 present after a gap (2 missing);
    # window 4 shifted hard
    for h, dist in [(0, {"a": 8, "b": 2}), (1, {"a": 8, "b": 2}),
                    (3, {"a": 5, "b": 5}), (4, {"z": 10})]:
        for cat, n in dist.items():
            rows.append((*w(h), cat, n))
    counts = spark.createDataFrame(
        rows, "window_start string, window_end string, cat string, n long"
    ).select(
        F.col("window_start").cast("timestamp").alias("window_start"),
        F.col("window_end").cast("timestamp").alias("window_end"),
        "cat", "n",
    )
    out = {str(r["window_start"]): r for r in rolling_window_scores(counts).collect()}
    # window 1 vs 0: identical -> 0; window 3 has no predecessor (gap);
    # window 4 vs 3: disjoint categories -> l1 = 2
    assert set(out) == {"2024-01-01 01:00:00", "2024-01-01 04:00:00"}
    assert out["2024-01-01 01:00:00"]["psi"] == pytest.approx(0.0)
    assert out["2024-01-01 04:00:00"]["l1"] == pytest.approx(2.0)
    assert out["2024-01-01 04:00:00"]["psi"] > 1


# ---------------------------------------------------------- weighted sample


def test_weighted_sample_k_proportional_and_deterministic(spark):
    import numpy as np
    from whylogs_java_spark.operators.sampling import weighted_sample_k

    # two weight classes: weight 9 vs 1 -> heavy rows should dominate
    rows = [(i, 9.0 if i % 2 == 0 else 1.0) for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, w double")
    picked = weighted_sample_k(df, "id", "w", k=200).collect()
    heavy = sum(1 for r in picked if r["id"] % 2 == 0)
    # E[heavy] ~ 180 of 200; loose bound well away from uniform (100)
    assert heavy > 140
    # deterministic: same ids on re-run and under different partitioning
    again = {r["id"] for r in weighted_sample_k(
        df.repartition(7), "id", "w", k=200).collect()}
    assert {r["id"] for r in picked} == again


def test_weighted_sample_k_excludes_bad_weights_and_groups(spark):
    from whylogs_java_spark.operators.sampling import weighted_sample_k

    df = spark.createDataFrame(
        [("g1", 1, 5.0), ("g1", 2, 0.0), ("g1", 3, None),
         ("g1", 4, float("nan")), ("g2", 5, 1.0)],
        "g string, id long, w double",
    )
    out = weighted_sample_k(df, "id", "w", k=10, group_by=["g"]).collect()
    ids = {r["id"] for r in out}
    assert ids == {1, 5}  # zero/NULL/NaN weights never selected


def test_numeric_drift_ungrouped_all_invalid_keeps_row(spark):
    # ADVICE r6: with group_by=() and NO valid value on either side the
    # binned table is empty; the output row must survive (counts + null
    # rates populated, psi/cdf_linf NULL) — matching grouped semantics.
    a = spark.createDataFrame([(None,), (float("nan"),)], "v double")
    b = spark.createDataFrame([(None,)], "v double")
    rows = numeric_drift(a, b, "v", splits=[1.0, 2.0]).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["count_a"] == 2 and r["count_b"] == 1
    assert r["null_rate_a"] == 1.0 and r["null_rate_b"] == 1.0
    assert r["psi"] is None and r["cdf_linf"] is None


def test_asof_time_buckets_equivalent(spark):
    """time_buckets=n must be row-for-row identical to the unbucketed
    plan — randomized corpus with duplicate (k, ts) right rows, both
    directions, with and without tolerance."""
    import numpy as np

    rng = np.random.default_rng(11)
    import pandas as pd

    lpd = pd.DataFrame(
        {
            "k": rng.integers(0, 4, 300),
            "ts": rng.integers(0, 500, 300),
            "lid": range(300),
        }
    )
    rpd = pd.DataFrame(
        {
            "k": rng.integers(0, 4, 250),
            "ts": rng.integers(0, 500, 250),
            "val": rng.normal(size=250).round(3),
            "tb": rng.integers(0, 1000, 250),
        }
    )
    left, right = spark.createDataFrame(lpd), spark.createDataFrame(rpd)
    for direction in ("backward", "forward"):
        for tol in (None, 50):
            base = asof_join(
                left, right, on="k", left_ts="ts",
                direction=direction, tolerance=tol, right_tiebreak="tb",
            )
            buck = asof_join(
                left, right, on="k", left_ts="ts",
                direction=direction, tolerance=tol, right_tiebreak="tb",
                time_buckets=5,
            )
            b = {r["lid"]: (r["ts_r"], r["val_r"], r["tb_r"]) for r in base.collect()}
            q = {r["lid"]: (r["ts_r"], r["val_r"], r["tb_r"]) for r in buck.collect()}
            assert b == q, (direction, tol)


def test_asof_time_buckets_plan_partitions_on_range(spark, asof_sides):
    left, right = asof_sides
    out = asof_join(left, right, on="k", left_ts="ts", time_buckets=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the window's exchange must carry the range bucket alongside the key
    assert "__rng" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    rows = {r["lab"]: r["p_r"] for r in out.collect()}
    base = {
        r["lab"]: r["p_r"]
        for r in asof_join(left, right, on="k", left_ts="ts").collect()
    }
    assert rows == base


def test_asof_string_tiebreak_orders_lexicographically(spark):
    # ADVICE r6: a non-numeric tiebreak must order in its own type, not
    # silently become all-NULL via a double cast
    left = spark.createDataFrame([(1, 10)], "k int, ts int")
    right = spark.createDataFrame(
        [(1, 10, "alpha", 1.0), (1, 10, "zeta", 2.0), (1, 10, "beta", 3.0)],
        "k int, ts int, name string, p double",
    )
    r = asof_join(
        left, right, on="k", left_ts="ts", right_tiebreak="name"
    ).first()
    assert r["name_r"] == "zeta" and r["p_r"] == 2.0


def test_rolling_window_scores_sliding_slide_seconds(spark):
    # ADVICE r6: sliding-window counts must be scored against the window
    # ONE SLIDE back, not one full window length back.
    from whylogs_java_spark.streaming.drift_stream import rolling_window_scores

    rows = []  # 1h windows sliding every 30 min
    starts = ["00:00", "00:30", "01:00"]
    dists = [{"a": 8, "b": 2}, {"a": 8, "b": 2}, {"z": 10}]
    for s, dist in zip(starts, dists):
        h, m = s.split(":")
        ws = f"2024-01-01 {h}:{m}:00"
        we_h = int(h) + 1
        we = f"2024-01-01 {we_h:02d}:{m}:00"
        for cat, n in dist.items():
            rows.append((ws, we, cat, n))
    counts = spark.createDataFrame(
        rows, "window_start string, window_end string, cat string, n long"
    ).select(
        F.col("window_start").cast("timestamp").alias("window_start"),
        F.col("window_end").cast("timestamp").alias("window_end"),
        "cat", "n",
    )
    out = {
        str(r["window_start"]): r
        for r in rolling_window_scores(counts, slide_seconds=1800).collect()
    }
    # 00:30 vs 00:00 identical -> psi 0; 01:00 vs 00:30 disjoint -> l1 2
    assert set(out) == {"2024-01-01 00:30:00", "2024-01-01 01:00:00"}
    assert out["2024-01-01 00:30:00"]["psi"] == pytest.approx(0.0)
    assert out["2024-01-01 01:00:00"]["l1"] == pytest.approx(2.0)
    # default (tumbling assumption) mis-aligns: only 01:00 finds a
    # "predecessor" (00:00, a full hour back)
    wrong = {
        str(r["window_start"])
        for r in rolling_window_scores(counts).collect()
    }
    assert wrong == {"2024-01-01 01:00:00"}

    with pytest.raises(ValueError, match="slide_seconds"):
        rolling_window_scores(counts, slide_seconds=0)


def test_asof_enrich_stream_dim_size_guard(spark):
    from whylogs_java_spark.streaming.asof_stream import asof_enrich_stream

    stream = spark.createDataFrame([(1, 5)], "k int, ts int")
    dim = spark.createDataFrame(
        [(1, i, float(i)) for i in range(10)], "k int, ts int, v double"
    )
    with pytest.raises(ValueError, match="max_dim_rows"):
        asof_enrich_stream(stream, dim, on="k", left_ts="ts", max_dim_rows=5)


def test_asof_enrich_stream_timestamp_columns(spark):
    # datetime64 unit/tz alignment: timestamp ts columns on both sides
    # must enrich correctly (and not crash on a unit mismatch between
    # Arrow batches and driver toPandas)
    from whylogs_java_spark.streaming.asof_stream import asof_enrich_stream

    stream = spark.createDataFrame(
        [(1, "2024-01-01 10:00:00"), (1, "2024-01-01 08:00:00")],
        "k int, ts string",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    dim = spark.createDataFrame(
        [(1, "2024-01-01 09:00:00", 7.0), (1, "2024-01-01 11:00:00", 9.0)],
        "k int, ts string, v double",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "v")
    out = {
        str(r["ts"]): r["v_r"]
        for r in asof_enrich_stream(stream, dim, on="k", left_ts="ts").collect()
    }
    assert out["2024-01-01 10:00:00"] == 7.0
    assert out["2024-01-01 08:00:00"] is None


def test_interval_enrich_stream_matches_batch(spark, tmp_path):
    """Streaming point-in-interval enrichment (stateless stream-static
    bucketed equi-join) must agree row-for-row with the batch
    range_join_points on the same data, inner and left."""
    from whylogs_java_spark.streaming.interval_stream import (
        interval_enrich_stream,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet").select(
        "event_id", F.col("value").cast("double").alias("pos")
    )
    bands = spark.createDataFrame(
        [(i, i * 10.0, i * 10.0 + 15.0, f"band{i}") for i in range(12)],
        "band_id int, lo double, hi double, band string",
    )
    src = str(tmp_path / "ipts")
    ev.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)

    for how in ("inner", "left"):
        out = interval_enrich_stream(
            stream, bands, "pos", "lo", "hi", bucket_width=10.0, how=how
        )
        name = f"interval_enriched_{how}"
        q = (
            out.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{how}"))
            .start()
        )
        try:
            q.processAllAvailable()
            got = sorted(
                (r["event_id"], r["band_id"])
                for r in spark.sql(f"SELECT * FROM {name}").collect()
            )
        finally:
            q.stop()

        batch_inner = sorted(
            (r["event_id"], r["band_id"])
            for r in range_join_points(
                ev, bands, "pos", "lo", "hi", bucket_width=10.0
            ).collect()
        )
        if how == "inner":
            assert got == batch_inner
        else:
            matched_ids = {e for e, _ in batch_inner}
            expected = batch_inner + sorted(
                (r["event_id"], None)
                for r in ev.collect()
                if r["event_id"] not in matched_ids
            )
            assert got == sorted(expected)
    # overlapping bands really exercised (k-row fan-out)
    fan = [e for e, _ in batch_inner]
    assert len(fan) > len(set(fan))


def test_interval_enrich_stream_stateless_plan(spark, tmp_path):
    from whylogs_java_spark.streaming.interval_stream import (
        interval_enrich_stream,
    )

    ev = spark.createDataFrame([(1, 5.0)], "event_id int, pos double")
    src = str(tmp_path / "ipts2")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    bands = spark.createDataFrame(
        [(1, 0.0, 10.0)], "band_id int, lo double, hi double"
    )
    out = interval_enrich_stream(stream, bands, "pos", "lo", "hi", how="left")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("interval_plan_probe")
        .option("checkpointLocation", str(tmp_path / "ckpt3"))
        .start()
    )
    try:
        q.processAllAvailable()
        # no state store: stateless stream-static broadcast join
        assert q.lastProgress["stateOperators"] in ([], None)
        assert spark.sql("SELECT * FROM interval_plan_probe").count() == 1
    finally:
        q.stop()


def test_asof_nearest_vs_pandas(spark):
    """direction='nearest' (incl. tolerance) against pandas merge_asof."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(23)
    lpd = pd.DataFrame(
        {
            "k": rng.integers(0, 4, 250),
            "ts": rng.integers(0, 600, 250),
            "lid": range(250),
        }
    )
    rpd = pd.DataFrame(
        {
            "k": rng.integers(0, 4, 200),
            "ts": rng.integers(0, 600, 200),
            "val": rng.normal(size=200).round(3),
        }
    ).drop_duplicates(["k", "ts"])
    for tol in (None, 25):
        expected = pd.merge_asof(
            lpd.sort_values("ts"),
            rpd.sort_values("ts"),
            on="ts", by="k", direction="nearest", tolerance=tol,
            suffixes=("", "_r"),
        ).set_index("lid")["val"].to_dict()
        out = asof_join(
            spark.createDataFrame(lpd),
            spark.createDataFrame(rpd),
            on="k", left_ts="ts", direction="nearest", tolerance=tol,
        ).collect()
        for row in out:
            exp, got = expected[row["lid"]], row["val_r"]
            if got is None:
                assert pd.isna(exp), (tol, dict(row))
            else:
                assert got == pytest.approx(exp), (tol, dict(row))


def test_asof_nearest_single_exchange(spark, asof_sides):
    left, right = asof_sides
    out = asof_join(left, right, on="k", left_ts="ts", direction="nearest")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    got = {r["lab"]: (r["ts_r"], r["p_r"]) for r in out.collect()}
    # a: equal ts both sides -> backward tie -> greatest arbitrary-order
    # right at (1,10); b(ts=5): backward (3) gap 2 beats forward (10) gap 5
    assert got["b"][0] == 3
    assert got["c"] == (99, 3.0)  # only a forward match exists
    assert got["d"] == (None, None)

    with pytest.raises(ValueError, match="time_buckets"):
        asof_join(
            left, right, on="k", left_ts="ts",
            direction="nearest", time_buckets=4,
        )


def test_quantile_splits_equal_mass(spark):
    import numpy as np

    from whylogs_java_spark.operators.drift import quantile_splits

    rng = np.random.default_rng(5)
    vals = np.exp(rng.normal(0, 1, 4000))  # heavily skewed
    a = spark.createDataFrame([(float(x),) for x in vals[:2000]], "v double")
    b = spark.createDataFrame([(float(x),) for x in vals[2000:]], "v double")
    edges = quantile_splits(a, b, "v", bins=10)
    assert len(edges) == 9 and edges == sorted(edges)
    # exact percentiles of the combined data (numpy 'linear' matches
    # Spark percentile())
    want = np.percentile(vals, [10 * i for i in range(1, 10)])
    assert np.allclose(edges, want)
    # equal-mass property: each bin holds ~10% of the combined rows
    d = numeric_drift(a, b, "v", splits=edges).first()
    assert d["psi"] is not None and d["count_a"] == 2000

    # degenerate inputs
    empty = spark.createDataFrame([], "v double")
    assert quantile_splits(empty, empty, "v") == []
    const = spark.createDataFrame([(1.0,), (1.0,)], "v double")
    assert quantile_splits(const, const, "v") == [1.0]


def test_metric_anomalies_flags_planted_spike(spark):
    from whylogs_java_spark.operators.monitor import metric_anomalies

    rows = [(f"2024-01-{d:02d}", "m", 10.0 + (d % 3) * 0.1) for d in range(1, 15)]
    rows.append(("2024-01-15", "m", 50.0))      # spike
    rows.append(("2024-01-16", "m", 10.1))      # back to normal
    store = spark.createDataFrame(
        rows, "day string, column_name string, mean double"
    ).select(F.col("day").cast("date").alias("day"), "column_name", "mean")
    out = {
        str(r["day"]): r
        for r in metric_anomalies(
            store, "mean", "day", keys=["column_name"], window=7, z=3.0
        ).collect()
    }
    assert len(out) == 16
    # first two days: not enough history -> NULL zscore, never anomalous
    assert out["2024-01-02"]["zscore"] is None
    assert out["2024-01-02"]["is_anomaly"] is False
    # the spike flags; its neighbors don't
    assert out["2024-01-15"]["is_anomaly"] is True
    assert out["2024-01-15"]["zscore"] > 3
    assert out["2024-01-14"]["is_anomaly"] is False
    # the day AFTER the spike is judged against a window containing the
    # spike (inflated std) - still not anomalous
    assert out["2024-01-16"]["is_anomaly"] is False


def test_metric_anomalies_constant_history(spark):
    from whylogs_java_spark.operators.monitor import metric_anomalies

    rows = [(f"2024-01-{d:02d}", "m", 5.0) for d in range(1, 8)]
    rows.append(("2024-01-08", "m", 5.1))  # any deviation from constant flags
    rows.append(("2024-01-09", "m", 5.0))  # wait: window now has the 5.1
    store = spark.createDataFrame(
        rows, "day string, column_name string, mean double"
    ).select(F.col("day").cast("date").alias("day"), "column_name", "mean")
    out = {
        str(r["day"]): r
        for r in metric_anomalies(
            store, "mean", "day", keys=["column_name"], window=7, z=3.0
        ).collect()
    }
    r8 = out["2024-01-08"]
    assert r8["trailing_std"] == 0.0 and r8["zscore"] is None
    assert r8["is_anomaly"] is True  # |5.1-5.0| > 3*0


def test_metric_anomalies_large_magnitude(spark):
    """count/sum-scale metrics: xi*xi as long overflows past |metric|~3037
    under ANSI mode — the decimal(38,0) square must survive and stay exact."""
    import math

    from whylogs_java_spark.operators.monitor import metric_anomalies

    vals = [5000.0, 5010.0, 4990.0, 5005.0, 4995.0, 5002.0, 4998.0, 5100.0,
            2.5e9, 2.6e9]  # daily-count scale too
    rows = [(f"2024-01-{d:02d}", "m", v) for d, v in enumerate(vals, start=1)]
    store = spark.createDataFrame(
        rows, "day string, column_name string, mean double"
    ).select(F.col("day").cast("date").alias("day"), "column_name", "mean")
    out = {
        str(r["day"]): r
        for r in metric_anomalies(
            store, "mean", "day", keys=["column_name"], window=7, z=3.0
        ).collect()
    }
    assert len(out) == len(vals)
    r8 = out["2024-01-08"]
    trail = vals[:7]
    m = sum(trail) / len(trail)
    sd = math.sqrt(sum((x - m) ** 2 for x in trail) / len(trail))
    assert r8["trailing_mean"] == pytest.approx(m, abs=1e-5)
    assert r8["trailing_std"] == pytest.approx(sd, abs=1e-4)
    assert r8["is_anomaly"] == (abs(5100.0 - m) > 3.0 * sd)


def test_metric_anomalies_epoch_magnitude(spark):
    """r12 magnitude audit: an epoch-millis-scale metric (~1.7e12, small
    daily deviations) — the former E[x²]−E[x]² recombination drowned any
    deviation under ~350 in double noise at this magnitude; the shifted
    frame moments must match numpy and still flag a planted 8-sigma
    spike."""
    import math

    from whylogs_java_spark.operators.monitor import metric_anomalies

    base = 1.7e12
    devs = [0.0, 12.0, -9.0, 4.0, -6.0, 10.0, -11.0]
    vals = [base + d for d in devs] + [base + 80.0, base + 1.0]
    rows = [(f"2024-01-{d:02d}", "m", v) for d, v in enumerate(vals, start=1)]
    store = spark.createDataFrame(
        rows, "day string, column_name string, mean double"
    ).select(F.col("day").cast("date").alias("day"), "column_name", "mean")
    out = {
        str(r["day"]): r
        for r in metric_anomalies(
            store, "mean", "day", keys=["column_name"], window=7, z=3.0
        ).collect()
    }
    r8 = out["2024-01-08"]
    trail = vals[:7]
    m = sum(d for d in devs) / len(devs) + base
    sd = math.sqrt(
        sum((x - sum(trail) / len(trail)) ** 2 for x in trail) / len(trail)
    )
    assert r8["trailing_mean"] == pytest.approx(m, abs=1e-4)
    # pre-r12 this read ~0 or noise; deviation-scale accuracy now
    assert r8["trailing_std"] == pytest.approx(sd, rel=1e-6, abs=1e-4)
    assert r8["is_anomaly"] is True  # 80 >> 3 sigma (~27)
    assert out["2024-01-09"]["is_anomaly"] is False


def test_numeric_drift_epoch_magnitude_stats(spark):
    """r12 magnitude audit twin for numeric_drift: its mean/stddev use
    Spark-native avg/stddev_pop (Welford/Chan), so epoch-magnitude
    columns must already match numpy — pinned so a refactor to raw
    moments can't regress silently."""
    import numpy as np

    from whylogs_java_spark.operators.drift import numeric_drift

    base = 1.7e18
    a = [base + d * 1.1e9 for d in range(20)]
    b = [base + 5e9 + d * 0.9e9 for d in range(25)]
    dfa = spark.createDataFrame([(float(x),) for x in a], "value double")
    dfb = spark.createDataFrame([(float(x),) for x in b], "value double")
    row = numeric_drift(dfa, dfb, "value", [base + 1e10]).collect()[0]
    assert row["mean_a"] == pytest.approx(float(np.mean(a)), rel=1e-12)
    assert row["mean_b"] == pytest.approx(float(np.mean(b)), rel=1e-12)
    # Welford's single-pass update carries ~1e-8 relative noise at this
    # magnitude (delta = x − running_mean rounds at ulp(x) per update);
    # 1e-6 is the bracket tolerance the profile gates use
    assert row["stddev_a"] == pytest.approx(float(np.std(a)), rel=1e-6)
    assert row["stddev_b"] == pytest.approx(float(np.std(b)), rel=1e-6)


def test_topk_drift_statuses(spark):
    from whylogs_java_spark.operators.drift import topk_drift

    a = spark.createDataFrame(
        [("x",)] * 5 + [("y",)] * 3 + [("z",)] * 2 + [(None,)], "v string"
    )
    b = spark.createDataFrame(
        [("x",)] * 2 + [("y",)] * 6 + [("w",)] * 4, "v string"
    )
    out = {r["value"]: r for r in topk_drift(a, b, "v", k=2).collect()}
    # A top-2: x(5), y(3); B top-2: y(6), w(4)
    assert set(out) == {"x", "y", "w"}
    assert out["w"]["status"] == "new" and out["w"]["rank_a"] is None
    assert out["x"]["status"] == "vanished" and out["x"]["rank_b"] is None
    assert out["y"]["status"] == "moved"
    assert out["y"]["rank_a"] == 2 and out["y"]["rank_b"] == 1
    # frequencies over TRACKED rows: A has 10 non-null of 11 rows
    assert out["x"]["freq_a"] == 0.5
    assert out["y"]["freq_delta"] == round(6 / 12 - 3 / 10, 6)


def test_topk_drift_grouped(spark):
    from whylogs_java_spark.operators.drift import topk_drift

    a = spark.createDataFrame(
        [("g1", "x"), ("g1", "x"), ("g1", "y"), ("g2", "p")], "g string, v string"
    )
    b = spark.createDataFrame(
        [("g1", "y"), ("g1", "y"), ("g2", "p"), ("g2", "q")], "g string, v string"
    )
    rows = topk_drift(a, b, "v", k=2, group_by=["g"]).collect()
    got = {(r["g"], r["value"]): r["status"] for r in rows}
    assert got[("g1", "x")] == "vanished"
    assert got[("g1", "y")] == "moved"
    assert got[("g2", "p")] == "stable"
    assert got[("g2", "q")] == "new"


def test_rolling_topk_drift_semantics(spark):
    from whylogs_java_spark.operators.drift import rolling_topk_drift

    rows = []
    # day 1: a,a,b ; day 2: b,b,a ; day 4: c (gap at day 3)
    for v in ["a", "a", "b"]:
        rows.append(("2024-01-01 10:00:00", v))
    for v in ["b", "b", "a"]:
        rows.append(("2024-01-02 10:00:00", v))
    rows.append(("2024-01-04 10:00:00", "c"))
    df = spark.createDataFrame(rows, "ts string, v string").select(
        F.col("ts").cast("timestamp").alias("ts"), "v"
    )
    out = rolling_topk_drift(df, "v", "ts", k=2).collect()
    days = {str(r["day"]) for r in out}
    # only day 2 has a previous day; day 4's predecessor (day 3) is a gap
    assert days == {"2024-01-02"}
    got = {r["value"]: r["status"] for r in out}
    assert got == {"a": "moved", "b": "moved"}
    ranks = {r["value"]: (r["rank_cur"], r["rank_prev"]) for r in out}
    assert ranks["b"] == (1, 2) and ranks["a"] == (2, 1)


def test_rolling_window_topk_churn(spark):
    from whylogs_java_spark.streaming.drift_stream import rolling_window_topk

    def w(h):
        return (f"2024-01-01 {h:02d}:00:00", f"2024-01-01 {h+1:02d}:00:00")

    rows = []
    for h, dist in [
        (0, {"a": 5, "b": 3, "c": 1}),
        (1, {"b": 6, "a": 2, "d": 4}),
        (3, {"z": 2}),  # gap at hour 2 -> hour 3 drops
    ]:
        for cat, n in dist.items():
            rows.append((*w(h), cat, n))
    counts = spark.createDataFrame(
        rows, "window_start string, window_end string, cat string, n long"
    ).select(
        F.col("window_start").cast("timestamp").alias("window_start"),
        F.col("window_end").cast("timestamp").alias("window_end"),
        "cat", "n",
    )
    out = rolling_window_topk(counts, k=2).collect()
    assert {str(r["window_start"]) for r in out} == {"2024-01-01 01:00:00"}
    got = {r["cat"]: r["status"] for r in out}
    # hour0 top2: a(5), b(3); hour1 top2: b(6), d(4)
    assert got == {"a": "vanished", "b": "moved", "d": "new"}
    ranks = {r["cat"]: (r["rank_cur"], r["rank_prev"]) for r in out}
    assert ranks["b"] == (1, 2) and ranks["d"] == (2, None)


def test_metric_anomalies_min_obs_zero_null_stats(spark):
    """r12 review find: min_obs=0 evaluates empty trailing frames — the
    shifted-moments fold must yield NULL stats there (the pre-r12
    windowed-sum semantics), not an ANSI DIVIDE_BY_ZERO."""
    from pyspark.sql import functions as F

    from whylogs_java_spark.operators.monitor import metric_anomalies

    df = spark.createDataFrame(
        [("2024-01-01", "a", 1.0), ("2024-01-02", "a", 2.0)],
        "ts string, col string, mean double",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "col", "mean")
    rows = sorted(
        metric_anomalies(
            df, metric="mean", time_col="ts", keys=("col",),
            window=3, min_obs=0,
        ).collect(),
        key=lambda r: str(r["ts"]),
    )
    assert rows[0]["trailing_mean"] is None and rows[0]["zscore"] is None
    assert rows[1]["trailing_mean"] == 1.0
