"""CSV datetime parsing, profile sinks round-trip, session API, charpos,
approx tier, streaming, multimodal plumbing."""

from __future__ import annotations

import datetime as dt
import os
import tempfile

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from whylogs_java_spark.sources.parquet import load_table
from whylogs_java_spark import profile, profile_atoms
from whylogs_java_spark.operators.approx import (
    approx_unique_counts,
    merge_sketch_profiles,
    sketch_profile,
    sketch_summary,
)
from whylogs_java_spark.operators.charpos import char_pos_stats
from whylogs_java_spark.operators.multimodal import (
    attach_media_metadata,
    extract_features,
    frame_sample_plan,
)
from whylogs_java_spark.plans.session_api import new_profiling_session
from whylogs_java_spark.sources.csv import parse_datetime, read_csv
from whylogs_java_spark.sources.sinks import (
    merge_stored_profiles,
    write_profile_atoms,
    write_profile_summary_json,
)
from whylogs_java_spark.streaming.profile_stream import profile_stream


# ---------------------------------------------------------------------------
# CSV / datetime (EasyDateTimeParserTest.java:22-165 shapes)
# ---------------------------------------------------------------------------

@pytest.mark.parametrize(
    "value,fmt,expected",
    [
        ("2021-03-04 10:20:30", "yyyy-MM-dd HH:mm:ss", dt.datetime(2021, 3, 4, 10, 20, 30)),
        ("2021-03-04", "yyyy-MM-dd", dt.datetime(2021, 3, 4)),
        ("2021-03", "yyyy-MM", dt.datetime(2021, 3, 1)),
        ("2021", "yyyy", dt.datetime(2021, 1, 1)),
        ("1614852030", "epoch", dt.datetime(2021, 3, 4, 10, 0, 30)),
        ("1614852030000", "epochMillis", dt.datetime(2021, 3, 4, 10, 0, 30)),
        # null-ish -> epoch 0 (EasyDateTimeParser.java:30-37)
        ("nan", "yyyy-MM-dd", dt.datetime(1970, 1, 1)),
        ("null", "epoch", dt.datetime(1970, 1, 1)),
        (None, "yyyy-MM-dd", dt.datetime(1970, 1, 1)),
    ],
)
def test_parse_datetime_formats(spark, value, fmt, expected):
    df = spark.createDataFrame([(value,)], "v string")
    got = df.select(parse_datetime(F.col("v"), fmt).alias("t")).collect()[0]["t"]
    assert got == expected, (value, fmt)


def test_read_csv_roundtrip(spark, tmp_path):
    path = os.path.join(str(tmp_path), "data.csv")
    with open(path, "w") as f:
        f.write("id,when,val\n1,2021-03-04,10.5\n2,,3.25\n3,2021-03-05,\n")
    df = read_csv(spark, path, datetime_column="when", datetime_format="yyyy-MM-dd")
    rows = {r["id"]: r for r in df.collect()}
    assert rows["1"]["when"] == dt.datetime(2021, 3, 4)
    assert rows["2"]["when"] == dt.datetime(1970, 1, 1)  # "" -> null -> epoch 0
    assert rows["3"]["val"] is None  # "" -> null
    p = profile(df.select("val"), coerce_strings=True).collect()
    assert p[0]["fractional_count"] == 2


# ---------------------------------------------------------------------------
# sinks: parquet atom round-trip merge (DatasetProfileTest.java:160-258 analog)
# ---------------------------------------------------------------------------

def test_stored_profile_merge_roundtrip(spark, tmp_path):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    keys = ["l_returnflag"]
    a = profile_atoms(li.filter("l_orderkey % 2 = 0"), group_by=keys)
    b = profile_atoms(li.filter("l_orderkey % 2 = 1"), group_by=keys)
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    write_profile_atoms(a, pa)
    write_profile_atoms(b, pb)
    merged = merge_stored_profiles(spark, [pa, pb], keys)
    whole = profile_atoms(li, group_by=keys)
    key = lambda r: (r["l_returnflag"], r["column_name"])
    m = {key(r): r["count"] for r in merged.collect()}
    w = {key(r): r["count"] for r in whole.collect()}
    assert m == w


def test_stored_profile_legacy_schema_backfill(spark, tmp_path):
    """Stores written before the r12 _m2 atoms must read back, merge
    with FRESH atoms, and finalize to the identical small-tier summary
    (the backfill reconstructs m2 from the row's raw moments)."""
    from whylogs_java_spark import finalize_profile, merge_profile_atoms
    from whylogs_java_spark.sources.sinks import read_profile_atoms

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    keys = ["l_returnflag"]
    a = profile_atoms(li.filter("l_orderkey % 2 = 0"), group_by=keys)
    b = profile_atoms(li.filter("l_orderkey % 2 = 1"), group_by=keys)
    # write half `a` in the LEGACY (pre-m2) schema
    pa = str(tmp_path / "legacy")
    a.drop("num_m2", "len_m2", "tok_m2").write.parquet(pa)
    legacy = read_profile_atoms(spark, pa)
    assert {"num_m2", "len_m2", "tok_m2"} <= set(legacy.columns)
    merged = finalize_profile(
        merge_profile_atoms(legacy.unionByName(b), keys), keys
    )
    whole = finalize_profile(profile_atoms(li, group_by=keys), keys)
    key = lambda r: (r["l_returnflag"], r["column_name"])
    m = {key(r): (r["count"], r["sum"], r["variance"]) for r in merged.collect()}
    w = {key(r): (r["count"], r["sum"], r["variance"]) for r in whole.collect()}
    assert m == w  # small tier: bit-identical through the legacy path


def test_json_summary_sink(spark, tmp_path):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    atoms = profile_atoms(li, group_by=["l_returnflag"])
    out = str(tmp_path / "sum")
    write_profile_summary_json(atoms, ["l_returnflag"], out)
    back = spark.read.json(out)
    assert back.count() == 30 and "inferred_type" in back.columns


# ---------------------------------------------------------------------------
# session API (WhyLogs.scala behaviors)
# ---------------------------------------------------------------------------

def test_session_api_flow(spark):
    ev = load_table(spark, SF_DIR, "events").withColumn("ts2", F.col("ts"))
    out = (
        new_profiling_session(ev, "s1")
        .with_time_column("ts2")
        .group_by_columns("event_type")
        .agg_profiles()
    )
    assert "dataset_timestamp" in out.columns
    cols = {r["column_name"] for r in out.select("column_name").distinct().collect()}
    assert "event_type" not in cols and "ts2" not in cols


def test_session_api_validation(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    s = new_profiling_session(ev)
    with pytest.raises(ValueError):
        s.group_by_columns("nope")
    with pytest.raises(TypeError):
        s.with_time_column("event_type")  # not a timestamp (WhyLogs.scala:57-66)
    with pytest.raises(TypeError):
        s.with_regression_model("event_type", "value")  # non-numeric pred


def test_session_model_metrics(spark):
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    cm = (
        new_profiling_session(ev)
        .with_classification_model("event_type", "event_type")
        .agg_model_metrics()
    )
    rows = cm.collect()
    assert all(r["prediction"] == r["target"] for r in rows)


# ---------------------------------------------------------------------------
# charpos (CharPosTracker.java:48-126)
# ---------------------------------------------------------------------------

def test_char_pos_stats(spark):
    df = spark.createDataFrame([("aba",), ("xq",)], "t string")
    rows = {r["character"]: r for r in char_pos_stats(df, "t").collect()}
    assert rows["a"]["n"] == 2 and rows["a"]["min"] == 0.0 and rows["a"]["max"] == 2.0
    assert rows["b"]["n"] == 1 and rows["b"]["mean"] == 1.0
    # 'x' is (sic) not in the reference charset -> NITL; 'q' is in set
    assert rows["NITL"]["n"] == 1 and rows["NITL"]["min"] == 0.0
    assert rows["q"]["n"] == 1


# ---------------------------------------------------------------------------
# approx tier (DataSketches-native)
# ---------------------------------------------------------------------------

def test_sketch_profile_estimates_close_to_exact(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    sk = sketch_profile(li, columns=["l_orderkey", "l_returnflag", "l_quantity"])
    summ = {r["column_name"]: r for r in sketch_summary(sk).collect()}
    exact = li.agg(
        F.count_distinct("l_orderkey").alias("ok"),
        F.count_distinct("l_returnflag").alias("rf"),
    ).collect()[0]
    assert summ["l_orderkey"]["unique_theta"] == pytest.approx(exact["ok"], rel=0.05)
    assert summ["l_returnflag"]["unique_hll"] == pytest.approx(exact["rf"], rel=0.05)
    med = summ["l_quantity"]["quantiles"][4]  # 0.5
    assert 20 <= med <= 30  # true median ~25


def test_sketch_merge_equals_whole(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    a = sketch_profile(li.filter("l_orderkey % 2 = 0"), columns=["l_orderkey"])
    b = sketch_profile(li.filter("l_orderkey % 2 = 1"), columns=["l_orderkey"])
    merged = merge_sketch_profiles(a.unionByName(b))
    est = sketch_summary(merged).collect()[0]["unique_theta"]
    whole = sketch_summary(sketch_profile(li, columns=["l_orderkey"])).collect()[0][
        "unique_theta"
    ]
    assert est == pytest.approx(whole, rel=0.01)


def test_theta_bounds_bracket_exact(spark):
    # exact count must lie within [lower, upper] (1 std err) across sketch
    # regimes: empty, single-item, exact-mode, estimation-mode
    # (SummaryConverters.java:29-36 parity; deterministic data -> stable)
    from whylogs_java_spark.operators.approx import theta_bounds

    cases = [0, 1, 100, 3000, 15000, 200000]
    dfs = []
    for n in cases:
        if n == 0:
            d = spark.range(1).selectExpr("CAST(NULL AS DOUBLE) AS v", "0 AS n")
        else:
            d = spark.range(n * 3).selectExpr(f"CAST(id % {n} AS DOUBLE) AS v", f"{n} AS n")
        dfs.append(d)
    df = dfs[0]
    for d in dfs[1:]:
        df = df.unionByName(d)
    sk = df.groupBy("n").agg(F.theta_sketch_agg("v").alias("s"))
    tb = theta_bounds(F.col("s"))
    rows = {
        r["n"]: r
        for r in sk.select(
            "n",
            tb["estimate"].alias("est"),
            tb["lower"].alias("lo"),
            tb["upper"].alias("hi"),
            F.theta_sketch_estimate("s").alias("native_est"),
        ).collect()
    }
    for n in cases:
        r = rows[n]
        # native theta_sketch_estimate rounds to a long
        assert r["est"] == pytest.approx(r["native_est"], abs=1.0), n
        assert r["lo"] <= n <= r["hi"], (n, r["lo"], r["hi"])
        if n <= 4096 :
            # exact mode: bounds collapse onto the estimate
            assert r["lo"] == r["hi"] == r["est"] == float(n)


def test_sketch_summary_exposes_theta_bounds(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    sk = sketch_profile(li, columns=["l_orderkey"])
    r = sketch_summary(sk).collect()[0]
    exact = li.select("l_orderkey").distinct().count()
    assert r["unique_theta_lower"] <= exact <= r["unique_theta_upper"]
    assert r["unique_theta_lower"] <= r["unique_theta"] <= r["unique_theta_upper"]


def test_approx_unique_counts(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    u = {
        r["column_name"]: r["unique_count"]
        for r in approx_unique_counts(li, ["l_returnflag"]).collect()
    }
    assert u["l_returnflag"] == 3


# ---------------------------------------------------------------------------
# streaming (SURVEY.md §2.10 — additive)
# ---------------------------------------------------------------------------

def test_streaming_profile_matches_batch(spark, tmp_path):
    ev = load_table(spark, SF_DIR, "events")
    src = str(tmp_path / "stream_src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    atoms = profile_stream(
        stream,
        time_column="ts",
        window_duration="1 day",
        watermark="0 seconds",
        group_by=["event_type"],
        columns=["value"],
    )
    q = (
        atoms.writeStream.outputMode("complete")
        .format("memory")
        .queryName("stream_prof")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(
            "SELECT window_start, event_type, value_count, value_num_sum_hi FROM stream_prof"
        ).collect()
    finally:
        q.stop()
    batch = profile_atoms(
        ev, group_by=["event_type"], time_column="ts", time_granularity="day",
        columns=["value"],
    ).collect()
    bk = {
        (str(r["dataset_timestamp"]), r["event_type"]): (r["count"], r["num_sum_hi"])
        for r in batch
    }
    sk = {
        (str(r["window_start"].date()), r["event_type"]): (
            r["value_count"],
            r["value_num_sum_hi"],
        )
        for r in got
    }
    assert sk == bk


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_multimodal_feature_plumbing(spark):
    df = spark.createDataFrame(
        [(1, bytearray(b"\x89PNGfake")), (2, bytearray(b"RIFFfake"))],
        "media_id long, data binary",
    )
    media = attach_media_metadata(df, "data", "media_id", kind="image", mime="image/png")
    feats = extract_features(media, feat_dim=4).collect()
    assert len(feats) == 2
    by_id = {r["media_id"]: r for r in feats}
    assert len(by_id[1]["feat"]) == 4 and by_id[1]["n_bytes"] == 8
    # deterministic: same content -> same features
    again = {r["media_id"]: r for r in extract_features(media, feat_dim=4).collect()}
    assert again[1]["feat"] == by_id[1]["feat"]


def test_multimodal_decode_stub_raises(spark):
    df = spark.createDataFrame([(1, bytearray(b"x"))], "media_id long, data binary")
    media = attach_media_metadata(df, "data", "media_id", kind="image", mime="image/png")
    with pytest.raises(NotImplementedError):
        extract_features(media, decode_stub=False)


def test_frame_sample_plan(spark):
    df = spark.createDataFrame([(1, bytearray(b"v"))], "media_id long, data binary")
    media = attach_media_metadata(df, "data", "media_id", kind="video", mime="video/mp4")
    plan = frame_sample_plan(media, every_ms=500, max_frames=4).collect()
    assert [r["ts_ms"] for r in plan] == [0, 500, 1000, 1500]


def test_cli_profile_csv(spark, tmp_path, monkeypatch):
    # Profiler.java-equivalent command: CSV -> grouped wire profiles
    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    csv = tmp_path / "in.csv"
    csv.write_text("id,val,label\n1,10.5,a\n2,3.25,b\n3,NA,a\n")
    out = str(tmp_path / "out.bin")
    # reuse the test session instead of building (and stopping) a fresh one
    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main([str(csv), "-o", out, "--format", "bin",
                   "--group-by", "label", "--null-strings", "NA"])
    assert rc == 0

    from whylogs_java_spark.sources.protobuf import (
        decode_dataset_profile,
        iter_delimited,
    )

    msgs = [decode_dataset_profile(m) for m in iter_delimited(open(out, "rb").read())]
    tags = {m["properties"]["tags"]["whylogs.tag.label"] for m in msgs}
    assert tags == {"a", "b"}
    a = next(m for m in msgs if m["properties"]["tags"]["whylogs.tag.label"] == "a")
    assert a["columns"]["val"]["type_counts"].get(1) == 1  # 'NA' -> NULL


def test_cli_chunked_bin(spark, tmp_path, monkeypatch):
    # --chunk-bytes: the <=1MB segment-stream CLI path; tiny cap -> several
    # messages per group sharing a chunk marker
    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    csv = tmp_path / "in2.csv"
    csv.write_text("id,val,label\n1,10.5,a\n2,3.25,b\n3,7.5,a\n")
    out = str(tmp_path / "chunks.bin")
    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)
    rc = cli.main([str(csv), "-o", out, "--format", "bin",
                   "--group-by", "label", "--chunk-bytes", "400"])
    assert rc == 0

    from whylogs_java_spark.sources.protobuf import (
        decode_dataset_profile,
        iter_delimited,
    )

    msgs = [decode_dataset_profile(m) for m in iter_delimited(open(out, "rb").read())]
    assert len(msgs) > 2  # more messages than groups -> chunking happened
    assert all("whylogs.chunk.marker" in m["properties"]["metadata"] for m in msgs)
    # all columns of group 'a' reassemble across its chunks
    a_cols = set()
    for m in msgs:
        if m["properties"]["tags"]["whylogs.tag.label"] == "a":
            a_cols |= set(m["columns"])
    assert a_cols == {"id", "val"}


def test_streaming_stateful_sessionize(spark, tmp_path):
    # custom stateful operator (applyInPandasWithState): gap-closed sessions
    # emitted exactly once, matching the batch sessionizer on closed sessions
    import datetime as dt

    from whylogs_java_spark.operators.sessions import session_stats
    from whylogs_java_spark.streaming.stateful_sessions import streaming_sessionize

    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def t(minutes):
        return base + dt.timedelta(minutes=minutes)

    # user 1: two sessions (gap 45m > 30m); user 2: one session
    rows = [
        (1, t(0)), (1, t(10)), (1, t(20)),          # session A: 3 events
        (1, t(65)), (1, t(70)),                      # session B: 2 events
        (2, t(5)), (2, t(15)),                       # session C: 2 events
        # closer: very late events push the watermark past every gap+ts
        (1, t(600)), (2, t(600)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    src = str(tmp_path / "sess_src")
    ev.write.parquet(src)
    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = streaming_sessionize(stream, "user_id", "ts", gap_seconds=1800,
                               watermark="0 seconds")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["entity"], r["session_start"]): r
            for r in spark.sql("SELECT * FROM sess_out").collect()
        }
    finally:
        q.stop()

    a = got[(1, t(0))]
    assert a["n_events"] == 3 and a["session_end"] == t(20) and a["closed_by"] == "gap"
    b = got[(1, t(65))]
    assert b["n_events"] == 2 and b["session_end"] == t(70)
    c = got[(2, t(5))]
    assert c["n_events"] == 2 and c["session_end"] == t(15)

    # closed sessions agree with the batch sessionizer
    batch = {
        (r["user_id"], r["session_start"]): r["n_events"]
        for r in session_stats(ev, "user_id", "ts", gap_seconds=1800).collect()
    }
    for (entity, start), r in got.items():
        assert batch[(entity, start)] == r["n_events"]


def test_theta_bounds_on_v3_wire_sketches(spark):
    # sketches read back from reference-written profiles are serVer 3 with
    # a full preamble (curCount + thetaLong) — theta_bounds must parse them
    # (not collapse to 1.0): v4->v3 re-encode preserves estimate and bounds
    from whylogs_java_spark.operators.approx import theta_bounds
    from whylogs_java_spark.sources.protobuf import theta_v4_to_v3

    for n in (100, 15000):  # v3 preLongs=2 (exact) and preLongs=3 (estimation)
        v4 = (
            spark.range(n)
            .agg(F.theta_sketch_agg(F.col("id").cast("double")).alias("s"))
            .collect()[0]["s"]
        )
        v3 = theta_v4_to_v3(bytes(v4))
        df = spark.createDataFrame(
            [("v4", bytearray(bytes(v4))), ("v3", bytearray(v3))], "ver string, s binary"
        )
        tb = theta_bounds(F.col("s"))
        rows = {
            r["ver"]: r
            for r in df.select(
                "ver",
                tb["estimate"].alias("est"),
                tb["lower"].alias("lo"),
                tb["upper"].alias("hi"),
            ).collect()
        }
        assert rows["v3"]["est"] == pytest.approx(rows["v4"]["est"], rel=1e-9), n
        assert rows["v3"]["lo"] == pytest.approx(rows["v4"]["lo"], rel=1e-9), n
        assert rows["v3"]["hi"] == pytest.approx(rows["v4"]["hi"], rel=1e-9), n
        assert rows["v3"]["lo"] <= n <= rows["v3"]["hi"]


def test_stateful_session_fn_late_events():
    # unit-level check of the state-merge fold: an admitted late event
    # earlier than the stored session start extends the session backwards;
    # an event older than start - gap becomes its own earlier closed session
    import pandas as pd

    from whylogs_java_spark.streaming.stateful_sessions import _session_fn, _US

    class FakeState:
        def __init__(self, tup):
            self._t = tup
            self.hasTimedOut = False
            self.updated = None
            self.timeout = None

        @property
        def exists(self):
            return self._t is not None

        @property
        def get(self):
            return self._t

        def update(self, t):
            self.updated = t

        def setTimeoutTimestamp(self, ms):
            self.timeout = ms

        def remove(self):
            self._t = None

    gap = 1800 * _US
    fn = _session_fn(gap)
    hour = 3600 * _US

    # stored open session [10h, 10h30], 3 events
    st = FakeState((10 * hour, 10 * hour + 30 * 60 * _US, 3))
    # late events: 9h50 (within gap of start -> extend backwards),
    # 2h and 2h10 (older than start - gap -> own earlier session, closed)
    ts = [2 * hour, 2 * hour + 10 * 60 * _US, 9 * hour + 50 * 60 * _US]
    pdf = pd.DataFrame({"ts": [pd.Timestamp(t * 1000, unit="ns") for t in ts]})
    out = list(fn((7,), [pdf], st))[0]
    assert len(out) == 1  # the 2h pair emitted as one closed session
    r = out.iloc[0]
    assert r["session_start"] == pd.Timestamp(2 * hour, unit="us")
    assert r["session_end"] == pd.Timestamp(2 * hour + 10 * 60 * _US, unit="us")
    assert r["n_events"] == 2 and r["closed_by"] == "gap"
    # open session extended backwards to 9h50 with the late event counted
    assert st.updated == (9 * hour + 50 * 60 * _US, 10 * hour + 30 * 60 * _US, 4)


def test_cli_dedup_subcommand(spark, tmp_path, monkeypatch):
    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "other text")],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(tmp_path / "dedup_out")
    rc = cli.main([
        "dedup", src, "-o", out, "--id-col", "doc_id",
        "--text-col", "text", "--method", "exact",
    ])
    assert rc == 0
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == {1, 3}

    # missing required per-method column -> argparse error (exit 2),
    # not an opaque py4j failure deep inside the operator
    import pytest as _pytest

    with _pytest.raises(SystemExit) as ei:
        cli.main(["dedup", src, "-o", out, "--id-col", "doc_id",
                  "--method", "exact"])
    assert ei.value.code == 2
    with _pytest.raises(SystemExit) as ei:
        cli.main(["dedup", src, "-o", out, "--id-col", "doc_id",
                  "--method", "semantic"])
    assert ei.value.code == 2


def test_cli_view_subcommand_golden_fixture(spark, tmp_path, monkeypatch, capsys):
    """ProfileViewer parity (ProfileViewer.java:78-97): load the reference
    golden binary through `view`, pin summary values, check the abort
    rules (missing input, existing output)."""
    import json

    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    fixture = "/root/reference/core/src/test/resources/python_profile.bin"
    out = str(tmp_path / "summary.json")
    assert cli.main(["view", "-i", fixture, "-o", out]) == 0
    doc = json.load(open(out))
    profs = doc["profiles"]
    assert len(profs) == 1
    (prof,) = profs.values()
    cols = prof["columns"]
    assert len(cols) == 105
    c = cols["mths_since_recent_revol_delinq"]
    assert c["n"] == 816777
    assert c["count"] == c["null_count"] + c["n"]
    assert c["min"] == pytest.approx(-261.765, abs=0.01)
    assert c["max"] == pytest.approx(575.476, abs=0.01)
    assert c["mean"] == pytest.approx(34.8778, abs=0.001)
    stdout = capsys.readouterr().out
    assert "mths_since_recent_revol_delinq" in stdout and "105 columns" in stdout

    # reference abort rules: existing output -> abort (unless --force),
    # missing input -> abort
    assert cli.main(["view", "-i", fixture, "-o", out]) == 1
    assert cli.main(["view", "-i", fixture, "-o", out, "--force"]) == 0
    assert cli.main(["view", "-i", str(tmp_path / "nope.bin"), "-o",
                     str(tmp_path / "x.json")]) == 1


def test_cli_constraints_gate_exit_codes(spark, tmp_path, monkeypatch):
    import json

    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    src = str(tmp_path / "data.parquet")
    spark.createDataFrame(
        [(float(i),) for i in range(10)], "v double"
    ).write.parquet(src)

    ok_rules = str(tmp_path / "ok.json")
    json.dump([["v", "count", ">=", "5"]], open(ok_rules, "w"))
    assert cli.main(["constraints", src, "--rules", ok_rules]) == 0

    bad_rules = str(tmp_path / "bad.json")
    json.dump(
        [["v", "count", ">=", "5"], ["v", "max", "<=", "3"]],
        open(bad_rules, "w"),
    )
    rep = str(tmp_path / "rep")
    assert cli.main(
        ["constraints", src, "--rules", bad_rules, "-o", rep]
    ) == 1
    rows = {r["rule_id"]: r["passed"] for r in spark.read.parquet(rep).collect()}
    assert rows == {0: True, 1: False}


def test_cli_drift_and_monitor_subcommands(spark, tmp_path, monkeypatch):
    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    a = str(tmp_path / "a.parquet")
    b = str(tmp_path / "b.parquet")
    spark.createDataFrame(
        [(float(i % 10),) for i in range(100)], "v double"
    ).write.parquet(a)
    spark.createDataFrame(
        [(float(i % 10) + 5.0,) for i in range(100)], "v double"
    ).write.parquet(b)
    dout = str(tmp_path / "drift_out")
    assert cli.main(["drift", a, b, "-o", dout, "--column", "v"]) == 0
    d = spark.read.parquet(dout).first()
    assert d["psi"] > 0.1 and d["mean_delta"] == 5.0

    store = str(tmp_path / "store.parquet")
    rows = [(f"2024-01-{i:02d}", "v", 10.0 + (i % 2) * 0.1) for i in range(1, 12)]
    rows.append(("2024-01-12", "v", 99.0))
    spark.createDataFrame(
        rows, "day string, column_name string, mean double"
    ).selectExpr("CAST(day AS DATE) AS day", "column_name", "mean").write.parquet(store)
    mout = str(tmp_path / "mon_out")
    assert cli.main([
        "monitor", store, "-o", mout, "--metric", "mean", "--time-col", "day",
    ]) == 0
    flagged = [r for r in spark.read.parquet(mout).collect() if r["is_anomaly"]]
    assert len(flagged) == 1 and str(flagged[0]["day"]) == "2024-01-12"


def test_read_jsonl_policies(spark, tmp_path):
    from whylogs_java_spark.sources.jsonl import corrupt_lines, read_jsonl

    p = str(tmp_path / "docs.jsonl")
    with open(p, "w") as fh:
        fh.write('{"doc_id": 1, "text": "hello world"}\n')
        fh.write("this is not json\n")
        fh.write('{"doc_id": 2, "text": "second"}\n')

    kept = read_jsonl(spark, p, schema="doc_id long, text string", corrupt="keep")
    rows = kept.collect()
    assert len(rows) == 3
    good = {r["doc_id"]: r["text"] for r in rows if r["doc_id"] is not None}
    assert good == {1: "hello world", 2: "second"}
    bad = corrupt_lines(kept).collect()
    assert len(bad) == 1 and "not json" in bad[0][0]

    dropped = read_jsonl(
        spark, p, schema="doc_id long, text string", corrupt="drop"
    )
    assert dropped.count() == 2

    import pytest as _pytest

    with _pytest.raises(Exception):
        read_jsonl(
            spark, p, schema="doc_id long, text string", corrupt="fail"
        ).collect()
    with _pytest.raises(ValueError, match="corrupt must be"):
        read_jsonl(spark, p, corrupt="ignore")


def test_canonical_text_dedup(spark):
    from whylogs_java_spark.operators.dedup import exact_dedup
    from whylogs_java_spark.operators.text import canonical_text

    df = spark.createDataFrame(
        [
            (1, "Hello,  World!"),
            (2, "hello world"),
            (3, "HELLO WORLD"),
            (4, "different doc"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    canon = df.withColumn(
        "canon", canonical_text(F.col("text"), strip_punct=True)
    )
    vals = {r["doc_id"]: r["canon"] for r in canon.collect()}
    assert vals[1] == vals[2] == vals[3] == "hello world"
    assert vals[5] is None
    kept = {
        r["doc_id"] for r in exact_dedup(canon, "canon", "doc_id").collect()
    }
    # min-id survivor among the canonical triple; NULL text keeps its row
    assert kept == {1, 4, 5}


def test_asof_join_stream_matches_batch_any_boundaries(spark, tmp_path):
    """Stream-stream as-of join == batch asof_join (backward) over the
    same rows, regardless of micro-batch boundaries: the left row is held
    until the watermark passes it, at which point every admissible right
    row at-or-before it has arrived — so each match equals the batch
    operator's (operators/joins.py asof_join)."""
    import datetime as dt

    from whylogs_java_spark.operators.joins import asof_join
    from whylogs_java_spark.streaming.asof_stream import asof_join_stream

    base = dt.datetime(2024, 3, 1, 0, 0, 0)

    def t(minutes):
        return base + dt.timedelta(minutes=minutes)

    # two keys; rights interleave lefts; a left before any right; exact-ts
    # match; a key with no rights at all; closer rows push the watermark
    # past everything that must flush. Rows arrive in time-ordered WAVES
    # (one file per wave per side, mtime-ordered so the file source reads
    # them in sequence) — the streaming contract: data no later than the
    # watermark delay. A shuffled arrival order would make Spark DROP
    # below-watermark rows (correct streaming semantics, but then batch
    # equivalence is vacuous).
    lwaves = [
        [(1, t(5), "l-a"), (2, t(2), "l-d"), (3, t(10), "l-f")],
        [(1, t(30), "l-b"), (1, t(31), "l-c")],
        [(2, t(50), "l-e")],
        [(1, t(500), "l-close")],
    ]
    rwaves = [
        [(1, t(10), 100.0), (2, t(1), 400.0)],
        [(1, t(30), 200.0), (2, t(40), 500.0)],
        [(1, t(45), 300.0)],
        # the union's watermark is the MIN over both inputs: the right
        # stream needs its own closer to let the left flushes happen
        [(99, t(500), 0.0)],
    ]
    lrows = [r for w in lwaves for r in w]
    rrows = [r for w in rwaves for r in w]
    lschema = "k long, ts timestamp, tag string"
    rschema = "k long, rts timestamp, px double"
    left = spark.createDataFrame(lrows, lschema)
    right = spark.createDataFrame(rrows, rschema)

    lsrc, rsrc = str(tmp_path / "l"), str(tmp_path / "r")

    def write_waves(waves, schema, src):
        os.makedirs(src, exist_ok=True)
        for wave in waves:
            spark.createDataFrame(wave, schema).coalesce(1).write.mode(
                "append"
            ).parquet(src)
        # re-stamp mtimes in creation order with whole-second spacing so
        # the file source replays waves in sequence
        for j, f in enumerate(
            sorted(
                (f for f in os.listdir(src) if f.endswith(".parquet")),
                key=lambda f: os.path.getmtime(os.path.join(src, f)),
            )
        ):
            os.utime(os.path.join(src, f), (1_700_000_000 + j, 1_700_000_000 + j))

    write_waves(lwaves, lschema, lsrc)
    write_waves(rwaves, rschema, rsrc)
    ls = spark.readStream.schema(left.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(lsrc)
    rs = spark.readStream.schema(right.schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(rsrc)

    out = asof_join_stream(
        ls, rs, on="k", left_ts="ts", right_ts="rts", watermark="0 seconds"
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("asof_out")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r["k"], r["ts"], r["tag"]): (r["rts_r"], r["px_r"])
            for r in spark.sql("SELECT * FROM asof_out").collect()
        }
    finally:
        q.stop()

    expect_df = asof_join(
        left, right, on="k", left_ts="ts", right_ts="rts",
        direction="backward",
    )
    expect = {
        (r["k"], r["ts"], r["tag"]): (r["rts_r"], r["px_r"])
        for r in expect_df.collect()
    }
    # the watermark closers themselves cannot flush (nothing advances the
    # watermark past them) — compare every row the batch join produces
    # except the closers, and require the stream to have emitted them all
    flushable = {k: v for k, v in expect.items() if k[2] != "l-close"}
    got_flushable = {k: v for k, v in got.items() if k[2] != "l-close"}
    assert got_flushable == flushable
    # sanity: planted semantics actually exercised
    assert flushable[(1, t(5), "l-a")] == (None, None)        # before any right
    assert flushable[(1, t(30), "l-b")][1] == 200.0           # exact-ts match
    assert flushable[(1, t(31), "l-c")][1] == 200.0           # between rights
    assert flushable[(3, t(10), "l-f")] == (None, None)       # key w/o rights


def test_asof_join_stream_tolerance_and_null_keys(spark, tmp_path):
    import datetime as dt

    from whylogs_java_spark.streaming.asof_stream import asof_join_stream

    base = dt.datetime(2024, 3, 1, 0, 0, 0)

    def t(minutes):
        return base + dt.timedelta(minutes=minutes)

    lrows = [(1, t(60), "x"), (None, t(61), "nullkey"), (1, t(500), "close")]
    rrows = [(1, t(1), 10.0), (1, t(58), 20.0), (99, t(500), 0.0)]
    left = spark.createDataFrame(lrows, "k long, ts timestamp, tag string")
    right = spark.createDataFrame(rrows, "k long, rts timestamp, px double")
    lsrc, rsrc = str(tmp_path / "l2"), str(tmp_path / "r2")
    left.write.parquet(lsrc)
    right.write.parquet(rsrc)
    ls = spark.readStream.schema(left.schema).parquet(lsrc)
    rs = spark.readStream.schema(right.schema).parquet(rsrc)
    out = asof_join_stream(
        ls, rs, on="k", left_ts="ts", right_ts="rts",
        tolerance=5 * 60, watermark="0 seconds",
    )
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("asof_tol")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM asof_tol").collect()
    finally:
        q.stop()
    by_tag = {r["tag"]: r for r in rows}
    # t(58) is within 5 min of t(60); t(1) would be the match without it
    assert by_tag["x"]["px_r"] == 20.0
    # NULL-key rows are dropped (documented deviation from batch)
    assert "nullkey" not in by_tag


def test_export_training_shards_roundtrip_and_determinism(spark, tmp_path):
    """Shard export writes one partition dir per shard, the manifest
    matches the data read-back exactly, every doc lands exactly once,
    and re-running reproduces identical assignments."""
    import os

    from pyspark.sql import functions as F

    from whylogs_java_spark.sources.shards import (
        assign_shards,
        export_training_shards,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text", F.greatest(F.lit(1), F.col("n_chars") / 5).cast("long").alias("toks")
    )
    path = str(tmp_path / "shards")
    man = {
        r["shard"]: (r["n_docs"], r["n_tokens"])
        for r in export_training_shards(
            docs, path, "doc_id", "toks", target_tokens_per_shard=2000
        ).collect()
    }
    assert len(man) >= 2
    shard_dirs = [d for d in os.listdir(f"{path}/data") if d.startswith("shard=")]
    assert len(shard_dirs) == len(man)
    back = spark.read.parquet(f"{path}/data")
    got = {
        r["shard"]: (r["n_docs"], r["n_tokens"])
        for r in back.groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("toks").alias("n_tokens"))
        .collect()
    }
    assert got == man
    assert back.count() == docs.count()
    assert back.select("doc_id").distinct().count() == docs.count()
    # determinism: same (id, salt) -> same shard on a re-run
    a = {r["doc_id"]: r["shard"] for r in assign_shards(
        docs, "doc_id", "toks", target_tokens_per_shard=2000
    ).collect()}
    b = {r["doc_id"]: r["shard"] for r in assign_shards(
        docs, "doc_id", "toks", target_tokens_per_shard=2000
    ).collect()}
    assert a == b
    import pytest as _pytest

    with _pytest.raises(ValueError):
        assign_shards(docs, "doc_id", "toks")
    with _pytest.raises(ValueError):
        assign_shards(docs, "doc_id", "toks", n_shards=4, target_tokens_per_shard=10)


def test_cli_redact_and_shards_subcommands(spark, tmp_path, monkeypatch, capsys):
    import pytest as _pytest

    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (1, "mail me at bob@example.com", 5),
            (2, "nothing here", 2),
            (3, "ip 10.0.0.1 seen", 3),
        ],
        "doc_id long, text string, toks long",
    ).write.parquet(src)

    out = str(tmp_path / "red_out")
    rc = cli.main([
        "redact", src, "-o", out, "--id-col", "doc_id", "--text-col", "text",
    ])
    assert rc == 0
    red = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert "<EMAIL>" in red[1]["redacted_text"]
    assert "<IPV4>" in red[3]["redacted_text"]
    assert red[2]["n_redactions"] == 0
    with _pytest.raises(SystemExit):
        cli.main(["redact", src, "-o", out, "--id-col", "doc_id",
                  "--text-col", "text", "--kinds", "email,bogus"])

    sh = str(tmp_path / "shards_out")
    rc = cli.main([
        "shards", src, "-o", sh, "--id-col", "doc_id",
        "--token-col", "toks", "--n-shards", "2",
    ])
    assert rc == 0
    printed = capsys.readouterr().out
    assert "wrote 2 shard(s)" in printed or "wrote 1 shard(s)" in printed
    back = spark.read.parquet(f"{sh}/data")
    assert back.count() == 3
    with _pytest.raises(SystemExit):
        cli.main(["shards", src, "-o", sh, "--id-col", "doc_id",
                  "--token-col", "toks"])


def test_cli_dedup_store_build_and_probe(spark, tmp_path, monkeypatch, capsys):
    """CLI face of the persisted signature store: --build-store writes
    bands/shingles/meta; --probe-store screens a batch and matches the
    in-process cross_dedup_stored output."""
    from pyspark.sql import functions as F

    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess
    from whylogs_java_spark.operators.dedup import cross_dedup_pairs

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    ref_src = str(tmp_path / "ref_src")
    docs.write.parquet(ref_src)
    batch = docs.where(F.col("doc_id") % 9 == 0).select(
        (F.col("doc_id") + 700000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail token")).alias("text"),
    )
    batch_src = str(tmp_path / "batch_src")
    batch.write.parquet(batch_src)
    store = str(tmp_path / "sig_store")
    out = str(tmp_path / "probe_out")

    rc = cli.main([
        "dedup", ref_src, "-o", str(tmp_path / "unused"), "--id-col",
        "doc_id", "--text-col", "text", "--method", "minhash",
        "--build-store", store,
    ])
    assert rc == 0
    import os

    assert os.path.exists(f"{store}/meta") and os.path.exists(f"{store}/bands")
    rc = cli.main([
        "dedup", batch_src, "-o", out, "--id-col", "doc_id",
        "--text-col", "text", "--method", "minhash",
        "--probe-store", store, "--threshold", "0.5",
    ])
    assert rc == 0
    got = sorted(map(tuple, spark.read.parquet(out).collect()))
    want = sorted(
        map(
            tuple,
            cross_dedup_pairs(
                batch, docs, "text", "doc_id", threshold=0.5
            ).collect(),
        )
    )
    assert got == want and len(got) > 0


def test_cli_blocklist_and_split_subcommands(spark, tmp_path, monkeypatch, capsys):
    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    src = str(tmp_path / "bl_docs.parquet")
    spark.createDataFrame(
        [
            (1, "clean words only here today friend"),
            (2, "the bad thing appears and bad again"),
            (3, "a slow stream runs through it"),
            (4, "the bad thing appears and bad again twice"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)

    rep = str(tmp_path / "bl_report")
    rc = cli.main([
        "blocklist", src, "-o", rep, "--terms", "bad,slow stream",
    ])
    assert rc == 0
    assert "flagged 3 doc(s)" in capsys.readouterr().out
    got = {r["doc_id"]: r for r in spark.read.parquet(rep).collect()}
    assert got[2]["n_blocked"] == 2 and got[2]["matched_terms"] == "bad"
    assert got[3]["matched_terms"] == "slow stream"
    assert not got[1]["blocked"]

    surv = str(tmp_path / "bl_survivors")
    rc = cli.main(["blocklist", src, "-o", surv, "--terms", "bad", "--drop"])
    assert rc == 0
    kept = sorted(r["doc_id"] for r in spark.read.parquet(surv).collect())
    assert kept == [1, 3]

    # terms-file variant
    tf = tmp_path / "terms.txt"
    tf.write_text("bad\nslow stream\n")
    rc = cli.main(["blocklist", src, "-o", rep, "--terms-file", str(tf)])
    assert rc == 0

    # plain split
    sp = str(tmp_path / "split_out")
    rc = cli.main([
        "split", src, "-o", sp, "--fractions", "train=0.5,test=0.5",
    ])
    assert rc == 0
    back = spark.read.parquet(sp)
    assert back.count() == 4
    assert set(back.columns) == {"doc_id", "split"}

    # leakage-safe split: near-identical docs 2 and 4 must share a split
    sp2 = str(tmp_path / "split_ls_out")
    rc = cli.main([
        "split", src, "-o", sp2, "--leakage-safe",
        "--fractions", "train=0.5,test=0.5", "--threshold", "0.5",
    ])
    assert rc == 0
    rows = {r["doc_id"]: r for r in spark.read.parquet(sp2).collect()}
    assert rows[2]["cluster_id"] == rows[4]["cluster_id"]
    assert rows[2]["split"] == rows[4]["split"]


def test_cli_pack_and_novelty_subcommands(spark, tmp_path, monkeypatch, capsys):
    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    src = str(tmp_path / "pk_docs.parquet")
    spark.createDataFrame(
        [(1, "a b c d e f"), (2, "g h i"), (3, "a b c d e f")],
        "doc_id long, text string",
    ).write.parquet(src)

    out = str(tmp_path / "pk_out")
    rc = cli.main(["pack", src, "-o", out, "--context-len", "4"])
    assert rc == 0
    assert "packed 15 tokens" in capsys.readouterr().out
    back = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert back[1]["token_offset"] == 0 and back[2]["token_offset"] == 6

    nov = str(tmp_path / "nv_out")
    ref = str(tmp_path / "nv_ref.parquet")
    spark.createDataFrame(
        [(9, "a b c d e f")], "doc_id long, text string"
    ).write.parquet(ref)
    rc = cli.main(["novelty", src, "--ref", ref, "-o", nov, "-n", "3"])
    assert rc == 0
    got = {r["doc_id"]: r for r in spark.read.parquet(nov).collect()}
    assert got[1]["novelty"] == 0.0 and got[3]["novelty"] == 0.0
    assert got[2]["novelty"] == 1.0

    # store path: build once, screen from the store, same answer
    store = str(tmp_path / "nv_store")
    rc = cli.main(["novelty", ref, "--build-store", store, "-n", "3"])
    assert rc == 0
    nov2 = str(tmp_path / "nv_out2")
    rc = cli.main(["novelty", src, "--ref-store", store, "-o", nov2, "-n", "3"])
    assert rc == 0
    got2 = {r["doc_id"]: tuple(r)[1:] for r in spark.read.parquet(nov2).collect()}
    assert got2 == {k: tuple(v)[1:] for k, v in got.items()}


def test_align_union_and_schema_report(spark):
    """Missing columns NULL-fill with the reconciled type, numeric types
    widen along the ladder, mixed scalar families fall back to string,
    irreconcilable families refuse, and the report audits every cell."""
    import pytest as _pytest

    from whylogs_java_spark.sources.align import align_union, schema_report

    a = spark.createDataFrame(
        [(1, "x", 10)], "doc_id long, text string, clicks int"
    )
    b = spark.createDataFrame(
        [(2, "y", 3.5, "fr")],
        "doc_id long, text string, clicks double, lang string",
    )
    rep = {
        (r["source"], r["column"]): (r["dtype"], r["target_dtype"], r["status"])
        for r in schema_report([a, b], ["alpha", "beta"]).collect()
    }
    assert rep[("alpha", "clicks")] == ("int", "double", "cast")
    assert rep[("beta", "clicks")] == ("double", "double", "ok")
    assert rep[("alpha", "lang")] == (None, "string", "missing")
    assert rep[("beta", "doc_id")] == ("bigint", "bigint", "ok")

    u = align_union([a, b], ["alpha", "beta"])
    assert dict(u.dtypes)["clicks"] == "double"
    rows = {r["doc_id"]: r for r in u.collect()}
    assert rows[1]["lang"] is None and rows[1]["clicks"] == 10.0
    assert rows[1]["source"] == "alpha" and rows[2]["source"] == "beta"

    # mixed scalar families -> string
    c = spark.createDataFrame([(3, "z", "many")],
                              "doc_id long, text string, clicks string")
    u2 = align_union([a, c])
    assert dict(u2.dtypes)["clicks"] == "string"
    assert {r["clicks"] for r in u2.collect()} == {"10", "many"}

    # irreconcilable: array vs scalar refuses loudly
    d = spark.createDataFrame([(4, "w", [1, 2])],
                              "doc_id long, text string, clicks array<int>")
    with _pytest.raises(ValueError):
        align_union([a, d])
    # source column collision refuses
    e = spark.createDataFrame([(5, "v")], "doc_id long, source string")
    with _pytest.raises(ValueError):
        align_union([e, e])


def test_cli_drift_embedding_method(spark, tmp_path, monkeypatch, capsys):
    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    a_p = str(tmp_path / "emb_a.parquet")
    b_p = str(tmp_path / "emb_b.parquet")
    emb.where(F.col("vec_id") % 2 == 0).write.parquet(a_p)
    emb.where(F.col("vec_id") % 2 == 1).write.parquet(b_p)

    out = str(tmp_path / "edrift_out")
    rc = cli.main([
        "drift", a_p, b_p, "-o", out, "--column", "embedding", "--embedding",
    ])
    assert rc == 0
    rows = spark.read.parquet(out).collect()
    assert len(rows) == 1
    r = rows[0]
    assert set(rows[0].asDict()) == {
        "n_ref", "n_cur", "cosine_means", "l2_means",
        "max_dim_shift", "mean_abs_shift",
    }
    assert r["n_ref"] > 0 and -1.0 <= r["cosine_means"] <= 1.0

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        cli.main(["drift", a_p, b_p, "-o", out, "--column", "embedding",
                  "--embedding", "--categorical"])


def test_cli_project_subcommand(spark, tmp_path, monkeypatch, capsys):
    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    src = "/root/testdata/sf0.001/embeddings.parquet"
    out = str(tmp_path / "rp_out")
    rc = cli.main([
        "project", src, "-o", out, "--out-dim", "8", "--dim", "64",
    ])
    assert rc == 0
    back = spark.read.parquet(out)
    assert set(back.columns) == {"vec_id"} | {f"rp_{j}" for j in range(8)}
    assert back.count() == spark.read.parquet(src).count()


def test_cli_winnow_subcommand(spark, tmp_path, monkeypatch, capsys):
    """CLI winnow: --ref screening, --build-store + --ref-store parity,
    and the flagged verdicts on an exact copy of an accepted doc."""
    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    ref = str(tmp_path / "wn_ref.parquet")
    spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog today"),
         (11, "completely different accepted content lives here")],
        "doc_id long, text string",
    ).write.parquet(ref)
    batch = str(tmp_path / "wn_batch.parquet")
    spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),  # copy
         (2, "novel text that shares nothing with the store corpus")],
        "doc_id long, text string",
    ).write.parquet(batch)

    out = str(tmp_path / "wn_out")
    rc = cli.main(["winnow", batch, "--ref", ref, "-o", out])
    assert rc == 0
    assert "flagged" in capsys.readouterr().out
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert got[1]["flagged"] and got[1]["best_ref"] == 10
    assert not got[2]["flagged"]

    store = str(tmp_path / "wn_store")
    rc = cli.main(["winnow", ref, "--build-store", store])
    assert rc == 0
    out2 = str(tmp_path / "wn_out2")
    rc = cli.main(["winnow", batch, "--ref-store", store, "-o", out2])
    assert rc == 0
    got2 = {r["doc_id"]: tuple(r) for r in spark.read.parquet(out2).collect()}
    assert got2 == {k: tuple(v) for k, v in got.items()}


def test_cli_search_subcommand(spark, tmp_path, monkeypatch, capsys):
    """CLI search: scan-side phrase search, --build-index + --index
    parity, and the explicit --buckets mismatch refusal."""
    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    corpus = str(tmp_path / "ph_corpus.parquet")
    spark.createDataFrame(
        [(1, "the hash join beats the sort merge join"),
         (2, "hash join hash join"),
         (3, "no phrase here")],
        "doc_id long, text string",
    ).write.parquet(corpus)

    out = str(tmp_path / "ph_out")
    rc = cli.main(["search", corpus, "hash join", "-o", out])
    assert rc == 0
    assert "matching doc" in capsys.readouterr().out
    got = {r["doc_id"]: r["n_matches"]
           for r in spark.read.parquet(out).collect()}
    assert got == {1: 1, 2: 2}

    idx = str(tmp_path / "ph_idx")
    rc = cli.main(["search", corpus, "--build-index", idx, "--buckets", "8"])
    assert rc == 0
    out2 = str(tmp_path / "ph_out2")
    rc = cli.main(["search", corpus, "hash join", "--index", idx, "-o", out2])
    assert rc == 0
    got2 = {r["doc_id"]: r["n_matches"]
            for r in spark.read.parquet(out2).collect()}
    assert got2 == got

    # explicit --buckets expectation mismatching the store meta refuses
    # — in BOTH argparse spellings (r12 review find: the old argv scan
    # missed the = form)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_buckets"):
        cli.main(["search", corpus, "hash join", "--index", idx,
                  "--buckets", "16", "-o", str(tmp_path / "ph_out3")])
    with _pytest.raises(ValueError, match="n_buckets"):
        cli.main(["search", corpus, "hash join", "--index", idx,
                  "--buckets=16", "-o", str(tmp_path / "ph_out3")])


def test_cli_quota_subcommand(spark, tmp_path, monkeypatch, capsys):
    """CLI quota: per-source cap and token-budget modes, plus the
    budget-without-prefer refusal."""
    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    src = str(tmp_path / "q_src.parquet")
    spark.createDataFrame(
        [(i, f"s{i % 2}", float(i % 3), 10) for i in range(12)],
        "doc_id long, source string, q double, n_tokens long",
    ).write.parquet(src)

    out = str(tmp_path / "q_cap")
    rc = cli.main(["quota", src, "-o", out, "--cap", "2",
                   "--prefer-col", "q"])
    assert rc == 0 and "kept 4" in capsys.readouterr().out
    got = spark.read.parquet(out)
    assert got.count() == 4
    assert got.agg(F.max("source_rank")).collect()[0][0] == 2

    out2 = str(tmp_path / "q_budget")
    rc = cli.main(["quota", src, "-o", out2, "--token-budget", "35",
                   "--prefer-col", "q"])
    assert rc == 0
    rows = spark.read.parquet(out2).collect()
    assert len(rows) == 3 and max(r["cum_tokens"] for r in rows) == 30

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        cli.main(["quota", src, "-o", out2, "--token-budget", "35"])

    # --quantize coarsens a continuous score into the ladder
    cont = str(tmp_path / "q_cont.parquet")
    spark.createDataFrame(
        [(i, "s", i * 0.001, 10) for i in range(12)],
        "doc_id long, source string, q double, n_tokens long",
    ).write.parquet(cont)
    rc = cli.main(["quota", cont, "-o", str(tmp_path / "q_q"),
                   "--token-budget", "35", "--prefer-col", "q",
                   "--quantize", "1"])
    assert rc == 0 and spark.read.parquet(str(tmp_path / "q_q")).count() == 3


def test_cli_decontam_subcommand(spark, tmp_path, monkeypatch, capsys):
    """decontam CLI: report mode flags the quoting doc, --drop writes
    survivors, --spans writes surgically cleaned text, and the
    gram-store path (--ref-store, built by `novelty --build-store`)
    matches the per-run eval derivation."""
    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    src = str(tmp_path / "dc_docs.parquet")
    spark.createDataFrame(
        [
            (1, "intro a b c d e outro words"),
            (2, "totally clean text with six words"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)
    ev = str(tmp_path / "dc_eval.parquet")
    spark.createDataFrame(
        [(9, "x a b c d e y")], "doc_id long, text string"
    ).write.parquet(ev)

    rep = str(tmp_path / "dc_rep")
    rc = cli.main(["decontam", src, "--eval", ev, "-o", rep])
    assert rc == 0
    assert "flagged 1 contaminated doc(s)" in capsys.readouterr().out
    got = {r["doc_id"]: r for r in spark.read.parquet(rep).collect()}
    assert got[1]["contaminated"] and not got[2]["contaminated"]

    kept = str(tmp_path / "dc_kept")
    rc = cli.main(["decontam", src, "--eval", ev, "-o", kept, "--drop"])
    assert rc == 0
    assert [r["doc_id"] for r in spark.read.parquet(kept).collect()] == [2]

    sp = str(tmp_path / "dc_spans")
    rc = cli.main(["decontam", src, "--eval", ev, "-o", sp, "--spans"])
    assert rc == 0
    assert "cleaned 1 contaminated doc(s)" in capsys.readouterr().out
    rows = {r["doc_id"]: r for r in spark.read.parquet(sp).collect()}
    assert rows[1]["clean_text"] == "intro outro words"
    assert rows[1]["n_spans"] == 1 and rows[1]["tokens_removed"] == 5
    assert rows[2]["clean_text"] == "totally clean text with six words"

    # gram-store path: same verdicts from a persisted store
    store = str(tmp_path / "dc_store")
    rc = cli.main(["novelty", ev, "--build-store", store, "-n", "5"])
    assert rc == 0
    sp2 = str(tmp_path / "dc_spans2")
    rc = cli.main([
        "decontam", src, "--ref-store", store, "-o", sp2, "--spans",
    ])
    assert rc == 0
    assert sorted(
        map(tuple, spark.read.parquet(sp2).collect())
    ) == sorted(map(tuple, spark.read.parquet(sp).collect()))


def test_cli_tokenize_and_clean_subcommands(spark, tmp_path, monkeypatch, capsys):
    """tokenize: --train exports a merge table a later --merges run
    consumes; clean: C4 report vs --drop survivors with cleaned text."""
    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    src = str(tmp_path / "tk_docs.parquet")
    spark.createDataFrame(
        [(1, "banana banana banana"), (2, "band banana bans")],
        "doc_id long, text string",
    ).write.parquet(src)
    merges = str(tmp_path / "tk_merges")
    rc = cli.main(["tokenize", src, "--train", "-o", merges, "-m", "5"])
    assert rc == 0
    assert "learned 5 merge(s)" in capsys.readouterr().out
    toks = str(tmp_path / "tk_out")
    rc = cli.main(["tokenize", src, "--merges", merges, "-o", toks])
    assert rc == 0
    back = {r["doc_id"]: r for r in spark.read.parquet(toks).collect()}
    assert "".join(back[1]["tokens"]) == "banana·banana·banana·"
    assert back[1]["n_tokens"] < len("banana banana banana")

    good = "this line has plenty of words and punctuation."
    csrc = str(tmp_path / "cl_docs.parquet")
    spark.createDataFrame(
        [(1, f"{good}\n{good}\n{good}"), (2, "too short.\nno punct line")],
        "doc_id long, text string",
    ).write.parquet(csrc)
    rep = str(tmp_path / "cl_rep")
    rc = cli.main(["clean", csrc, "-o", rep])
    assert rc == 0
    got = {r["doc_id"]: r for r in spark.read.parquet(rep).collect()}
    assert got[1]["keep"] and not got[2]["keep"]
    kept = str(tmp_path / "cl_kept")
    rc = cli.main(["clean", csrc, "-o", kept, "--drop"])
    assert rc == 0
    rows = spark.read.parquet(kept).collect()
    assert [r["doc_id"] for r in rows] == [1]
    assert rows[0]["clean_text"] == f"{good}\n{good}\n{good}"


def test_cli_tier_subcommand(spark, tmp_path, monkeypatch, capsys):
    """tier CLI: per-stratum tercile report and the --keep filter mode."""
    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    src = str(tmp_path / "tier_docs.parquet")
    rows = [("en", i, float(i)) for i in range(1, 10)]
    spark.createDataFrame(
        rows, "lang string, doc_id long, perplexity double"
    ).write.parquet(src)

    rep = str(tmp_path / "tier_rep")
    rc = cli.main(["tier", src, "-o", rep, "--stratum-col", "lang"])
    assert rc == 0
    got = {r["doc_id"]: r["bucket"] for r in spark.read.parquet(rep).collect()}
    assert [got[i] for i in range(1, 10)] == (
        ["head"] * 3 + ["middle"] * 3 + ["tail"] * 3
    )

    kept = str(tmp_path / "tier_kept")
    rc = cli.main([
        "tier", src, "-o", kept, "--stratum-col", "lang",
        "--keep", "head,middle",
    ])
    assert rc == 0
    assert "wrote 6 row(s)" in capsys.readouterr().out
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(kept).collect()
    ) == [1, 2, 3, 4, 5, 6]


def test_cli_score_subcommand(spark, tmp_path, monkeypatch, capsys):
    """score CLI (r13): per-doc LM perplexity at both orders, with an
    optional trusted LM corpus (the CCNet deployment shape)."""
    import whylogs_java_spark.__main__ as cli
    import whylogs_java_spark.session as sess

    monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(spark, "stop", lambda: None)

    src = str(tmp_path / "sc_docs.parquet")
    rows = [(i, "the cat sat on the mat") for i in range(10)]
    rows.append((100, "zqx vbnk wplf qq zz yy"))
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    out2 = str(tmp_path / "sc2")
    rc = cli.main(["score", src, "-o", out2, "--vocab-size", "32"])
    assert rc == 0
    assert "scored 11 doc(s) (order=2)" in capsys.readouterr().out
    got2 = {r["doc_id"]: r for r in spark.read.parquet(out2).collect()}
    assert got2[0]["perplexity"] < got2[100]["perplexity"]
    assert got2[0]["n_bigrams"] == 5

    out3 = str(tmp_path / "sc3")
    rc = cli.main([
        "score", src, "-o", out3, "--order", "3",
        "--vocab-size", "32", "--top-trigrams", "256",
    ])
    assert rc == 0
    got3 = {r["doc_id"]: r for r in spark.read.parquet(out3).collect()}
    assert got3[0]["n_trigrams"] == 4
    assert got3[0]["perplexity"] < got3[100]["perplexity"]

    # trusted LM corpus: the gibberish doc scores against the CLEAN LM
    lm_src = str(tmp_path / "sc_lm.parquet")
    spark.createDataFrame(
        rows[:10], "doc_id long, text string"
    ).write.parquet(lm_src)
    out_lm = str(tmp_path / "sc_lm_out")
    rc = cli.main([
        "score", src, "-o", out_lm, "--lm-corpus", lm_src,
        "--vocab-size", "32",
    ])
    assert rc == 0
    got_lm = {r["doc_id"]: r for r in spark.read.parquet(out_lm).collect()}
    assert got_lm[0]["perplexity"] < got_lm[100]["perplexity"]

    # r14: persisted-LM loop from the CLI — build the KN store from the
    # clean corpus, score the crawl against it; stored == in-memory
    store = str(tmp_path / "sc_store")
    rc = cli.main([
        "score", lm_src, "--build-lm-store", store, "--order", "3",
        "--smoothing", "kn", "--vocab-size", "32",
        "--top-trigrams", "256",
    ])
    assert rc == 0
    assert "built lm store (order=3, smoothing=kn)" in capsys.readouterr().out
    out_st = str(tmp_path / "sc_stored_out")
    rc = cli.main(["score", src, "-o", out_st, "--lm-store", store])
    assert rc == 0
    assert "scored 11 doc(s) (order=3)" in capsys.readouterr().out
    got_st = {r["doc_id"]: r for r in spark.read.parquet(out_st).collect()}
    assert got_st[0]["perplexity"] < got_st[100]["perplexity"]

    import pytest as _pytest

    with _pytest.raises(SystemExit):  # exclusive flags
        cli.main(["score", src, "-o", out_st, "--lm-store", store,
                  "--build-lm-store", store])
    with _pytest.raises(SystemExit):  # scoring needs -o
        cli.main(["score", src, "--lm-store", store])
