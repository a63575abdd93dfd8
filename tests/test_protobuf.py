"""Wire-compat tests: parse the reference's golden fixtures, round-trip our
own profiles, and validate the theta serVer4->3 conversion via Spark union.

Reference done-criteria: DatasetProfileTest.java:260-340 parses these same
fixtures and asserts the regression metrics pinned below.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from whylogs_java_spark.operators.profile import profile
from whylogs_java_spark.sources.protobuf import (
    decode_dataset_profile,
    iter_delimited,
    read_profile_bin,
    theta_v4_to_v3,
    write_profile_bin,
)

FIXTURES = "/root/reference/core/src/test/resources"


def _first_profile(path: str) -> dict:
    data = open(path, "rb").read()
    return decode_dataset_profile(next(iter(iter_delimited(data))))


def test_parse_golden_profiles_1():
    p = _first_profile(f"{FIXTURES}/profiles-1.bin")
    assert len(p["columns"]) == 104
    assert p["properties"]["session_id"] == "889f8b4c-e5de-411b-ac1f-93d35ca02a1c"
    assert p["properties"]["session_timestamp"] == 1609910305301
    assert p["properties"]["tags"]["whylogs.tag.housea color"] == "blue"
    ho = p["columns"]["home_ownership"]
    assert ho["count"] == 64969
    assert ho["type_counts"] == {5: 64969}  # STRING
    assert ho["hll"] is not None and ho["hll_lgk"] == 12


def test_parse_golden_regression():
    # DatasetProfileTest.assertMetrics pins these values
    p = _first_profile(f"{FIXTURES}/regression.bin")
    reg = p["model"]["regression"]
    assert reg["count"] == 89
    assert reg["prediction_field"] == "predictions"
    assert reg["target_field"] == "targets"
    assert reg["sum_abs_diff"] == pytest.approx(7649.135452245152, abs=0.01)
    assert reg["sum_diff"] == pytest.approx(522.7580608276942, abs=0.01)
    assert reg["sum2_diff"] == pytest.approx(1021265.7543864828, abs=0.01)


def test_parse_golden_numeric_summary():
    p = _first_profile(f"{FIXTURES}/python_profile.bin")
    # session constants recorded from the golden binary — these back the
    # profile_wire_fixture literal oracle in __spark_entry__.py
    assert len(p["columns"]) == 105
    assert p["properties"]["session_id"] == (
        "d78c144f-a15a-4fd2-b1f6-11410afb55b1"
    )
    assert p["properties"]["session_timestamp"] == 1608772592814
    c = p["columns"]["mths_since_recent_revol_delinq"]
    d = c["numbers"]["doubles"]
    assert d["count"] == 816777
    assert d["min"] == pytest.approx(-261.765, abs=0.01)
    assert d["max"] == pytest.approx(575.476, abs=0.01)
    assert c["numbers"]["variance"]["mean"] == pytest.approx(34.8778, abs=0.001)


def test_spark_reader_and_sketch_compat(spark):
    # distributed read of an old-format profile; the embedded DataSketches
    # binaries (KLL serVer<=2, theta serVer 3, HLL) must be estimable by
    # Spark 4's native sketch functions (heapify back-compat)
    df = read_profile_bin(spark, f"{FIXTURES}/python_profile.bin")
    rows = {r["column_name"]: r for r in df.collect()}
    assert len(rows) == 105
    c = rows["mths_since_recent_revol_delinq"]
    assert c["n"] == 816777 and c["count"] == c["null_count"] + c["n"]
    one = spark.createDataFrame(
        [(bytearray(c["theta"]), bytearray(c["kll"]), bytearray(c["hll"]))],
        "t binary, k binary, h binary",
    )
    est = one.select(
        F.theta_sketch_estimate("t").alias("u"),
        F.kll_sketch_get_quantile_float("k", F.lit(0.5)).alias("med"),
        F.hll_sketch_estimate("h").alias("hu"),
    ).collect()[0]
    assert est["u"] > 0 and est["hu"] > 0
    assert c["min"] <= est["med"] <= c["max"]


def test_theta_v4_to_v3_preserves_hashes(spark):
    # union(converted_v3, original_v4) keeps the estimate unchanged IFF the
    # decoded hash set is identical — a wrong bit-unpack would ~double it
    for n in (100, 15000):  # exact mode and estimation mode
        sk = (
            spark.range(n)
            .agg(F.theta_sketch_agg(F.col("id").cast("double")).alias("s"))
            .collect()[0]["s"]
        )
        v3 = theta_v4_to_v3(bytes(sk))
        assert v3[1] == 3  # serVer
        df = spark.createDataFrame(
            [(bytearray(bytes(sk)),), (bytearray(v3),)], "s binary"
        )
        est3, orig = (
            df.select(
                F.theta_sketch_estimate(F.col("s")).alias("e")
            ).collect()
        )
        union = df.agg(
            F.theta_sketch_estimate(F.theta_union_agg("s", F.lit(12))).alias("e")
        ).collect()[0]["e"]
        assert est3["e"] == pytest.approx(orig["e"], rel=1e-9)
        assert union == pytest.approx(orig["e"], rel=1e-9)


def test_theta_v4_to_v3_matches_datasketches_java(spark):
    # datasketches-java (in Spark's jars) is the oracle: heapifying the
    # serVer 4 sketch and writing it back gives serVer 3, preamble (p =
    # 1.0f at bytes 12..16) and hashes, in exact and estimation mode
    sizes = (2, 3, 10, 100, 4095, 4096, 4097, 15000, 200000)
    aggs = [
        F.theta_sketch_agg(F.when(F.col("id") < n, F.col("id").cast(t))).alias(f"{t}{n}")
        for t in ("double", "bigint")
        for n in (0, 1, *sizes)
    ]
    row = spark.range(200000).agg(*aggs).collect()[0]
    jvm = spark._jvm.org.apache.datasketches
    for t in ("double", "bigint"):
        for n in (0, 1):  # empty and single-item sketches are serVer 3 already
            sk = bytes(row[f"{t}{n}"])
            assert sk[1] == 3 and theta_v4_to_v3(sk) == sk, (t, n)
        for n in sizes:
            sk = bytes(row[f"{t}{n}"])
            java = jvm.theta.CompactSketch.heapify(jvm.memory.Memory.wrap(bytearray(sk)))
            assert sk[1] == 4 and theta_v4_to_v3(sk) == bytes(java.toByteArray()), (t, n)


def test_write_read_roundtrip(spark, tmp_path):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    out = str(tmp_path / "profiles.bin")
    n_msgs = write_profile_bin(
        li, out, group_by=["l_returnflag"], session_id="round-trip",
        session_timestamp=1700000000000,
    )
    assert n_msgs == 3  # A / N / R

    back = read_profile_bin(spark, out)
    rows = back.collect()
    # one message per group, one row per profiled column
    by_tag: dict = {}
    for r in rows:
        by_tag.setdefault(r["tags"]["whylogs.tag.l_returnflag"], {})[
            r["column_name"]
        ] = r
    assert set(by_tag) == {"A", "N", "R"}

    expect = {
        (r["l_returnflag"], r["column_name"]): r
        for r in profile(li, group_by=["l_returnflag"]).collect()
    }
    for flag, cols in by_tag.items():
        for name, got in cols.items():
            e = expect[(flag, name)]
            assert got["count"] == e["count"], (flag, name)
            assert got["null_count"] == e["null_count"]
            assert got["n"] == (e["n"] or 0)
            if e["n"]:
                assert got["min"] == pytest.approx(e["min"], rel=1e-6)
                assert got["max"] == pytest.approx(e["max"], rel=1e-6)
                assert got["mean"] == pytest.approx(e["mean"], rel=1e-6)
                if e["variance"] is not None:
                    assert got["variance"] == pytest.approx(e["variance"], rel=1e-6)
    # session/tag metadata round-trips
    any_row = rows[0]
    assert any_row["session_id"] == "round-trip"
    assert any_row["session_timestamp"] == 1700000000000
    # sketches written by Spark remain estimable after the wire round trip
    num = by_tag["A"]["l_quantity"]
    one = spark.createDataFrame([(bytearray(num["theta"]),)], "t binary")
    est = one.select(F.theta_sketch_estimate("t").alias("e")).collect()[0]["e"]
    assert 40 <= est <= 60  # ~50 distinct quantities
    assert bytes(num["theta"])[1] == 3  # written as serVer 3 for old readers


def test_items_sketch_fixture_decode():
    # the golden fixture's home_ownership ItemsSketch holds exactly the
    # three tenure values with full-count accuracy
    from whylogs_java_spark.sources.protobuf import decode_items_sketch

    p = _first_profile(f"{FIXTURES}/profiles-1.bin")
    items = decode_items_sketch(p["columns"]["home_ownership"]["frequent_items"])
    # the fixture was written by old whylogs-python, which JSON-encodes the
    # tracked values — the quotes are data, not wire format
    assert items == [('"MORTGAGE"', 31154), ('"RENT"', 26188), ('"OWN"', 7627)]


def test_items_sketch_roundtrip_and_wire(spark, tmp_path):
    from whylogs_java_spark.sources.protobuf import (
        decode_items_sketch,
        items_sketch_bytes,
    )

    pairs = [("alpha", 500), ("beta", 300), ("gamma", 7)]
    b = items_sketch_bytes(pairs, stream_length=1000)
    assert b[0] == 4 and b[1] == 1 and b[2] == 10  # non-empty preamble
    assert decode_items_sketch(b) == pairs
    assert decode_items_sketch(items_sketch_bytes([])) == []

    # end to end: written profiles carry real per-column frequent items
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    out = str(tmp_path / "fi.bin")
    write_profile_bin(li, out, group_by=["l_returnflag"])
    back = read_profile_bin(spark, out)
    row = back.where(
        "column_name = 'l_linestatus' AND tags['whylogs.tag.l_returnflag'] = 'R'"
    ).collect()[0]
    fi = row["frequent_items"]
    truth = dict(
        li.where("l_returnflag = 'R'")
        .groupBy("l_linestatus")
        .count()
        .rdd.map(tuple)
        .collect()
    )
    assert fi == truth  # exact counts survive the wire


def test_merge_profile_bins_equals_whole(spark, tmp_path):
    # DatasetProfile.merge over the wire format: profile(half A) merged
    # with profile(half B) == profile(all), per column
    from whylogs_java_spark.sources.protobuf import merge_profile_bins

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    pa, pb, pw, pm = (str(tmp_path / x) for x in ("a.bin", "b.bin", "whole.bin", "m.bin"))
    write_profile_bin(li.filter("l_orderkey % 2 = 0"), pa, session_id="a")
    write_profile_bin(li.filter("l_orderkey % 2 = 1"), pb, session_id="b")
    write_profile_bin(li, pw, session_id="whole")
    n = merge_profile_bins(spark, [pa, pb], pm)
    assert n == 1  # same (empty) tag set -> one merged message

    merged = {r["column_name"]: r for r in read_profile_bin(spark, pm).collect()}
    whole = {r["column_name"]: r for r in read_profile_bin(spark, pw).collect()}
    assert set(merged) == set(whole)
    for name, w in whole.items():
        m = merged[name]
        for f in ("count", "null_count", "true_count", "integral_count",
                  "fractional_count", "string_count", "n", "len_n", "tok_n"):
            assert m[f] == w[f], (name, f)
        # derived stats carry the engine's 6-decimal finalize rounding, so
        # recombining rounded halves agrees with the rounded whole only to
        # that granularity
        for f in ("min", "max", "sum", "mean", "variance",
                  "len_min", "len_max", "len_mean", "len_variance",
                  "tok_mean", "tok_variance"):
            if w[f] is None:
                assert m[f] is None, (name, f)
            else:
                assert m[f] == pytest.approx(w[f], rel=1e-6, abs=2e-6), (name, f)
        # untruncated frequent-item lists (< 96-entry cap) merge exactly;
        # truncated ones lose tail items by construction — same reason the
        # reference's ItemsSketch has error bounds after purging
        if len(w["frequent_items"]) < 96:
            assert m["frequent_items"] == w["frequent_items"], name
    # merged theta sketch still estimates the union cardinality
    t = merged["l_orderkey"]["theta"]
    one = spark.createDataFrame([(bytearray(t),)], "t binary")
    est = one.select(F.theta_sketch_estimate("t").alias("e")).collect()[0]["e"]
    exact = li.select("l_orderkey").distinct().count()
    assert est == pytest.approx(exact, rel=0.05)


def test_items_sketch_offset_roundtrip():
    from whylogs_java_spark.sources.protobuf import (
        decode_items_sketch,
        items_sketch_bytes,
        items_sketch_offset,
    )

    pairs = [("a", 100), ("b", 40), ("c", 7)]
    b = items_sketch_bytes(pairs, offset=5)
    assert items_sketch_offset(b) == 5
    # estimates reconstruct (stored count + offset)
    assert decode_items_sketch(b) == pairs
    assert items_sketch_offset(items_sketch_bytes(pairs)) == 0
    assert items_sketch_offset(items_sketch_bytes([])) == 0


def test_items_saturation_offset_semantics():
    from whylogs_java_spark.sources.protobuf import items_saturation_offset

    # below both caps: exact sketch, no declared error
    small = [(f"v{i}", 100 - i) for i in range(50)]
    assert items_saturation_offset(small, fetched_k=128) == 0
    # past the 96-entry serializer cap: offset = the first dropped count,
    # the max undercount any absent value can carry
    big = [(f"v{i:03d}", 500 - i) for i in range(120)]
    assert items_saturation_offset(big, fetched_k=128) == 500 - 96
    # small fetch cap that saturated: only the min kept count is sound
    assert items_saturation_offset(small, fetched_k=50) == 100 - 49


def test_write_saturated_items_keeps_no_false_negative_bound(spark, tmp_path):
    """A 150-distinct-value column truncated through the 96-entry cap must
    declare a purge offset ≥ every dropped count (the reference's
    saturated-ItemsSketch guarantee, FrequentStringsSketch.java:18-48)."""
    from whylogs_java_spark.sources.protobuf import (
        read_profile_bin,
        write_profile_bin,
    )

    rows = [(f"cat{i:03d}",) for i in range(150) for _ in range(150 - i)]
    df = spark.createDataFrame(rows, "label string")
    out = str(tmp_path / "sat.bin")
    write_profile_bin(df, out, include_sketches=False)
    col = {
        r["column_name"]: r for r in read_profile_bin(spark, out).collect()
    }["label"]
    off = col["frequent_items_offset"]
    kept = sorted(col["frequent_items"].items(), key=lambda kv: -kv[1])
    assert len(kept) == 96
    # true counts are 150-i; ranks 96..149 were dropped with max count 150-96
    assert off == 150 - 96
    # no false negatives: every absent value's true count <= offset
    kept_vals = {v for v, _ in kept}
    for i in range(150):
        if f"cat{i:03d}" not in kept_vals:
            assert (150 - i) <= off
    # kept items keep exact estimates (stored + offset == true count)
    for v, est in kept:
        i = int(v[3:])
        assert est == 150 - i


def test_merge_preserves_properties_and_offset(spark, tmp_path):
    # DatasetProfile.merge contract: data_timestamp survives (earliest real
    # input), metadata keeps the k/v pairs shared by every input; a merge of
    # saturated (>=96-entry) frequent-item sketches declares a nonzero
    # offset instead of claiming exact counts
    from whylogs_java_spark.sources.protobuf import merge_profile_bins

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    pa, pb, pm = (str(tmp_path / x) for x in ("a.bin", "b.bin", "m.bin"))
    write_profile_bin(
        docs.filter("doc_id % 2 = 0"), pa, session_id="a",
        data_timestamp=2000, metadata={"env": "prod", "only_a": "1"},
    )
    write_profile_bin(
        docs.filter("doc_id % 2 = 1"), pb, session_id="b",
        data_timestamp=1000, metadata={"env": "prod", "only_a": "2"},
    )
    merge_profile_bins(spark, [pa, pb], pm)
    rows = read_profile_bin(spark, pm).collect()
    r = {x["column_name"]: x for x in rows}
    assert all(x["data_timestamp"] == 1000 for x in rows)
    assert all(x["metadata"] == {"env": "prod"} for x in rows)
    # text has far more than 96 distinct values in each half: the merged
    # sketch must carry a nonzero purge offset (honest bounds)
    assert r["text"]["frequent_items_offset"] >= 1


def test_merge_profile_bins_nulls_nonfinite_models_metadata(spark, tmp_path):
    # a three-file merge == the profile of the concatenated rows, with an
    # all-NULL column, a column NULL in one file only, NaN/±Inf doubles,
    # model metrics and partly shared metadata. Every per-file and total
    # mean/variance is exact at the 6-decimal finalize rounding, so the
    # merge must agree to rel 1e-9; a NULL that became NaN on the way into
    # the merge (mean, min, variance of `sparse` in file 1) breaks it
    import functools
    import math

    from whylogs_java_spark.sources.protobuf import (
        merge_model_dicts,
        merge_profile_bins,
        regression_model_dict,
    )

    nan, inf = float("nan"), float("inf")
    schema = "allnull double, sparse double, x double, k long, s string"
    files = [
        [(None, None, 1.5, 1, "a"), (None, None, nan, 5, "bb"),
         (None, None, inf, None, None), (None, None, 2.5, None, None)],
        [(None, 1.0, -inf, 2, "a"), (None, 3.0, 4.0, 6, "c d"),
         (None, None, None, None, None), (None, None, 6.0, None, None)],
        [(None, 5.0, 2.0, 7, "g h i"), (None, 7.0, nan, 9, "mmm"),
         (None, 9.0, 8.0, None, None), (None, None, None, None, None)],
    ]
    metas = [
        {"team": "a", "run": "1"}, {"team": "a", "run": "2"}, {"team": "a", "src": "x"},
    ]
    paths = [str(tmp_path / f"p{i}.bin") for i in range(3)]
    frames = [spark.createDataFrame(rows, schema) for rows in files]
    for i, (df, p) in enumerate(zip(frames, paths)):
        model = regression_model_dict(
            {"count": 4 + i, "sum_abs_diff": 0.5 * (i + 1),
             "sum_diff": -0.25 * i, "sum2_diff": 1.5 + i},
            "pred", "tgt",
        )
        write_profile_bin(df, p, metadata=metas[i], model=model)
    out = str(tmp_path / "m.bin")
    assert merge_profile_bins(spark, paths, out) == 1

    def decoded(path):
        return [decode_dataset_profile(m) for m in iter_delimited(open(path, "rb").read())]

    (merged,) = decoded(out)
    # the all-NULL column keeps no extremes and no NaN moments
    nums = merged["columns"]["allnull"]["numbers"]
    assert nums.get("doubles") is None and nums.get("longs") is None
    assert nums["variance"]["count"] == 0
    assert not any(math.isnan(v) for v in nums["variance"].values())
    # models merge per tag group with ModelMetrics.merge; metadata keeps the
    # pairs every input shares
    want = functools.reduce(merge_model_dicts, [decoded(p)[0]["model"] for p in paths])
    assert {k: v for k, v in merged["model"].items() if v is not None} == want
    assert merged["properties"]["metadata"] == {"team": "a"}

    got = {r["column_name"]: r for r in read_profile_bin(spark, out).collect()}
    whole = frames[0].unionByName(frames[1]).unionByName(frames[2])
    truth = {r["column_name"]: r for r in profile(whole).collect()}
    assert set(got) == set(truth)
    assert got["allnull"]["min"] is None and got["allnull"]["max"] is None
    for name, t in truth.items():
        g = got[name]
        for f in ("count", "null_count", "n", "len_n", "tok_n"):
            assert g[f] == t[f], (name, f)
        for f in ("min", "max", "sum", "mean", "variance",
                  "len_min", "len_max", "len_sum", "len_mean", "len_variance",
                  "tok_min", "tok_max", "tok_sum", "tok_mean", "tok_variance"):
            if t[f] is None:
                assert g[f] is None, (name, f)
            else:
                # read_profile_bin reads a NaN on the wire as NULL
                assert g[f] is not None, (name, f)
                assert g[f] == pytest.approx(t[f], rel=1e-9, abs=0), (name, f)


def _events_cls_df(spark):
    from whylogs_java_spark.sources.parquet import load_table

    ev = load_table(spark, SF_DIR, "events")
    return ev.select(
        "event_id",
        (F.col("value") > 50).alias("pred"),
        ((F.col("value") + (F.col("event_id") % 20) - 10) > 50).alias("tgt"),
        F.col("value").alias("score"),
    )


def test_model_profile_classification_roundtrip(spark, tmp_path):
    # ScoreMatrixMessage write -> parse: labels, confusion counts and
    # per-cell score stats survive the wire (ModelProfile.toProtobuf /
    # ClassificationMetrics.java:206-224 parity)
    from whylogs_java_spark.operators.model import confusion_matrix
    from whylogs_java_spark.sources.protobuf import (
        classification_model_dict,
        decode_dataset_profile,
        iter_delimited,
        write_profile_bin,
    )

    ev = _events_cls_df(spark)
    cm_rows = confusion_matrix(ev, "pred", "tgt", score="score").collect()
    model = classification_model_dict(cm_rows, "pred", "tgt", "score")
    out = str(tmp_path / "cls.bin")
    write_profile_bin(ev.select("pred", "tgt", "score"), out, model=model)

    msg = next(iter(iter_delimited(open(out, "rb").read())))
    got = decode_dataset_profile(msg)["model"]
    assert got["model_type"] == 1
    cls = got["classification"]
    assert cls["labels"] == ["0", "1"]
    assert cls["prediction_field"] == "pred"
    assert cls["target_field"] == "tgt"
    assert cls["score_field"] == "score"
    truth = {
        (r["prediction"], r["target"]): r for r in cm_rows
    }
    for key, r in truth.items():
        assert cls["confusion"][key] == r["count"], key
        cell = cls["cells"][key]
        assert cell["score_min"] == pytest.approx(r["score_min"], abs=1e-6)
        assert cell["score_max"] == pytest.approx(r["score_max"], abs=1e-6)
        assert cell["score_mean"] == pytest.approx(r["score_mean"], abs=1e-4)
        assert cell["score_variance"] == pytest.approx(r["score_variance"], rel=1e-3)


def test_model_profile_merge_equals_whole(spark, tmp_path):
    # merge of two half-profiles' score matrices == the whole profile's
    # (ClassificationMetrics.merge / ModelMetrics.merge parity)
    from whylogs_java_spark.operators.model import confusion_matrix
    from whylogs_java_spark.sources.protobuf import (
        classification_model_dict,
        decode_dataset_profile,
        iter_delimited,
        merge_profile_bins,
        write_profile_bin,
    )

    ev = _events_cls_df(spark)
    pa, pb, pm = (str(tmp_path / x) for x in ("a.bin", "b.bin", "m.bin"))
    halves = [ev.filter("event_id % 2 = 0"), ev.filter("event_id % 2 = 1")]
    for half, p in zip(halves, (pa, pb)):
        rows = confusion_matrix(half, "pred", "tgt", score="score").collect()
        write_profile_bin(
            half.select("pred", "tgt", "score"), p,
            model=classification_model_dict(rows, "pred", "tgt", "score"),
        )
    merge_profile_bins(spark, [pa, pb], pm)
    got = decode_dataset_profile(
        next(iter(iter_delimited(open(pm, "rb").read())))
    )["model"]
    assert got["model_type"] == 1
    whole = {
        (r["prediction"], r["target"]): r
        for r in confusion_matrix(ev, "pred", "tgt", score="score").collect()
    }
    cls = got["classification"]
    assert set(cls["confusion"]) == set(whole)
    for key, r in whole.items():
        assert cls["confusion"][key] == r["count"], key
        cell = cls["cells"][key]
        assert cell["score_mean"] == pytest.approx(r["score_mean"], abs=1e-4)
        assert cell["score_variance"] == pytest.approx(r["score_variance"], rel=1e-3)


def test_model_profile_regression_rewrite_matches_golden(spark, tmp_path):
    # re-encode the golden fixture's regression metrics through our writer
    # and parse back — field-for-field equality with the fixture's values
    from whylogs_java_spark.sources.protobuf import (
        decode_dataset_profile,
        iter_delimited,
        regression_model_dict,
        write_profile_bin,
    )

    golden = _first_profile(f"{FIXTURES}/regression.bin")["model"]["regression"]
    model = regression_model_dict(golden, "predictions", "targets")
    df = spark.range(3).selectExpr("CAST(id AS DOUBLE) AS v")
    out = str(tmp_path / "reg.bin")
    write_profile_bin(df, out, model=model)
    got = decode_dataset_profile(
        next(iter(iter_delimited(open(out, "rb").read())))
    )["model"]
    assert got["model_type"] == 2
    for f in ("prediction_field", "target_field", "count"):
        assert got["regression"][f] == golden[f]
    for f in ("sum_abs_diff", "sum_diff", "sum2_diff"):
        assert got["regression"][f] == pytest.approx(golden[f], rel=1e-12)


def _kll_n(b: bytes) -> int:
    """Item count of a KLL floats sketch binary: a 2-int preamble holds an
    empty (flags bit 0) or single-item sketch, a full one stores n as the
    int64 at byte 8."""
    if b[0] & 0x3F == 2:
        return 0 if b[3] & 1 else 1
    return int.from_bytes(b[8:16], "little", signed=True)


def test_distributed_sink_matches_driver_sink(spark, tmp_path):
    # executor-side assembly runs the driver-side sink's per-group
    # assembler: every decoded field of every message agrees, theta and
    # HLL bytes included; KLL sketches compare by n, as their compaction
    # is randomised. Without sketches the messages are byte-identical
    from whylogs_java_spark.sources.protobuf import write_profile_bin_distributed

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")

    def messages(path):
        return {
            decode_dataset_profile(m)["properties"]["tags"]["whylogs.tag.l_returnflag"]: m
            for m in iter_delimited(open(path, "rb").read())
        }

    def decoded(msg):
        p = decode_dataset_profile(msg)
        for col in p["columns"].values():
            nums = col["numbers"]
            if nums and nums["kll"] is not None:
                nums["kll"] = _kll_n(nums["kll"])
        return p

    for i, kwargs in enumerate(({}, {"include_sketches": False})):
        pd_, pc = str(tmp_path / f"dist{i}.bin"), str(tmp_path / f"cli{i}.bin")
        n1 = write_profile_bin_distributed(li, pd_, group_by=["l_returnflag"], **kwargs)
        n2 = write_profile_bin(li, pc, group_by=["l_returnflag"], **kwargs)
        assert n1 == n2 == 3
        da, dc = messages(pd_), messages(pc)
        assert set(da) == set(dc) == {"A", "N", "R"}
        for tag, msg in dc.items():
            assert decoded(da[tag]) == decoded(msg), (kwargs, tag)
            if kwargs:
                assert da[tag] == msg, tag
        if not kwargs:
            # the comparison covers the sketches: a numeric column carries
            # KLL and theta binaries, an HLL one and its frequent items
            qty = decoded(dc["A"])["columns"]["l_quantity"]
            assert qty["numbers"]["kll"] > 0 and len(qty["numbers"]["theta"]) > 8
            assert qty["hll"] and qty["frequent_items"]


def test_distributed_sink_many_groups_merge(spark, tmp_path):
    # thousands of groups: sharded write -> read back -> halves==whole wire merge;
    # the driver only streams message bytes (toLocalIterator), it never
    # holds the group set
    from whylogs_java_spark.sources.protobuf import (
        merge_profile_bins,
        write_profile_bin_distributed,
    )

    base = spark.range(60_000).selectExpr(
        "id % 3000 AS g",
        "CAST(id % 97 AS DOUBLE) AS v",
        "CAST(id % 7 AS STRING) AS s",
    )
    pa, pb, pw, pm = (
        str(tmp_path / x) for x in ("a.bin", "b.bin", "w.bin", "m.bin")
    )
    common = dict(group_by=["g"], include_sketches=False, frequent_items_k=4)
    assert write_profile_bin_distributed(
        base.where("id < 30000"), pa, **common) == 3000
    assert write_profile_bin_distributed(
        base.where("id >= 30000"), pb, **common) == 3000
    assert write_profile_bin_distributed(base, pw, **common) == 3000
    assert merge_profile_bins(spark, [pa, pb], pm) == 3000

    merged = read_profile_bin(spark, pm)
    whole = read_profile_bin(spark, pw)
    # per-(group, column) counts and sums agree between merged halves and
    # the whole-data write
    m = merged.select(
        F.col("tags")["whylogs.tag.g"].alias("g"), "column_name", "count", "sum"
    )
    w = whole.select(
        F.col("tags")["whylogs.tag.g"].alias("g"), "column_name", "count", "sum"
    )
    diff = m.join(w, on=["g", "column_name"], how="full").where(
        (m["count"] != w["count"])
        | (F.abs(F.coalesce(m["sum"], F.lit(0)) - F.coalesce(w["sum"], F.lit(0))) > 1e-6)
    )
    assert m.count() == w.count() == 6000  # 3k groups x (v, s)
    assert diff.count() == 0


def test_chunked_sink_merges_to_whole(spark, tmp_path):
    """The ≤1MB column-chunk emission (DatasetProfile.toChunkIterator
    semantics): small cap -> multiple messages per group, each under the
    cap, sharing a chunk marker; merge_profile_bins reconstructs the
    unchunked profile exactly."""
    from whylogs_java_spark.sources.protobuf import (
        iter_delimited,
        merge_profile_bins,
        read_profile_bin,
        write_profile_bin,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    whole = str(tmp_path / "whole.bin")
    chunked = str(tmp_path / "chunked.bin")
    n_whole = write_profile_bin(li, whole, group_by=["l_returnflag"])
    cap = 2000  # force several chunks per group (11 columns/group)
    n_chunked = write_profile_bin(
        li, chunked, group_by=["l_returnflag"], chunk_bytes=cap
    )
    assert n_chunked > n_whole

    # every chunk is a parseable message under the cap (plus fixed
    # properties overhead) and carries the marker metadata
    from whylogs_java_spark.sources.protobuf import decode_dataset_profile

    markers = set()
    with open(chunked, "rb") as f:
        data = f.read()
    for msg in iter_delimited(data):
        prof = decode_dataset_profile(msg)
        # under the cap (+ fixed properties overhead) unless it's a single
        # oversized column, which opens its own chunk (the reference's
        # overflow-flush rule)
        assert len(prof["columns"]) == 1 or len(msg) <= cap + 1500
        markers.add(
            (
                prof["properties"]["tags"]["whylogs.tag.l_returnflag"],
                prof["properties"]["metadata"]["whylogs.chunk.marker"],
            )
        )
    # one marker per group, shared by that group's chunks — and the
    # marker ALONE is unique per group (group tags fold into its hash):
    # a marker-based reader can regroup a profile's chunks without
    # consulting tags, matching the reference's per-profile UUID marker
    # (DatasetProfile.java:193)
    assert len(markers) == n_whole
    assert len({m for _, m in markers}) == n_whole

    merged = str(tmp_path / "merged.bin")
    merge_profile_bins(spark, chunked, merged)
    a = {
        (r["tags"]["whylogs.tag.l_returnflag"], r["column_name"]): r
        for r in read_profile_bin(spark, merged).drop("path", "msg_index").collect()
    }
    b = {
        (r["tags"]["whylogs.tag.l_returnflag"], r["column_name"]): r
        for r in read_profile_bin(spark, whole).drop("path", "msg_index").collect()
    }
    assert set(a) == set(b)
    for k in b:
        for field in ("count", "null_count", "min", "max", "sum", "mean",
                      "variance", "frequent_items"):
            av, bv = a[k][field], b[k][field]
            if isinstance(bv, float):
                assert av == pytest.approx(bv, rel=1e-9), (k, field)
            else:
                assert av == bv, (k, field)


def test_chunked_sink_packs_multiple_columns(spark, tmp_path):
    """Without sketches, column messages are small: the greedy packer must
    put several columns per chunk while respecting the cap."""
    from whylogs_java_spark.sources.protobuf import (
        decode_dataset_profile,
        iter_delimited,
        write_profile_bin,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    chunked = str(tmp_path / "lean_chunks.bin")
    cap = 700
    n = write_profile_bin(
        li, chunked, group_by=["l_returnflag"], chunk_bytes=cap,
        include_sketches=False, frequent_items_k=0,
    )
    with open(chunked, "rb") as f:
        data = f.read()
    col_counts = []
    for msg in iter_delimited(data):
        prof = decode_dataset_profile(msg)
        col_counts.append(len(prof["columns"]))
        assert len(prof["columns"]) == 1 or len(msg) <= cap + 1500
    assert max(col_counts) > 1          # packing happened
    assert 3 < n < 33                   # chunked, but not one-per-column


def _walk_variance_fields(msg: bytes, column: str) -> tuple:
    """Raw-wire extraction of (count, sum, mean) from one column's
    VarianceMessage — NOT via our reader's row builder, so the test
    exercises exactly the bytes a reference-era reader walks.
    Layout (messages proto mirrored at protobuf.py:24): column entry =
    DatasetProfileMessage field 2 {1: name, 2: ColumnMessage}; numbers =
    ColumnMessage field 4; variance = NumbersMessage field 1
    {count=1 varint, sum=2 double, mean=3 double}."""
    from whylogs_java_spark.sources.protobuf import _dbl, _i64, _iter_fields

    for fn, _, v in _iter_fields(msg):
        if fn != 2:
            continue
        name, colmsg = None, None
        for efn, _, ev in _iter_fields(v):
            if efn == 1:
                name = ev.decode("utf-8")
            elif efn == 2:
                colmsg = ev
        if name != column:
            continue
        for cfn, _, cv in _iter_fields(colmsg):
            if cfn != 4:
                continue
            for nfn, nwt, nv in _iter_fields(cv):
                if nfn == 1:
                    cnt = sm = mn = None
                    for vfn, vwt, vv in _iter_fields(nv):
                        if vfn == 1:
                            assert vwt == 0  # varint, count
                            cnt = _i64(vv)
                        elif vfn == 2:
                            assert vwt == 1  # 64-bit double, M2 'sum'
                            sm = _dbl(vv)
                        elif vfn == 3:
                            assert vwt == 1
                            mn = _dbl(vv)
                    return cnt, sm, mn
    raise AssertionError(f"no VarianceMessage for {column!r}")


def test_variance_wire_big_magnitude_reference_reader_interop(spark, tmp_path):
    """r12 verdict item 7: the VarianceMessage 'sum' field is the
    Welford M2 state a reference-era reader rebuilds variance from
    (VarianceTracker.java:35-45: variance = sum / (count - 1)) and
    MERGES with the Chan parallel rule (VarianceTracker.java:48-69).
    Both formulas are replayed HERE, in python, over the raw wire
    fields of a round-tripped big-magnitude profile — pre-r12, the
    naive sum-of-squares M2 at epoch-ms magnitude would be
    catastrophically cancelled, so this pins the m2 interop the same
    way the theta serVer4->3 tests pin sketch interop."""
    import math

    from whylogs_java_spark.sources.protobuf import iter_delimited

    # epoch-ms-scale values: base 1.7e12, spread 0..999 over two halves
    n, base = 1000, 1.7e12
    rows_a = [(float(base + i),) for i in range(0, n, 2)]
    rows_b = [(float(base + i),) for i in range(1, n, 2)]
    df_a = spark.createDataFrame(rows_a, "x double")
    df_b = spark.createDataFrame(rows_b, "x double")
    pa = str(tmp_path / "a.bin")
    pb = str(tmp_path / "b.bin")
    assert write_profile_bin(df_a, pa) == 1
    assert write_profile_bin(df_b, pb) == 1

    msg_a = next(iter(iter_delimited(open(pa, "rb").read())))
    msg_b = next(iter(iter_delimited(open(pb, "rb").read())))
    ca, sa, ma = _walk_variance_fields(msg_a, "x")
    cb, sb, mb = _walk_variance_fields(msg_b, "x")
    assert ca == cb == n // 2

    # (a) the reference READER's reconstruction on each half
    def py_var(vals):
        mu = sum(vals) / len(vals)
        return sum((v - mu) ** 2 for v in vals) / (len(vals) - 1)

    truth_a = py_var([v for (v,) in rows_a])
    assert sa / (ca - 1.0) == pytest.approx(truth_a, rel=1e-9)

    # (b) the reference MERGER (VarianceTracker.add, Chan form) over
    # the two wire states reconstructs the WHOLE corpus variance
    delta = ma - mb
    total = ca + cb
    s = sa + sb + math.pow(delta, 2) * ca * cb / float(total)
    truth_all = py_var([float(base + i) for i in range(n)])
    assert s / (total - 1.0) == pytest.approx(truth_all, rel=1e-9)
    # magnitude sanity: the truth is ~8.3e4 against ~2.9e24 raw squared
    # sums — 20 orders of cancellation headroom the m2 atom absorbs
    assert 8.3e4 < truth_all < 8.4e4


def test_variance_wire_golden_bytes_pin():
    """Drift guard: the exact VarianceMessage bytes for a fixed
    (count, mean, m2) — field order count(1), sum(2), mean(3) with
    IEEE little-endian doubles, the layout DatasetProfileTest-era
    readers parse."""
    from whylogs_java_spark.sources.protobuf import _variance_msg

    got = _variance_msg(3, 2.5, 4.5)
    assert got.hex() == (
        "0803"                  # field 1 varint 3
        "11" + "0000000000001240"  # field 2 double 4.5
        "19" + "0000000000000440"  # field 3 double 2.5
    )


def test_column_names_needing_quotes(spark, tmp_path):
    """Column names with a space, a quote, a hyphen, a dot or a backtick
    profile through both atoms plans and both wire sinks, and decode back
    to the same names."""
    from whylogs_java_spark.operators.profile import (
        finalize_profile,
        profile_atoms,
        profile_atoms_melted,
    )
    from whylogs_java_spark.sources.protobuf import write_profile_bin_distributed

    names = ["a b", "it's", "a-b", "a.b", "x`y"]
    df = spark.createDataFrame(
        [("g", 1, 2.0, "x", 4, True), ("h", None, None, "it's", 5, None)],
        "tag string, `a b` long, `it's` double, `a-b` string, `a.b` int, `x``y` boolean",
    )
    for atoms in (profile_atoms, profile_atoms_melted):
        fin = finalize_profile(atoms(df, group_by=["tag"], null_strings=("",)), ["tag"])
        assert sorted({r["column_name"] for r in fin.collect()}) == sorted(names)
    for write in (write_profile_bin, write_profile_bin_distributed):
        path = str(tmp_path / f"{write.__name__}.bin")
        assert write(df, path, group_by=["tag"]) == 2
        for msg in iter_delimited(open(path, "rb").read()):
            cols = decode_dataset_profile(msg)["columns"]
            assert sorted(cols) == sorted(names)
            assert cols["a b"]["count"] == 1


def test_hll_skips_null_like_values(spark, tmp_path):
    """HLL counts only values the reference tracks: NaN, ±Inf and
    ``null_strings`` members are nulls there, checked before any tracker
    update, so each column's HLL estimate is its 2 real distinct values
    (not 4 and 3). Both wire sinks write the same HLL bytes."""
    from whylogs_java_spark.sources.protobuf import write_profile_bin_distributed

    df = spark.createDataFrame(
        [
            ("g", 1.0, "x"),
            ("g", float("nan"), "NA"),
            ("g", float("inf"), "y"),
            ("g", 2.0, None),
        ],
        "tag string, d double, s string",
    )
    hll = {}
    for write in (write_profile_bin, write_profile_bin_distributed):
        path = str(tmp_path / f"{write.__name__}.bin")
        assert write(df, path, group_by=["tag"], null_strings=["NA"]) == 1
        est = {
            r["column_name"]: r["h"]
            for r in read_profile_bin(spark, path)
            .select("column_name", F.hll_sketch_estimate("hll").alias("h"))
            .collect()
        }
        assert est == {"d": 2, "s": 2}, write.__name__
        (msg,) = iter_delimited(open(path, "rb").read())
        cols = decode_dataset_profile(msg)["columns"]
        hll[write.__name__] = {c: cols[c]["hll"] for c in ("d", "s")}
    assert hll["write_profile_bin"] == hll["write_profile_bin_distributed"]
