"""Quantitative tolerance pins for every rows-only (no-SQL-oracle) query.

The driver's correctness gate can only count rows for sketch/float-tier
queries; these tests bound each one against its exact twin so "no oracle"
never means "unchecked":

- approx quantiles within the sketch's normalized rank error,
- HLL/theta uniques within 3x their relative standard error,
- fast float tiers reproduce the exact tier's pair/neighbor sets,
- IVF recall floors, SimHash determinism.
(profile_wire_fixture and compression_documents graduated to
hash-checked BRACKET oracles in r11 — golden-fixture constants /
zlib invariants; field-level pins live in tests/test_protobuf.py and
the compression tests in tests/test_pipeline_ops.py.)
"""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402


def _exact_bracket(df, col: str, q: float, eps: float) -> tuple[float, float]:
    lo_q, hi_q = max(0.0, q - eps), min(1.0, q + eps)
    p = df.agg(
        F.percentile(F.col(col).cast("double"), F.lit([lo_q, hi_q])).alias("p")
    ).collect()[0]["p"]
    return p[0], p[1]


def test_quantiles_sketch_within_rank_error(spark):
    # sketch tier = percentile_approx(accuracy=10000): each returned value
    # must lie between the exact group quantiles at q +/- 1/accuracy.
    # (Drives the OPERATOR directly: the entry query now emits the same
    # bracket as hash-checked booleans — see q_quantiles_lineitem_sketch.)
    from whylogs_java_spark.operators.summary import quantile_summary

    sketch_rows = quantile_summary(
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet"),
        ["l_quantity", "l_extendedprice", "l_discount"],
        group_by=["l_returnflag"],
        quantiles=entry.QUANTILES,
    ).collect()
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    groups = {r["l_returnflag"] for r in sketch_rows}
    subsets = {g: li.where(F.col("l_returnflag") == g) for g in groups}
    counts = {g: subsets[g].count() for g in groups}
    for r in sketch_rows:
        # GK guarantee is in rank space; at small group sizes allow +/- 2
        # ranks on top of the 1/accuracy floor
        eps = max(1.0 / 10000, 2.0 / counts[r["l_returnflag"]])
        lo, hi = _exact_bracket(
            subsets[r["l_returnflag"]], r["column_name"], r["quantile"], eps
        )
        assert lo - 1e-9 <= r["value"] <= hi + 1e-9, tuple(r)


def test_uniques_sketch_within_3rsd(spark):
    # HLL++ rsd 0.016 (lgK=12 parity): estimate within 3*rsd of exact
    # (Drives the OPERATOR directly: the entry query now emits this
    # bracket as a hash-checked boolean — see q_uniques_lineitem_sketch.)
    from whylogs_java_spark.operators.summary import unique_counts

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"]
    exact = {
        r["column_name"]: r["unique_count"]
        for r in unique_counts(li, cols, tier="exact").collect()
    }
    sketch = {
        r["column_name"]: r["unique_count"]
        for r in unique_counts(li, cols).collect()
    }
    assert set(exact) == set(sketch)
    for col, n in exact.items():
        est = sketch[col]
        assert abs(est - n) <= max(3 * 0.016 * n, 1), (col, n, est)


def test_sketch_summary_within_bounds(spark):
    # per group: theta estimate inside its own 1-std-err bounds AND within
    # 3x rse of exact distinct; HLL within 3*rsd; KLL(256) quantiles within
    # 2x the sketch's ~0.0083 normalized rank error.
    # (Drives the OPERATORS directly: the entry query now emits these
    # brackets as hash-checked booleans — see q_sketch_summary_lineitem.)
    from whylogs_java_spark.operators.approx import sketch_profile, sketch_summary

    li0 = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    sk = sketch_profile(
        li0,
        columns=["l_quantity", "l_extendedprice", "l_returnflag"],
        group_by=["l_returnflag"],
    )
    rows = (
        sketch_summary(sk, group_by=["l_returnflag"])
        .select(
            "l_returnflag",
            "column_name",
            "unique_theta",
            "unique_theta_lower",
            "unique_theta_upper",
            "unique_hll",
            F.col("quantiles").getItem(4).alias("median_est"),
        )
        .collect()
    )
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    for r in rows:
        sub = li.where(F.col("l_returnflag") == r["l_returnflag"])
        col = r["column_name"]
        exact = sub.select(col).distinct().count()
        if r["unique_theta"] is not None:
            assert (
                r["unique_theta_lower"] <= r["unique_theta"] <= r["unique_theta_upper"]
            ), col
            assert abs(r["unique_theta"] - exact) <= max(3 * 0.016 * exact, 1), col
        if r["unique_hll"] is not None:
            assert abs(r["unique_hll"] - exact) <= max(3 * 0.016 * exact, 1), col
        if r["median_est"] is not None:
            # KLL(256) normalized rank error ~0.0083; allow 2x + float32 ulp
            lo, hi = _exact_bracket(sub, col, 0.5, 2 * 0.0083)
            slack = max(abs(lo), abs(hi)) * 1e-6 + 1e-6
            assert lo - slack <= r["median_est"] <= hi + slack, (
                r["l_returnflag"], col, r["median_est"],
            )


def test_similarity_topk_fast_matches_exact(spark):
    # the query-frame form (ids 0-19, k=10) agrees with the ids form
    # (SIM_QUERY_IDS, k=5) on the shared query ids/ranks
    exact = {
        (r["query_id"], r["rank"]): r
        for r in entry.queries()["similarity_topk"](spark, SF_DIR).collect()
    }
    fast = {
        (r["query_id"], r["rank"]): r
        for r in entry.queries()["similarity_topk_fast"](spark, SF_DIR).collect()
        if r["query_id"] in set(entry.SIM_QUERY_IDS) and r["rank"] <= 5
    }
    assert set(exact) == set(fast)
    for k, e in exact.items():
        f_ = fast[k]
        assert f_["neighbor_id"] == e["neighbor_id"], k
        assert f_["cosine"] == pytest.approx(e["cosine"], abs=2e-6), k


def test_dedup_embedding_fast_subset_of_exact(spark):
    # production banded+capped tier: no false positives vs the all-pairs
    # exact query, recall bounded below
    exact = {
        (r["id_a"], r["id_b"])
        for r in entry.queries()["dedup_embedding"](spark, SF_DIR).collect()
    }
    fast = {
        (r["id_a"], r["id_b"])
        for r in entry.queries()["dedup_embedding_fast"](spark, SF_DIR).collect()
    }
    assert fast <= exact
    assert len(fast) / len(exact) >= 0.5


def test_similarity_ivf_quality_floor(spark):
    # the test corpus is random vectors (cosines ~0.3, no near-dup
    # structure), so identity recall of the true top-1 is the wrong metric
    # for nprobe=4/16; pin QUALITY instead: per query, (a) the IVF top-1
    # cosine reaches >= 75% of the exact top-1 cosine and never exceeds it,
    # and (b) at least one of the exact top-5 appears in the IVF top-10.
    # (Drives the OPERATOR directly: the entry query now emits the quality
    # floor as hash-checked booleans — see q_similarity_ivf.)
    from whylogs_java_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact_rows = entry.queries()["similarity_topk"](spark, SF_DIR).collect()
    ivf_rows = ivf_topk(
        emb,
        emb.where(F.col("vec_id").isin(entry.SIM_QUERY_IDS)),
        k=10,
        n_centroids=16,
        nprobe=4,
    ).collect()
    exact_top1 = {r["query_id"]: r["cosine"] for r in exact_rows if r["rank"] == 1}
    exact_top5 = {}
    for r in exact_rows:
        exact_top5.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ivf_top1 = {r["query_id"]: r["cosine"] for r in ivf_rows if r["rank"] == 1}
    ivf_ids = {}
    for r in ivf_rows:
        ivf_ids.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for q, best in exact_top1.items():
        assert ivf_top1[q] <= best + 1e-9, q  # probing can't beat brute force
        assert ivf_top1[q] >= 0.75 * best, (q, ivf_top1[q], best)
        assert exact_top5[q] & ivf_ids[q], q


def test_dedup_simhash_deterministic_and_wellformed(spark):
    # xxhash64 fingerprints have no cross-engine twin: pin determinism
    # (identical across independent runs) and shape (16-hex fingerprints;
    # Hamming-distance semantics are pinned in test_operators)
    r1 = entry.queries()["dedup_simhash"](spark, SF_DIR).collect()
    r2 = entry.queries()["dedup_simhash"](spark, SF_DIR).collect()
    s1 = sorted(tuple(x) for x in r1)
    s2 = sorted(tuple(x) for x in r2)
    assert s1 == s2 and len(s1) > 0
    assert all(len(h) == 16 for _, h in s1)


def test_profile_diff_sketch_brackets_exact_twin(spark):
    # KLL(k=256) normalized rank error ~= 1.3% (two-sided, 99%); every
    # sketch-derived score must sit within a rank-error-derived band of
    # the exact numeric_drift twin computed on the SAME halves with the
    # SAME bin edges.
    from whylogs_java_spark.operators.approx import sketch_profile
    from whylogs_java_spark.operators.drift import (
        numeric_drift,
        sketch_profile_diff,
    )

    rank_eps = 0.013
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    ha = li.where(F.col("l_orderkey") % 2 == 0)
    hb = li.where(F.col("l_orderkey") % 2 == 1)
    cols = ["l_quantity", "l_extendedprice"]
    sk = sketch_profile_diff(
        sketch_profile(ha, columns=cols),
        sketch_profile(hb, columns=cols),
        bins=8,
    ).collect()
    assert {r["column_name"] for r in sk} == set(cols)
    for r in sk:
        c = r["column_name"]
        # counts are exact in a KLL sketch (n is tracked, not estimated)
        assert r["count_a"] == ha.where(F.col(c).isNotNull()).count()
        assert r["count_b"] == hb.where(F.col(c).isNotNull()).count()

        # exact twin on the same halves with the sketch's own edges:
        # reconstruct them the same way (combined min/max, 8 equal bins)
        agg = (
            ha.select(F.col(c).cast("double").alias("v"))
            .unionAll(hb.select(F.col(c).cast("double").alias("v")))
            .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
            .first()
        )
        width = (agg["hi"] - agg["lo"]) / 8
        splits = [agg["lo"] + i * width for i in range(1, 8)]
        exact = (
            numeric_drift(ha, hb, c, splits=splits)
            .select("psi", "cdf_linf", "mean_a", "mean_b")
            .first()
        )
        # CDF L-inf: each probed CDF value is off by <= rank_eps per
        # side, so the max-gap is off by <= 2*rank_eps — plus the edge
        # set differs slightly (sketch min/max vs exact min/max), so
        # allow one more rank_eps of slack.
        assert abs(r["cdf_linf"] - exact["cdf_linf"]) <= 3 * rank_eps, (c, r)
        # PSI: with p floored at eps=1e-6 and bin probabilities off by
        # <= 2*rank_eps each, psi error is bounded by
        # sum_bins 2*rank_eps * |log p ratio|; empirically loose-bound
        # at 0.1 absolute for these smooth columns.
        assert abs(r["psi"] - exact["psi"]) <= 0.1, (c, r)
        # medians: the sketch median must lie between the exact
        # quantiles at 0.5 +/- rank_eps on each half
        for side, half in (("a", ha), ("b", hb)):
            lo, hi = _exact_bracket(half, c, 0.5, rank_eps)
            assert lo - 1e-9 <= r[f"median_{side}"] <= hi + 1e-9, (c, side, r)


def test_sketch_profile_store_roundtrip_and_diff(spark, tmp_path):
    # the profile-store consumer workflow for the SKETCH tier: persist
    # sketch binaries to parquet, read back, merge and diff FROM THE
    # STORE — binaries must survive byte-for-byte and the store-side
    # diff must equal the in-memory diff exactly
    from whylogs_java_spark.operators.approx import (
        merge_sketch_profiles,
        sketch_profile,
    )
    from whylogs_java_spark.operators.drift import sketch_profile_diff

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
        "l_orderkey", "l_quantity", "l_extendedprice"
    )
    cols = ["l_quantity", "l_extendedprice"]
    # materialize ONCE: every Spark action re-runs the aggregation, and
    # KLL compaction is run-nondeterministic — byte comparisons are only
    # meaningful against a single materialized set of binaries
    sa = sketch_profile(
        li.where(F.col("l_orderkey") % 2 == 0), columns=cols
    ).localCheckpoint(eager=True)
    sb = sketch_profile(
        li.where(F.col("l_orderkey") % 2 == 1), columns=cols
    ).localCheckpoint(eager=True)

    pa, pb = str(tmp_path / "prof_a"), str(tmp_path / "prof_b")
    sa.write.parquet(pa)
    sb.write.parquet(pb)
    ra, rb = spark.read.parquet(pa), spark.read.parquet(pb)

    # byte-for-byte roundtrip
    for orig, read in ((sa, ra), (sb, rb)):
        o, r = orig.first(), read.first()
        for f in orig.schema.fields:
            assert bytes(o[f.name]) == bytes(r[f.name]), f.name

    # diff computed from the STORE equals the in-memory diff exactly
    mem = {
        r["column_name"]: (r["psi"], r["cdf_linf"], r["count_a"], r["count_b"])
        for r in sketch_profile_diff(sa, sb, bins=6).collect()
    }
    store = {
        r["column_name"]: (r["psi"], r["cdf_linf"], r["count_a"], r["count_b"])
        for r in sketch_profile_diff(ra, rb, bins=6).collect()
    }
    assert mem == store

    # store-side MERGE: union the two halves' sketches back to a whole;
    # theta/HLL unions are algebraically exact, KLL n is additive
    merged = merge_sketch_profiles(ra.unionByName(rb))
    whole = sketch_profile(li, columns=cols)
    m, w = merged.first(), whole.first()
    for c in cols:
        got_n = spark.range(1).select(
            F.kll_sketch_get_n_float(F.lit(bytes(m[f"{c}__kll"]))).alias("n")
        ).first()["n"]
        want_n = spark.range(1).select(
            F.kll_sketch_get_n_float(F.lit(bytes(w[f"{c}__kll"]))).alias("n")
        ).first()["n"]
        assert got_n == want_n, c


def test_sketch_profile_diff_grouped(spark):
    # grouped path: per-key sketch rows full-outer joined; a key present
    # on one side only yields NULL metrics, shared keys score normally
    from whylogs_java_spark.operators.approx import sketch_profile
    from whylogs_java_spark.operators.drift import sketch_profile_diff

    rows_a = [("g1", float(i % 10)) for i in range(200)] + [
        ("g2", float(i % 5)) for i in range(100)
    ]
    rows_b = [("g1", float(i % 10) + 3.0) for i in range(150)] + [
        ("g3", 1.0) for _ in range(50)
    ]
    a = spark.createDataFrame(rows_a, "g string, v double")
    b = spark.createDataFrame(rows_b, "g string, v double")
    sa = sketch_profile(a, columns=["v"], group_by=["g"])
    sb = sketch_profile(b, columns=["v"], group_by=["g"])
    out = {r["g"]: r for r in sketch_profile_diff(sa, sb, keys=["g"]).collect()}
    assert set(out) == {"g1", "g2", "g3"}
    g1 = out["g1"]
    assert g1["count_a"] == 200 and g1["count_b"] == 150
    assert g1["psi"] is not None and g1["psi"] > 0.5  # shifted by +3
    assert g1["median_delta"] is not None and 2.0 <= g1["median_delta"] <= 4.0
    # one-sided keys: metrics NULL, counts show what exists
    assert out["g2"]["count_a"] == 100 and out["g2"]["count_b"] is None
    assert out["g2"]["psi"] is None
    assert out["g3"]["count_a"] is None and out["g3"]["count_b"] == 50
    assert out["g3"]["psi"] is None


def test_ann_recall_report_shape_and_consistency(spark):
    # the dashboard's recall must equal a hand-computed recall from the
    # same tier outputs, and every metric must be internally consistent
    from whylogs_java_spark.operators.similarity import (
        ann_recall_report,
        cosine_topk,
        ivf_topk_exact,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ids = list(range(20))
    rep = {r["tier"]: r for r in ann_recall_report(emb, ids, k=10).collect()}
    assert set(rep) == {"lsh", "ivf_md5", "pq", "rp"}
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(
            emb, emb.where(F.col("vec_id").isin(ids)), k=10
        ).collect()
    }
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk_exact(emb, ids, k=10).collect()
    }
    hand = len(ivf & exact) / len(exact)
    r = rep["ivf_md5"]
    assert r["hits"] == len(ivf & exact)
    assert r["recall"] == pytest.approx(hand, abs=1e-6)
    for t, row in rep.items():
        assert 0.0 <= row["recall"] <= 1.0, t
        assert row["hits"] <= row["n_tier"] <= row["n_exact"], t
        assert row["n_queries"] == 20, t


def test_ann_recall_monotone_in_nprobe(spark):
    # more probes -> candidate superset -> the IVF top-k can only gain
    # true top-k members; nprobe == n_centroids degenerates to exact
    from whylogs_java_spark.operators.similarity import (
        cosine_topk,
        ivf_topk_exact,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    ids = list(range(10))
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(
            emb, emb.where(F.col("vec_id").isin(ids)), k=10
        ).collect()
    }
    recalls = []
    for nprobe in (1, 2, 4, 8, 16):
        tier = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk_exact(
                emb, ids, k=10, n_centroids=16, nprobe=nprobe
            ).collect()
        }
        recalls.append(len(tier & exact) / len(exact))
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0, recalls
