"""Tests for summary, model, dedup, similarity, text, segmentation operators."""

from __future__ import annotations

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from whylogs_java_spark.operators.dedup import (
    exact_dedup,
    hamming_distance,
    minhash_candidate_pairs,
    near_dup_pairs,
    simhash,
)
from whylogs_java_spark.operators.model import confusion_matrix, regression_metrics
from whylogs_java_spark.operators.segmentation import (
    estimate_segments,
    simple_entropy,
)
from whylogs_java_spark.operators.similarity import cosine_topk, lsh_bucket_topk
from whylogs_java_spark.operators.summary import (
    frequent_items,
    histogram,
    quantile_summary,
    unique_counts,
)
from whylogs_java_spark.operators.text import language_id, quality_metrics


def test_quantile_summary_matches_numpy(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    out = {
        (r["column_name"], r["quantile"]): r["value"]
        for r in quantile_summary(df, ["l_quantity"], tier="exact").collect()
    }
    vals = np.array([r[0] for r in df.select("l_quantity").collect()])
    for q in (0.0, 0.25, 0.5, 0.75, 1.0):
        assert out[("l_quantity", q)] == pytest.approx(
            np.quantile(vals, q), abs=1e-5
        ), q


def test_histogram_counts_sum_to_n(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    h = histogram(df, "l_quantity", bins=10).collect()
    assert sum(r["count"] for r in h) == df.count()
    assert all(0 <= r["bin"] < 10 for r in h)


def test_frequent_items_topk(spark):
    df = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    top = frequent_items(df, "o_orderpriority", k=2).collect()
    assert len(top) == 2 and top[0]["rank"] == 1
    # rank-1 really is the modal value
    true_counts = dict(
        df.groupBy("o_orderpriority").count().rdd.map(tuple).collect()
    )
    assert top[0]["count"] == max(true_counts.values())


def test_unique_counts_exact(spark):
    df = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    u = {
        r["column_name"]: r["unique_count"]
        for r in unique_counts(df, ["l_returnflag"], tier="exact").collect()
    }
    assert u["l_returnflag"] == 3
    # sketch tier (the scale default) estimates tiny cardinalities exactly
    u = {
        r["column_name"]: r["unique_count"]
        for r in unique_counts(df, ["l_returnflag"]).collect()
    }
    assert u["l_returnflag"] == 3


def test_confusion_matrix_counts(spark):
    # FIXTURES.md §3-style: known binary confusion counts
    rows = [(1, 1)] * 40 + [(1, 0)] * 7 + [(0, 1)] * 11 + [(0, 0)] * 42
    df = spark.createDataFrame(rows, "pred int, tgt int")
    cm = {
        (r["prediction"], r["target"]): r["count"]
        for r in confusion_matrix(df, "pred", "tgt").collect()
    }
    assert cm == {("1", "1"): 40, ("1", "0"): 7, ("0", "1"): 11, ("0", "0"): 42}


def test_confusion_matrix_bool_labels(spark):
    # booleans rendered "1"/"0" (ClassificationMetrics.java:118-127)
    df = spark.createDataFrame([(True, False), (False, False)], "pred boolean, tgt boolean")
    labels = {
        (r["prediction"], r["target"]) for r in confusion_matrix(df, "pred", "tgt").collect()
    }
    assert labels == {("1", "0"), ("0", "0")}


def test_regression_metrics(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0), (3.0, 1.0), (5.0, 5.0)], "p double, t double"
    )
    r = regression_metrics(df, "p", "t").collect()[0]
    assert r["count"] == 3
    assert r["sum_abs_diff"] == pytest.approx(3.0)
    assert r["sum_diff"] == pytest.approx(1.0)
    assert r["sum2_diff"] == pytest.approx(5.0)
    assert r["mae"] == pytest.approx(1.0)


def test_exact_dedup_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "x y z"), (4, "A  B C")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in exact_dedup(df, "text", "doc_id").collect())
    # "A  B C" normalizes (lower + whitespace collapse) to "a b c" -> dup of 1
    assert kept == [1, 3]


def test_near_dup_finds_mutations(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    mut = docs.where("doc_id < 20").select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"),
    )
    corpus = docs.unionByName(mut)
    pairs = near_dup_pairs(corpus, "text", "doc_id", threshold=0.7).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    # every mutated doc should pair with its source at jaccard ~= (n-1)/(n+1)
    hits = sum((i, i + 10000) in found for i in range(20))
    assert hits >= 18, f"only {hits}/20 mutations recovered"
    assert all(r["jaccard"] >= 0.7 for r in pairs)


def test_minhash_no_false_negatives_on_identical(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words entirely here now")],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in minhash_candidate_pairs(df, "text", "doc_id").collect()}
    assert (1, 2) in pairs and (1, 3) not in pairs


def test_simhash_similar_texts_close(spark):
    df = spark.createDataFrame(
        [(1, "spark sql engine for large scale data processing"),
         (2, "spark sql engine for large scale data processing today"),
         (3, "entirely unrelated content about cooking recipes and food")],
        "doc_id long, text string",
    )
    s = simhash(df, "text", "doc_id")
    joined = (
        s.alias("a")
        .crossJoin(s.alias("b"))
        .where("a.doc_id < b.doc_id")
        .select(
            "a.doc_id",
            "b.doc_id",
            hamming_distance(F.col("a.simhash_bits"), F.col("b.simhash_bits")).alias("d"),
        )
        .collect()
    )
    d = {(r[0], r[1]): r["d"] for r in joined}
    assert d[(1, 2)] < d[(1, 3)]
    assert d[(1, 2)] < d[(2, 3)]


def test_cosine_topk_agrees_with_numpy(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where("vec_id = 0")
    got = [
        r["neighbor_id"]
        for r in cosine_topk(emb, queries, k=5).orderBy("rank").collect()
    ]
    mat = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in emb.collect()}
    q = mat[0]
    sims = {
        i: float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        for i, v in mat.items()
        if i != 0
    }
    expect = [i for i, _ in sorted(sims.items(), key=lambda kv: (-kv[1], kv[0]))[:5]]
    assert got == expect


def test_lsh_bucket_topk_recall(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where("vec_id < 20")
    exact = cosine_topk(emb, queries, k=1)
    approx = lsh_bucket_topk(emb, queries, k=1, planes=4)
    e = {r["query_id"]: r["neighbor_id"] for r in exact.collect()}
    a = {r["query_id"]: r["neighbor_id"] for r in approx.collect()}
    # LSH with few planes should answer most queries; recall is approximate
    answered = sum(1 for qid in e if qid in a)
    assert answered >= 10, f"LSH answered only {answered}/20"


def test_language_id_english_soup(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pred = language_id(docs, "text", "doc_id")
    counts = dict(pred.groupBy("predicted_lang").count().rdd.map(tuple).collect())
    # corpus is english-ish word soup: en should dominate
    assert counts.get("en", 0) > 0.5 * sum(counts.values())


def test_quality_metrics_ranges(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rows = quality_metrics(docs, "text", "doc_id").collect()
    for r in rows:
        assert 0.0 <= r["quality"] <= 1.0
        assert r["word_count"] > 0


def _df_a(spark):
    # the reference's dfA fixture (test_autosegmentation.py:18-26)
    rows = [
        (8.6, "Orange", "Blue", "cat"),
        (31.0, "Brown", "Green", "dog"),
        (14.8, "White", "Black", "dog"),
        (15.2, "White", "Green", "cat"),
        (10.0, "Black", "Blue", "cat"),
        (9.1, "Orange", "Blue", "cat"),
    ]
    return spark.createDataFrame(
        rows, "weight_lbs double, color string, eye_color string, animal string"
    )


def test_entropy_golden_values(spark):
    # scipy-checked goldens pinned by the reference
    # (test_autosegmentation.py:59-63)
    df = _df_a(spark)
    assert simple_entropy(df, "animal") == pytest.approx(0.9182958340544896)
    assert simple_entropy(df, "color") == pytest.approx(1.9182958340544893)
    assert simple_entropy(df, "eye_color") == pytest.approx(1.4591479170272448)


def test_estimate_segments_golden(spark):
    # reference-pinned selections (test_autosegmentation.py:40-56)
    df = _df_a(spark)
    assert set(estimate_segments(df, target_field="animal")) == {"eye_color", "color"}
    assert set(estimate_segments(df, target_field="animal", max_segments=5)) == {"eye_color"}
    assert set(estimate_segments(df, max_segments=2)) == set()


def test_frequent_items_ignores_null_values(spark):
    # the reference never calls trackText for null values
    # (ColumnProfile.java:82-85): NULL must not surface as a top-k item
    df = spark.createDataFrame(
        [("a",), ("a",), (None,), (None,), (None,), ("b",)], "v string"
    )
    rows = frequent_items(df, "v", k=10).collect()
    assert [(r["value"], r["count"]) for r in rows] == [("a", 2), ("b", 1)]
    # null_strings behave like SQL NULL
    df2 = spark.createDataFrame([("a",), ("NA",), ("NA",), ("NA",)], "v string")
    rows2 = frequent_items(df2, "v", k=10, null_strings=["NA"]).collect()
    assert [(r["value"], r["count"]) for r in rows2] == [("a", 1)]


def test_frequent_items_high_cardinality_bounded(spark):
    # 1M distinct singleton values + known hot values: the ungrouped global
    # top-k must run two-phase (partial top-k inside hash-salt buckets,
    # final rank over <= buckets*k candidates) — no single-partition window
    # ever sees the full distinct-value table
    base = spark.range(1_000_000).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("v")
    )
    hot = spark.range(3_000).select(
        F.concat(F.lit("hot"), (F.col("id") % 3).cast("string")).alias("v")
    )
    out = frequent_items(base.unionByName(hot), "v", k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the full-counts rank partitions by the salt (projected as _w0) and
    # Spark pushes a partial WindowGroupLimit below the salt shuffle, so
    # every task holds <= k rows per bucket; only the tiny candidate set
    # (<= buckets*k rows) reaches the empty-partition final rank
    assert "WindowGroupLimit" in plan
    assert plan.count("Window [") == 2
    rows = out.collect()
    assert [(r["value"], r["count"], r["rank"]) for r in rows[:3]] == [
        ("hot0", 1000, 1),
        ("hot1", 1000, 2),
        ("hot2", 1000, 3),
    ]
    # ranks 4..5 are singleton values tie-broken by value asc
    assert [r["count"] for r in rows[3:]] == [1, 1]
    assert rows[3]["value"] == "u0" and rows[4]["value"] == "u1"


def test_minhash_num_hashes_overflow_guard(spark):
    from whylogs_java_spark.operators.dedup import minhash_signatures

    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    with pytest.raises(ValueError, match="224"):
        minhash_signatures(df, "text", "doc_id", num_hashes=225)


def test_simhash_empty_doc_gets_zero_fingerprint(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "   ")], "doc_id long, text string"
    )
    rows = {r["doc_id"]: r for r in simhash(df, "text", "doc_id").collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2]["simhash_bits"] == [0] * 64
    assert rows[2]["simhash_hex"] == "0" * 16
    assert rows[3]["simhash_bits"] == [0] * 64
    assert any(b == 1 for b in rows[1]["simhash_bits"])


def test_cosine_pairs_bucketed_recall(spark):
    from whylogs_java_spark.operators.similarity import (
        cosine_pairs_bucketed,
        cosine_pairs_exact,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select("vec_id", "embedding")
    mut = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(0.9) + F.lit(0.01)).cast("float")
        ).alias("embedding"),
    )
    corpus = emb.unionByName(mut)
    exact = {
        (r["id_a"], r["id_b"]) for r in cosine_pairs_exact(corpus, 0.9).collect()
    }
    bucketed = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_bucketed(corpus, 0.9, planes=8).collect()
    }
    # candidates are verified exactly, so no false positives; recall bounded
    # by the 8-plane collision probability
    assert bucketed <= exact
    assert len(bucketed) / len(exact) >= 0.5


def test_image_header_meta(spark):
    from whylogs_java_spark.operators.multimodal import image_header_meta

    def png(w, h):
        return bytes.fromhex(
            "89504E470D0A1A0A" + "0000000D" + "49484452"
            + f"{w:08x}" + f"{h:08x}" + "0806000000"
        )

    def jpeg(w, h, app0=False):
        hx = "FFD8"
        if app0:
            hx += "FFE000100000000000000000000000000000"  # 16-byte APP0
        hx += "FFC00011" + "08" + f"{h:04x}" + f"{w:04x}"
        hx += "03011100021101031101" + "FFD9"
        return bytes.fromhex(hx)

    rows = [
        (1, bytearray(png(640, 480))),
        (2, bytearray(jpeg(1920, 1080))),
        (3, bytearray(jpeg(33, 7, app0=True))),
        (4, bytearray(b"not an image at all")),
    ]
    df = spark.createDataFrame(rows, "media_id long, data binary")
    got = {r["media_id"]: r for r in image_header_meta(df, "data", "media_id").collect()}
    assert (got[1]["format"], got[1]["width"], got[1]["height"]) == ("png", 640, 480)
    assert (got[2]["format"], got[2]["width"], got[2]["height"]) == ("jpeg", 1920, 1080)
    assert (got[3]["format"], got[3]["width"], got[3]["height"]) == ("jpeg", 33, 7)
    assert got[4]["format"] == "unknown" and got[4]["width"] is None


def test_lsh_multi_probe_improves_recall(spark):
    # LSH recall only makes sense when true neighbors are close (the
    # near-duplicate regime LSH is used for): query with perturbed copies
    # whose true NN is their source vector
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select("vec_id", "embedding")
    mut = emb.where("vec_id % 10 = 0").select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(0.95) + F.lit(0.02)).cast("float")
        ).alias("embedding"),
    )
    n_q = mut.count()

    def recall(probes):
        a = {
            r["query_id"]: r["neighbor_id"]
            for r in lsh_bucket_topk(
                emb.unionByName(mut), mut, k=1, planes=8, probes=probes
            ).collect()
        }
        return sum(1 for q, n in a.items() if n == q - 100000)

    r0, r8 = recall(0), recall(8)
    assert r8 >= r0  # probing hamming-1 buckets can only add candidates
    assert r8 >= 0.8 * n_q, f"multi-probe recall too low: {r8}/{n_q}"


def test_ivf_topk_recall(spark):
    from whylogs_java_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where("vec_id < 30")
    exact = {r["query_id"]: r["neighbor_id"] for r in cosine_topk(emb, queries, k=1).collect()}
    # nprobe == n_centroids degenerates to exact brute force
    full = {
        r["query_id"]: r["neighbor_id"]
        for r in ivf_topk(emb, queries, k=1, n_centroids=8, nprobe=8).collect()
    }
    assert full == exact
    # probing half the lists keeps most of the recall
    probed = {
        r["query_id"]: r["neighbor_id"]
        for r in ivf_topk(emb, queries, k=1, n_centroids=8, nprobe=4).collect()
    }
    hits = sum(1 for q in exact if probed.get(q) == exact[q])
    assert hits >= 20, f"IVF nprobe=4 recall too low: {hits}/30"


def test_ivf_exact_tier_degenerates_to_brute_force(spark):
    # nprobe == n_centroids probes every list, so the md5 IVF tier must
    # reproduce exact brute-force top-k bit-for-bit
    from whylogs_java_spark.operators.similarity import (
        cosine_topk,
        ivf_topk_exact,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    qids = [0, 1, 2, 3, 4]
    exact = sorted(
        map(tuple, cosine_topk(emb, qids, k=5).collect())
    )
    full = sorted(
        map(tuple, ivf_topk_exact(emb, qids, k=5, n_centroids=8, nprobe=8).collect())
    )
    assert full == exact
    # probing fewer lists keeps most of the top-1 recall
    probed = {
        r["query_id"]: r["neighbor_id"]
        for r in ivf_topk_exact(emb, qids, k=1, n_centroids=8, nprobe=4).collect()
    }
    top1 = {r[0]: r[1] for r in exact if r[3] == 1}
    hits = sum(1 for q in top1 if probed.get(q) == top1[q])
    assert hits >= 3, f"md5-IVF nprobe=4 top-1 recall too low: {hits}/5"


def test_banded_bucketing_improves_recall(spark):
    # OR-construction: 2 bands of 4 planes must find every pair the single
    # 8-plane signature finds, and (generically) more — a pair is a
    # candidate if EITHER band collides, and each band is a prefix/suffix
    # of the 8-plane signature
    from whylogs_java_spark.operators.similarity import (
        cosine_pairs_bucketed,
        cosine_pairs_exact,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select("vec_id", "embedding")
    mut = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(0.9) + F.lit(0.01)).cast("float")
        ).alias("embedding"),
    )
    corpus = emb.unionByName(mut)
    exact = {(r["id_a"], r["id_b"]) for r in cosine_pairs_exact(corpus, 0.9).collect()}
    single = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_bucketed(corpus, 0.9, planes=8, bands=1).collect()
    }
    banded = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_bucketed(corpus, 0.9, planes=4, bands=2).collect()
    }
    assert single <= banded <= exact
    assert len(banded) / len(exact) >= 0.8


def test_bucket_cap_splits_hot_buckets(spark):
    # clustered-corpus regime: with only 2 planes per band the whole corpus
    # piles into <=4 hot buckets per band (each would generate O(|bucket|^2)
    # pairs). bucket_cap refines every oversized bucket by split_planes
    # extra hyperplanes, bounding per-task pair generation.
    from whylogs_java_spark.operators.similarity import (
        banded_buckets,
        cosine_pairs_bucketed,
        cosine_pairs_exact,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select("vec_id", "embedding")
    mut = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(0.9) + F.lit(0.01)).cast("float")
        ).alias("embedding"),
    )
    corpus = emb.unionByName(mut)
    n = corpus.count()

    def max_bucket(cap):
        sig = banded_buckets(
            corpus, planes=2, bands=2, bucket_cap=cap, split_planes=6
        )
        return (
            sig.groupBy("band", "bucket").count().agg(F.max("count")).collect()[0][0]
        )

    uncapped = max_bucket(None)
    capped = max_bucket(50)
    assert uncapped >= n / 4  # hot bucket: >= a quarter of the corpus
    assert capped < uncapped / 4  # refinement split it
    # near-duplicate pairs survive the refinement: theta ~ 0 pairs collide
    # in the refined bucket with prob ~ (1 - theta/pi)^split_planes
    exact = {(r["id_a"], r["id_b"]) for r in cosine_pairs_exact(corpus, 0.9).collect()}
    capped_pairs = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_bucketed(
            corpus, 0.9, planes=2, bands=2, bucket_cap=50, split_planes=6,
        ).collect()
    }
    assert capped_pairs <= exact
    assert len(capped_pairs) / len(exact) >= 0.5


def test_bucket_cap_refinement_iterates(spark):
    # pathological-bucket regime: planes=1 piles the whole corpus into <=2
    # buckets and split_planes=2 gives only a 4-way split per round, so ONE
    # round cannot get a ~550-vector bucket under cap=50 — the iterated
    # census/split must keep going until every bucket fits (or rounds run
    # out), and more rounds must never make the worst bucket bigger.
    from whylogs_java_spark.operators.similarity import banded_buckets

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select("vec_id", "embedding")
    mut = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(0.9) + F.lit(0.01)).cast("float")
        ).alias("embedding"),
    )
    corpus = emb.unionByName(mut)
    n = corpus.count()

    def max_bucket(rounds):
        sig = banded_buckets(
            corpus, planes=1, bands=1, bucket_cap=50, split_planes=2,
            split_rounds=rounds,
        )
        return (
            sig.groupBy("band", "bucket").count().agg(F.max("count")).collect()[0][0]
        )

    one = max_bucket(1)
    three = max_bucket(3)
    assert one > 50  # a single 4-way split round genuinely cannot finish
    assert three < one  # iteration kept splitting the oversized residue
    assert three <= 50, f"3 rounds should converge under cap on {n} vecs: {three}"


def test_ivf_assignment_plan_no_shuffle(spark):
    # the centroid argmax must be a per-row array expression over ONE
    # broadcast row — no n x n_centroids Exchange, no Window over the corpus
    from whylogs_java_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = emb.where("vec_id < 5")
    plan = (
        ivf_topk(emb, queries, k=3, n_centroids=8, nprobe=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exactly one Window remains: the final per-query top-k rank
    assert plan.count("Window [") == 1


def test_legacy_exact_kwarg_maps_to_tier(spark):
    # pre-tier callers passed exact=True/False; one release of compat
    from whylogs_java_spark.operators.summary import quantile_summary, unique_counts

    df = spark.range(100).selectExpr("CAST(id AS DOUBLE) AS v")
    legacy = quantile_summary(df, ["v"], exact=True, quantiles=[0.5]).collect()
    new = quantile_summary(df, ["v"], tier="exact", quantiles=[0.5]).collect()
    assert legacy == new
    lu = unique_counts(df, ["v"], exact=True).collect()
    nu = unique_counts(df, ["v"], tier="exact").collect()
    assert lu == nu and lu[0]["unique_count"] == 100
    with pytest.raises(ValueError):
        quantile_summary(df, ["v"], tier="sketch", exact=True)


def test_banded32_family_restores_band_selectivity(spark):
    # the affine family h_i = h1 + i*h2 is correlated across i: two docs
    # sharing the argmin shingle collide in MANY components at once, so a
    # band's collision rate degrades from J^r toward ~J. On char 5-grams
    # (background J ~ 0.19) that floods the bands with false candidates;
    # the banded32 family (independent digest per band, r 32-bit slices)
    # must produce an order of magnitude fewer candidates while keeping
    # every true near-dup pair (mutated copies at J ~ 0.95 collide with
    # probability ~1 under both families).
    from whylogs_java_spark.operators.dedup import (
        lsh_band_signatures,
        minhash_signatures,
        _candidates_from_bands,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    mut = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
    )
    corpus = docs.unionByName(mut)
    n_mut = mut.count()

    def candidates(family):
        sigs = minhash_signatures(
            corpus, "text", "doc_id", 16, 5, char_ngrams=True,
            hash_family=family, bands=4,
        )
        bands_df = lsh_band_signatures(sigs, "doc_id", 16, 4)
        return _candidates_from_bands(bands_df, "doc_id")

    affine = candidates("affine").count()
    banded = candidates("banded32")
    n_banded = banded.count()
    assert n_banded * 10 < affine, f"banded32 not selective: {n_banded} vs {affine}"
    # true mutated pairs still collide under banded32 (measured 44/50:
    # long docs have J ~ 0.95 -> P(candidate) ~ 0.999, but the corpus's
    # 10-word docs dilute to J ~ 0.8 where the honest S-curve admits
    # ~90% — the affine family's accidental ~100% here was a side effect
    # of the same correlation that leaked 12% of ALL pairs)
    true_hits = banded.where(F.col("id_b") - F.col("id_a") == 100000).count()
    assert true_hits >= 0.8 * n_mut, f"banded32 recall dropped: {true_hits}/{n_mut}"


def test_near_dup_executed_plan_two_explodes(spark, monkeypatch):
    # the shingle explode is the expensive node in the near-dup pipeline:
    # AQE exchange reuse must keep the executed plan at exactly 2 Generate
    # explodes (one per join side), not re-derive shingles per consumer —
    # round 1 shipped a 6-explode plan; this pins the fix loudly.
    # Production lazily checkpoints the verify's scored table (the
    # filter-pushdown barrier), which hides everything below it from the
    # outer executed plan — bypass the barrier here so the audit still
    # sees the verify subtree.
    from whylogs_java_spark.operators import dedup as dedup_mod

    monkeypatch.setattr(dedup_mod, "materialize_lazy", lambda df: df)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    out = near_dup_pairs(docs, "text", "doc_id", threshold=0.7)
    out.collect()  # AQE finalizes the plan only after execution
    plan = out._jdf.queryExecution().executedPlan().toString()
    # final adaptive tree only — the '== Initial Plan ==' tail is the
    # pre-AQE plan and double-counts every node
    if "== Initial Plan ==" in plan:
        plan = plan.split("== Initial Plan ==", 1)[0]
    # shingle explodes are the `explode(CASE WHEN size(split(text...` nodes;
    # band-struct explodes are per-doc-cheap and not the regression target
    import re as _re

    n_explodes = len(_re.findall(r"Generate explode\(CASE WHEN", plan))
    assert n_explodes <= 2, f"shingle explode recomputed: {n_explodes} nodes"
    assert "ReusedExchange" in plan


def test_near_dup_verify_barrier_and_width(spark):
    # pins the r15 verify-stage fix (guide §2.5's AQE blind spot):
    # 1. the per-pair array_intersect must evaluate ONCE per candidate —
    #    the scored table is lazily checkpointed, so the caller's
    #    threshold filter sits ABOVE a Scan ExistingRDD and cannot be
    #    pushed into the verify join's condition (where the jaccard
    #    expression would re-evaluate the intersect per probed row);
    # 2. candidate pairs are explicitly respread before the verify joins
    #    so the compute-heavy intersect never runs on the 1-8 tasks AQE
    #    coalesces the byte-tiny pair shuffle to (measured 12.3 s on ONE
    #    task for the char-5-gram query at sf0.1 before the fix).
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    out = near_dup_pairs(docs, "text", "doc_id", threshold=0.7)
    outer = out._jdf.queryExecution().executedPlan().toString()
    assert "Scan ExistingRDD" in outer, "verify barrier missing"
    assert "array_intersect" not in outer, (
        "threshold filter crossed the barrier: the intersect would be "
        "re-evaluated inside a join condition"
    )

    from whylogs_java_spark.operators.dedup import (
        shingle_candidate_pairs,
        shingle_sets,
    )

    sh = shingle_sets(docs, "text", "doc_id", 3, False)
    pairs_plan = (
        shingle_candidate_pairs(sh, "doc_id", 50, 2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the pair-generation join's width is pinned by an explicit
    # user-numbered repartition on the join key (AQE leaves
    # REPARTITION_BY_NUM alone)
    assert "REPARTITION_BY_NUM" in pairs_plan


def test_resolve_clusters_chain_and_singletons(spark):
    # worst-case shape for label propagation: a chain 1-2-3-4-5 must
    # converge to cluster_id 1 for all members (diameter iterations), and
    # untouched nodes stay their own singleton clusters
    from whylogs_java_spark.operators.dedup import resolve_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (8, 9)], "id_a long, id_b long"
    )
    nodes = spark.range(1, 11).select(F.col("id").alias("doc_id"))
    out = {r["doc_id"]: r for r in resolve_clusters(pairs, nodes).collect()}
    assert {i: out[i]["cluster_id"] for i in range(1, 11)} == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 6, 7: 7, 8: 8, 9: 8, 10: 10,
    }
    assert [i for i in range(1, 11) if out[i]["is_survivor"]] == [1, 6, 7, 8, 10]


def test_resolve_clusters_driver_tier_matches_loop(spark, monkeypatch):
    # the bounded driver tier (collected edges + Python propagation) must
    # be bit-identical to the distributed label loop — labels, survivor
    # flags, AND the rounds counter, including ghost-edge semantics and
    # max_iters truncation on an unconverged chain, which both tiers must
    # report with a RuntimeWarning naming the round count
    from whylogs_java_spark.operators import dedup

    cases = [
        # (edges, nodes, max_iters, converges)
        ([(1, 2), (2, 3), (3, 4), (4, 5), (8, 9), (8, 10), (9, 10)],
         list(range(1, 13)), 20, True),
        ([(5, 0)], [5], 10, True),                             # ghost edge
        ([(i, i + 1) for i in range(1, 30)], list(range(1, 31)), 4,
         False),                                               # truncated
    ]
    default_cap = dedup.CC_DRIVER_MAX_EDGES
    for edges, node_ids, mi, converges in cases:
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        nodes = spark.createDataFrame([(n,) for n in node_ids], "doc_id long")
        runs = []
        for cap in (0, default_cap):
            monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", cap)
            stats: dict = {}
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always")
                rows = sorted(map(tuple, dedup.resolve_clusters(
                    pairs, nodes, "doc_id", mi, stats=stats
                ).collect()))
            warned = [
                str(w.message) for w in caught if "max_iters" in str(w.message)
            ]
            if converges:
                assert warned == [], (edges, cap)
            else:
                assert len(warned) == 1 and f"after {mi} rounds" in warned[0], cap
            runs.append((rows, stats["rounds"]))
        (loop, r_loop), (drv, r_drv) = runs
        assert drv == loop, (edges, mi)
        assert r_drv == r_loop, (edges, mi)


def test_near_dup_clusters_end_to_end(spark):
    # mutations cluster with their source; survivors = the source docs +
    # every untouched doc
    from whylogs_java_spark.operators.dedup import near_dup_clusters

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    mut = docs.where("doc_id < 20").select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat("text", F.lit(" tail")).alias("text"),
    )
    corpus = docs.unionByName(mut)
    out = {r["doc_id"]: r for r in near_dup_clusters(
        corpus, "text", "doc_id", threshold=0.7
    ).collect()}
    assert len(out) == corpus.count()
    hits = sum(
        1 for i in range(20)
        if out[i + 10000]["cluster_id"] == i and not out[i + 10000]["is_survivor"]
    )
    assert hits >= 18, f"only {hits}/20 mutations resolved to their source"


def test_decontaminate_plan_broadcasts_eval_grams(spark):
    # the eval digest set must reach the corpus probe as a BROADCAST hash
    # join — a shuffled join here would move corpus bytes for a
    # benchmark-sized lookup table
    from pyspark.sql import functions as F

    from whylogs_java_spark.operators.decontam import decontaminate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    ev = docs.where(F.col("doc_id") % 20 == 0).select("text")
    df = decontaminate(docs, "text", "doc_id", ev, n=5)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # the gram probe itself must not be a sort-merge join
    assert "SortMergeJoin" not in plan


def test_segment_dedup_plan_owner_join_not_broadcast(spark):
    # owners ≈ distinct segments ≈ corpus-sized: the owner join must NOT
    # broadcast (a broadcast would ship the whole distinct-segment table
    # to every task at scale); with AQE on a small corpus Spark may still
    # pick broadcast, so pin the logical shape instead: exactly two
    # aggregates (owner census + doc reassembly) around one join
    from whylogs_java_spark.operators.dedup import segment_dedup

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    df = segment_dedup(docs, "text", "doc_id", seg_words=10)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # two-level aggregate pairs: (partial+final) x (owner agg, reassembly agg)
    assert plan.count("HashAggregate") + plan.count("ObjectHashAggregate") >= 4


def test_cross_dedup_pairs_subset_of_union_near_dup(spark):
    # screening new-vs-ref must agree with running the full near-dup pass
    # over ref ∪ new and keeping only the cross pairs — same signatures,
    # same verification, just a restricted candidate join
    from pyspark.sql import functions as F

    from whylogs_java_spark.operators.dedup import cross_dedup_pairs, near_dup_pairs

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )
    ref = docs.where(F.col("doc_id") < 400)
    new = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
    )
    cross = {
        (r["id_a"], r["id_b"])
        for r in cross_dedup_pairs(new, ref, "text", "doc_id", 0.5).collect()
    }
    full = {
        (r["id_a"], r["id_b"])
        for r in near_dup_pairs(
            ref.unionByName(new), "text", "doc_id", threshold=0.5
        ).collect()
        if r["id_a"] < 100000 <= r["id_b"]
    }
    assert cross == full
    assert len(cross) > 0


def test_near_dup_pairs_honors_hash_family(spark):
    # near_dup_pairs must screen with the hash family it is given: every
    # verified pair under banded32 is a banded32 band collision
    from pyspark.sql import functions as F

    from whylogs_java_spark.operators.dedup import (
        _candidates_from_bands,
        lsh_band_signatures,
        minhash_signatures,
        near_dup_pairs,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text")
    mut = docs.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat("text", F.lit(" extra token")).alias("text"),
    )
    corpus = docs.unionByName(mut)
    kw = dict(
        threshold=0.7, num_hashes=16, bands=4, shingle_size=5,
        char_ngrams=True, hash_family="banded32",
    )
    pairs = {
        (r["id_a"], r["id_b"])
        for r in near_dup_pairs(corpus, "text", "doc_id", **kw).collect()
    }
    sigs = minhash_signatures(
        corpus, "text", "doc_id", 16, 5, char_ngrams=True,
        hash_family="banded32", bands=4,
    )
    candidates = {
        (r["id_a"], r["id_b"])
        for r in _candidates_from_bands(
            lsh_band_signatures(sigs, "doc_id", 16, 4), "doc_id"
        ).collect()
    }
    assert pairs and pairs <= candidates


def test_resolve_clusters_ghost_endpoint_keeps_node_survivor(spark, monkeypatch):
    # a pair endpoint absent from `nodes` must never become a cluster_id:
    # the ghost pair is dropped, so the node stays its own survivor in
    # both tiers
    from whylogs_java_spark.operators import dedup

    pairs = spark.createDataFrame([(5, 0)], ["id_a", "id_b"])
    nodes = spark.createDataFrame([(5,)], ["doc_id"])
    for cap in (0, dedup.CC_DRIVER_MAX_EDGES):
        monkeypatch.setattr(dedup, "CC_DRIVER_MAX_EDGES", cap)
        out = dedup.resolve_clusters(pairs, nodes, "doc_id", 10).collect()
        assert len(out) == 1, cap
        r = out[0]
        assert r["cluster_id"] == 5 and r["is_survivor"], cap


def test_hyperplane_buckets_empty_vector_matches_fold_identity(spark):
    # empty embeddings must fold to 0.0 projections (all-'1' bucket),
    # matching the oracle's empty generate_series — not descend through
    # F.sequence(0,-1) into null projections
    from whylogs_java_spark.operators.similarity import banded_buckets

    df = spark.createDataFrame(
        [(1, [0.5, -0.25]), (2, [])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r["bucket"] for r in banded_buckets(
        df, planes=4, bands=1
    ).collect()}
    assert out[2] == "1111"
    assert len(out[1]) == 4 and set(out[1]) <= {"0", "1"}


def test_find_best_split_constant_job_count(spark):
    # one melted aggregation scores ALL candidates: Spark job count per
    # greedy round must not grow with the candidate count
    from whylogs_java_spark.operators.segmentation import find_best_split

    cols = [f"c{i}" for i in range(8)]
    rows = [
        tuple(str((r * (i + 3)) % (i + 2)) for i in range(8)) + (str(r % 3), 1)
        for r in range(60)
    ]
    countdf = spark.createDataFrame(
        rows, ", ".join(f"{c} string" for c in cols) + ", tgt string, count long"
    ).cache()
    countdf.count()  # materialize outside the measured group

    sc = spark.sparkContext

    def jobs_for(cands, tag):
        sc.setJobGroup(tag, "find_best_split job-count probe")
        try:
            gain, chosen = find_best_split(countdf, [], cands, "tgt")
        finally:
            sc.setJobGroup(None, None)
        return len(sc.statusTracker().getJobIdsForGroup(tag)), gain, chosen

    # AQE splits one query into several jobs, so the absolute count is
    # config-dependent — the invariant is that it does NOT grow with the
    # candidate count (the per-candidate loop grew by >=1 job each).
    n2, _, _ = jobs_for(cols[:2], "fbs_2")
    n8, gain, chosen = jobs_for(cols, "fbs_8")
    assert n8 <= n2 + 1, (n2, n8)
    assert chosen in cols and gain >= 0.0
    countdf.unpersist()


def test_kmeans_assign_deterministic_and_converging(spark):
    import numpy as np

    from whylogs_java_spark.operators.cluster import (
        cluster_sizes,
        kmeans_assign,
    )

    rng = np.random.default_rng(3)
    # three well-separated blobs of 40 vectors each
    centers = np.array([[5.0, 0.0, 0.0], [0.0, 5.0, 0.0], [0.0, 0.0, 5.0]])
    rows = []
    for i in range(120):
        c = centers[i % 3] + rng.normal(0, 0.2, 3)
        rows.append((i, [float(x) for x in c]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    out = kmeans_assign(emb, k=3, n_iter=4).collect()
    assert len(out) == 120
    # blob membership must align with cluster assignment perfectly once
    # converged on separated blobs
    by_blob = {}
    for r in out:
        by_blob.setdefault(r["vec_id"] % 3, set()).add(r["cluster"])
    assert all(len(s) == 1 for s in by_blob.values())
    assert len({next(iter(s)) for s in by_blob.values()}) == 3

    # determinism: a second run is identical row-for-row
    again = kmeans_assign(emb, k=3, n_iter=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))

    sizes = {r["cluster"]: r["n"] for r in cluster_sizes(
        kmeans_assign(emb, k=3, n_iter=4)
    ).collect()}
    assert sorted(sizes.values()) == [40, 40, 40]


def test_kmeans_assign_empty_and_degenerate(spark):
    from whylogs_java_spark.operators.cluster import kmeans_assign

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert kmeans_assign(empty, k=2).count() == 0

    # k larger than corpus: every vector seeds its own cluster; extra
    # clusters stay empty and keep their seed centroid without error
    tiny = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    out = kmeans_assign(tiny, k=5, n_iter=2).collect()
    assert len(out) == 2
    assert all(r["dist"] == 0.0 for r in out)

    # empty input with a STRING id column: the empty result's schema must
    # carry the input's id type, not a hardcoded long
    sempty = spark.createDataFrame([], "vec_id string, embedding array<double>")
    sout = kmeans_assign(sempty, k=2)
    assert sout.count() == 0
    assert dict(sout.dtypes)["vec_id"] == "string"
    # and it unions cleanly with a non-empty string-id result
    sfull = kmeans_assign(
        spark.createDataFrame(
            [("a", [1.0, 0.0]), ("b", [0.0, 1.0])],
            "vec_id string, embedding array<double>",
        ),
        k=2,
        n_iter=1,
    )
    assert sout.unionByName(sfull).count() == 2


def test_kmeans_join_path_equals_literal(spark):
    """The broadcast-table join assignment must be bit-identical to the
    plan-literal path (same fold arithmetic, same tie-to-lowest-cid)."""
    from whylogs_java_spark.operators.cluster import kmeans_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    lit_rows = sorted(
        kmeans_assign(emb, k=8, n_iter=2, assign="literal").collect()
    )
    join_rows = sorted(
        kmeans_assign(emb, k=8, n_iter=2, assign="join").collect()
    )
    assert lit_rows == join_rows

    # auto picks literal at coarse k, join past LITERAL_K_MAX
    from whylogs_java_spark.operators import cluster as cl

    assert cl.LITERAL_K_MAX == 32


def test_kmeans_large_k_plan_constant_in_k(spark):
    """k=512: the join path must run, cover every vector, and its plan
    must NOT grow with k (the literal path embeds k*dim literals and
    chokes Catalyst analysis at SemDeDup-scale k)."""
    from whylogs_java_spark.operators.cluster import kmeans_assign

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    out = kmeans_assign(emb, k=512, n_iter=1)  # auto -> join
    plan512 = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan512
    plan64 = (
        kmeans_assign(emb, k=64, n_iter=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # plan text is constant in k (the centroids live in a broadcast
    # relation, not in the plan) — allow only trivial drift
    assert len(plan512) < 2 * len(plan64)
    rows = out.collect()
    assert len(rows) == n
    # with k=512 seeds over a small corpus most vectors sit at/near a
    # seed: every cluster id must be within range and dists nonnegative
    assert all(0 <= r["cluster"] < 512 and r["dist"] >= 0.0 for r in rows)


def test_semantic_dedup_zero_norm_not_universal_dup(spark):
    """An all-zero embedding has NaN cosine to everything; Spark sorts NaN
    above all numbers, so without a norm guard it would pass
    `cosine >= threshold` against every cluster-mate."""
    from whylogs_java_spark.operators.cluster import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0]),   # genuine near-dup of 1
        (3, [0.0, 1.0, 0.0]),     # orthogonal
        (4, [0.0, 0.0, 0.0]),     # zero norm
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = semantic_dedup_pairs(emb, threshold=0.9, k=1, n_iter=1).collect()
    ids_in_pairs = {r["id_a"] for r in pairs} | {r["id_b"] for r in pairs}
    assert 4 not in ids_in_pairs
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}
    # and in the end-to-end dedup the zero vector survives as a singleton
    res = {r["vec_id"]: r for r in semantic_dedup(emb, 0.9, k=1, n_iter=1).collect()}
    assert res[4]["is_survivor"] is True


def test_ann_zero_norm_never_a_neighbor(spark, tmp_path):
    """Zero-norm vectors have no defined cosine: every top-k entry point
    must exclude them from both the index and the query side, else their
    0/0=NaN score sorts ABOVE all numbers under DESC and surfaces at
    rank 1 — and a zero-norm centroid divides by zero, which raises
    under ANSI mode."""
    from whylogs_java_spark.operators.similarity import (
        build_ivf_index,
        build_ivfpq_index,
        build_rp_index,
        cosine_pairs_exact,
        cosine_topk,
        ivf_topk,
        ivf_topk_exact,
        ivf_topk_stored,
        ivfpq_topk_stored,
        lsh_bucket_topk,
        pq_topk,
        rp_topk,
        rp_topk_stored,
    )

    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [0.0, 0.0, 0.0]),  # zero norm
        (4, [0.5, 0.5, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.where("vec_id in (0, 3)")
    ids = [0, 3]

    def check(df, nearest=True):
        got = df.collect()
        assert all(r["neighbor_id"] != 3 and r["query_id"] != 3 for r in got)
        assert all(r["cosine"] == r["cosine"] for r in got)  # no NaN
        if nearest:
            # rank 1 for query 0 is its genuine nearest, not the zero vector
            top = {r["rank"]: r["neighbor_id"] for r in got if r["query_id"] == 0}
            assert top[1] == 1

    check(cosine_topk(emb, queries, k=4))
    check(cosine_topk(emb, ids, k=4))
    check(lsh_bucket_topk(emb, queries, k=4, planes=1), nearest=False)
    # every row is sampled as a centroid unless the zero vector is
    # filtered out before the sample
    check(ivf_topk(emb, queries, k=4, n_centroids=5, nprobe=1), nearest=False)
    check(ivf_topk_exact(emb, ids, k=4, n_centroids=4, nprobe=4))
    check(pq_topk(emb, ids, k=4, m=1, codebook_k=4, rerank=4))
    check(rp_topk(emb, ids, k=4, out_dim=2, rerank=4))
    build_ivf_index(emb, str(tmp_path / "ivf"), n_centroids=4)
    check(ivf_topk_stored(spark, str(tmp_path / "ivf"), queries, k=4, nprobe=4))
    build_ivfpq_index(emb, str(tmp_path / "ivfpq"), n_centroids=4, m=1, codebook_k=4)
    check(ivfpq_topk_stored(
        spark, str(tmp_path / "ivfpq"), queries, k=4, nprobe=4, rerank=4
    ))
    build_rp_index(emb, str(tmp_path / "rp"), out_dim=2)
    check(rp_topk_stored(spark, str(tmp_path / "rp"), ids, k=4, rerank=4))

    got = cosine_pairs_exact(emb, threshold=-1.0).collect()
    assert all(3 not in (r["id_a"], r["id_b"]) for r in got)


def test_semantic_dedup_subset_of_exact_and_finds_mutations(spark):
    from whylogs_java_spark.operators.cluster import semantic_dedup_pairs
    from whylogs_java_spark.operators.similarity import cosine_pairs_exact

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    mut = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(0.9) + F.lit(0.01)).cast("float")
        ).alias("embedding"),
    )
    corpus = emb.unionByName(mut)
    sem = {
        (r["id_a"], r["id_b"])
        for r in semantic_dedup_pairs(corpus, threshold=0.9, k=3, n_iter=1).collect()
    }
    exact = {
        (r["id_a"], r["id_b"])
        for r in cosine_pairs_exact(corpus, threshold=0.9).collect()
    }
    # cluster pruning can only DROP pairs (split across clusters),
    # never invent them
    assert sem <= exact
    # the planted (orig, mutated) near-identical pairs are close in L2
    # too, so cluster pruning keeps the vast majority of them
    planted = {p for p in exact if p[1] - p[0] == 100000}
    kept = planted & sem
    assert len(kept) >= 0.8 * len(planted)


def test_semantic_dedup_survivors_consistent_with_pairs(spark):
    from whylogs_java_spark.operators.cluster import (
        semantic_dedup,
        semantic_dedup_pairs,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    mut = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(0.9) + F.lit(0.01)).cast("float")
        ).alias("embedding"),
    )
    corpus = emb.unionByName(mut)
    res = semantic_dedup(corpus, threshold=0.9, k=3, n_iter=1).collect()
    assert len(res) == corpus.count()
    by_id = {r["vec_id"]: r for r in res}
    pairs = semantic_dedup_pairs(corpus, threshold=0.9, k=3, n_iter=1).collect()
    # paired vectors share a cluster; every cluster's survivor is its min id
    for p in pairs:
        assert by_id[p["id_a"]]["cluster_id"] == by_id[p["id_b"]]["cluster_id"]
    clusters = {}
    for r in res:
        clusters.setdefault(r["cluster_id"], []).append(r)
    for cid, members in clusters.items():
        survivors = [m for m in members if m["is_survivor"]]
        assert len(survivors) == 1
        assert survivors[0]["vec_id"] == min(m["vec_id"] for m in members) == cid


def test_simhash_pairs_pigeonhole_complete(spark):
    # the block join must find EVERY pair within max_hamming — compare
    # against brute-force hamming over all fingerprint pairs
    from itertools import combinations

    from whylogs_java_spark.operators.dedup import simhash, simhash_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    ).limit(60)
    mut = docs.where(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" tail")).alias("text"),
    )
    corpus = docs.unionByName(mut)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(corpus, "text", "doc_id", max_hamming=4).collect()
    }
    sigs = {
        r["doc_id"]: r["simhash_bits"]
        for r in simhash(corpus, "text", "doc_id").collect()
    }
    want = {}
    for i, j in combinations(sorted(sigs), 2):
        d = sum(x != y for x, y in zip(sigs[i], sigs[j]))
        if d <= 4:
            want[(i, j)] = d
    assert got == want and len(want) > 0


def test_compact_profile_atoms_equals_direct_daily(spark):
    """Rollup algebra: hourly atoms re-bucketed to day and re-merged
    must equal the directly computed daily profile bit-for-bit."""
    from whylogs_java_spark.operators.profile import (
        compact_profile_atoms,
        finalize_profile,
        profile,
        profile_atoms,
    )
    from whylogs_java_spark.sources.parquet import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events")
    hourly = profile_atoms(
        ev, group_by=["event_type"], time_column="ts", time_granularity="hour"
    )
    keys = ["event_type", "dataset_timestamp"]
    rolled = sorted(
        map(tuple, finalize_profile(
            compact_profile_atoms(hourly, keys, "day"), keys
        ).collect())
    )
    direct = sorted(
        map(tuple, profile(
            ev, group_by=["event_type"], time_column="ts",
            time_granularity="day",
        ).collect())
    )
    assert rolled == direct and len(rolled) > 0
