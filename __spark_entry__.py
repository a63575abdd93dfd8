"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Every oracle below is either generated by
``whylogs_java_spark.plans.oracle`` (profile queries — SQL built from the
same column specs as the Spark plan) or hand-written to replicate the
operator's exact algorithm, including the determinism devices
(magnitude-tiered exact integer sums, 6-decimal rounding, md5-based
hashing, deterministic tie-breaks).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from whylogs_java_spark import (
    finalize_profile,
    merge_profile_atoms,
    profile,
    profile_atoms,
)
from whylogs_java_spark.functions.metrics import numeric_atom_sql, numeric_final_sql
from whylogs_java_spark.operators.dedup import exact_duplicate_groups, near_dup_pairs
from whylogs_java_spark.operators.model import confusion_matrix, regression_metrics
from whylogs_java_spark.operators.segmentation import column_entropy
from whylogs_java_spark.operators.similarity import cosine_topk
from whylogs_java_spark.operators.summary import (
    frequent_items,
    histogram,
    quantile_summary,
    unique_counts,
)
from whylogs_java_spark.operators.text import (
    fingerprint,
    language_id,
    language_id_sql,
    quality_metrics,
    token_counts,
)
from whylogs_java_spark.plans.oracle import profile_oracle_sql
from whylogs_java_spark.sources.parquet import load_table

QUANTILES = [0.0, 0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99, 1.0]
SIM_QUERY_IDS = [0, 1, 2, 3, 4]


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the driver may hand us a session without our configs: make nano
    # timestamps readable, keep wide profile aggregations inside
    # whole-stage codegen (default maxFields=100 disables it — 3x slower),
    # and pin UTC so date_trunc buckets match the (TZ-naive) DuckDB oracle
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.codegen.maxFields", "2000")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full mixed-type dataset profile of lineitem by return flag."""
    df = _t(spark, "/root/testdata/sf0.001", "lineitem")
    return profile(df, group_by=["l_returnflag"])


# ---------------------------------------------------------------------------
# profiling queries (oracles generated from the shared column specs)
# ---------------------------------------------------------------------------

def q_profile_lineitem(spark, sf_dir):
    return profile(_t(spark, sf_dir, "lineitem"), group_by=["l_returnflag"])


def q_profile_events_daily(spark, sf_dir):
    return profile(
        _t(spark, sf_dir, "events"),
        group_by=["event_type"],
        time_column="ts",
        time_granularity="day",
    )


def q_profile_events_hourly(spark, sf_dir):
    return profile(
        _t(spark, sf_dir, "events"),
        group_by=["event_type"],
        time_column="ts",
        time_granularity="hour",
    )


def q_profile_events_compacted(spark, sf_dir):
    """Profile-store compaction invariant: hourly atoms re-bucketed to
    day and re-merged (`profile.compact_profile_atoms`) must equal the
    directly computed daily profile — the oracle derives the daily
    answer independently from raw SQL, so the rollup algebra (counts
    add, extremes min/max, exact sums add) is pinned end to end. Cost
    is one hash-agg over the store, never a raw-data rescan."""
    from whylogs_java_spark.operators.profile import (
        compact_profile_atoms,
        finalize_profile,
        profile_atoms,
    )

    hourly = profile_atoms(
        _t(spark, sf_dir, "events"),
        group_by=["event_type"],
        time_column="ts",
        time_granularity="hour",
    )
    keys = ["event_type", "dataset_timestamp"]
    return finalize_profile(
        compact_profile_atoms(hourly, keys, "day"), keys
    )


def q_profile_merge(spark, sf_dir):
    """Mergeability invariant: profile(half A) ⊕ profile(half B) == profile(all).

    Exercises DatasetProfile.merge semantics (DatasetProfile.java:251-300).
    Spark-first shape: ONE scan profiles at (keys, parity) granularity, then
    the parity sub-profiles merge down to keys — the same single-pass +
    re-aggregation pattern stored-profile merges use at scale.
    """
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "__half", F.col("l_orderkey") % 2
    )
    keys = ["l_returnflag"]
    halves = profile_atoms(li, group_by=[*keys, "__half"], columns=[c for c in li.columns if c != "__half"])
    merged = merge_profile_atoms(halves, keys)
    return finalize_profile(merged, keys)


def q_profile_orders_global(spark, sf_dir):
    """Ungrouped (whole-table) profile — the CLI/batch shape."""
    return profile(_t(spark, sf_dir, "orders"))


# ---------------------------------------------------------------------------
# summary operators
# ---------------------------------------------------------------------------

def q_quantiles_lineitem(spark, sf_dir):
    """Exact tier (oracle-checked); the scale default is tier='sketch' —
    benched separately as quantiles_lineitem_sketch."""
    return quantile_summary(
        _t(spark, sf_dir, "lineitem"),
        ["l_quantity", "l_extendedprice", "l_discount"],
        group_by=["l_returnflag"],
        quantiles=QUANTILES,
        tier="exact",
    )


_SKETCH_Q_COLS = ["l_quantity", "l_extendedprice", "l_discount"]


def _melt_lineitem(li, cols):
    """Long (l_returnflag, column_name, x) view of the numeric columns —
    the exact-rank side of the sketch bracket queries."""
    return li.select(
        "l_returnflag",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).cast("double").alias("x"),
                    )
                    for c in cols
                ]
            )
        ).alias("e"),
    ).select("l_returnflag", "e.column_name", "e.x")


def q_quantiles_lineitem_sketch(spark, sf_dir):
    """Default (sketch) tier, as an engine-verifiable BRACKET: each
    approx-percentile value's EXACT rank inside its group is computed in
    Spark and checked against the GK guarantee (rank within eps = max(1/
    accuracy, 2/n) of the target quantile, the same bracket the pytest
    pins); the query emits the boolean per (group, column, quantile) and
    the oracle asserts literal TRUE rows. The melt-join is the
    correctness harness, not the production shape — the production
    operator is `quantile_summary` itself (one bounded-memory pass)."""
    li = _t(spark, sf_dir, "lineitem")
    sk = quantile_summary(
        li, _SKETCH_Q_COLS, group_by=["l_returnflag"], quantiles=QUANTILES
    )
    # pivot the (groups x columns x 9) sketch rows to ONE row per
    # (group, column) so the exact-rank pass is a broadcast join with
    # 1x fan-out + one aggregate — the long-form join multiplied every
    # data row by |quantiles| (measured 8.5 s -> ~2 s at sf0.1)
    qcols = [f"__v{i}" for i in range(len(QUANTILES))]
    sk_wide = (
        sk.groupBy("l_returnflag", "column_name")
        .pivot("quantile", [float(q) for q in QUANTILES])
        .agg(F.first("value"))
    )
    for q, c in zip(QUANTILES, qcols):
        sk_wide = sk_wide.withColumnRenamed(str(float(q)), c)
    melted = _melt_lineitem(li, _SKETCH_Q_COLS)
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    for i, c in enumerate(qcols):
        aggs.append(
            F.sum(F.when(F.col("x") < F.col(c), 1).otherwise(0))
            .cast("double")
            .alias(f"__lt{i}")
        )
        aggs.append(
            F.sum(F.when(F.col("x") <= F.col(c), 1).otherwise(0))
            .cast("double")
            .alias(f"__le{i}")
        )
    ranks = (
        melted.join(F.broadcast(sk_wide), on=["l_returnflag", "column_name"])
        .groupBy("l_returnflag", "column_name")
        .agg(*aggs)
    )
    eps = F.greatest(F.lit(1.0 / 10000), F.lit(2.0) / F.col("n"))
    rows = []
    for i, q in enumerate(QUANTILES):
        within = (
            F.col(f"__le{i}")
            >= (F.lit(float(q)) - eps) * F.col("n") - F.lit(1e-9)
        ) & (
            F.col(f"__lt{i}")
            <= (F.lit(float(q)) + eps) * F.col("n") + F.lit(1e-9)
        )
        rows.append(
            F.struct(
                F.lit(float(q)).alias("quantile"),
                within.alias("within_rank_eps"),
            )
        )
    return ranks.select(
        "l_returnflag",
        "column_name",
        F.explode(F.array(*rows)).alias("e"),
    ).select("l_returnflag", "column_name", "e.quantile", "e.within_rank_eps")


def q_histogram_lineitem(spark, sf_dir):
    return histogram(
        _t(spark, sf_dir, "lineitem"), "l_extendedprice", ["l_returnflag"], bins=30
    )


def q_topk_orders(spark, sf_dir):
    return frequent_items(
        _t(spark, sf_dir, "orders"), "o_orderpriority", group_by=["o_orderstatus"]
    )


def q_uniques_lineitem(spark, sf_dir):
    """Exact tier (oracle-checked); the scale default is tier='sketch' —
    benched separately as uniques_lineitem_sketch."""
    return unique_counts(
        _t(spark, sf_dir, "lineitem"),
        ["l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"],
        tier="exact",
    )


def q_uniques_lineitem_sketch(spark, sf_dir):
    """Default (sketch) tier, as an engine-verifiable BRACKET: the HLL++
    estimate (rsd 0.016, lgK=12 parity) is compared to the exact
    distinct count ENTIRELY IN SPARK and the query emits the boolean —
    the DuckDB oracle asserts the literal TRUE row plus the exact
    count, so a sketch regression (wrong register math, broken merge)
    flips a hash-checked row instead of hiding behind a rows-only
    check. Bracket: |est - exact| <= max(3 * rsd * exact, 1)."""
    cols = ["l_orderkey", "l_partkey", "l_suppkey", "l_returnflag"]
    li = _t(spark, sf_dir, "lineitem")
    est = unique_counts(li, cols).select(
        "column_name", F.col("unique_count").alias("est")
    )
    exact = unique_counts(li, cols, tier="exact").select(
        "column_name", F.col("unique_count").alias("exact_unique")
    )
    return est.join(exact, "column_name").select(
        "column_name",
        "exact_unique",
        (
            F.abs(F.col("est") - F.col("exact_unique"))
            <= F.greatest(
                F.lit(3 * 0.016) * F.col("exact_unique"), F.lit(1.0)
            )
        ).alias("within_3rsd"),
    )


def q_entropy_events(spark, sf_dir):
    return column_entropy(_t(spark, sf_dir, "events"), ["event_type", "user_id"])


# ---------------------------------------------------------------------------
# model metrics
# ---------------------------------------------------------------------------

def q_confusion_events(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").select(
        (F.col("value") > 50).alias("pred"),
        ((F.col("value") + (F.col("event_id") % 20) - 10) > 50).alias("tgt"),
        F.col("value").alias("score"),
    )
    return confusion_matrix(ev, "pred", "tgt", score="score")


def q_regression_lineitem(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount"))).alias("pred"),
        F.col("l_extendedprice").alias("tgt"),
    )
    return regression_metrics(li, "pred", "tgt", group_by=["l_returnflag"])


# ---------------------------------------------------------------------------
# training-data pipeline: dedup / similarity / text
# ---------------------------------------------------------------------------

def q_dedup_exact_documents(spark, sf_dir):
    """Exact-duplicate groups keyed on the first-8-word prefix."""
    d = _t(spark, sf_dir, "documents")
    key = F.md5(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 8)))
    return exact_duplicate_groups(d, "text", "doc_id", key=key)


def _mutated_corpus(d: DataFrame) -> DataFrame:
    """documents ∪ near-duplicate mutations of every 10th doc."""
    mut = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
    )
    return d.select("doc_id", "text").unionByName(mut)


def q_dedup_near_documents(spark, sf_dir):
    corpus = _mutated_corpus(_t(spark, sf_dir, "documents"))
    return near_dup_pairs(
        corpus, "text", "doc_id", threshold=0.5, num_hashes=16, bands=4, shingle_size=3
    )


def q_dedup_char_ngram(spark, sf_dir):
    """Character 5-gram Jaccard near-dup (the n-gram-Jaccard dedup family,
    robust to word-boundary edits): same MinHash-LSH + exact-verify
    pipeline as dedup_near_documents, over char n-gram sets. Uses the
    banded32 hash family — char 5-grams have background Jaccard ≈ 0.19,
    and the affine family's cross-component correlation collapsed band
    selectivity to ~J (1.56M candidates / 128 s at sf0.1); independent
    per-band digests restore J^r (~19 s, measured, same oracle)."""
    corpus = _mutated_corpus(_t(spark, sf_dir, "documents"))
    return near_dup_pairs(
        corpus, "text", "doc_id", threshold=0.7, num_hashes=16, bands=4,
        shingle_size=5, char_ngrams=True, hash_family="banded32",
    )


def q_dedup_clusters(spark, sf_dir):
    """Near-dup cluster RESOLUTION — the full dedup pass a training-data
    pipeline runs: MinHash-LSH verified pairs -> connected components
    (iterative min-label propagation; DuckDB oracle = the recursive-CTE
    fixpoint) -> one row per doc with its cluster's min id and a survivor
    flag."""
    from whylogs_java_spark.operators.dedup import near_dup_clusters

    corpus = _mutated_corpus(_t(spark, sf_dir, "documents"))
    return near_dup_clusters(
        corpus, "text", "doc_id", threshold=0.5, num_hashes=16, bands=4,
        shingle_size=3,
    )


def q_dedup_simhash(spark, sf_dir):
    """SimHash fingerprints over documents, md5 hash family — fully
    oracle-checked (bit b = bit b%4 of md5 hex nibble b//4, reproducible
    verbatim in DuckDB). The cheaper xxhash64 family stays the operator
    default; Hamming semantics are pinned by pytest on that tier."""
    from whylogs_java_spark.operators.dedup import simhash

    return simhash(
        _t(spark, sf_dir, "documents"), "text", "doc_id", hash_family="md5"
    ).select("doc_id", "simhash_hex")


def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup PAIRS (Manku et al. WWW'07): 64-bit md5-family
    fingerprints over the mutated corpus, candidates from the
    pigeonhole block equi-join (4 blocks for hamming ≤ 3 — a qualifying
    pair matches exactly on ≥ 1 block), exact Hamming verify on
    candidates only. Never all-pairs; fully oracle-checked."""
    from whylogs_java_spark.operators.dedup import simhash_pairs

    corpus = _mutated_corpus(_t(spark, sf_dir, "documents"))
    return simhash_pairs(
        corpus, "text", "doc_id", max_hamming=3, hash_family="md5"
    )


def q_similarity_topk(spark, sf_dir):
    return cosine_topk(_t(spark, sf_dir, "embeddings"), SIM_QUERY_IDS, k=5)


def q_langid_documents(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    pred = language_id(d, "text", "doc_id")
    return (
        d.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_quality_documents(spark, sf_dir):
    return quality_metrics(_t(spark, sf_dir, "documents"), "text", "doc_id")


def q_fingerprint_documents(spark, sf_dir):
    return fingerprint(_t(spark, sf_dir, "documents"), "text", "doc_id")


def q_tokens_documents(spark, sf_dir):
    return token_counts(_t(spark, sf_dir, "documents"), "text", "doc_id")


def q_phrase_search_documents(spark, sf_dir):
    """Persisted positional inverted index + exact phrase probe (r12):
    build the term-bucket-partitioned postings store once, then search
    "hash join" against it — the probe reads only the phrase terms'
    bucket partitions (static partition pruning) and counts adjacency
    chains overlap-aware. The DuckDB oracle recomputes matches straight
    off the text (token-walk, no postings), so the oracle is
    ground-truth, not construction-identical. Bit-identity with the
    scan-side phrase_search is pinned by pytest."""
    import shutil
    import tempfile

    from whylogs_java_spark.operators.retrieval import (
        build_text_index,
        phrase_search_stored,
    )

    d = _t(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="text_index_")
    try:
        build_text_index(d, path, "text", "doc_id", n_buckets=16)
        out = phrase_search_stored(spark, path, "hash join")
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def q_bm25_stored_documents(spark, sf_dir):
    """BM25 against the persisted text index (r12): build once, then
    the probe touches only the query terms' bucket partitions, df
    aggregates over the pruned read, dl is denormalized on the posting
    rows (no doc join), corpus constants ride the one-row stats
    broadcast. Bit-identical to the in-memory bm25_topk over lowercased
    text (pinned by pytest), so the oracle is the BM25 SQL with
    lower(text) — ground-truth scoring, not a postings replay."""
    import shutil
    import tempfile

    from whylogs_java_spark.operators.retrieval import (
        bm25_topk_stored,
        build_text_index,
    )

    d = _t(spark, sf_dir, "documents")
    qdf = _bm25_query_df(spark)
    path = tempfile.mkdtemp(prefix="bm25_index_")
    try:
        build_text_index(d, path, "text", "doc_id", n_buckets=16)
        out = bm25_topk_stored(spark, path, qdf, k=10)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def q_hybrid_search_documents(spark, sf_dir):
    """Hybrid retrieval (r12): BM25 top-10 (text) x exact-cosine top-10
    (embedding, query vector = the query id's own embedding) fused with
    reciprocal-rank fusion — rank-only, so no score calibration between
    the heterogeneous rankers. Both inputs are queries x k tables; the
    fusion join and re-rank never touch corpus-scale data."""
    from whylogs_java_spark.operators.retrieval import bm25_topk, rrf_fuse

    d = _t(spark, sf_dir, "documents")
    qdf = _bm25_query_df(spark)
    text_side = bm25_topk(d, qdf, "text", "doc_id", k=10)
    vec_side = cosine_topk(
        _t(spark, sf_dir, "embeddings"), [1, 2, 3, 4], k=10
    ).select("query_id", "rank", F.col("neighbor_id").alias("doc_id"))
    return rrf_fuse(text_side, vec_side, "doc_id", k0=60, k=10)


_CANARY_PHRASES = ["hash join", "sort merge", "window agg", "slow scan"]


def q_phrases_canary_documents(spark, sf_dir):
    """Multi-phrase canary screen (r12): 4 marker phrases checked
    against every doc in ONE scan (shared let-bound token array, one
    inline explode; zero shuffles). The oracle walks the raw text per
    phrase and UNION ALLs — ground truth per phrase."""
    from whylogs_java_spark.operators.retrieval import phrase_search_many

    return phrase_search_many(
        _t(spark, sf_dir, "documents"), "text", "doc_id", _CANARY_PHRASES
    )


def q_source_cap_documents(spark, sf_dir):
    """Per-source quota cap (r12): keep the 12 best-quality docs per
    source (quality DESC, doc_id tie-break) — the anti-domain-dominance
    rule. WindowGroupLimit pushes the top-12 heap below the exchange."""
    from whylogs_java_spark.operators.sampling import source_cap

    q = quality_metrics(
        _t(spark, sf_dir, "documents"), "text", "doc_id", keep_cols=("source",)
    ).select("doc_id", "source", "quality")
    return source_cap(q, "doc_id", "source", 12, "quality")


def q_token_budget_documents(spark, sf_dir):
    """Greedy token-budget cut (r12): the best-quality prefix whose
    running ws-token total fits 15k tokens. The plan never globally
    sorts the corpus — per-quality-value running totals ladder +
    within-bucket windows (sampling.token_budget_select)."""
    from whylogs_java_spark.operators.sampling import token_budget_select

    q = quality_metrics(_t(spark, sf_dir, "documents"), "text", "doc_id").select(
        "doc_id", F.col("word_count").cast("long").alias("word_count"), "quality"
    )
    return token_budget_select(q, "doc_id", "word_count", "quality", 15_000)


def q_vocab_oov_documents(spark, sf_dir):
    """Top-64 vocab induction + per-doc OOV coverage (r12): the vocab is
    a k-row collect (aggregate-sized); the OOV pass is a zero-join,
    zero-shuffle scan projection with the vocab as literals."""
    from whylogs_java_spark.operators.text import vocab_oov

    return vocab_oov(_t(spark, sf_dir, "documents"), "text", "doc_id", 64)


# Deterministic mixed-type string column for coercion-mode profiling: the
# same SQL fragment drives the Spark query and the DuckDB oracle.
_COERCE_VALUE_SQL = """CASE
  WHEN l_orderkey % 37 = 0 THEN 'NA'
  WHEN l_orderkey % 4 = 0 THEN CAST(l_linenumber AS STRING)
  WHEN l_orderkey % 4 = 1 THEN CONCAT(CAST(l_linenumber AS STRING), '.5')
  WHEN l_orderkey % 4 = 2 THEN (CASE WHEN l_linenumber > 3 THEN 'true' ELSE 'false' END)
  ELSE l_returnflag END"""


def q_profile_coerced(spark, sf_dir):
    """String-coercion profiling (TypedDataConverter.java:62-84): a mixed
    integral/fractional/boolean/word string column with a null-string."""
    li = _t(spark, sf_dir, "lineitem")
    d = li.selectExpr(f"{_COERCE_VALUE_SQL} AS v")
    return profile(d, null_strings=["NA"], coerce_strings=True)


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup: perturbed copies of every 10th vector must
    pair with their source at cosine ~1."""
    from whylogs_java_spark.operators.similarity import cosine_pairs_exact

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return cosine_pairs_exact(_mutated_embeddings(emb), threshold=0.9)


def _mutated_embeddings(emb: DataFrame) -> DataFrame:
    """embeddings ∪ perturbed copies of every 10th vector (shared by the
    exact and bucketed embedding-dedup queries)."""
    mut = emb.where(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(0.9) + F.lit(0.01)).cast("float")
        ).alias("embedding"),
    )
    return emb.unionByName(mut)


def q_dedup_embedding_bucketed(spark, sf_dir):
    """Scale-path embedding near-dup: BANDED hyperplane-bucket candidates
    (OR-construction — 2 independent 4-plane signatures, a pair is a
    candidate if it collides in either band; equi-join per band, no cross
    product), exact strict-fold cosine on the candidates.
    Same corpus as
    dedup_embedding, so the output is the subset of its pairs whose members
    collide in ≥1 band."""
    from whylogs_java_spark.operators.similarity import cosine_pairs_bucketed

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return cosine_pairs_bucketed(
        _mutated_embeddings(emb), threshold=0.9, planes=4, bands=2
    )


def q_dedup_embedding_fast(spark, sf_dir):
    """Bucketed embedding dedup with the hot-bucket cap: the banded
    signatures of dedup_embedding_bucketed, plus buckets >2000 vectors
    split by 4 extra hyperplanes — bounded per-task pair generation on
    clustered corpora. Fully oracle-checked: folds evaluate strictly
    left-to-right, so the DuckDB list_reduce twin (including the
    unrolled window-count cap refinement) reproduces every bucket bit
    and cosine bit-for-bit."""
    from whylogs_java_spark.operators.similarity import cosine_pairs_bucketed

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return cosine_pairs_bucketed(
        _mutated_embeddings(emb),
        threshold=0.9,
        planes=4,
        bands=2,
        bucket_cap=2000,
    )


def q_weighted_entropy_events(spark, sf_dir):
    """Conditional entropy H(event_type | user_id % 10) — the reference's
    weighted-entropy core (autosegmentation.py:19-45)."""
    from whylogs_java_spark.operators.segmentation import conditional_entropy_df

    ev = _t(spark, sf_dir, "events").withColumn("bucket", F.col("user_id") % 10)
    return conditional_entropy_df(ev, ["bucket"], "event_type")


def q_profile_customer(spark, sf_dir):
    return profile(_t(spark, sf_dir, "customer"), group_by=["c_mktsegment"])


def q_topk_part_brand(spark, sf_dir):
    return frequent_items(_t(spark, sf_dir, "part"), "p_brand")


def q_similarity_topk_fast(spark, sf_dir):
    """Production-path ANN baseline: JVM zip_with dot products over
    broadcast queries. Fully oracle-checked — array folds are strict
    left-to-right, so the IEEE double sums match DuckDB list_reduce
    bit-for-bit (same determinism argument as similarity_topk)."""
    from whylogs_java_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 20)
    return cosine_topk(emb, queries_df, k=10)


def q_similarity_ivf(spark, sf_dir):
    """IVF-style ANN (coarse quantizer + probed inverted lists), as an
    engine-verifiable QUALITY BRACKET: the production tier's centroid
    sampling uses xxhash64 (no DuckDB twin), so instead of raw neighbor
    rows the query emits, per query id, the pytest quality floor
    computed entirely in Spark against the brute-force exact top-k —
    (a) the IVF top-1 cosine never exceeds the exact top-1 (probing
    can't beat brute force), (b) it reaches >= 60% of it, (c) the IVF
    top-10 intersects the exact top-10. The oracle asserts the literal
    TRUE rows, so an assignment/probe regression flips a hash-checked
    row instead of hiding behind a rows-only check."""
    from whylogs_java_spark.operators.similarity import cosine_topk, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 20)
    ivf = ivf_topk(emb, queries_df, k=10, n_centroids=16, nprobe=4)
    exact = cosine_topk(emb, queries_df, k=10)
    ex1 = exact.where(F.col("rank") == 1).select(
        "query_id", F.col("cosine").alias("exact_top1")
    )
    iv1 = ivf.where(F.col("rank") == 1).select(
        "query_id", F.col("cosine").alias("ivf_top1")
    )
    hits = (
        ivf.select("query_id", "neighbor_id")
        .join(
            exact.select("query_id", "neighbor_id"),
            on=["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    return (
        ex1.join(iv1, "query_id")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            (F.col("ivf_top1") <= F.col("exact_top1") + 1e-9).alias(
                "top1_not_above_exact"
            ),
            (F.col("ivf_top1") >= 0.6 * F.col("exact_top1")).alias(
                "top1_quality_floor"
            ),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias(
                "top10_hit_in_top10"
            ),
        )
    )


def q_dedup_containment_fragment(spark, sf_dir):
    """Containment dedup, tiny-fragment regime: 10-word fragments quoted
    from every 20th doc join the corpus; rare-shingle inverted-index
    candidates (document frequency in [2, 50]) catch every
    fragment-container pair — the recall case banded minhash structurally
    misses (band collisions track symmetric Jaccard ≈ |A|/|B|; measured
    12-14/25 across r=4..2 vs 25/25 here, pinned in
    tests/test_pipeline_ops.py)."""
    from whylogs_java_spark.operators.dedup import containment_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    frag = d.where(F.col("doc_id") % 20 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 10)).alias("text"),
    )
    return containment_pairs(
        d.unionByName(frag), "text", "doc_id", threshold=0.9,
        candidates="shingle", df_cap=50, min_shared=2,
    )


def q_similarity_ivf_md5(spark, sf_dir):
    """Oracle-deterministic IVF tier: md5 centroid ranks (not xxhash64) +
    strict left-to-right double folds make list assignment, probe
    selection, and scores bit-reproducible in DuckDB (list_reduce folds
    the same sequence) — the dedup_simhash playbook applied to IVF. The
    production tier (similarity_ivf) keeps the shuffle-free
    broadcast-argmax assignment; this twin proves the probe/list
    mechanics against SQL."""
    from whylogs_java_spark.operators.similarity import ivf_topk_exact

    emb = _t(spark, sf_dir, "embeddings")
    return ivf_topk_exact(
        emb, list(range(20)), k=10, n_centroids=16, nprobe=4
    )


def q_similarity_pq(spark, sf_dir):
    """Flat product quantization (`similarity.pq_topk`, Jégou et al.
    2011): 4 subspaces × 16 sampled sub-centroids, corpus scanned as
    m-byte codes via per-query ADC lookup tables, exact-refine on the
    30-deep rerank cut. The full output — codes, ADC ranks, refined
    cosines — replays in DuckDB."""
    from whylogs_java_spark.operators.similarity import pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    return pq_topk(
        emb, SIM_QUERY_IDS, k=10, m=4, codebook_k=16, rerank=30
    )


def q_similarity_lsh(spark, sf_dir):
    """LSH-bucketed ANN with hamming-1 multi-probe. Fully oracle-checked:
    projection signs come from strict left-to-right double folds, which
    DuckDB list_reduce reproduces bit-for-bit — bucket membership, probe
    expansion, and cosines all match; recall floors and probe
    monotonicity additionally pinned by pytest."""
    from whylogs_java_spark.operators.similarity import lsh_bucket_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < 20)
    return lsh_bucket_topk(emb, queries_df, k=10, planes=8, probes=4)


def q_ann_recall_embeddings(spark, sf_dir):
    """ANN recall dashboard over the oracle-deterministic tier family
    (lsh / ivf_md5 / pq / rp vs brute-force exact top-10 on query
    ids 0..19): recall@k and mean rank displacement per tier, the table
    a pipeline tunes nprobe/planes/m against. Every ingredient is
    md5-sampled + strict-fold scored, so the recall NUMBERS themselves
    replay in DuckDB (tier SQL twins composed as subqueries) and the
    whole report is hash-checked. Recall monotonicity in nprobe is
    additionally pinned by pytest."""
    from whylogs_java_spark.operators.similarity import ann_recall_report

    emb = _t(spark, sf_dir, "embeddings")
    return ann_recall_report(emb, list(range(20)), k=10, rp_dim=64)


def q_sessions_events(spark, sf_dir):
    """Gap-based sessionization of the events stream (30-minute gap),
    per-session stats."""
    from whylogs_java_spark.operators.sessions import session_stats

    ev = _t(spark, sf_dir, "events")
    return session_stats(
        ev, "user_id", "ts", gap_seconds=1800, order_tiebreak="event_id"
    )


def q_profile_wire_fixture(spark, sf_dir):
    """Protobuf wire-compat, hash-checked golden BRACKET: distributed
    parse of BOTH reference golden DatasetProfileMessage fixtures
    (DatasetProfileTest.java:260-340 parses the same binaries), reduced
    to one row per fixture with (a) exact fields the literal oracle
    pins — column count, session id/timestamp, the pinned column's
    count — and (b) invariant booleans computed over EVERY parsed
    column (count == null + Σ type-counts; min<=max whenever n>0) plus
    the reference-test value brackets (min≈-261.765 ±0.01,
    max≈575.476 ±0.01, mean≈34.8778 ±0.001 for
    mths_since_recent_revol_delinq; all-STRING home_ownership with a
    present HLL). The constants mirror tests/test_protobuf.py's pins,
    which come from the reference's own test expectations — a wrong
    varint/field decode flips a boolean or an exact count, so this is
    a genuine wire check, not a tautology."""
    from whylogs_java_spark.sources.protobuf import read_profile_bin

    fx_dir = "/root/reference/core/src/test/resources"
    df = read_profile_bin(
        spark,
        [f"{fx_dir}/python_profile.bin", f"{fx_dir}/profiles-1.bin"],
    )
    base = df.withColumn(
        "fixture", F.element_at(F.split(F.col("path"), "/"), -1)
    )
    types_sum = (
        F.col("null_count")
        + F.col("integral_count")
        + F.col("fractional_count")
        + F.col("boolean_count")
        + F.col("string_count")
        + F.col("unknown_count")
    )
    is_py = F.col("fixture") == "python_profile.bin"
    pin_col = F.when(
        is_py, F.lit("mths_since_recent_revol_delinq")
    ).otherwise(F.lit("home_ownership"))
    is_pin = F.col("column_name") == pin_col
    pin_n_src = F.when(is_py, F.col("n")).otherwise(F.col("count"))
    pin_ok_src = F.when(
        is_py,
        (F.abs(F.col("min") - F.lit(-261.765)) <= 0.01)
        & (F.abs(F.col("max") - F.lit(575.476)) <= 0.01)
        & (F.abs(F.col("mean") - F.lit(34.8778)) <= 0.001),
    ).otherwise(
        (F.col("string_count") == F.col("count")) & F.col("hll").isNotNull()
    )
    return base.groupBy("fixture").agg(
        F.count(F.lit(1)).alias("n_columns"),
        F.every(F.col("count") == types_sum).alias("counts_consistent"),
        F.every((F.col("n") == 0) | (F.col("min") <= F.col("max"))).alias(
            "minmax_ordered"
        ),
        F.min("session_id").alias("session_id"),
        F.min("session_timestamp").alias("session_timestamp"),
        F.min(pin_col).alias("pin_col"),
        F.min(F.when(is_pin, pin_n_src)).alias("pin_n"),
        F.min(F.when(is_pin, pin_ok_src)).alias("pin_ok"),
    )


def q_multimodal_meta(spark, sf_dir):
    """Image header metadata over a synthetic binary column: deterministic
    PNG (even doc_ids) / JPEG (odd; every 4th with an APP0 segment before
    the SOF so the marker walk takes >1 step) fixtures built from doc_id,
    parsed by pure JVM expressions (no codec, no UDF). The DuckDB oracle
    constructs the same bytes and parses the same offsets independently."""
    from whylogs_java_spark.operators.multimodal import image_header_meta

    d = _t(spark, sf_dir, "documents").select("doc_id")
    w = (F.col("doc_id") % 640 + 1).cast("long")
    h = (F.col("doc_id") % 480 + 1).cast("long")
    png_hex = F.concat(
        F.lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
        F.lpad(F.hex(w), 8, "0"),
        F.lpad(F.hex(h), 8, "0"),
        F.lit("0806000000"),
    )
    app0 = F.when(F.col("doc_id") % 4 == 1, F.lit("FFE000040000")).otherwise(F.lit(""))
    jpeg_hex = F.concat(
        F.lit("FFD8"),
        app0,
        F.lit("FFC00011" + "08"),
        F.lpad(F.hex(h), 4, "0"),
        F.lpad(F.hex(w), 4, "0"),
        F.lit("03011100021101031101" + "FFD9"),
    )
    data = F.unhex(F.when(F.col("doc_id") % 2 == 0, png_hex).otherwise(jpeg_hex))
    return image_header_meta(d.select("doc_id", data.alias("data")), "data", "doc_id")


# The oracle builds the same bytes as a HEX STRING and parses byte offsets
# as string offsets (byte i = chars 2i-1..2i) — independent of Spark's
# binary functions, same byte-layout logic.
_MULTIMODAL_ORACLE = """
WITH src AS (
  SELECT doc_id,
    upper(CASE WHEN doc_id % 2 = 0 THEN
      '89504E470D0A1A0A' || '0000000D' || '49484452'
        || lpad(to_hex(doc_id % 640 + 1), 8, '0')
        || lpad(to_hex(doc_id % 480 + 1), 8, '0') || '0806000000'
    ELSE
      'FFD8' || (CASE WHEN doc_id % 4 = 1 THEN 'FFE000040000' ELSE '' END)
        || 'FFC00011' || '08'
        || lpad(to_hex(doc_id % 480 + 1), 4, '0')
        || lpad(to_hex(doc_id % 640 + 1), 4, '0')
        || '03011100021101031101' || 'FFD9'
    END) AS hx
  FROM documents
), fmt AS (
  SELECT doc_id, hx,
    CASE WHEN substr(hx, 1, 16) = '89504E470D0A1A0A' THEN 'png'
         WHEN substr(hx, 1, 4) = 'FFD8' THEN 'jpeg'
         ELSE 'unknown' END AS format,
    CASE WHEN substr(hx, 7, 2) IN ('C0','C1','C2','C3') THEN 3
         ELSE 3 + 2 + ('0x' || substr(hx, 9, 4))::INT END AS sof
  FROM src
)
SELECT doc_id, format,
  CASE WHEN format = 'png' THEN ('0x' || substr(hx, 33, 8))::INT
       WHEN format = 'jpeg' THEN ('0x' || substr(hx, (sof + 7 - 1) * 2 + 1, 4))::INT
  END AS width,
  CASE WHEN format = 'png' THEN ('0x' || substr(hx, 41, 8))::INT
       WHEN format = 'jpeg' THEN ('0x' || substr(hx, (sof + 5 - 1) * 2 + 1, 4))::INT
  END AS height
FROM fmt
"""


def q_cube_lineitem(spark, sf_dir):
    """Profile metrics under CUBE grouping (free via Catalyst — the
    reference has no grouping sets; SURVEY.md §2.4 'grouping sets' row).
    NULL markers in the cube output double as the all-group rows."""
    from whylogs_java_spark.plans.spark_sql import _num_aggs_sql, _num_projection_sql

    li = _t(spark, sf_dir, "lineitem")
    pieces = li.selectExpr(
        "l_returnflag",
        "l_linestatus",
        *_num_projection_sql("CAST(l_quantity AS DOUBLE)", "__q"),
    )
    atoms = pieces.cube("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("count"),
        *[F.expr(e) for e in _num_aggs_sql("__q", "q")],
    )
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, `count`, "
        f"{numeric_final_sql('q', 'qty_')} FROM {{atoms}}",
        atoms=atoms,
    )


def q_charpos_documents(spark, sf_dir):
    """Char-position tracker (CharPosTracker.java:48-126) over doc texts,
    grouped by language."""
    from whylogs_java_spark.operators.charpos import char_pos_stats

    return char_pos_stats(_t(spark, sf_dir, "documents"), "text", group_by=["lang"])


def q_sketch_summary_lineitem(spark, sf_dir):
    """DataSketches KLL/theta/HLL tier, as engine-verifiable BRACKETS
    (the pytest tolerances re-expressed as hash-checked rows): per
    (group, column) the query emits the exact distinct count plus four
    booleans computed entirely in Spark — theta estimate inside its own
    1-std-err bounds, theta within 3x rse of exact, HLL within 3*rsd,
    KLL median within 2x the sketch's normalized rank error (rank-space
    check with float32 ulp slack). The oracle asserts the literal
    TRUE/NULL shape, so a broken sketch binary parse or merge flips a
    hash row. (The group key itself is excluded from sketching by
    ``sketch_aggs``, so the two numeric columns are the content — each
    carries all four booleans.)"""
    from whylogs_java_spark.operators.approx import sketch_profile, sketch_summary

    num_cols = ["l_quantity", "l_extendedprice"]
    li = _t(spark, sf_dir, "lineitem")
    sk = sketch_profile(
        li, columns=num_cols + ["l_returnflag"], group_by=["l_returnflag"]
    )
    out = sketch_summary(sk, group_by=["l_returnflag"]).select(
        "l_returnflag",
        "column_name",
        "unique_theta",
        "unique_theta_lower",
        "unique_theta_upper",
        "unique_hll",
        F.col("quantiles").getItem(4).cast("double").alias("median_est"),
    )
    ex = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            *[F.count_distinct(F.col(c)).alias(f"__u_{c}") for c in num_cols]
        )
        .select(
            "l_returnflag",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column_name"),
                            F.col(f"__u_{c}").cast("long").alias("exact_distinct"),
                        )
                        for c in num_cols
                    ]
                )
            ).alias("e"),
        )
        .select("l_returnflag", "e.*")
    )
    # j is aggregate-sized (groups × columns rows) but feeds BOTH the
    # median rank check and the final select — without a stage boundary
    # the sketch + exact-distinct aggregates are duplicated under each
    # consumer (audited: 5 lineitem scans in the final plan; 3 is the
    # floor). Lazy checkpoint (guide §5) computes them once; the melt
    # join below broadcasts j EXPLICITLY because the checkpointed RDD
    # has no size statistics to trigger the broadcast on its own.
    from whylogs_java_spark.ckpt import materialize_lazy

    j = materialize_lazy(out.join(ex, on=["l_returnflag", "column_name"]))
    # exact-rank check of the KLL median: one melt-join over the numeric
    # columns (harness shape; production is the sketch pass itself)
    melted = _melt_lineitem(li, num_cols)
    slack = F.abs(F.col("median_est")) * F.lit(1e-6) + F.lit(1e-6)
    med = (
        F.broadcast(j.where(F.col("median_est").isNotNull()))
        .join(melted, on=["l_returnflag", "column_name"])
        .groupBy("l_returnflag", "column_name", "median_est")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(
                F.when(F.col("x") <= F.col("median_est") + slack, 1).otherwise(0)
            )
            .cast("double")
            .alias("cnt_le"),
            F.sum(
                F.when(F.col("x") < F.col("median_est") - slack, 1).otherwise(0)
            )
            .cast("double")
            .alias("cnt_lt"),
        )
        .select(
            "l_returnflag",
            "column_name",
            (
                (F.col("cnt_le") >= (0.5 - 2 * 0.0083) * F.col("n") - 1e-9)
                & (F.col("cnt_lt") <= (0.5 + 2 * 0.0083) * F.col("n") + 1e-9)
            ).alias("median_within_rank_eps"),
        )
    )
    rse3 = F.greatest(F.lit(3 * 0.016) * F.col("exact_distinct"), F.lit(1.0))
    return (
        j.join(med, on=["l_returnflag", "column_name"], how="left")
        .select(
            "l_returnflag",
            "column_name",
            "exact_distinct",
            (
                (F.col("unique_theta_lower") <= F.col("unique_theta"))
                & (F.col("unique_theta") <= F.col("unique_theta_upper"))
            ).alias("theta_in_own_bounds"),
            (F.abs(F.col("unique_theta") - F.col("exact_distinct")) <= rse3).alias(
                "theta_within_3rse"
            ),
            (F.abs(F.col("unique_hll") - F.col("exact_distinct")) <= rse3).alias(
                "hll_within_3rsd"
            ),
            "median_within_rank_eps",
        )
    )


def q_repetition_documents(spark, sf_dir):
    """Gopher-style repetition gates (duplicate-word fraction, top word /
    bigram coverage) over documents — the repetition-quality signal a
    training-data pipeline filters on."""
    from whylogs_java_spark.operators.text import repetition_metrics

    return repetition_metrics(_t(spark, sf_dir, "documents"), "text", "doc_id")


def q_lm_score_documents(spark, sf_dir):
    """Corpus-trained smoothed-bigram LM perplexity per document — the
    CCNet-style statistical quality score. Vocabulary and bigram tables
    are exact top-k with deterministic tie-breaks, so the whole pipeline
    (LM build + scoring) reproduces in DuckDB to the 6-decimal rounding."""
    from whylogs_java_spark.operators.text import lm_score

    return lm_score(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        vocab_size=256, top_bigrams=2048,
    )


def q_lm_score3_documents(spark, sf_dir):
    """Interpolated-trigram LM perplexity per document (r13) — the
    order=3 tier of the CCNet-style score, one step toward the
    published 5-gram KenLM shape (Wenzek et al. 2020). JM
    interpolation λ=(0.5,0.3,0.2) over add-0.5 trigram/bigram/unigram
    conditionals; vocabulary, bigram, and trigram tables are exact
    top-k with deterministic tie-breaks, so the whole build+score
    replays in DuckDB to the 6-decimal rounding."""
    from whylogs_java_spark.operators.text import lm_score

    return lm_score(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        vocab_size=256, top_bigrams=2048,
        order=3, top_trigrams=4096,
    )


def q_lm_score3_kn_documents(spark, sf_dir):
    """Interpolated KNESER-NEY trigram perplexity per document (r14) —
    the smoothing family KenLM (and therefore the published CCNet
    pipeline, Wenzek et al. 2020) actually uses: absolute discount
    D=0.75 at the trigram level, CONTINUATION counts at the
    bigram/unigram levels (Kneser & Ney 1995; Chen & Goodman 1999
    interpolated form), add-0.5 floor on the continuation unigram.
    Every table is an exact aggregate of the same type censuses the JM
    tier builds, so the whole build+score replays in DuckDB to the
    6-decimal rounding."""
    from whylogs_java_spark.operators.text import lm_score

    return lm_score(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        vocab_size=256, top_bigrams=2048,
        order=3, top_trigrams=4096, smoothing="kn",
    )


def q_lm_score3_kn_stored_documents(spark, sf_dir):
    """The persisted-LM face of the CCNet loop (r14): train the
    Kneser-Ney trigram LM ONCE into a parquet store (build_lm_store —
    the frozen-artifact shape Wenzek et al. 2020 deploy: train on the
    clean corpus, score every shard), then score via the store.
    Stored scoring is bit-identical to in-memory scoring with the same
    parameters (pinned by pytest across all three tiers), so this
    query shares lm_score3_kn_documents' DuckDB build-replay oracle
    verbatim."""
    import shutil
    import tempfile

    from whylogs_java_spark.operators.text import (
        build_lm_store,
        lm_score_stored,
    )

    d = _t(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="lm_store_")
    try:
        build_lm_store(
            d, path, "text", vocab_size=256, top_bigrams=2048,
            order=3, top_trigrams=4096, smoothing="kn",
        )
        out = lm_score_stored(spark, path, d, "text", "doc_id")
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


BPE_MERGES = 8


def q_bpe_merges_documents(spark, sf_dir):
    """Distributed BPE tokenizer induction (Sennrich et al. 2016): the
    corpus reduces ONCE to its word census; each of the 8 merge rounds
    is one bounded pair-count aggregate + a 1-row argmax collect (the
    classifier-GD loop shape). Deliverable = the merge table in
    training order. The oracle unrolls all 8 rounds as DuckDB CTE trios
    (census → pair argmax → wrapped-symbol replace) — the ENTIRE
    training trajectory replays, the quality_classifier precedent."""
    from whylogs_java_spark.operators.tokenizer import bpe_train

    return bpe_train(
        _t(spark, sf_dir, "documents"), "text", n_merges=BPE_MERGES
    )


def q_bpe_merges_census_documents(spark, sf_dir):
    """Driver-census BPE training tier (production vocabularies): the
    corpus reduces ONCE to its bounded word census, which is collected
    (guarded) and trained in-driver with incremental pair-count
    maintenance — ONE Spark job total regardless of merge count,
    where the distributed tier pays one aggregate + argmax collect +
    re-materialization PER MERGE (~100k jobs at a 32k vocabulary).
    Bit-identical to the distributed trajectory by construction
    (identical census reduction, identical count DESC / left ASC /
    right ASC tie-break), so the SAME unrolled DuckDB oracle checks
    both tiers hash-for-hash."""
    from whylogs_java_spark.operators.tokenizer import bpe_train

    return bpe_train(
        _t(spark, sf_dir, "documents"),
        "text",
        n_merges=BPE_MERGES,
        method="census",
    )


def q_c4_filter_documents(spark, sf_dir):
    """C4 line-level cleaning rules (Raffel et al. 2020) over a
    deterministically line-structured variant of the corpus (the flat
    synthetic docs carry no newlines/punctuation, so the query plants
    them: 6-word lines, arithmetic terminal-punctuation pattern, a
    lorem-ipsum line on every 50th doc, a brace line on every 97th —
    the same planted-fixture convention as the dedup family). The
    operator itself is a ZERO-exchange scan projection; the oracle
    replays synthesis + every line gate + the rebuilt text in DuckDB."""
    from whylogs_java_spark.functions.hof import let_bound
    from whylogs_java_spark.operators.text import c4_filter

    d = _t(spark, sf_dir, "documents")

    def build(w):
        n_lines = F.greatest(
            F.floor((F.size(w) + 5) / F.lit(6.0)), F.lit(1)
        )
        lines = F.transform(
            F.sequence(F.lit(1), n_lines.cast("int")),
            lambda i: F.concat(
                F.concat_ws(" ", F.slice(w, (i - 1) * 6 + 1, 6)),
                F.when(
                    (F.col("doc_id") % 50 == 0) & (i == 1),
                    F.lit(" lorem ipsum."),
                )
                .when((F.col("doc_id") + i) % 3 == 0, F.lit("."))
                .otherwise(F.lit("")),
            ),
        )
        return F.concat_ws("\n", lines)

    words = F.filter(F.split(F.coalesce("text", F.lit("")), " "),
                     lambda t: t != "")
    structured = d.select(
        "doc_id",
        F.concat(
            let_bound(words, build),
            F.when(
                F.col("doc_id") % 97 == 0, F.lit("\nbrace { line }")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return c4_filter(structured, "text", "doc_id")


def q_ccnet_buckets_documents(spark, sf_dir):
    """CCNet head/middle/tail quality tiers (Wenzek et al. 2020): the
    corpus-trained bigram-LM perplexity bucketed by PER-LANGUAGE exact
    terciles. No sort of the data anywhere — tercile cutoffs are one
    O(languages) aggregate broadcast back into a scan-side CASE. The
    oracle replays the whole chain (LM build, scoring, quantile_cont
    cutoffs, bucket CASE) in DuckDB."""
    from whylogs_java_spark.operators.sampling import score_buckets
    from whylogs_java_spark.operators.text import lm_score

    d = _t(spark, sf_dir, "documents")
    scored = lm_score(
        d, "text", "doc_id", vocab_size=256, top_bigrams=2048
    ).join(d.select("doc_id", "lang"), "doc_id")
    return score_buckets(
        scored, "doc_id", "perplexity", stratum_col="lang"
    )


# deterministic per-language sampling rates for the stratified-sample query
SAMPLE_FRACTIONS = {"en": 0.5, "fr": 0.25}
SAMPLE_DEFAULT_FRACTION = 0.1


def q_sample_documents(spark, sf_dir):
    """Deterministic stratified Bernoulli sample (md5-keyed, no RNG):
    per-language fractions with a default for unlisted strata. A pure
    scan-side filter — reproducible across engines and partitionings."""
    from whylogs_java_spark.operators.sampling import hash_sample

    d = _t(spark, sf_dir, "documents")
    return hash_sample(
        d,
        "doc_id",
        stratum_col="lang",
        fractions=SAMPLE_FRACTIONS,
        default_fraction=SAMPLE_DEFAULT_FRACTION,
    ).select("doc_id", "lang")


def q_sample_topk_documents(spark, sf_dir):
    """Exactly-20-per-language deterministic reservoir sample (hash-rank
    row_number within stratum — WindowGroupLimit at scale)."""
    from whylogs_java_spark.operators.sampling import stratified_sample_exact

    d = _t(spark, sf_dir, "documents")
    return stratified_sample_exact(d, "doc_id", ["lang"], k=20).select(
        "doc_id", "lang"
    )


def q_packing_documents(spark, sf_dir):
    """Per-language sequence-packing planning stats at context_len=512:
    token totals, over-context docs, truncation loss, and the perfect-
    packing / no-packing context-count bounds."""
    from whylogs_java_spark.operators.text import packing_stats

    return packing_stats(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        context_len=512, strata=["lang"],
    )


SPLIT_SPEC = (("train", 0.8), ("val", 0.1), ("test", 0.1))


def q_split_documents(spark, sf_dir):
    """Deterministic train/val/test split assignment (md5 hash-threshold,
    no RNG — membership is a pure function of doc_id, so growing the
    corpus never reassigns existing rows), summarized per (source,
    split) to show stratification balance."""
    from whylogs_java_spark.operators.sampling import assign_splits

    d = _t(spark, sf_dir, "documents")
    return (
        assign_splits(d, "doc_id", SPLIT_SPEC)
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


def q_decontam_documents(spark, sf_dir):
    """Test-set decontamination: flag corpus docs sharing any word
    5-gram with an eval corpus (10-word snippets of every 20th doc —
    the planted contamination). Eval n-gram digests broadcast; the only
    wide exchange carries matched (doc, gram) pairs."""
    from whylogs_java_spark.operators.decontam import decontaminate

    d = _t(spark, sf_dir, "documents")
    ev = d.where(F.col("doc_id") % 20 == 0).select(
        F.concat_ws(
            " ",
            F.slice(F.filter(F.split("text", " "), lambda t: t != ""), 3, 10),
        ).alias("text")
    )
    return decontaminate(d, "text", "doc_id", ev, n=5)


def q_decontam_spans_documents(spark, sf_dir):
    """SURGICAL span-level decontamination (same planted eval slice as
    decontam_documents): instead of dropping a contaminated document,
    excise the maximal contaminated token spans and return the cleaned
    text. Eval digests broadcast; only matched positions reach the
    per-doc span-merge window; the oracle rebuilds every cleaned string
    from the raw text — ground truth, not a formula replay."""
    from whylogs_java_spark.operators.decontam import decontaminate_spans

    d = _t(spark, sf_dir, "documents")
    ev = d.where(F.col("doc_id") % 20 == 0).select(
        F.concat_ws(
            " ",
            F.slice(F.filter(F.split("text", " "), lambda t: t != ""), 3, 10),
        ).alias("text")
    )
    return decontaminate_spans(d, "text", "doc_id", ev, n=5)


def q_contamination_report(spark, sf_dir):
    """Per-eval-item contamination attribution (the inverse of
    decontam_documents, same synthetic eval slice): distinct corpus docs
    and gram-hit fraction per benchmark item — which eval rows are
    compromised and how badly."""
    from whylogs_java_spark.operators.decontam import contamination_report

    d = _t(spark, sf_dir, "documents")
    ev = d.where(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("eval_id"),
        F.concat_ws(
            " ",
            F.slice(F.filter(F.split("text", " "), lambda t: t != ""), 3, 10),
        ).alias("text"),
    )
    return contamination_report(
        d, "text", "doc_id", ev, "eval_id", n=5
    )


_CONTAM_REPORT_ORACLE = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
), evw AS (
  SELECT doc_id AS eval_id,
         list_filter(string_split(array_to_string(w[3:12], ' '), ' '),
                     x -> x <> '') AS ww
  FROM w WHERE doc_id % 20 = 0
), eg AS (
  SELECT DISTINCT eval_id, md5(array_to_string(ww[i:i+4], ' ')) AS gram
  FROM evw, unnest(range(1, len(ww) - 5 + 2)) AS u(i)
  WHERE len(ww) >= 5
), tot AS (
  SELECT e.eval_id, CAST(COUNT(g.gram) AS BIGINT) AS n_grams
  FROM evw e LEFT JOIN eg g USING (eval_id) GROUP BY 1
), cg AS (
  SELECT DISTINCT doc_id AS doc, md5(array_to_string(w[i:i+4], ' ')) AS gram
  FROM w, unnest(range(1, len(w) - 5 + 2)) AS u(i)
  WHERE len(w) >= 5
), hits AS (
  SELECT eg.eval_id,
         CAST(COUNT(DISTINCT eg.gram) AS BIGINT) AS n_grams_hit,
         CAST(COUNT(DISTINCT cg.doc) AS BIGINT) AS n_docs
  FROM eg JOIN cg USING (gram) GROUP BY 1
)
SELECT t.eval_id, t.n_grams,
  CAST(COALESCE(h.n_grams_hit, 0) AS BIGINT) AS n_grams_hit,
  CAST(COALESCE(h.n_docs, 0) AS BIGINT) AS n_docs,
  ROUND(COALESCE(h.n_grams_hit, 0) / GREATEST(t.n_grams, 1), 6) + 0.0
    AS hit_fraction
FROM tot t LEFT JOIN hits h USING (eval_id)
"""


def q_dedup_segments(spark, sf_dir):
    """C4-style repeated-span removal: non-overlapping 10-word segments,
    global first-occurrence (min doc_id, pos) owner per distinct
    segment, every later copy deleted corpus-wide; docs reassembled
    from their kept segments. Corpus = documents ∪ mutants, so the
    mutated tail docs share all full segments with their sources."""
    from whylogs_java_spark.operators.dedup import segment_dedup

    corpus = _mutated_corpus(_t(spark, sf_dir, "documents"))
    return segment_dedup(corpus, "text", "doc_id", seg_words=10)


def q_winnow_pairs(spark, sf_dir):
    """MOSS winnowing (Schleimer et al. 2003) over documents ∪ mutants:
    char-5-gram hashes, window-4 minimum selection (rightmost tie),
    fingerprint-sharing pairs with the df_cap quadratic bound — the
    guaranteed-detection local fingerprinting scheme complementing the
    probabilistic MinHash/SimHash family."""
    from whylogs_java_spark.operators.dedup import winnow_pairs

    corpus = _mutated_corpus(_t(spark, sf_dir, "documents"))
    return winnow_pairs(
        corpus, "text", "doc_id", k=5, window=4, min_shared=2, df_cap=64,
        min_overlap=0.5,
    )


_WINNOW_PAIRS_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
  FROM documents WHERE doc_id % 10 = 0
), grams AS (
  SELECT doc_id, i - 1 AS pos,
    ('0x' || substr(md5(substr(lower(text), i, 5)), 1, 15))::BIGINT AS h
  FROM corpus,
    unnest(range(1, GREATEST(length(lower(text)) - 5 + 1, 0) + 1)) AS u(i)
), sel AS (
  SELECT doc_id,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
    COUNT(*) OVER (PARTITION BY doc_id) AS n,
    MIN([h, -pos]) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS m
  FROM grams
), fps AS (
  SELECT DISTINCT doc_id, m[1] AS print_hash
  FROM sel WHERE rn >= 4 OR rn = n
), rare AS (
  SELECT fps.* FROM fps JOIN (
    SELECT print_hash FROM fps GROUP BY 1 HAVING COUNT(*) <= 64
  ) r USING (print_hash)
), sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_prints FROM rare GROUP BY 1
), shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(COUNT(*) AS BIGINT) AS shared
  FROM rare a JOIN rare b
    ON a.print_hash = b.print_hash AND a.doc_id < b.doc_id
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
)
SELECT s.id_a, s.id_b, sa.n_prints AS n_a, sb.n_prints AS n_b, s.shared,
  ROUND(s.shared / CAST(LEAST(sa.n_prints, sb.n_prints) AS DOUBLE), 6) + 0.0
    AS overlap
FROM shared s
JOIN sizes sa ON sa.doc_id = s.id_a
JOIN sizes sb ON sb.doc_id = s.id_b
WHERE ROUND(s.shared / CAST(LEAST(sa.n_prints, sb.n_prints) AS DOUBLE), 6)
      + 0.0 >= 0.5
"""


def q_dedup_spans_documents(spark, sf_dir):
    """Exact-substring duplicate spans (rolling 8-word-gram formulation
    of Lee et al. 2022 suffix-array dedup): a word position is
    duplicated when any 8-gram covering it repeats corpus-wide;
    overlapping windows merge into maximal per-doc spans. Corpus =
    documents ∪ mutants, so every mutant shares its full body span with
    its source doc."""
    from whylogs_java_spark.operators.dedup import duplicate_spans

    corpus = _mutated_corpus(_t(spark, sf_dir, "documents"))
    return duplicate_spans(corpus, "text", "doc_id", gram_words=8)


def q_boilerplate_documents(spark, sf_dir):
    """Corpus-frequency boilerplate saturation per document: segments
    appearing in ≥2 distinct docs (here: the segments mutants share with
    their source docs) count as boilerplate; the fraction is the
    template-page drop signal."""
    from whylogs_java_spark.operators.dedup import boilerplate_stats

    corpus = _mutated_corpus(_t(spark, sf_dir, "documents"))
    return boilerplate_stats(
        corpus, "text", "doc_id", seg_words=10, df_threshold=2
    )


def q_corpus_report(spark, sf_dir):
    """Per-source dataset card: doc/token totals, encoding-suspect count,
    mean Gopher quality and mean boilerplate saturation — the slice-level
    health summary a pipeline owner reads before training."""
    from whylogs_java_spark.operators.report import corpus_report

    return corpus_report(
        _t(spark, sf_dir, "documents"), "text", "doc_id", "source",
        boiler_seg_words=10, boiler_df_threshold=2,
    )


def _incremental_corpus(d: DataFrame) -> DataFrame:
    """documents ∪ near-dup mutants (+100000) ∪ verbatim copies (+200000)
    ∪ guaranteed-fresh suffixed docs (+300000) — the Spark twin of
    _INCREMENTAL_CORPUS_SQL."""
    near = d.where(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
    )
    exact = d.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"), F.col("text")
    )
    fresh = d.where(F.col("doc_id") % 10 == 1).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(F.split("text", " "), lambda w: F.concat(w, F.lit("~x"))),
        ).alias("text"),
    )
    return (
        d.select("doc_id", "text")
        .unionByName(near)
        .unionByName(exact)
        .unionByName(fresh)
    )


def q_pipeline_manifest(spark, sf_dir):
    """THE composed cleaning pipeline, end to end: raw corpus (with
    planted exact copies, near-dup mutants, and fresh docs) → exact dedup
    → near-dup cluster survivors → decontamination vs eval snippets →
    token-count/chars-per-token quality gate → deterministic split
    assignment. Output is the training manifest (doc_id, split),
    oracle-checked as ONE query — every stage's decision is
    deterministic, so the whole composition hash-matches DuckDB."""
    from whylogs_java_spark.operators.pipeline import training_manifest

    d = _t(spark, sf_dir, "documents")
    corpus = _incremental_corpus(d)
    ev = d.where(F.col("doc_id") % 20 == 0).select(
        F.concat_ws(
            " ",
            F.slice(F.filter(F.split("text", " "), lambda t: t != ""), 3, 10),
        ).alias("text")
    )
    # explicit quality window sized to the synthetic corpus (docs are
    # ~30-100 tokens); the operator defaults are the real-corpus Gopher
    # window, which would gate nothing here
    return training_manifest(
        corpus, "text", "doc_id", ev,
        min_tokens=25, max_tokens=95,
        min_chars_per_token=3.5, max_chars_per_token=7.5,
    )


def q_quantize_embeddings(spark, sf_dir):
    """Per-dimension int8 affine-quantization planning table over the
    embedding corpus: range, scale, and the reconstruction error int8
    storage would incur (max + exact-integer-accumulated mean). The
    pre-flight a pipeline runs before shipping vectors to a quantized
    index."""
    from whylogs_java_spark.operators.quantize import quantize_stats

    return quantize_stats(_t(spark, sf_dir, "embeddings"), bits=8)


def q_dedup_incremental(spark, sf_dir):
    """Incremental (cross-corpus) dedup: screen a new batch against the
    existing corpus. Batch = near-dup mutants (+100000) ∪ verbatim
    copies (+200000, surface as jaccard=1.0) ∪ guaranteed-fresh docs
    (+300000, every word suffixed — must NOT match). Only ref×new band
    pairs are candidates; the corpus never re-dedups against itself."""
    from whylogs_java_spark.operators.dedup import cross_dedup_pairs

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = _incremental_corpus(d).where(F.col("doc_id") >= 100000)
    return cross_dedup_pairs(new, d, "text", "doc_id", threshold=0.5)


def q_dedup_incremental_stored(spark, sf_dir):
    """Incremental dedup against a PERSISTED signature store (the
    build-once / probe-many face of cross-corpus dedup, mirror of the
    IVF index store): the corpus's MinHash bands + shingle arrays are
    written once (build_minhash_store), then the batch is screened by
    a partition-pruned probe that never recomputes ref signatures.
    Same batch and threshold as dedup_incremental, and bit-identical
    output — the two queries share one oracle."""
    import shutil
    import tempfile

    from whylogs_java_spark.operators.dedup import (
        build_minhash_store,
        cross_dedup_stored,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = _incremental_corpus(d).where(F.col("doc_id") >= 100000)
    path = tempfile.mkdtemp(prefix="minhash_store_")
    try:
        build_minhash_store(d, path, "text", "doc_id")
        out = cross_dedup_stored(
            spark, path, new, "text", "doc_id", threshold=0.5
        )
        # materialize before the store dir goes away (result is
        # O(matched pairs) — candidate-sized, not corpus-sized)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def q_multimodal_video(spark, sf_dir):
    """Video (MP4/ISO-BMFF) container metadata over synthetic binaries:
    ftyp brand/minor + top-level box walk for moov/mdat presence (every
    4th doc has a free box before moov so the walk takes >1 step; every
    7th lacks moov, every 5th lacks mdat, every 10th isn't a video). The
    oracle predicts the parser output from the doc_id formulas."""
    from whylogs_java_spark.operators.multimodal import video_container_meta

    d = _t(spark, sf_dir, "documents").select("doc_id")

    # fixture built as ONE SQL-text expression: the Column-API builder
    # cost ~0.5 s of py4j chatter per run (see functions/sqlexpr.py)
    def be32(e) -> str:
        return f"lpad(hex(CAST({e} AS BIGINT)), 8, '0')"

    brand_hex = (
        "CASE WHEN doc_id % 3 = 0 THEN '69736F6D' "
        "WHEN doc_id % 3 = 1 THEN '6D703432' ELSE '61766331' END"
    )
    ftyp = (
        f"concat({be32(24)}, '66747970', {brand_hex}, "
        f"{be32('doc_id % 100')}, '69736F3261766331')"
    )
    z8 = "00" * 8
    free = (
        f"CASE WHEN doc_id % 4 = 1 THEN concat({be32(16)}, '66726565', "
        f"'{z8}') ELSE '' END"
    )
    moov = (
        f"CASE WHEN doc_id % 7 != 3 THEN concat({be32(16)}, '6D6F6F76', "
        f"'{z8}') ELSE '' END"
    )
    mdat = (
        f"CASE WHEN doc_id % 5 != 4 THEN concat({be32(16)}, '6D646174', "
        f"'{z8}') ELSE '' END"
    )
    mp4_hex = f"concat({ftyp}, {free}, {moov}, {mdat})"
    data = (
        f"unhex(CASE WHEN doc_id % 10 = 9 THEN '6E6F7420612076696465' "
        f"ELSE {mp4_hex} END)"
    )
    return video_container_meta(
        d.selectExpr("doc_id", f"{data} AS data"), "data", "doc_id"
    )


def q_compression_documents(spark, sf_dir):
    """Compression-ratio quality signal, hash-checked as an invariant
    BRACKET (the raw zlib sizes depend on the zlib build, so the per-doc
    values stay rows-only in `compression_ratio` + pytest; this query
    emits what DOES replay cross-engine): exact UTF-8 octet length plus
    per-doc booleans — deflateBound-style upper bound, 8-byte lower
    bound, and self-repetition monotonicity/gain brackets (zlib(text×3)
    vs zlib(text)). Arrow-batched pandas UDF — the sanctioned slow path
    for DEFLATE — computing both sizes in one batch pass."""
    from whylogs_java_spark.operators.text import compression_invariants

    return compression_invariants(
        _t(spark, sf_dir, "documents"), "text", "doc_id"
    )


def q_multimodal_audio(spark, sf_dir):
    """Audio (WAV) header metadata over a synthetic binary column:
    deterministic RIFF/WAVE fixtures built from doc_id (every 4th with a
    LIST chunk before fmt so the chunk walk takes >1 step; every 10th not
    audio at all), parsed by pure JVM expressions. The DuckDB oracle
    predicts the parser output independently from the same doc_id
    formulas."""
    from whylogs_java_spark.ckpt import spread
    from whylogs_java_spark.operators.multimodal import audio_header_meta

    # the RIFF walk is an interpreted fold: spread the tiny scan across
    # cores (no-op when the scan already has >= parallelism partitions)
    d = spread(_t(spark, sf_dir, "documents").select("doc_id"))

    # fixture built as ONE SQL-text expression (9 Column-API `le()`
    # builders cost ~0.6 s of py4j chatter per run — sqlexpr.py); the
    # double-division/cast shape matches the previous Column build
    # bit-for-bit
    def le(e, nbytes) -> str:
        return "concat(" + ", ".join(
            f"lpad(hex(CAST(CAST({e} AS BIGINT) / {256 ** i} AS BIGINT) "
            f"% 256), 2, '0')"
            for i in range(nbytes)
        ) + ")"

    ch = "CAST(doc_id % 2 + 1 AS BIGINT)"
    rate = (
        "CAST(CASE WHEN doc_id % 4 = 0 THEN 8000 "
        "WHEN doc_id % 4 = 1 THEN 16000 "
        "WHEN doc_id % 4 = 2 THEN 44100 ELSE 48000 END AS BIGINT)"
    )
    bits = "CAST(CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS BIGINT)"
    block = f"CAST({ch} * {bits} / 8 AS BIGINT)"
    byte_rate = f"({rate} * {block})"
    data_bytes = f"CAST((doc_id % 1000 + 1) * {block} AS BIGINT)"
    wav_hex = (
        f"concat('52494646', {le(1000, 4)}, '57415645', "
        f"CASE WHEN doc_id % 4 = 1 THEN '4C4953540400000074657374' "
        f"ELSE '' END, "
        f"'666D7420', {le(16, 4)}, {le(1, 2)}, {le(ch, 2)}, {le(rate, 4)}, "
        f"{le(byte_rate, 4)}, {le(block, 2)}, {le(bits, 2)}, "
        f"'64617461', {le(data_bytes, 4)})"
    )
    data = F.expr(
        f"unhex(CASE WHEN doc_id % 10 = 9 THEN '6E6F7420616E20617564696F' "
        f"ELSE {wav_hex} END)"
    )
    # the synthetic fixtures hold at most 3 chunks; a 4-step walk halves
    # the interpreted fold cost vs the default 8
    return audio_header_meta(
        d.select("doc_id", data.alias("data")), "data", "doc_id", max_chunks=4
    )


def q_pii_documents(spark, sf_dir):
    """PII-surface scan over documents ∪ synthetic PII-bearing rows (the
    corpus alone has no emails/IPs; the appended rows make the counters'
    nonzero paths observable to the oracle)."""
    from whylogs_java_spark.operators.text import pii_scan

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    synth = d.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 ref 123456789"),
        ).alias("text"),
    )
    return pii_scan(d.unionByName(synth), "text", "doc_id")


def q_pii_redact_documents(spark, sf_dir):
    """PII redaction over the same PII-planted corpus as pii_documents:
    typed placeholders substituted in kind order (email before phone so
    an email's digits can't double-match), placeholder count audited.
    Pure chained regexp_replace inside the scan."""
    from whylogs_java_spark.operators.text import pii_redact

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    synth = d.where(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".1 ref 123456789"),
        ).alias("text"),
    )
    return pii_redact(d.unionByName(synth), "text", "doc_id")


def _pii_redact_oracle() -> str:
    from whylogs_java_spark.operators.text import PII_PATTERNS

    # mirror the engine pass-for-pass: each stage counts matches of ITS
    # pattern on the text as it stood before that stage's replace (a
    # pre-existing literal '<EMAIL>' in the source is never counted)
    kinds = ("email", "ipv4", "phone")
    stages = ["s0 AS (SELECT doc_id, text AS t0 FROM corpus)"]
    carried: list[str] = []
    for i, k in enumerate(kinds):
        esc = PII_PATTERNS[k].replace("'", "''")
        prev = ", ".join(carried) + ", " if carried else ""
        stages.append(
            f"s{i + 1} AS (SELECT doc_id, {prev}"
            f"len(regexp_extract_all(t{i}, '{esc}')) AS c_{k}, "
            f"regexp_replace(t{i}, '{esc}', '<{k.upper()}>', 'g') AS t{i + 1} "
            f"FROM s{i})"
        )
        carried.append(f"c_{k}")
    n = " + ".join(carried)
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000 AS doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.1 ref 123456789' AS text
      FROM documents WHERE doc_id % 25 = 0
    ),
    {", ".join(stages)}
    SELECT doc_id, t{len(kinds)} AS redacted_text,
           CAST({n} AS BIGINT) AS n_redactions
    FROM s{len(kinds)}
    """


# planted encoding artifacts: mojibake 'Ã©', replacement char, a C0
# control, a zero-width space, and a 'â€™' curly-quote artifact — the
# corpus alone is clean, so the appended rows make every counter's
# nonzero path observable to the oracle
_ENCODING_PLANT = (
    " caf\u00c3\u00a9 w\ufffdd \u0007bell \u200bzw \u00e2\u20ac\u2122quote"
)
_ENCODING_PLANT_SQL = (
    "' caf' || chr(195) || chr(169) || ' w' || chr(65533) || 'd ' || "
    "chr(7) || 'bell ' || chr(8203) || 'zw ' || chr(226) || chr(8364) || "
    "chr(8482) || 'quote'"
)


def q_encoding_documents(spark, sf_dir):
    """Encoding-hygiene scan over documents ∪ rows with planted mojibake /
    replacement / control / zero-width artifacts."""
    from whylogs_java_spark.operators.text import encoding_scan

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    synth = d.where(F.col("doc_id") % 25 == 1).select(
        (F.col("doc_id") + 300000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_ENCODING_PLANT)).alias("text"),
    )
    return encoding_scan(d.unionByName(synth), "text", "doc_id")


def q_dedup_containment(spark, sf_dir):
    """Asymmetric containment dedup: pairs where either side's shingle set
    is ≥90% contained in the other (catches subset/quotation duplicates
    symmetric Jaccard misses)."""
    from whylogs_java_spark.operators.dedup import containment_pairs

    corpus = _mutated_corpus(_t(spark, sf_dir, "documents"))
    return containment_pairs(
        corpus, "text", "doc_id", threshold=0.9, num_hashes=16, bands=4,
        shingle_size=3,
    )


def q_asof_events(spark, sf_dir):
    """As-of join: every purchase event annotated with the user's most
    recent at-or-before view event (ts + value). Views are pre-reduced
    to one row per (user_id, ts) so the match is deterministic in both
    engines; DuckDB verifies with its native ASOF LEFT JOIN."""
    from whylogs_java_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    out = asof_join(
        purchases, views, on="user_id", left_ts="ts",
        right_cols=["view_value"], suffix="_v",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 6).alias("value"),
        F.col("ts_v").alias("view_ts"),
        F.round("view_value_v", 6).alias("view_value"),
    )


def q_asof_nearest_events(spark, sf_dir):
    """Nearest-direction as-of join (pandas merge_asof nearest parity):
    each purchase annotated with the view event closest in absolute
    time, either side, ties preferring the at-or-before match. One
    exchange, two sorted window passes. DuckDB oracle composes its two
    native ASOF directions and picks the closer per row."""
    from whylogs_java_spark.operators.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("view_value"))
    )
    out = asof_join(
        purchases, views, on="user_id", left_ts="ts",
        right_cols=["view_value"], suffix="_v", direction="nearest",
    )
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.round("value", 6).alias("value"),
        F.col("ts_v").alias("view_ts"),
        F.round("view_value_v", 6).alias("view_value"),
    )


def q_range_bands(spark, sf_dir):
    """Point-in-interval range join without a cross product: parts
    binned into 10 price bands via the bucketed equi-join plan
    (bucket_width 4 makes each band span 3-4 buckets, exercising the
    interval explode)."""
    from whylogs_java_spark.operators.joins import range_join_points

    part = _t(spark, sf_dir, "part")
    bands = spark.range(10).select(
        F.col("id").alias("band_id"),
        (900.0 + 10.0 * F.col("id")).alias("lo"),
        (910.0 + 10.0 * F.col("id")).alias("hi"),
    )
    pts = part.select("p_partkey", F.col("p_retailprice").alias("price"))
    out = range_join_points(pts, bands, "price", "lo", "hi", bucket_width=4.0)
    return out.select(
        "p_partkey", F.round("price", 6).alias("price"), "band_id"
    )


_DRIFT_CUT_TS = "2024-01-16 00:00:00"
_DRIFT_SPLITS = [50.0, 100.0, 150.0, 200.0, 250.0, 300.0]


def q_overlap_lineitem(spark, sf_dir):
    """Interval-overlap join per order: line-item activity windows
    [ship_day, ship_day + quantity] that overlap within the same order,
    via the bucketed equi-join with first-shared-bucket ownership (no
    post-join distinct)."""
    from whylogs_java_spark.operators.joins import range_join_intervals

    li = _t(spark, sf_dir, "lineitem")
    day = F.datediff(
        F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
    )
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        day.alias("lo"),
        (day + F.col("l_quantity").cast("int")).alias("hi"),
    )
    a = base.select(
        "l_orderkey",
        F.col("l_linenumber").alias("a_line"),
        F.col("lo").alias("a_lo"),
        F.col("hi").alias("a_hi"),
    )
    b = base.select(
        "l_orderkey",
        F.col("l_linenumber").alias("b_line"),
        F.col("lo").alias("b_lo"),
        F.col("hi").alias("b_hi"),
    )
    out = range_join_intervals(
        a, b, "a_lo", "a_hi", "b_lo", "b_hi",
        on=["l_orderkey"], bucket_width=32.0,
    )
    return out.where(F.col("a_line") < F.col("b_line")).select(
        "l_orderkey",
        "a_line",
        "b_line",
        (
            F.least("a_hi", "b_hi") - F.greatest("a_lo", "b_lo") + 1
        ).alias("overlap_days"),
    )


def q_weighted_sample_documents(spark, sf_dir):
    """Exactly-20-per-language weight-proportional sample (A-ES priority
    ln(u)/w, weights = n_chars): the data-mixing sampler — long docs
    drawn proportionally to their token contribution, deterministic in
    the doc id."""
    from whylogs_java_spark.operators.sampling import weighted_sample_k

    d = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    return weighted_sample_k(
        d, "doc_id", "n_chars", k=20, group_by=["lang"]
    )


_CONSTRAINT_RULES = [
    ("l_quantity", "null_rate", "<=", "0.0"),
    ("l_quantity", "min", ">=", "1"),
    ("l_quantity", "max", "<=", "50"),
    ("l_extendedprice", "mean", ">=", "10000"),
    ("l_returnflag", "inferred_type", "==", "STRING"),
    ("l_tax", "count", ">=", "1000000"),
    ("l_linestatus", "inferred_type", "!=", "FRACTIONAL"),
    ("l_discount", "stddev", "<=", "0.5"),
]


def q_constraints_lineitem(spark, sf_dir):
    """Data-quality gate over the finalized GLOBAL lineitem profile:
    deequ-style expectations (completeness, ranges, type stability)
    evaluated per rule via one broadcast join over the O(columns)
    profile — the scan already happened when the profile was built, so
    gating a 100 TB dataset costs nothing beyond its profile. Includes
    a deliberately failing rule (count >= 1e6) so both outcomes are
    exercised."""
    from whylogs_java_spark.operators.constraints import check_constraints

    prof = profile(_t(spark, sf_dir, "lineitem"))
    out = check_constraints(prof, _CONSTRAINT_RULES)
    return out.select(
        "rule_id",
        "column_name",
        "metric",
        "op",
        "threshold",
        "observed_num",
        "observed_str",
        "passed",
    )


def q_cluster_embeddings(spark, sf_dir):
    """Deterministic Lloyd's k-means over the embedding corpus (the
    cluster step of SemDeDup-style curation): md5-seeded centroids,
    fold-deterministic squared-L2 distances, exact-integer centroid
    means — the full assignment table hash-checks against a DuckDB twin
    that replays the identical iteration. k=4, one update round."""
    from whylogs_java_spark.operators.cluster import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kmeans_assign(emb, k=4, n_iter=1)


def q_cluster_assign_stored(spark, sf_dir):
    """The persisted k-means model with a driver row: train once
    (build_kmeans_model — the expensive Lloyd leg), assign the corpus
    against the frozen centroids. Stored-model assignment is
    bit-identical to training-time assignment with the same k/n_iter
    (pinned by pytest), so this query shares cluster_embeddings'
    DuckDB iteration-replay oracle verbatim."""
    import shutil
    import tempfile

    from whylogs_java_spark.operators.cluster import (
        build_kmeans_model,
        kmeans_assign_stored,
    )

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    path = tempfile.mkdtemp(prefix="kmeans_model_")
    try:
        build_kmeans_model(emb, path, k=4, n_iter=1)
        out = kmeans_assign_stored(spark, path, emb, k=4)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def q_cluster_embeddings_k64(spark, sf_dir):
    """Large-k k-means via the broadcast-centroid-table JOIN assignment
    (k=64 > LITERAL_K_MAX auto-selects it): plan size constant in k —
    the path SemDeDup-scale k (thousands of clusters) requires. Same
    determinism toolkit as cluster_embeddings, so the full assignment
    hash-checks against the identical DuckDB replay at k=64."""
    from whylogs_java_spark.operators.cluster import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kmeans_assign(emb, k=64, n_iter=1)


def q_dedup_semantic(spark, sf_dir):
    """SemDeDup: cosine near-dup pairs with candidates pruned to
    k-means clusters — the quadratic term bounded by the largest
    cluster, not the corpus. Same mutated corpus as the other embedding
    dedup tiers; deterministic clustering + fold cosine make the pair
    set hash-checkable."""
    from whylogs_java_spark.operators.cluster import semantic_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return semantic_dedup_pairs(
        _mutated_embeddings(emb), threshold=0.9, k=8, n_iter=1
    )


def q_dedup_semantic_k256(spark, sf_dir):
    """SemDeDup at production-scale k: same pipeline as dedup_semantic
    but k=256 clusters, forcing the round-8 JOIN-based assignment path
    (LITERAL_K_MAX=32 auto-switch — broadcast centroid TABLE, plan size
    constant in k). This is where SemDeDup's pruning actually lives at
    100 TB: thousands of clusters shrink the within-cluster quadratic
    to near-nothing. Hash-checked end to end against the same DuckDB
    replay as dedup_semantic, proving the large-k machinery exact."""
    from whylogs_java_spark.operators.cluster import semantic_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return semantic_dedup_pairs(
        _mutated_embeddings(emb), threshold=0.9, k=256, n_iter=1
    )


def q_dedup_semantic_survivors(spark, sf_dir):
    """End-to-end SemDeDup: within-cluster cosine pairs -> connected
    components -> one row per vector with its cluster's min id and a
    survivor flag (keep is_survivor = the dedup pass). Oracle replays
    clustering + cosine + the recursive-CTE reachability fixpoint."""
    from whylogs_java_spark.operators.cluster import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return semantic_dedup(
        _mutated_embeddings(emb), threshold=0.9, k=8, n_iter=1
    )


def q_topk_drift_part(spark, sf_dir):
    """Heavy-hitter churn: p_brand's top-10 between the p_partkey parity
    halves of part — which brands entered/left the top-k, rank moves,
    frequency deltas. Aggregate-sized end to end (two bounded top-k
    tables full-outer joined)."""
    from whylogs_java_spark.operators.drift import topk_drift

    part = _t(spark, sf_dir, "part")
    d = topk_drift(
        part.where(F.col("p_partkey") % 2 == 0),
        part.where(F.col("p_partkey") % 2 == 1),
        "p_brand",
        k=10,
    )
    return d.select(
        "column_name", "value", "count_a", "count_b", "rank_a", "rank_b",
        "freq_a", "freq_b", "freq_delta", "status",
    )


def q_rolling_topk_events(spark, sf_dir):
    """Day-over-day heavy-hitter churn: each day's top-10 user_ids vs
    the previous day's (new/vanished/moved/stable + rank and count
    moves). One scan to per-(day, value) counts; everything after is
    O(days × values) rows."""
    from whylogs_java_spark.operators.drift import rolling_topk_drift

    return rolling_topk_drift(
        _t(spark, sf_dir, "events"), "user_id", "ts", k=10
    )


def q_monitor_events_mean(spark, sf_dir):
    """Profile-store stddev monitor (the whylabs consumer loop): daily
    global profiles of events, then each day's mean(value) z-scored
    against its trailing 7 days via exact-integer windowed moments —
    all over O(days) profile rows, no second data pass."""
    from whylogs_java_spark.operators.monitor import metric_anomalies

    prof = profile(
        _t(spark, sf_dir, "events"), time_column="ts", time_granularity="day"
    )
    store = prof.where(F.col("column_name") == "value")
    return metric_anomalies(
        store, "mean", "dataset_timestamp",
        keys=["column_name"], window=7, z=2.0,
    )


def q_drift_events_value(spark, sf_dir):
    """Numeric drift of `value` per event_type between the first and
    second half of the month: counts, null rates, moments, PSI and
    binned-CDF L-inf over shared fixed bin edges."""
    from whylogs_java_spark.operators.drift import numeric_drift

    ev = _t(spark, sf_dir, "events")
    cut = F.lit(_DRIFT_CUT_TS).cast("timestamp")
    d = numeric_drift(
        ev.where(F.col("ts") < cut),
        ev.where(F.col("ts") >= cut),
        "value",
        splits=_DRIFT_SPLITS,
        group_by=["event_type"],
    )
    return d.select(
        "event_type",
        "column_name",
        "count_a",
        "count_b",
        F.round("null_rate_a", 6).alias("null_rate_a"),
        F.round("null_rate_b", 6).alias("null_rate_b"),
        F.round("mean_a", 6).alias("mean_a"),
        F.round("mean_b", 6).alias("mean_b"),
        F.round("mean_delta", 6).alias("mean_delta"),
        F.round("stddev_a", 6).alias("stddev_a"),
        F.round("stddev_b", 6).alias("stddev_b"),
        F.round("psi", 6).alias("psi"),
        F.round("cdf_linf", 6).alias("cdf_linf"),
    )


def q_drift_events_rolling(spark, sf_dir):
    """Day-over-day rolling drift of `value` per event_type: each day's
    binned distribution scored (PSI + binned-CDF L-inf) against the
    previous calendar day, from ONE scan + aggregate-sized self-join."""
    from whylogs_java_spark.operators.drift import rolling_drift

    ev = _t(spark, sf_dir, "events")
    out = rolling_drift(
        ev, "value", "ts", splits=_DRIFT_SPLITS, group_by=["event_type"]
    )
    return out.select(
        "day",
        "event_type",
        "column_name",
        "count_cur",
        "count_prev",
        F.round("psi", 6).alias("psi"),
        F.round("cdf_linf", 6).alias("cdf_linf"),
    )


def q_profile_diff_lineitem(spark, sf_dir):
    """Drift straight from the profile store: two finalized profiles
    (odd/even order halves) joined per column — count ratio, null-rate
    delta, inferred-type change, numeric stat deltas. The profiles are
    O(columns) rows, so the diff costs nothing beyond building them."""
    from whylogs_java_spark.ckpt import materialize
    from whylogs_java_spark.operators.drift import profile_diff

    li = _t(spark, sf_dir, "lineitem")
    # ONE grouped profile pass over the parity key instead of two full
    # filtered passes (guide §2.4 — share the scan and the aggregation).
    # Profile atoms are order-independent (magnitude-tiered exact
    # integer sums), so the per-half rows are bit-identical to the
    # two-pass build — the unchanged DuckDB oracle stays hash-green.
    # The O(columns×2)-row grouped profile MUST be materialized before
    # the two half filters: Catalyst pushes the __half predicates below
    # the aggregation, which re-duplicates the scan+agg subtree with
    # non-identical (hence non-reusable) exchanges — the r14 plan
    # proved exactly that. The checkpoint pins the single lineitem pass.
    pg = materialize(
        profile(
            li.withColumn("__half", F.pmod(F.col("l_orderkey"), F.lit(2))),
            group_by=["__half"],
        )
    )
    pa = pg.where(F.col("__half") == 0).drop("__half")
    pb = pg.where(F.col("__half") == 1).drop("__half")
    d = profile_diff(pa, pb)
    return d.select(
        "column_name",
        "count_a",
        "count_b",
        F.round("count_ratio", 6).alias("count_ratio"),
        F.round("null_rate_a", 6).alias("null_rate_a"),
        F.round("null_rate_b", 6).alias("null_rate_b"),
        F.round("null_rate_delta", 6).alias("null_rate_delta"),
        "type_changed",
        "inferred_type_a",
        "inferred_type_b",
        F.round("mean_delta", 6).alias("mean_delta"),
        F.round("stddev_delta", 6).alias("stddev_delta"),
        F.round("min_delta", 6).alias("min_delta"),
        F.round("max_delta", 6).alias("max_delta"),
    )


def q_profile_diff_sketch(spark, sf_dir):
    """Drift from STORED SKETCH profiles: the two l_orderkey-parity
    halves of lineitem are profiled into KLL/theta sketch binaries (the
    mergeable state a profile store persists — approx.sketch_profile),
    then diffed entirely from the sketches: PSI + CDF L-inf from KLL
    rank reads at shared edges, medians, theta uniques. No raw-data
    pass at diff time — diffing two stored 100 TB days costs two
    profile-row reads.

    Emitted as an engine-verifiable BRACKET (the pytest tolerances as
    hash-checked rows): per column, the sketch's exact-tracked counts
    (value-hashed against SQL COUNTs) plus booleans computed entirely
    in Spark against the exact numeric_drift twin on the same halves —
    cdf_linf within 3x KLL rank error, psi within the loose 0.1 bound,
    each median inside the exact 0.5±eps rank bracket. A broken sketch
    binary read or rank math flips a hash-checked row."""
    from whylogs_java_spark.operators.approx import sketch_profile
    from whylogs_java_spark.operators.drift import sketch_profile_diff

    rank_eps = 0.013
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", *cols)
    ha = li.where(F.col("l_orderkey") % 2 == 0)
    hb = li.where(F.col("l_orderkey") % 2 == 1)
    # NOTE (r15, measured and rejected): fusing the sketch profiles AND
    # the min/max collect (+ percentiles) into one parity-grouped eager
    # agg A/B'd at 1.16× — the extra eager checkpoint + literal-seed +
    # collect actions cost more than the saved scan, and percentile in
    # the same agg forces one slow pass. What DOES pay (kept below):
    # (a) the sketch side alone as ONE parity-grouped scan behind a
    #     LAZY checkpoint — sketch_profile_diff's existing eager
    #     materialize computes it, so no action is added and one of the
    #     two half-scans disappears (guide §2.4). The lazy checkpoint is
    #     also the plan barrier that keeps Catalyst from pushing the
    #     __half filters below the grouped agg (the r14
    #     profile_diff_lineitem trap). Lineitem always has both
    #     parities, so both filter branches are nonempty at every SF.
    # (b) the exact twin's min/max probe on a worker thread — an
    #     independent driver action that overlaps the sketch
    #     materialize/probe jobs (guide §2.6).
    from concurrent.futures import ThreadPoolExecutor

    from whylogs_java_spark.ckpt import materialize_lazy

    with ThreadPoolExecutor(max_workers=1) as _pool:
        _f_mm = _pool.submit(
            li.agg(
                *[F.min(F.col(c).cast("double")).alias(f"lo_{c}") for c in cols],
                *[F.max(F.col(c).cast("double")).alias(f"hi_{c}") for c in cols],
            ).first
        )
        sg = materialize_lazy(
            sketch_profile(
                li.withColumn("__half", (F.col("l_orderkey") % 2 == 1)),
                columns=cols,
                group_by=["__half"],
            )
        )
        sa = sg.where(~F.col("__half")).drop("__half")
        sb = sg.where(F.col("__half")).drop("__half")
        sk = sketch_profile_diff(sa, sb, bins=10)
        # exact twin per column (ONE aggregate-sized collect for all the
        # shared bin edges — the harness shape; production diffs
        # sketches only)
        mm = _f_mm.result()
    # FUSED exact twin (r14 optimization): the per-column loop built 4
    # numeric_drift subtrees + 8 percentile aggregates = ~25 separate
    # lineitem aggregations in one plan (1482-line plan, ~90 Exchanges,
    # 45 AQE jobs). The output booleans are TOLERANCE brackets, and the
    # psi/cdf/percentile math below is the same per-column computation
    # (same _bin_index/_psi_cdf_terms helpers, same percentile calls) —
    # fused to ONE melted bin-count scan + one percentile aggregate per
    # side. Hash-green against the unchanged DuckDB oracle.
    from whylogs_java_spark.operators.drift import (
        _bin_index,
        _psi_cdf_terms,
        _valid_value,
    )

    col_splits = {}
    for c in cols:
        lo, hi = mm[f"lo_{c}"], mm[f"hi_{c}"]
        width = (hi - lo) / 10
        col_splits[c] = [lo + i * width for i in range(1, 10)]
    entries = []
    for c in cols:
        v = F.col(c).cast("double")
        entries.append(
            F.struct(
                F.lit(c).alias("cn"),
                _bin_index(v, col_splits[c]).alias("bin"),
                _valid_value(v).alias("ok"),
            )
        )
    melted = li.select(
        (F.col("l_orderkey") % 2 == 0).alias("is_a"),
        F.explode(F.array(*entries)).alias("e"),
    )
    binned = (
        melted.where(F.col("e.ok"))
        .groupBy(
            F.col("e.cn").alias("column_name"), F.col("e.bin").alias("bin")
        )
        .agg(
            F.sum(F.when(F.col("is_a"), 1).otherwise(0)).alias("n_a"),
            F.sum(F.when(~F.col("is_a"), 1).otherwise(0)).alias("n_b"),
        )
    )
    from whylogs_java_spark.operators.drift import PSI_EPS

    psi_term, cdf_gap = _psi_cdf_terms(["column_name"], "n_a", "n_b", PSI_EPS)
    ex = (
        binned.select(
            "column_name", psi_term.alias("__t"), cdf_gap.alias("__g")
        )
        .groupBy("column_name")
        .agg(F.sum("__t").alias("__psi_x"), F.max("__g").alias("__linf_x"))
    )

    def _pct_rows(h, lo_name, hi_name):
        agg = h.agg(
            *[
                F.percentile(
                    F.col(c).cast("double"),
                    F.lit([0.5 - rank_eps, 0.5 + rank_eps]),
                ).alias(f"p_{c}")
                for c in cols
            ]
        )
        return agg.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("column_name"),
                            F.col(f"p_{c}").getItem(0).alias(lo_name),
                            F.col(f"p_{c}").getItem(1).alias(hi_name),
                        )
                        for c in cols
                    ]
                )
            ).alias("s")
        ).select("s.*")

    # pct rows carry exactly one row per column in `cols` (percentile of
    # an empty side is NULL, never a missing row), so ex LEFT-joins onto
    # them: a column with zero valid values in both halves keeps its row
    # with NULL psi/linf — the same ungrouped-aggregate semantics the
    # per-column numeric_drift twin had (unreachable on lineitem, but
    # the degenerate shape should not silently change).
    exact_rows = (
        _pct_rows(ha, "__ma_lo", "__ma_hi")
        .join(_pct_rows(hb, "__mb_lo", "__mb_hi"), "column_name")
        .join(ex, "column_name", "left")
    )
    j = sk.join(exact_rows, "column_name")
    return j.select(
        "column_name",
        F.col("count_a").cast("long").alias("count_a"),
        F.col("count_b").cast("long").alias("count_b"),
        (F.abs(F.col("cdf_linf") - F.col("__linf_x")) <= 3 * rank_eps).alias(
            "cdf_linf_within"
        ),
        (F.abs(F.col("psi") - F.col("__psi_x")) <= 0.1).alias("psi_within"),
        (
            (F.col("median_a") >= F.col("__ma_lo") - 1e-9)
            & (F.col("median_a") <= F.col("__ma_hi") + 1e-9)
        ).alias("median_a_within"),
        (
            (F.col("median_b") >= F.col("__mb_lo") - 1e-9)
            & (F.col("median_b") <= F.col("__mb_hi") + 1e-9)
        ).alias("median_b_within"),
    )


def q_drift_documents_lang(spark, sf_dir):
    """Categorical drift of the language mix per source between the
    doc_id % 40 halves of the corpus (parity correlates with source
    in the synthetic data; % 40 alternates within every source) (PSI / L1 / L-inf over
    full-outer-joined category frequencies)."""
    from whylogs_java_spark.operators.drift import categorical_drift

    d = _t(spark, sf_dir, "documents")
    out = categorical_drift(
        d.where(F.col("doc_id") % 40 < 20),
        d.where(F.col("doc_id") % 40 >= 20),
        "lang",
        group_by=["source"],
    )
    return out.select(
        "source",
        "column_name",
        "n_categories",
        F.round("psi", 6).alias("psi"),
        F.round("l1", 6).alias("l1"),
        F.round("linf", 6).alias("linf"),
    )


def q_mixture_documents(spark, sf_dir):
    """Temperature-scaled mixture resampling (T=2, target 50%): source
    mass is re-weighted to sqrt(n_s) — the data-mixing rule that lifts
    underrepresented sources toward uniform — with deterministic
    md5-threshold membership. Summarized per source (kept count + kept
    chars) to show the rebalanced mix."""
    from whylogs_java_spark.operators.sampling import mixture_sample

    d = _t(spark, sf_dir, "documents")
    return (
        mixture_sample(
            d, "doc_id", "source", temperature=2.0, target_fraction=0.5
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
    )


def q_prune_embeddings(spark, sf_dir):
    """SSL-prototypes data pruning: distance-rank within each k-means
    cluster, flagging the 25% most prototypical (closest-to-centroid)
    members per cluster — the cheap O(vectors) companion to SemDeDup's
    within-cluster pair scan."""
    from whylogs_java_spark.operators.cluster import cluster_prototype_prune

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    out = cluster_prototype_prune(emb, k=4, n_iter=1, prune_frac=0.25)
    return out.select(
        "vec_id",
        "cluster",
        "dist",
        F.col("cluster_size").cast("long").alias("cluster_size"),
        F.col("rank_close").cast("long").alias("rank_close"),
        "is_pruned",
    )


def q_chunk_documents(spark, sf_dir):
    """Token-window chunking (40-token windows, 10-token overlap): the
    context-length preprocessing step before packing/training — one
    row per chunk with its exact token count and text, produced as a
    pure scan-side explode."""
    from whylogs_java_spark.operators.text import chunk_documents

    out = chunk_documents(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        chunk_tokens=40, overlap=10,
    )
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        "n_tokens",
        "chunk_text",
    )


def q_cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced sampling: 20 deterministic md5-rank picks per
    k-means cluster — uniform over semantic regions instead of rows,
    the diversity-preserving draw before expensive review."""
    from whylogs_java_spark.operators.cluster import cluster_balanced_sample

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return cluster_balanced_sample(emb, k=4, per_cluster=20, n_iter=1)


def q_canary_hex_key(spark, sf_dir):
    """Oracle-construct canary: isolates the md5-hex-prefix → BIGINT
    parse (`conv(.., 16, 10)` on the Spark side, `('0x'||..)::BIGINT`
    in DuckDB) that sample_documents / sample_topk / split_documents
    all key on. sum_key carries the full parsed value distribution, so
    any cross-engine parse divergence flips this row set immediately
    and localizes the construct."""
    from whylogs_java_spark.operators.sampling import sample_key

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 200)
    key = sample_key(F.col("doc_id"))
    return (
        d.select(key.alias("key"))
        .groupBy((F.col("key") % 10).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("key").cast("long").alias("sum_key"),
        )
    )


def q_canary_sql_constructs(spark, sf_dir):
    """Oracle-construct canary for the segment-machinery SQL vocabulary:
    out-of-range list slicing (last segment's upper bound exceeds the
    word count), unnest(range(..)), FULL OUTER JOIN .. USING, a named
    WINDOW clause, and NULL-skipping ordered string_agg — the exact
    constructs the segment/boilerplate/report oracles lean on. Tiny
    (60 docs) and fully deterministic; a driver-side red here localizes
    a DuckDB construct divergence to this vocabulary."""
    from pyspark.sql import Window

    from whylogs_java_spark.operators.dedup import _segment_rows

    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 60)
    segs = _segment_rows(d, "text", "doc_id", 10)
    even = F.col("pos") % 2 == 0
    per_doc = segs.groupBy("doc_id").agg(
        F.sum(F.when(even, 1).otherwise(0)).cast("long").alias("n_even"),
        F.sum(F.when(even, F.length("seg")).otherwise(0))
        .cast("long")
        .alias("chars_even"),
        F.sum(F.when(even, 0).otherwise(1)).cast("long").alias("n_odd"),
        F.sum(F.when(even, 0).otherwise(F.length("seg")))
        .cast("long")
        .alias("chars_odd"),
        F.concat_ws(
            " | ",
            F.transform(
                F.filter(
                    F.array_sort(F.collect_list(F.struct("pos", "seg"))),
                    lambda s: s["pos"] % 3 == 0,
                ),
                lambda s: s["seg"],
            ),
        ).alias("sparse_text"),
    )
    # 60-row canary: the unpartitioned rolling window is deliberate
    win = Window.orderBy("doc_id").rowsBetween(-2, 0)
    return per_doc.withColumn(
        "run3", F.sum(F.col("n_even") + F.col("n_odd")).over(win).cast("long")
    )


_BM25_QUERY_SET = [
    (1, "hash join batch"),
    (2, "customer order window"),
    (3, "stream vector scan filter"),
    (4, "spark table group"),
]


def _bm25_query_df(spark):
    """The fixed 4-query table as a JVM LocalRelation (ckpt.literal_df):
    ``spark.createDataFrame(list)`` materializes a LogicalRDD whose every
    consuming action re-evaluates the rows through a Python runner — and
    the BM25/hybrid/eval queries broadcast this table into ~20 jobs each.
    Curated int+string literals round-trip through Arrow exactly."""
    from whylogs_java_spark.ckpt import literal_df

    return literal_df(
        spark, _BM25_QUERY_SET, "query_id long, query_text string"
    )


def q_bm25_documents(spark, sf_dir):
    """BM25 top-10 keyword retrieval over the corpus for a fixed
    4-query set (`operators/retrieval.py`): one corpus scan -> (doc,
    term) tf table, vocabulary-sized IDF broadcast, broadcast query
    terms, WindowGroupLimit top-k. Scores rounded to 6 decimals BEFORE
    ranking so the oracle replays rank-for-rank."""
    from whylogs_java_spark.operators.retrieval import bm25_topk

    d = _t(spark, sf_dir, "documents")
    qdf = _bm25_query_df(spark)
    return bm25_topk(d, qdf, "text", "doc_id", k=10)


def q_retrieval_eval_documents(spark, sf_dir):
    """IR effectiveness dashboard (r13): bm25_topk's run for the fixed
    4-query set evaluated against AND-semantics judgments (a doc is
    relevant iff it contains EVERY query term) — per-query hits/
    precision/recall@10, bounded MRR, and binary nDCG@10 with
    fold-shaped DCG sums (retrieval.retrieval_eval). The oracle replays
    the full BM25 run, the qrels rule, and every metric."""
    from whylogs_java_spark.operators.retrieval import bm25_topk, retrieval_eval
    from whylogs_java_spark.operators.text import tokens

    d = _t(spark, sf_dir, "documents")
    qdf = _bm25_query_df(spark)
    runs = bm25_topk(d, qdf, "text", "doc_id", k=10)
    qterms = qdf.select(
        "query_id",
        F.array_distinct(tokens(F.col("query_text"))).alias("__qt"),
    )
    qrels = (
        d.select("doc_id", tokens(F.col("text")).alias("__dt"))
        .crossJoin(F.broadcast(qterms))
        .where(
            F.forall(
                F.col("__qt"), lambda t: F.array_contains(F.col("__dt"), t)
            )
        )
        .select("query_id", "doc_id")
    )
    return retrieval_eval(runs, qrels, k=10)


def q_knn_eval_embeddings(spark, sf_dir):
    """Leave-one-out 5-NN label eval over every 10th embedding
    (`similarity.knn_label_eval`): brute-force cosine top-k with the
    eval slice broadcast, neighbor-label majority vote with
    deterministic tie-breaks — the embedding-quality probe run after
    re-embedding a corpus."""
    from whylogs_java_spark.operators.similarity import knn_label_eval

    return knn_label_eval(
        _t(spark, sf_dir, "embeddings"),
        query_pred=F.col("vec_id") % 10 == 0,
        k=5,
    )


def q_knn_eval_ivf_embeddings(spark, sf_dir):
    """IVF-tier 5-NN label eval (`similarity.knn_label_eval_ivf`): the
    same deterministic majority vote as knn_eval_embeddings, candidates
    from the 4-probe IVF lists instead of the full corpus — the
    web-scale eval path, hash-checked against the full IVF+vote DuckDB
    replay."""
    from whylogs_java_spark.operators.similarity import knn_label_eval_ivf

    return knn_label_eval_ivf(
        _t(spark, sf_dir, "embeddings"),
        query_pred=F.col("vec_id") % 10 == 0,
        k=5,
        n_centroids=16,
        nprobe=4,
    )


def q_dsir_documents(spark, sf_dir):
    """DSIR importance scores (`sampling.dsir_weights`): hashed-unigram
    log-likelihood ratio of the lang='en' target slice vs the raw
    corpus, 256 buckets, add-1 smoothing. Bucket log-ratios round to
    exact integer atoms before the per-doc mean, so the whole pipeline
    is order-free and oracle-checkable bit-for-bit."""
    from whylogs_java_spark.operators.sampling import dsir_weights

    return dsir_weights(
        _t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        target_pred=F.col("lang") == "en",
        n_buckets=256,
    )


def q_pipeline_manifest_v2(spark, sf_dir):
    """Round-9 pipeline composition (`pipeline.training_manifest_v2`):
    exact dedup (drops the verbatim +200000 copies) → duplicate-span
    gate (drops the mutant/source span-sharing pairs) → TRAINED quality
    gate (logistic filter, full GD trajectory replayed by the oracle) →
    DSIR weighting → split assignment. The composition, not just the
    stages, is hash-checked."""
    from whylogs_java_spark.operators.pipeline import training_manifest_v2

    d = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    tenth = d.where(F.col("doc_id") % 10 == 0)
    mut = tenth.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extra token")).alias("text"),
        F.col("lang"),
    )
    cp = tenth.select(
        (F.col("doc_id") + 200000).alias("doc_id"), "text", "lang"
    )
    corpus = d.unionByName(mut).unionByName(cp)
    return training_manifest_v2(
        corpus,
        "text",
        "doc_id",
        label=F.col("lang") == "en",
        span_gram=8,
        max_dup_fraction=0.9,
        clf_threshold="prior",
        clf_iter=3,
        dsir_buckets=64,
    )


def q_quality_classifier_documents(spark, sf_dir):
    """Trained quality filter (`classifier.quality_filter`): batch-GD
    logistic regression over the Gopher quality features, supervised by
    the lang='en' flag, 3 deterministic iterations (exact-integer
    gradient atoms), then corpus scoring. The oracle replays the ENTIRE
    training trajectory as unrolled CTEs — training, not just scoring,
    is hash-checked."""
    from whylogs_java_spark.operators.classifier import quality_filter

    return quality_filter(
        _t(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        label=F.col("lang") == "en",
        n_iter=3,
        lr=1.0,
    )


def q_tfidf_documents(spark, sf_dir):
    """Per-document top-5 keywords by smoothed TF-IDF
    (`text.tfidf_keywords`): one corpus token explode, tf/df hash-aggs,
    one-row doc-count broadcast, vocabulary equi-join, WindowGroupLimit
    top-k. Scores rounded to 6 before ranking so the oracle replays
    rank-for-rank."""
    from whylogs_java_spark.operators.text import tfidf_keywords

    return tfidf_keywords(
        _t(spark, sf_dir, "documents"), "text", "doc_id", k=5
    )


def q_corpus_overlap(spark, sf_dir):
    """Source-by-source contamination audit (`report.corpus_overlap`):
    exact shingle-set Jaccard per unordered source pair PLUS the
    MinHash(32) estimate of the same quantity — the accuracy dashboard
    for the dedup family's sketch parameters. One shingle explode, one
    shingle-keyed self equi-join, everything else broadcast-sized."""
    from whylogs_java_spark.operators.report import corpus_overlap

    d = _t(spark, sf_dir, "documents")
    return corpus_overlap(d, "text", "source", num_hashes=32, shingle_size=3)


def _corpus_overlap_oracle(num_hashes: int = 32) -> str:
    mins = ",\n         ".join(
        f"MIN(('0x' || substr(md5('mh{i}|' || shingle), 1, 15))::BIGINT)"
        f" AS mh{i}"
        for i in range(num_hashes)
    )
    matches = " + ".join(
        f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END"
        for i in range(num_hashes)
    )
    return f"""
WITH w AS (
  SELECT source, str_split(text, ' ') AS w FROM documents
), sh0 AS (
  SELECT source,
         CASE WHEN len(w) >= 3
              THEN list_transform(generate_series(1, len(w) - 2),
                                  i -> array_to_string(w[i:i+2], ' '))
              ELSE [array_to_string(w, ' ')] END AS shingles
  FROM w
), sh AS (
  SELECT DISTINCT source, unnest(shingles) AS shingle FROM sh0
), sig AS (
  SELECT source,
         {mins}
  FROM sh GROUP BY 1
), sizes AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         a.n AS n_a, b.n AS n_b
  FROM sizes a JOIN sizes b ON a.source < b.source
), inter AS (
  SELECT x.source AS source_a, y.source AS source_b,
         CAST(COUNT(*) AS BIGINT) AS n_common
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.source < y.source
  GROUP BY 1, 2
), est AS (
  SELECT sa.source AS source_a, sb.source AS source_b,
         ({matches}) AS matched
  FROM sig sa JOIN sig sb ON sa.source < sb.source
)
SELECT p.source_a, p.source_b, p.n_a, p.n_b,
       COALESCE(i.n_common, 0) AS n_common,
       ROUND(COALESCE(i.n_common, 0)
             / CAST(p.n_a + p.n_b - COALESCE(i.n_common, 0) AS DOUBLE), 6)
         + 0.0 AS jaccard,
       ROUND(e.matched / {float(num_hashes)}, 6) + 0.0 AS minhash_est
FROM pairs p
LEFT JOIN inter i ON i.source_a = p.source_a AND i.source_b = p.source_b
JOIN est e ON e.source_a = p.source_a AND e.source_b = p.source_b
"""


def _quality_classifier_oracle(
    n_iter: int = 3, lr: float = 1.0, threshold: float = 0.5
) -> str:
    """DuckDB twin of classifier.quality_filter: the ENTIRE batch-GD
    training run unrolled as CTEs (w0 = zeros; each iteration one
    exact-integer gradient aggregate + a one-row weight update), then
    the scoring projection with the final weights."""
    xs = ["x0", "x1", "x2", "x3", "x4", "x5"]

    def z(wref: str) -> str:
        return " + ".join(f"{wref}.w{i} * f.{x}" for i, x in enumerate(xs))

    its = []
    for t in range(1, n_iter + 1):
        zt = z(f"w{t-1}")
        sums = ",\n       ".join(
            f"SUM(CAST(FLOOR(ROUND((1.0/(1.0 + exp(-({zt}))) - f.y) * f.{x}, 6)"
            f" * 1000000 + 0.5) AS BIGINT)) AS s{i}"
            for i, x in enumerate(xs)
        )
        ws = ",\n       ".join(
            f"w.w{i} - {lr} * ((CAST(g.s{i} AS DOUBLE) / g.n) / 1000000.0)"
            f" AS w{i}"
            for i in range(len(xs))
        )
        its.append(
            f"g{t} AS (\n  SELECT COUNT(*) AS n,\n       {sums}\n"
            f"  FROM f, w{t-1}\n),\n"
            f"w{t} AS (\n  SELECT {ws}\n  FROM g{t} g, w{t-1} w\n)"
        )
    zf = z(f"w{n_iter}")
    w0 = ", ".join(f"0.0 AS w{i}" for i in range(len(xs)))
    return f"""
WITH q AS ( {_QUALITY_ORACLE} ),
f AS (
  SELECT q.doc_id,
    CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
    1.0 AS x0,
    ROUND(ln(1 + q.word_count) / 10.0, 6) + 0.0 AS x1,
    ROUND(q.mean_word_len / 12.0, 6) + 0.0 AS x2,
    q.stopword_ratio AS x3,
    q.punct_ratio AS x4,
    q.digit_ratio AS x5
  FROM q JOIN documents d USING (doc_id)
  WHERE q.word_count > 0
),
w0 AS (SELECT {w0}),
{','.join(its)}
SELECT f.doc_id, f.y > 0 AS is_target,
  ROUND(1.0/(1.0 + exp(-({zf}))), 6) + 0.0 AS score,
  (ROUND(1.0/(1.0 + exp(-({zf}))), 6) + 0.0) >= {threshold} AS keep
FROM f, w{n_iter}
"""


def _manifest_v2_oracle(
    span_gram: int = 8,
    max_dup: float = 0.9,
    clf_iter: int = 3,
    lr: float = 1.0,
    n_buckets: int = 64,
) -> str:
    """DuckDB twin of pipeline.training_manifest_v2 over the v2 corpus
    (documents ∪ span-sharing mutants ∪ verbatim copies): exact dedup →
    duplicate-span gate → trained quality gate (full GD replay) → DSIR
    weight → split. The COMPOSITION is hash-checked end to end."""
    g = span_gram
    xs = ["x0", "x1", "x2", "x3", "x4", "x5"]

    def z(wref: str) -> str:
        return " + ".join(f"{wref}.w{i} * f.{x}" for i, x in enumerate(xs))

    its = []
    for t in range(1, clf_iter + 1):
        zt = z(f"w{t-1}")
        sums = ",\n       ".join(
            f"SUM(CAST(FLOOR(ROUND((1.0/(1.0 + exp(-({zt}))) - f.y) * f.{x}, 6)"
            f" * 1000000 + 0.5) AS BIGINT)) AS s{i}"
            for i, x in enumerate(xs)
        )
        ws = ",\n       ".join(
            f"w.w{i} - {lr} * ((CAST(g.s{i} AS DOUBLE) / g.n) / 1000000.0)"
            f" AS w{i}"
            for i in range(len(xs))
        )
        its.append(
            f"g{t} AS (\n  SELECT COUNT(*) AS n,\n       {sums}\n"
            f"  FROM f, w{t-1}\n),\n"
            f"w{t} AS (\n  SELECT {ws}\n  FROM g{t} g, w{t-1} w\n)"
        )
    zf = z(f"w{clf_iter}")
    w0 = ", ".join(f"0.0 AS w{i}" for i in range(len(xs)))
    quality_s2 = _QUALITY_ORACLE.replace("FROM documents", "FROM s2")
    ck = "md5(regexp_replace(lower(text), '\\s+', ' ', 'g'))"
    key = "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000"
    return f"""
WITH corpus AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
  SELECT doc_id + 100000, text || ' extra token', lang
  FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 200000, text, lang
  FROM documents WHERE doc_id % 10 = 0
),
ded AS (
  SELECT {ck} AS k, MIN(doc_id) AS keep FROM corpus GROUP BY 1
),
s1 AS (
  SELECT c.doc_id, c.text, (c.lang = 'en') AS lbl
  FROM corpus c JOIN ded
    ON {ck.replace('(text', '(c.text').replace('lower(text)', 'lower(c.text)')} = ded.k
   AND c.doc_id = ded.keep
),
wrd AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM s1
),
grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(w[i+1 : i+{g}], ' ')) AS gram_key
  FROM wrd, unnest(range(0, len(w) - {g} + 1)) AS u(i)
),
dup AS (SELECT gram_key FROM grams GROUP BY 1 HAVING COUNT(*) >= 2),
dp AS (
  SELECT gr.doc_id, gr.pos AS s0, gr.pos + {g - 1} AS e0
  FROM grams gr JOIN dup USING (gram_key)
),
isl AS (
  SELECT doc_id, s0, e0,
    CASE WHEN MAX(e0) OVER (PARTITION BY doc_id ORDER BY s0
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      OR s0 > MAX(e0) OVER (PARTITION BY doc_id ORDER BY s0
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
    THEN 1 ELSE 0 END AS ni
  FROM dp
),
isl2 AS (
  SELECT doc_id, s0, e0,
    SUM(ni) OVER (PARTITION BY doc_id ORDER BY s0
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
),
spn AS (
  SELECT doc_id, island, MIN(s0) AS s, MAX(e0) AS e
  FROM isl2 GROUP BY doc_id, island
),
per_doc AS (
  SELECT doc_id, SUM(e - s + 1) AS dup_tokens FROM spn GROUP BY doc_id
),
frac AS (
  SELECT t.doc_id,
    ROUND(COALESCE(p.dup_tokens, 0) / GREATEST(CAST(len(t.w) AS BIGINT), 1), 6)
      + 0.0 AS dfrac
  FROM wrd t LEFT JOIN per_doc p USING (doc_id)
),
s2 AS (
  SELECT s1.* FROM s1 JOIN frac USING (doc_id) WHERE frac.dfrac <= {max_dup}
),
qq AS ( {quality_s2} ),
f AS (
  SELECT qq.doc_id,
    CASE WHEN s2.lbl THEN 1.0 ELSE 0.0 END AS y,
    1.0 AS x0,
    ROUND(ln(1 + qq.word_count) / 10.0, 6) + 0.0 AS x1,
    ROUND(qq.mean_word_len / 12.0, 6) + 0.0 AS x2,
    qq.stopword_ratio AS x3,
    qq.punct_ratio AS x4,
    qq.digit_ratio AS x5
  FROM qq JOIN s2 USING (doc_id)
  WHERE qq.word_count > 0
),
w0 AS (SELECT {w0}),
{','.join(its)},
sc AS (
  SELECT f.doc_id, ROUND(1.0/(1.0 + exp(-({zf}))), 6) + 0.0 AS score
  FROM f, w{clf_iter}
),
thrp AS (
  SELECT SUM(y) / COUNT(*) AS p FROM f
),
s3 AS (
  SELECT s2.*, sc.score FROM s2 JOIN sc USING (doc_id), thrp
  WHERE sc.score >= thrp.p
),
toks AS (
  SELECT doc_id, lbl AS is_t,
         ('0x' || substr(md5(t.term), 1, 15))::BIGINT % {n_buckets} AS bucket
  FROM s3, LATERAL (
    SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> ''))
      AS term
  ) t
),
bstats AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS t_b,
         CAST(COUNT(*) AS BIGINT) AS r_b
  FROM toks GROUP BY 1
),
btot AS (
  SELECT CAST(SUM(t_b) AS BIGINT) AS tt, CAST(SUM(r_b) AS BIGINT) AS rr
  FROM bstats
),
lrs AS (
  SELECT bucket,
    CAST(FLOOR(ROUND(ln((t_b + 1.0) / (tt + {float(n_buckets)}))
                     - ln((r_b + 1.0) / (rr + {float(n_buckets)})), 6)
               * 1000000 + 0.5) AS BIGINT) AS lr_i
  FROM bstats, btot
),
dw AS (
  SELECT doc_id,
    SIGN(m) * FLOOR(ABS(m) + 0.5) / 1000000.0 + 0.0 AS dsir_logratio
  FROM (
    SELECT doc_id,
      CAST(SUM(lr_i) AS BIGINT) / CAST(COUNT(*) AS BIGINT) AS m
    FROM toks JOIN lrs USING (bucket)
    GROUP BY doc_id
  )
)
SELECT s3.doc_id,
  CASE WHEN {key} < 800000 THEN 'train'
       WHEN {key} < 900000 THEN 'val'
       ELSE 'test' END AS split,
  s3.score, dw.dsir_logratio
FROM s3 JOIN dw USING (doc_id)
"""


def _pq_oracle(
    k: int = 10,
    m: int = 4,
    codebook_k: int = 16,
    rerank: int = 30,
    query_ids=None,
) -> str:
    """DuckDB twin of similarity.pq_topk: md5-rank codebook sample,
    per-subspace argmin codes, ADC via per-query dot-product lookup
    tables joined on the code, exact-refine cosine on the rerank cut."""
    ids = ", ".join(str(i) for i in (query_ids or SIM_QUERY_IDS))
    sub = f"(len(e.v) // {m})"

    def dist_j(j: int) -> str:
        idx = f"({j} * {sub} + i)"
        return _fold_sum(
            f"list_transform(generate_series(1, {sub}), "
            f"i -> (e.v[{idx}] - cb.v[{idx}]) * (e.v[{idx}] - cb.v[{idx}]))"
        )

    subq = "(len(q.v) // %d)" % m
    subc = "(len(cb.v) // %d)" % m

    def dot_j(j: int) -> str:
        return _fold_sum(
            f"list_transform(generate_series(1, {subq}), "
            f"i -> q.v[({j} * {subq} + i)] * cb.v[({j} * {subq} + i)])"
        )

    def rn_j(j: int) -> str:
        return _fold_sum(
            f"list_transform(generate_series(1, {subc}), "
            f"i -> cb.v[({j} * {subc} + i)] * cb.v[({j} * {subc} + i)])"
        )

    nsq = _fold_sum(
        "list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)),"
        " x -> x * x)"
    )
    code_cols = ",\n         ".join(
        f"CAST(MIN([{dist_j(j)}, CAST(cb.cid AS DOUBLE)])[2] AS INT)"
        f" AS code_{j}"
        for j in range(m)
    )
    dt_cols = ",\n         ".join(f"{dot_j(j)} AS d_{j}" for j in range(m))
    rn_cols = ",\n         ".join(f"{rn_j(j)} AS rn_{j}" for j in range(m))
    dt_joins = "\n      ".join(
        f"JOIN dt t{j} ON t{j}.cid = c.code_{j}"
        + ("" if j == 0 else f" AND t{j}.query_id = t0.query_id")
        for j in range(m)
    )
    rn_joins = "\n      ".join(
        f"JOIN cbn b{j} ON b{j}.cid = c.code_{j}" for j in range(m)
    )
    score = " + ".join(f"t{j}.d_{j}" for j in range(m))
    rnsum = " + ".join(f"b{j}.rn_{j}" for j in range(m))
    refine_dp = _fold_sum(
        "list_transform(generate_series(1, len(q.v)), i -> q.v[i] * e2.v[i])"
    )
    return f"""
    WITH vecs AS (
      SELECT * FROM (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               SQRT({nsq}) AS n
        FROM embeddings
      ) WHERE n > 0
    ), cb AS (
      SELECT v, row_number() OVER (
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      FROM (SELECT * FROM vecs
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {codebook_k})
    ), codes AS (
      SELECT e.vec_id,
         {code_cols}
      FROM vecs e CROSS JOIN cb GROUP BY e.vec_id
    ), q AS (
      SELECT vec_id AS query_id, v, n FROM vecs WHERE vec_id IN ({ids})
    ), dt AS (
      SELECT q.query_id, cb.cid,
         {dt_cols}
      FROM q CROSS JOIN cb
    ), cbn AS (
      SELECT cb.cid,
         {rn_cols}
      FROM cb
    ), adc AS (
      SELECT t0.query_id, c.vec_id,
        ROUND(({score}) / NULLIF(qq.n * SQRT({rnsum}), 0), 6) + 0.0 AS adcr
      FROM codes c
      {dt_joins}
      {rn_joins}
      JOIN q qq ON qq.query_id = t0.query_id
      WHERE c.vec_id != t0.query_id
    ), cut AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY adcr DESC NULLS LAST, vec_id ASC
        ) AS rr FROM adc
      ) WHERE rr <= {rerank}
    ), refined AS (
      SELECT s.query_id, s.vec_id AS neighbor_id,
             {refine_dp} / (q.n * e2.n) AS cosine
      FROM cut s
      JOIN vecs e2 ON e2.vec_id = s.vec_id
      JOIN q ON q.query_id = s.query_id
    )
    SELECT query_id, neighbor_id, ROUND(cosine, 6) + 0.0 AS cosine, rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rank FROM refined
    ) WHERE rank <= {k}
    """


def _knn_eval_ivf_oracle(
    k: int = 5, n_centroids: int = 16, nprobe: int = 4
) -> str:
    """DuckDB twin of knn_label_eval_ivf: the IVF probe's candidate set
    feeds the same deterministic majority vote."""
    cdp = _fold_sum(
        "list_transform(generate_series(1, len(f.v)), i -> f.v[i] * c.cv[i])"
    )
    qdp = _fold_sum(
        "list_transform(generate_series(1, len(q.v)), i -> q.v[i] * f.v[i])"
    )
    nsq = _fold_sum(
        "list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)),"
        " x -> x * x)"
    )
    return f"""
    WITH vecs AS (
      SELECT * FROM (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               SQRT({nsq}) AS n
        FROM embeddings
      ) WHERE n > 0
    ), cent AS (
      SELECT vec_id AS centroid_id FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {n_centroids}
    ), cvecs AS (
      SELECT c.centroid_id, w.v AS cv, w.n AS cn
      FROM vecs w JOIN cent c ON w.vec_id = c.centroid_id
    ), cranked AS (
      SELECT f.vec_id, c.centroid_id,
             ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY
               {cdp} / (f.n * c.cn) DESC,
               c.centroid_id ASC) AS crk
      FROM vecs f CROSS JOIN cvecs c
    ), lists AS (
      SELECT vec_id AS neighbor_id, centroid_id FROM cranked WHERE crk = 1
    ), probes AS (
      SELECT vec_id AS query_id, centroid_id FROM cranked
      WHERE vec_id % 10 = 0 AND crk <= {nprobe}
    ), cand AS (
      SELECT DISTINCT p.query_id, l.neighbor_id
      FROM lists l JOIN probes p ON l.centroid_id = p.centroid_id
      WHERE l.neighbor_id != p.query_id
    ), sim AS (
      SELECT c.query_id, c.neighbor_id, {qdp} / (q.n * f.n) AS cosine
      FROM cand c
      JOIN vecs q ON q.vec_id = c.query_id
      JOIN vecs f ON f.vec_id = c.neighbor_id
    ), topk AS (
      SELECT s.*, el.label AS nbr_label, ql.label AS true_label
      FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS rank FROM sim
      ) s
      JOIN embeddings el ON el.vec_id = s.neighbor_id
      JOIN embeddings ql ON ql.vec_id = s.query_id
      WHERE s.rank <= {k}
    ), votes AS (
      SELECT query_id, true_label, nbr_label,
             CAST(COUNT(*) AS BIGINT) AS n_votes, MIN(rank) AS best_rank
      FROM topk GROUP BY 1, 2, 3
    )
    SELECT query_id, true_label, nbr_label AS pred_label, n_votes,
           (nbr_label = true_label) AS correct
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id
        ORDER BY n_votes DESC, best_rank ASC, nbr_label ASC
      ) AS vr
      FROM votes
    ) WHERE vr = 1
    """


def _knn_eval_oracle(k: int = 5) -> str:
    dp = _fold_sum(
        "list_transform(generate_series(1, len(f.v)), i -> f.v[i] * q.v[i])"
    )
    nsq = _fold_sum(
        "list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)),"
        " x -> x * x)"
    )
    return f"""
    WITH vecs AS (
      SELECT * FROM (
        SELECT vec_id, label,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               SQRT({nsq}) AS n
        FROM embeddings
      ) WHERE n > 0
    ), q AS (
      SELECT vec_id AS query_id, label AS true_label, v, n
      FROM vecs WHERE vec_id % 10 = 0
    ), sim AS (
      SELECT q.query_id, q.true_label, f.vec_id AS neighbor_id,
             f.label AS nbr_label, {dp} / (f.n * q.n) AS cosine
      FROM vecs f JOIN q ON f.vec_id != q.query_id
    ), topk AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
        ) AS rank FROM sim
      ) WHERE rank <= {k}
    ), votes AS (
      SELECT query_id, true_label, nbr_label,
             CAST(COUNT(*) AS BIGINT) AS n_votes, MIN(rank) AS best_rank
      FROM topk GROUP BY 1, 2, 3
    )
    SELECT query_id, true_label, nbr_label AS pred_label, n_votes,
           (nbr_label = true_label) AS correct
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id
        ORDER BY n_votes DESC, best_rank ASC, nbr_label ASC
      ) AS vr
      FROM votes
    ) WHERE vr = 1
    """


_DSIR_ORACLE = """
WITH toks AS (
  SELECT doc_id, (lang = 'en') AS is_t,
         ('0x' || substr(md5(t.term), 1, 15))::BIGINT % 256 AS bucket
  FROM documents, LATERAL (
    SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> ''))
      AS term
  ) t
), stats AS (
  SELECT bucket,
         CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) AS t_b,
         CAST(COUNT(*) AS BIGINT) AS r_b
  FROM toks GROUP BY 1
), tot AS (
  SELECT CAST(SUM(t_b) AS BIGINT) AS tt, CAST(SUM(r_b) AS BIGINT) AS rr
  FROM stats
), lrs AS (
  SELECT bucket,
    CAST(FLOOR(ROUND(ln((t_b + 1.0) / (tt + 256.0))
                     - ln((r_b + 1.0) / (rr + 256.0)), 6)
               * 1000000 + 0.5) AS BIGINT) AS lr_i
  FROM stats, tot
), agg AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(SUM(lr_i) AS BIGINT) AS s
  FROM toks JOIN lrs USING (bucket)
  GROUP BY 1
)
SELECT doc_id, n_tokens,
  SIGN(s / n_tokens) * FLOOR(ABS(s / n_tokens) + 0.5) / 1000000.0 + 0.0
    AS dsir_logratio,
  ROUND(exp(SIGN(s / n_tokens) * FLOOR(ABS(s / n_tokens) + 0.5)
            / 1000000.0 + 0.0), 6) + 0.0
    AS dsir_weight
FROM agg
"""

_TFIDF_ORACLE = """
WITH toks AS (
  SELECT doc_id, t.term
  FROM documents, LATERAL (
    SELECT unnest(list_filter(string_split(lower(text), ' '), x -> x <> ''))
      AS term
  ) t
), tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS term_count
  FROM toks GROUP BY 1, 2
), dl AS (
  SELECT doc_id, CAST(SUM(term_count) AS BIGINT) AS doc_tokens
  FROM tf GROUP BY 1
), dfreq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS doc_freq FROM tf GROUP BY 1
), nd AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dl
), scored AS (
  SELECT tf.doc_id, tf.term, tf.term_count, dl.doc_tokens, dfreq.doc_freq,
    ROUND((CAST(term_count AS DOUBLE) / doc_tokens)
          * (ln((n + 1) / CAST(doc_freq + 1 AS DOUBLE)) + 1.0), 6) + 0.0
      AS score
  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), nd
)
SELECT doc_id, term, term_count, doc_tokens, doc_freq, score,
       CAST(rank AS BIGINT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY doc_id ORDER BY score DESC, term
  ) AS rank
  FROM scored
)
WHERE rank <= 5
"""

_BM25_ORACLE = """
WITH q(query_id, query_text) AS (
  VALUES (1, 'hash join batch'), (2, 'customer order window'),
         (3, 'stream vector scan filter'), (4, 'spark table group')
), toks AS (
  SELECT doc_id, t.term
  FROM documents, LATERAL (
    SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS term
  ) t
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
), dl AS (
  SELECT doc_id, SUM(tf) AS dl FROM tf GROUP BY 1
), corpus AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
         (CAST(SUM(tf) AS DOUBLE) / COUNT(DISTINCT doc_id)) AS avgdl
  FROM tf
), dfreq AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
), qt AS (
  SELECT DISTINCT query_id, u.term
  FROM q, LATERAL (
    SELECT unnest(list_filter(string_split(query_text, ' '), x -> x <> '')) AS term
  ) u
), scored AS (
  SELECT qt.query_id, tf.doc_id,
         ROUND(SUM(
           ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
           * CAST(tf AS DOUBLE) * 2.2
           / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * dl / avgdl))
         ), 6) + 0.0 AS score
  FROM tf
  JOIN qt USING (term)
  JOIN dfreq USING (term)
  JOIN dl USING (doc_id), corpus
  GROUP BY 1, 2
), ranked AS (
  SELECT query_id,
         CAST(ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY score DESC, doc_id
         ) AS BIGINT) AS rank,
         doc_id, score
  FROM scored
)
SELECT query_id, rank, doc_id, score FROM ranked WHERE rank <= 10
"""


def q_drift_embeddings_space(spark, sf_dir):
    """Embedding-space drift between the even- and odd-label halves of
    the embeddings table (`drift.embedding_drift`): per-dimension means
    via exact integer sums, then integer dot products of the rounded
    means -> cosine / L2 / per-dim shift, all engine-deterministic."""
    from whylogs_java_spark.operators.drift import embedding_drift

    emb = _t(spark, sf_dir, "embeddings")
    ref = emb.where(F.col("label") % 2 == 0)
    cur = emb.where(F.col("label") % 2 == 1)
    return embedding_drift(ref, cur, "embedding")


_EMBED_DRIFT_ORACLE = """
WITH rdim AS (
  SELECT u.i AS dim, CAST(COUNT(*) AS BIGINT) AS n_ref,
         CAST(SUM(CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * 1000000 + 0.5)
                       AS BIGINT)) AS BIGINT) AS s_ref
  FROM embeddings, LATERAL (
    SELECT unnest(generate_series(1, len(embedding))) AS i
  ) u
  WHERE label % 2 = 0 GROUP BY 1
), cdim AS (
  SELECT u.i AS dim, CAST(COUNT(*) AS BIGINT) AS n_cur,
         CAST(SUM(CAST(FLOOR(CAST(embedding[u.i] AS DOUBLE) * 1000000 + 0.5)
                       AS BIGINT)) AS BIGINT) AS s_cur
  FROM embeddings, LATERAL (
    SELECT unnest(generate_series(1, len(embedding))) AS i
  ) u
  WHERE label % 2 = 1 GROUP BY 1
), mm AS (
  SELECT n_ref, n_cur,
         CAST(FLOOR(ROUND(CAST(s_ref AS DOUBLE) / n_ref / 1000000.0, 6)
                    * 1000000 + 0.5) AS BIGINT) AS mr,
         CAST(FLOOR(ROUND(CAST(s_cur AS DOUBLE) / n_cur / 1000000.0, 6)
                    * 1000000 + 0.5) AS BIGINT) AS mc
  FROM rdim JOIN cdim USING (dim)
), agg AS (
  SELECT MAX(n_ref) AS n_ref, MAX(n_cur) AS n_cur,
         CAST(SUM(mr * mc) AS BIGINT) AS dot_rc,
         CAST(SUM(mr * mr) AS BIGINT) AS dot_rr,
         CAST(SUM(mc * mc) AS BIGINT) AS dot_cc,
         CAST(MAX(ABS(mr - mc)) AS BIGINT) AS max_shift_i,
         CAST(SUM(ABS(mr - mc)) AS BIGINT) AS sum_shift_i,
         CAST(COUNT(*) AS BIGINT) AS n_dims
  FROM mm
)
SELECT n_ref, n_cur,
       ROUND(CAST(dot_rc AS DOUBLE)
             / NULLIF(sqrt(CAST(dot_rr AS DOUBLE) * CAST(dot_cc AS DOUBLE)), 0),
             6) + 0.0 AS cosine_means,
       ROUND(sqrt(CAST(dot_rr - 2 * dot_rc + dot_cc AS DOUBLE)) / 1000000.0,
             6) + 0.0 AS l2_means,
       ROUND(max_shift_i / 1000000.0, 6) + 0.0 AS max_dim_shift,
       ROUND(sum_shift_i / (n_dims * 1000000.0), 6) + 0.0 AS mean_abs_shift
FROM agg
"""


_CANARY_HEX_KEY_ORACLE = """
WITH k AS (
  SELECT ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
           % 1000000 AS key
  FROM documents WHERE doc_id < 200
)
SELECT key % 10 AS bucket, COUNT(*) AS n, CAST(SUM(key) AS BIGINT) AS sum_key
FROM k GROUP BY 1
"""


_CANARY_SQL_CONSTRUCTS_ORACLE = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents WHERE doc_id < 60
), segs AS (
  SELECT doc_id, i AS pos, array_to_string(w[i*10+1 : i*10+10], ' ') AS seg
  FROM w, unnest(range(0, GREATEST(CAST(CEIL(len(w) / 10.0) AS INT), 1))) AS u(i)
), a AS (
  SELECT doc_id, COUNT(*) AS n_even,
         CAST(SUM(len(seg)) AS BIGINT) AS chars_even
  FROM segs WHERE pos % 2 = 0 GROUP BY 1
), b AS (
  SELECT doc_id, COUNT(*) AS n_odd,
         CAST(SUM(len(seg)) AS BIGINT) AS chars_odd
  FROM segs WHERE pos % 2 = 1 GROUP BY 1
), agg AS (
  SELECT doc_id,
         COALESCE(string_agg(CASE WHEN pos % 3 = 0 THEN seg END,
                             ' | ' ORDER BY pos), '') AS sparse_text
  FROM segs GROUP BY 1
), j AS (
  SELECT doc_id,
         COALESCE(n_even, 0) AS n_even, COALESCE(chars_even, 0) AS chars_even,
         COALESCE(n_odd, 0) AS n_odd, COALESCE(chars_odd, 0) AS chars_odd
  FROM a FULL OUTER JOIN b USING (doc_id)
)
SELECT j.doc_id, n_even, chars_even, n_odd, chars_odd, agg.sparse_text,
       CAST(SUM(n_even + n_odd) OVER win AS BIGINT) AS run3
FROM j JOIN agg ON j.doc_id = agg.doc_id
WINDOW win AS (ORDER BY j.doc_id ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
"""


# --- round-10 late additions: leakage-safe splits, blocklist, novelty ---


def q_split_leakage_safe(spark, sf_dir):
    """Leakage-safe train/val/test assignment: near-dup clusters
    (MinHash-LSH verified pairs -> connected components, the exact
    dedup_clusters pass) are split ATOMICALLY — the md5 hash-threshold
    key is the CLUSTER id, not the doc id, so two near-copies of the
    same page can never land one in train and one in test. Output is
    per-doc (doc_id, cluster_id, is_survivor, split); the DuckDB oracle
    replays the recursive-CTE reachability fixpoint and the same
    threshold CASE keyed on the cluster id."""
    from whylogs_java_spark.operators.pipeline import leakage_safe_splits

    corpus = _mutated_corpus(_t(spark, sf_dir, "documents"))
    return leakage_safe_splits(
        corpus, "text", "doc_id", SPLIT_SPEC,
        threshold=0.5, num_hashes=16, bands=4, shingle_size=3,
    )


BLOCKLIST_TERMS = ("spark", "vector", "slow stream", "zeppelin")


def q_blocklist_documents(spark, sf_dir):
    """C4-style blocklist screen: per-doc counts of blocked terms
    (words AND multi-word phrases, whole-word, case-insensitive), the
    sorted hit list, and the drop verdict — a pure scan-side projection
    (one Catalyst regexp_extract_all per term, no shuffle/UDF). The
    term list includes one phrase and one never-matching term so the
    zero path is exercised."""
    from whylogs_java_spark.operators.text import blocklist_filter

    return blocklist_filter(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        BLOCKLIST_TERMS, keep_cols=("lang",),
    )


def q_novelty_documents(spark, sf_dir):
    """N-gram novelty of an incoming batch vs the existing corpus: the
    fraction of each doc's DISTINCT word 5-grams absent from the
    reference slice (docs with id % 3 == 0). The batch is the remaining
    docs plus planted mutations of every 30th reference doc (verbatim
    text + ' tail'), whose novelty collapses toward 0 — the signal a
    curation pipeline ranks incoming data by. Both sides reduce to
    distinct md5 gram digests and meet in a shuffle semi-join on the
    digest key (the reference is corpus-scale, NOT broadcast — cf.
    decontaminate where the eval side is benchmark-sized)."""
    from whylogs_java_spark.operators.decontam import ngram_novelty

    d = _t(spark, sf_dir, "documents")
    ref = d.where(F.col("doc_id") % 3 == 0)
    cur = (
        d.where(F.col("doc_id") % 3 != 0)
        .select("doc_id", "text")
        .unionByName(
            d.where(F.col("doc_id") % 30 == 0).select(
                (F.col("doc_id") + 200000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" tail")).alias("text"),
            )
        )
    )
    return ngram_novelty(cur, "text", "doc_id", ref, n=5)


def q_pack_documents(spark, sf_dir):
    """Concat-and-chunk packing ASSIGNMENT (ctx=512, 1 separator token,
    per-lang streams): each doc's global token offset and the context
    windows it lands in — the actual packing step training-shard
    writers execute, fully deterministic (id order) and replayed
    verbatim by the DuckDB window oracle. packing_stats computes the
    bounds; this emits the assignment."""
    from whylogs_java_spark.operators.text import pack_assign

    return pack_assign(
        _t(spark, sf_dir, "documents"), "text", "doc_id",
        context_len=512, strata=["lang"], sep_tokens=1,
    )


def q_rp_embeddings(spark, sf_dir):
    """Johnson-Lindenstrauss sign random projection 64 -> 8 dims
    (embedding compression for cheaper ANN/storage): md5-derived ±1
    sign matrix, left-to-right folds, every projected value replayed
    bit-for-bit by the DuckDB list_reduce oracle."""
    from whylogs_java_spark.operators.similarity import rp_project

    return rp_project(
        _t(spark, sf_dir, "embeddings"), "vec_id", "embedding", out_dim=8,
        keep_cols=("label",), dim=64,
    )


def q_similarity_rp(spark, sf_dir):
    """ANN over JL-compressed vectors (the compression tier of the ANN
    ladder): candidates ranked by cosine in 16-dim projected space (4x
    fewer multiplies than the 64-dim brute force), top-32 refined with
    the exact full-dim cosine, final top-10. Projected values round to
    6 dp before ranking, so the DuckDB oracle replays the projection,
    the candidate cut AND the refined ranking bit-for-bit."""
    from whylogs_java_spark.operators.similarity import rp_topk

    return rp_topk(
        _t(spark, sf_dir, "embeddings"), SIM_QUERY_IDS, k=10, out_dim=16,
        rerank=32, dim=64,
    )


def q_dedup_threshold_report(spark, sf_dir):
    """Dedup threshold tuning table (the near-dup analog of the ANN
    recall dashboard): one verified-pair pass at jaccard >= 0.5 over
    the mutated corpus, then per-threshold pair/doc counts + affected
    fraction for thresholds 0.5..0.9 — the table an operator reads to
    pick the production cut. Same dedup parameters as dedup_clusters,
    so the DuckDB oracle reuses that pair replay."""
    from whylogs_java_spark.operators.dedup import dedup_threshold_report

    corpus = _mutated_corpus(_t(spark, sf_dir, "documents"))
    return dedup_threshold_report(
        corpus, "text", "doc_id", thresholds=(0.5, 0.6, 0.7, 0.8, 0.9),
        num_hashes=16, bands=4, shingle_size=3,
    )


def q_dedup_exact_best(spark, sf_dir):
    """Exact dedup with a QUALITY-AWARE survivor: verbatim mirror
    copies (every 10th doc, id+100000) carry a higher source-trust
    score, and the survivor is the max-trust member (ties -> min id) —
    the keep-the-best-copy policy real pipelines use instead of plain
    min-id. One hash-aggregate either way (survivor =
    min(struct(-score, id)) with map-side combine)."""
    from whylogs_java_spark.operators.dedup import exact_duplicate_groups

    d = _t(spark, sf_dir, "documents")
    corpus = d.select(
        "doc_id", "text", F.lit(1).alias("trust")
    ).unionByName(
        d.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.col("text"),
            F.lit(5).alias("trust"),
        )
    )
    return exact_duplicate_groups(
        corpus, "text", "doc_id", key=F.md5(F.col("text")),
        prefer=F.col("trust"),
    )


PIPELINE_V3_TERMS = ("spark", "zeppelin")


def q_pipeline_manifest_v4(spark, sf_dir):
    """Composed v4 pipeline (the round-12 operators end to end):
    surgical span decontamination (same planted eval slice as
    decontam_documents) → CCNet per-language tier gate over a bigram LM
    TRAINED ON THE CLEANED CORPUS → per-source quota (15 best-perplexity
    docs per source). The oracle replays every stage in ONE DuckDB
    statement: span rebuild, the full LM build+score over the cleaned
    text, exact tercile cutoffs, the bucket CASE, and the quota
    window."""
    from whylogs_java_spark.operators.pipeline import training_manifest_v4

    d = _t(spark, sf_dir, "documents")
    ev = d.where(F.col("doc_id") % 20 == 0).select(
        F.concat_ws(
            " ",
            F.slice(F.filter(F.split("text", " "), lambda t: t != ""), 3, 10),
        ).alias("text")
    )
    return training_manifest_v4(d, "text", "doc_id", ev, n=5, cap=15)


def q_pipeline_manifest_v5(spark, sf_dir):
    """Composed v5 pipeline (r13 operators end to end): surgical span
    decontamination → TRIGRAM-tier CCNet gate (order=3 JM-interpolated
    LM trained on the cleaned corpus, per-language exact terciles) →
    per-source quota → global token budget via the SCAN tier (the r13
    distributed prefix sum — cliff-free for the continuous perplexity
    scores this stage orders by). The oracle replays every stage in ONE
    DuckDB statement incl. the full trigram LM build."""
    from whylogs_java_spark.operators.pipeline import training_manifest_v5

    d = _t(spark, sf_dir, "documents")
    ev = d.where(F.col("doc_id") % 20 == 0).select(
        F.concat_ws(
            " ",
            F.slice(F.filter(F.split("text", " "), lambda t: t != ""), 3, 10),
        ).alias("text")
    )
    return training_manifest_v5(
        d, "text", "doc_id", ev, n=5, cap=15, token_budget=8000
    )


def _pipeline_v5_oracle() -> str:
    lm = _lm_score3_sql("c2", "doc_id", "clean_text")
    return (
        "WITH " + _DECONTAM_SPANS_CTES + """, c2 AS (
  SELECT d.doc_id, d.lang, d.source,
         COALESCE(cl.clean_text, '') AS clean_text,
         CAST(len(w.w) - COALESCE(p.tokens_removed, 0) AS BIGINT)
           AS clean_tokens
  FROM documents d
  JOIN w ON d.doc_id = w.doc_id
  LEFT JOIN per_doc p ON p.doc_id = d.doc_id
  LEFT JOIN clean cl ON cl.doc_id = d.doc_id
), lm AS (""" + lm + """), sc2 AS (
  SELECT c2.doc_id, c2.lang, c2.source, c2.clean_tokens, lm.perplexity
  FROM c2 JOIN lm USING (doc_id)
), cut AS (
  SELECT lang,
    ROUND(quantile_cont(perplexity, 0.3333333333333333), 6) + 0.0 AS c1,
    ROUND(quantile_cont(perplexity, 0.6666666666666666), 6) + 0.0 AS c2v
  FROM sc2 GROUP BY lang
), tiered AS (
  SELECT sc2.*,
    CASE WHEN sc2.perplexity IS NULL THEN NULL
         WHEN sc2.perplexity <= cut.c1 THEN 'head'
         WHEN sc2.perplexity <= cut.c2v THEN 'middle'
         ELSE 'tail' END AS bucket
  FROM sc2 LEFT JOIN cut USING (lang)
), kept AS (
  SELECT * FROM tiered WHERE bucket IS NOT NULL AND bucket <> 'tail'
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY source ORDER BY perplexity ASC, doc_id ASC
  ) AS rk FROM kept
), quota AS (
  SELECT doc_id, lang, source, perplexity, bucket,
         CAST(rk AS BIGINT) AS source_rank, clean_tokens AS n_tokens
  FROM ranked WHERE rk <= 15
), budget AS (
  -- the scan tier's global greedy: (-perplexity DESC, id ASC) ==
  -- (perplexity ASC, id ASC); row kept iff inclusive total fits
  SELECT *, SUM(n_tokens) OVER (
    ORDER BY perplexity ASC, doc_id ASC
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
  ) AS cum_tokens FROM quota
)
SELECT doc_id, lang, source, perplexity, bucket, source_rank, n_tokens,
       CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM budget WHERE cum_tokens <= 8000
"""
    )


def _pipeline_v4_oracle() -> str:
    lm = _lm_score_sql("c2", "doc_id", "clean_text")
    return (
        "WITH " + _DECONTAM_SPANS_CTES + """, c2 AS (
  SELECT d.doc_id, d.lang, d.source,
         COALESCE(cl.clean_text, '') AS clean_text,
         CAST(len(w.w) - COALESCE(p.tokens_removed, 0) AS BIGINT)
           AS clean_tokens
  FROM documents d
  JOIN w ON d.doc_id = w.doc_id
  LEFT JOIN per_doc p ON p.doc_id = d.doc_id
  LEFT JOIN clean cl ON cl.doc_id = d.doc_id
), lm AS (""" + lm + """), sc2 AS (
  SELECT c2.doc_id, c2.lang, c2.source, c2.clean_tokens, lm.perplexity
  FROM c2 JOIN lm USING (doc_id)
), cut AS (
  SELECT lang,
    ROUND(quantile_cont(perplexity, 0.3333333333333333), 6) + 0.0 AS c1,
    ROUND(quantile_cont(perplexity, 0.6666666666666666), 6) + 0.0 AS c2v
  FROM sc2 GROUP BY lang
), tiered AS (
  SELECT sc2.*,
    CASE WHEN sc2.perplexity IS NULL THEN NULL
         WHEN sc2.perplexity <= cut.c1 THEN 'head'
         WHEN sc2.perplexity <= cut.c2v THEN 'middle'
         ELSE 'tail' END AS bucket
  FROM sc2 LEFT JOIN cut USING (lang)
), kept AS (
  SELECT * FROM tiered WHERE bucket IS NOT NULL AND bucket <> 'tail'
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY source ORDER BY perplexity ASC, doc_id ASC
  ) AS rk FROM kept
)
SELECT doc_id, lang, source, perplexity, bucket,
       CAST(rk AS BIGINT) AS source_rank, clean_tokens AS n_tokens
FROM ranked WHERE rk <= 15
"""
    )


def q_pipeline_manifest_v3(spark, sf_dir):
    """Composed v3 pipeline hash-checked as ONE query: blocklist gate
    (drop docs mentioning the blocked terms) -> leakage-safe cluster
    split (near-dup clusters atomic across train/val/test) -> survivor
    dedup -> per-split packing assignment (ctx=256, 1 separator token).
    The deliverable is the PHYSICAL LAYOUT: where every surviving doc
    lands in its split's packed token stream. The DuckDB oracle replays
    the regexp gate, the recursive-CTE cluster fixpoint, the md5 split
    CASE, and the packing window end to end."""
    from whylogs_java_spark.operators.pipeline import training_manifest_v3

    corpus = _mutated_corpus(_t(spark, sf_dir, "documents"))
    return training_manifest_v3(
        corpus, "text", "doc_id", PIPELINE_V3_TERMS, SPLIT_SPEC,
        threshold=0.5, num_hashes=16, bands=4, shingle_size=3,
        context_len=256, sep_tokens=1,
    )


def q_similarity_ivfpq_stored(spark, sf_dir):
    """The FAISS-production index shape with a DRIVER ROW: build the
    persisted IVF×PQ index (md5-deterministic centroids + sampled
    codebooks, floor-exact argmin codes) in a temp dir, then probe it —
    nprobe=4 pruned lists, ADC ranking over the stored codes, exact
    refine on the stored doubles. The DuckDB oracle replays the ENTIRE
    index: centroid routing, codebook slices, per-vector codes, ADC
    lookup-table scores, the rerank cut, and the refined ranking."""
    import shutil
    import tempfile

    from whylogs_java_spark.operators.similarity import (
        build_ivfpq_index,
        ivfpq_topk_stored,
    )

    emb = _t(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix="ivfpq_store_")
    try:
        build_ivfpq_index(emb, path, n_centroids=16, m=4, codebook_k=16)
        out = ivfpq_topk_stored(
            spark, path,
            emb.where(F.col("vec_id").isin(SIM_QUERY_IDS)),
            k=10, nprobe=4, rerank=30,
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def q_dedup_incremental_appended(spark, sf_dir):
    """The incremental-ingest loop's APPEND leg with a driver row: the
    signature store is built on HALF the reference corpus, the other
    half is appended (rebuild-free — new files inside the existing
    partition layout), and the batch probe over build+append must be
    bit-identical to a store built on the whole corpus — so this query
    shares dedup_incremental's oracle verbatim, like the stored probe
    does."""
    import shutil
    import tempfile

    from whylogs_java_spark.operators.dedup import (
        append_minhash_store,
        build_minhash_store,
        cross_dedup_stored,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = _incremental_corpus(d).where(F.col("doc_id") >= 100000)
    half = d.where(F.col("doc_id") % 2 == 0)
    rest = d.where(F.col("doc_id") % 2 == 1)
    path = tempfile.mkdtemp(prefix="minhash_store_append_")
    try:
        build_minhash_store(half, path, "text", "doc_id")
        append_minhash_store(rest, path, "text", "doc_id")
        out = cross_dedup_stored(
            spark, path, new, "text", "doc_id", threshold=0.5
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def q_similarity_ivf_stored(spark, sf_dir):
    """The plain persisted IVF index with a driver row: build once
    (md5-deterministic centroids, lists partitioned by centroid_id),
    probe with a fresh query set — stored probes are bit-identical to
    ivf_topk_exact (pinned by pytest), so this query shares the
    similarity_ivf_md5 oracle verbatim."""
    import shutil
    import tempfile

    from whylogs_java_spark.operators.similarity import (
        build_ivf_index,
        ivf_topk_stored,
    )

    emb = _t(spark, sf_dir, "embeddings")
    path = tempfile.mkdtemp(prefix="ivf_store_")
    try:
        build_ivf_index(emb, path, n_centroids=16)
        out = ivf_topk_stored(
            spark, path, emb.where(F.col("vec_id") < 20), k=10, nprobe=4
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def q_ann_recall_stored(spark, sf_dir):
    """The recall dashboard a real pipeline runs while TUNING a
    deployed index: build the four persisted stores once (IVF lists
    partitioned by centroid_id — sampled AND kmeans-trained coarse
    quantizers, IVF×PQ codes + codebooks, RP projected
    vectors), then probe each against brute-force exact top-10 on the
    fixed query sample — no per-probe index rebuild, the cost shape of
    a production nprobe/rerank sweep. Every stored tier is bit-identical
    to its in-memory twin (pinned by pytest), so the recall numbers
    replay in DuckDB end to end."""
    import shutil
    import tempfile

    from whylogs_java_spark.operators.similarity import (
        ann_recall_stored_report,
        build_ivf_index,
        build_ivfpq_index,
        build_rp_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    root = tempfile.mkdtemp(prefix="ann_stores_")
    try:
        build_ivf_index(emb, f"{root}/ivf", n_centroids=16)
        build_ivf_index(
            emb, f"{root}/ivf_kmeans", n_centroids=16,
            centroids="kmeans", n_iter=1,
        )
        build_ivfpq_index(
            emb, f"{root}/ivfpq", n_centroids=16, m=4, codebook_k=16
        )
        build_rp_index(emb, f"{root}/rp", out_dim=16)
        out = ann_recall_stored_report(
            spark, emb, SIM_QUERY_IDS,
            {"ivf": f"{root}/ivf", "ivf_kmeans": f"{root}/ivf_kmeans",
             "ivfpq": f"{root}/ivfpq", "rp": f"{root}/rp"},
            k=10, nprobe=4, rerank=30,
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def q_winnow_screen_stored(spark, sf_dir):
    """Incremental-ingest winnowing with a PERSISTED print store: the
    accepted corpus (even doc_ids) is fingerprinted ONCE into a
    parquet store bucketed on the join key; the arriving batch (odd
    doc_ids ∪ exact copies of every 10th accepted doc) is screened
    against it — per-doc best-match verdicts, flagged when ≥2 prints
    are shared. The MOSS guarantee makes the planted copies certain
    detections; the DuckDB oracle replays both fingerprint passes, the
    shared-count join, and the (shared DESC, ref_id ASC) best-match
    walk."""
    import shutil
    import tempfile

    from whylogs_java_spark.operators.dedup import (
        build_winnow_store,
        winnow_screen_stored,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    ref = d.where(F.col("doc_id") % 2 == 0)
    batch = d.where(F.col("doc_id") % 2 == 1).unionByName(
        d.where(F.col("doc_id") % 10 == 0).select(
            (F.col("doc_id") + 100000).alias("doc_id"), F.col("text")
        )
    )
    path = tempfile.mkdtemp(prefix="winnow_store_")
    try:
        build_winnow_store(ref, path, "text", "doc_id", k=5, window=4)
        out = winnow_screen_stored(
            spark, path, batch, "text", "doc_id", min_shared=2
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(path, ignore_errors=True)


def q_profile_bigmag(spark, sf_dir):
    """Big-magnitude (|x| >= 2^31) profile stats with a GROUND-TRUTH
    bracket oracle (r12, after the r11 verdict's variance finding): epoch
    micro-/nanosecond columns grouped per day — the regime where the raw-
    moment variance formula cancels catastrophically (VarianceTracker.java:
    21-69 is the reference's stable path; metrics.py's m2 tier is ours).
    The Spark side checks the ENGINE profile against Spark's NATIVE
    avg/var_samp/stddev_samp (an implementation we don't own — semantics,
    not transcription); the oracle recomputes n/min/max natively in DuckDB
    and asserts literal TRUE brackets, so a variance regression flips
    var_ok to FALSE and hash-mismatches. Pre-r12 this query FAILS: per-day
    epoch_ns noise is ~3e-4 relative, 300x outside the bracket."""
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    d = ev.select(
        F.to_date("ts").alias("day"),
        F.unix_micros("ts").cast("double").alias("epoch_us"),
        (F.unix_micros("ts") * F.lit(1000)).cast("double").alias("epoch_ns"),
    )
    prof = profile(d, group_by=["day"])
    truth = d.select(
        "day",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).alias("x"),
                    )
                    for c in ("epoch_us", "epoch_ns")
                ]
            )
        ).alias("e"),
    ).select("day", "e.*").groupBy("day", "column_name").agg(
        F.avg("x").alias("__avg"),
        F.var_samp("x").alias("__var"),
        F.stddev_samp("x").alias("__std"),
    )
    j = prof.join(F.broadcast(truth), on=["day", "column_name"])
    rel = lambda a, b, tol: F.abs(a - b) <= F.lit(tol) * F.abs(b)  # noqa: E731
    return j.select(
        "day",
        "column_name",
        F.col("n"),
        F.col("min"),
        F.col("max"),
        rel(F.col("mean"), F.col("__avg"), 1e-9).alias("mean_ok"),
        rel(F.col("variance"), F.col("__var"), 1e-6).alias("var_ok"),
        rel(F.col("stddev"), F.col("__std"), 1e-6).alias("stddev_ok"),
        (F.col("variance") > 0).alias("var_positive"),
    )


def q_profile_native_bracket(spark, sf_dir):
    """Small-tier twin of `profile_bigmag` (r12): the exact-integer atom
    formulas vs Spark's NATIVE avg/var_samp/stddev_samp over lineitem's
    numeric columns. The r11 verdict's point: the profile oracles replay
    the engine's own formulas, so construction-identical agreement can't
    catch a semantic defect — this bracket pins the engine to an
    independent implementation (tolerances cover the documented 1e-6/value
    fractional quantization)."""
    cols = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    li = _t(spark, sf_dir, "lineitem").select(*cols)
    prof = profile(li, columns=cols)
    truth = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column_name"),
                        F.col(c).cast("double").alias("x"),
                    )
                    for c in cols
                ]
            )
        ).alias("e")
    ).select("e.*").groupBy("column_name").agg(
        F.avg("x").alias("__avg"),
        F.var_samp("x").alias("__var"),
        F.stddev_samp("x").alias("__std"),
    )
    j = prof.join(F.broadcast(truth), on=["column_name"])
    ok = lambda a, b, r_, a_: F.abs(a - b) <= F.lit(r_) * F.abs(b) + F.lit(a_)  # noqa: E731
    return j.select(
        "column_name",
        F.col("n"),
        F.col("min"),
        F.col("max"),
        ok(F.col("mean"), F.col("__avg"), 1e-9, 2e-6).alias("mean_ok"),
        ok(F.col("variance"), F.col("__var"), 1e-6, 1e-3).alias("var_ok"),
        ok(F.col("stddev"), F.col("__std"), 1e-6, 1e-3).alias("stddev_ok"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's CORRECTNESS gate checks the first 50
    # entries in insertion order; the window rotates each round so no
    # query goes stale past the 141/50 cadence (~2.8 rounds). Round 15
    # window (optimization round — rewritten queries lead, per the r14
    # verdict): the 29 queries whose operator internals changed in r15
    # (CC driver tier + lazy-checkpoint consumers, profile-diff fusion,
    # incremental dedup, classifier GD, bucketed embedding dedup, LM
    # builds, token budget, corpus_overlap, winnow/threshold), the 6
    # r14-rewritten queries whose last driver check predated their
    # rewrite (simhash_pairs, ann_recall, knn_eval_ivf, quantize,
    # ivf_int8, cluster_embeddings), the 3 r14-planned lead seats
    # (containment_fragment, tokens, langid), and 12 of the oldest
    # outstanding r12-greens in standing order. THIRD pass: the 7
    # queries whose internals changed late in r15 (near-dup verify
    # barrier: char_ngram / near_documents / containment; BM25 literal
    # query table: bm25 / bm25_stored / hybrid_search / retrieval_eval)
    # take seats 37-43, displacing 7 r12-greens (encoding, split,
    # dedup_segments, boilerplate, corpus_report, drift_events_rolling,
    # mixture) to just past the window — they stay locally
    # oracle-covered and lead r16's rotation. (Second pass:
    # sketch_summary_lineitem — rewritten late in r15 — takes the last
    # window seat from prune_embeddings, untouched, which moves to the
    # vacated slot). Everything out of window keeps local-oracle +
    # pytest coverage via tools/check_oracle.py, which always runs ALL
    # entries.
    return {
        "profile_diff_lineitem": q_profile_diff_lineitem,
        "profile_diff_sketch": q_profile_diff_sketch,
        "dedup_clusters": q_dedup_clusters,
        "pipeline_manifest": q_pipeline_manifest,
        "pipeline_manifest_v2": q_pipeline_manifest_v2,
        "pipeline_manifest_v3": q_pipeline_manifest_v3,
        "pipeline_manifest_v4": q_pipeline_manifest_v4,
        "pipeline_manifest_v5": q_pipeline_manifest_v5,
        "split_leakage_safe": q_split_leakage_safe,
        "dedup_semantic": q_dedup_semantic,
        "dedup_semantic_k256": q_dedup_semantic_k256,
        "dedup_semantic_survivors": q_dedup_semantic_survivors,
        "dedup_incremental": q_dedup_incremental,
        "dedup_incremental_stored": q_dedup_incremental_stored,
        "dedup_incremental_appended": q_dedup_incremental_appended,
        "quality_classifier_documents": q_quality_classifier_documents,
        "dedup_embedding_bucketed": q_dedup_embedding_bucketed,
        "dedup_embedding_fast": q_dedup_embedding_fast,
        "lm_score_documents": q_lm_score_documents,
        "lm_score3_documents": q_lm_score3_documents,
        "lm_score3_kn_documents": q_lm_score3_kn_documents,
        "lm_score3_kn_stored_documents": q_lm_score3_kn_stored_documents,
        "ccnet_buckets_documents": q_ccnet_buckets_documents,
        "token_budget_documents": q_token_budget_documents,
        "corpus_overlap": q_corpus_overlap,
        "winnow_pairs": q_winnow_pairs,
        "dedup_threshold_report": q_dedup_threshold_report,
        "winnow_screen_stored": q_winnow_screen_stored,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "ann_recall_embeddings": q_ann_recall_embeddings,
        "knn_eval_ivf_embeddings": q_knn_eval_ivf_embeddings,
        "quantize_embeddings": q_quantize_embeddings,
        "cluster_embeddings": q_cluster_embeddings,
        "dedup_containment_fragment": q_dedup_containment_fragment,
        "dedup_char_ngram": q_dedup_char_ngram,
        "dedup_near_documents": q_dedup_near_documents,
        "dedup_containment": q_dedup_containment,
        "bm25_documents": q_bm25_documents,
        "bm25_stored_documents": q_bm25_stored_documents,
        "hybrid_search_documents": q_hybrid_search_documents,
        "retrieval_eval_documents": q_retrieval_eval_documents,
        "tokens_documents": q_tokens_documents,
        "langid_documents": q_langid_documents,
        "vocab_oov_documents": q_vocab_oov_documents,
        "c4_filter_documents": q_c4_filter_documents,
        "phrases_canary_documents": q_phrases_canary_documents,
        "pii_documents": q_pii_documents,
        "sketch_summary_lineitem": q_sketch_summary_lineitem,
        "encoding_documents": q_encoding_documents,
        "split_documents": q_split_documents,
        "dedup_segments": q_dedup_segments,
        "boilerplate_documents": q_boilerplate_documents,
        "corpus_report": q_corpus_report,
        "drift_events_rolling": q_drift_events_rolling,
        "mixture_documents": q_mixture_documents,
        "bpe_merges_census_documents": q_bpe_merges_census_documents,
        "compression_documents": q_compression_documents,
        "multimodal_audio": q_multimodal_audio,
        "multimodal_video": q_multimodal_video,
        "packing_documents": q_packing_documents,
        "cluster_embeddings_k64": q_cluster_embeddings_k64,
        "blocklist_documents": q_blocklist_documents,
        "novelty_documents": q_novelty_documents,
        "pack_documents": q_pack_documents,
        "rp_embeddings": q_rp_embeddings,
        "similarity_rp": q_similarity_rp,
        "dedup_exact_best": q_dedup_exact_best,
        "similarity_ivfpq_stored": q_similarity_ivfpq_stored,
        "similarity_ivf_stored": q_similarity_ivf_stored,
        "profile_wire_fixture": q_profile_wire_fixture,
        "ann_recall_stored": q_ann_recall_stored,
        "sessions_events": q_sessions_events,
        "profile_events_daily": q_profile_events_daily,
        "profile_orders_global": q_profile_orders_global,
        "profile_events_compacted": q_profile_events_compacted,
        "similarity_pq": q_similarity_pq,
        "dedup_simhash": q_dedup_simhash,
        "quality_documents": q_quality_documents,
        "fingerprint_documents": q_fingerprint_documents,
        "charpos_documents": q_charpos_documents,
        "dedup_embedding": q_dedup_embedding,
        "pii_redact_documents": q_pii_redact_documents,
        "multimodal_meta": q_multimodal_meta,
        "profile_customer": q_profile_customer,
        "topk_part_brand": q_topk_part_brand,
        "similarity_topk_fast": q_similarity_topk_fast,
        "similarity_ivf_md5": q_similarity_ivf_md5,
        "similarity_lsh": q_similarity_lsh,
        "repetition_documents": q_repetition_documents,
        "sample_documents": q_sample_documents,
        "sample_topk_documents": q_sample_topk_documents,
        "chunk_documents": q_chunk_documents,
        "cluster_balanced_sample": q_cluster_balanced_sample,
        "drift_embeddings_space": q_drift_embeddings_space,
        "dedup_spans_documents": q_dedup_spans_documents,
        "tfidf_documents": q_tfidf_documents,
        "dsir_documents": q_dsir_documents,
        "knn_eval_embeddings": q_knn_eval_embeddings,
        "profile_lineitem": q_profile_lineitem,
        "profile_events_hourly": q_profile_events_hourly,
        "profile_merge": q_profile_merge,
        "profile_coerced": q_profile_coerced,
        "regression_lineitem": q_regression_lineitem,
        "monitor_events_mean": q_monitor_events_mean,
        "constraints_lineitem": q_constraints_lineitem,
        "contamination_report": q_contamination_report,
        "canary_hex_key": q_canary_hex_key,
        "canary_sql_constructs": q_canary_sql_constructs,
        "weighted_entropy_events": q_weighted_entropy_events,
        "uniques_lineitem_sketch": q_uniques_lineitem_sketch,
        "quantiles_lineitem_sketch": q_quantiles_lineitem_sketch,
        "prune_embeddings": q_prune_embeddings,
        "similarity_ivf": q_similarity_ivf,
        "decontam_documents": q_decontam_documents,
        "asof_events": q_asof_events,
        "asof_nearest_events": q_asof_nearest_events,
        "range_bands": q_range_bands,
        "overlap_lineitem": q_overlap_lineitem,
        "weighted_sample_documents": q_weighted_sample_documents,
        "rolling_topk_events": q_rolling_topk_events,
        "topk_drift_part": q_topk_drift_part,
        "drift_events_value": q_drift_events_value,
        "drift_documents_lang": q_drift_documents_lang,
        "quantiles_lineitem": q_quantiles_lineitem,
        "histogram_lineitem": q_histogram_lineitem,
        "topk_orders": q_topk_orders,
        "uniques_lineitem": q_uniques_lineitem,
        "entropy_events": q_entropy_events,
        "confusion_events": q_confusion_events,
        "dedup_exact_documents": q_dedup_exact_documents,
        "similarity_topk": q_similarity_topk,
        "cube_lineitem": q_cube_lineitem,
        "profile_bigmag": q_profile_bigmag,
        "profile_native_bracket": q_profile_native_bracket,
        "source_cap_documents": q_source_cap_documents,
        "phrase_search_documents": q_phrase_search_documents,
        "decontam_spans_documents": q_decontam_spans_documents,
        "cluster_assign_stored": q_cluster_assign_stored,
        "bpe_merges_documents": q_bpe_merges_documents,
    }


# ---------------------------------------------------------------------------
# oracles
# ---------------------------------------------------------------------------

def _quantiles_oracle() -> str:
    branches = []
    for c in ("l_quantity", "l_extendedprice", "l_discount"):
        for q in QUANTILES:
            branches.append(
                f"SELECT l_returnflag, '{c}' AS column_name, "
                f"CAST({q} AS DOUBLE) AS quantile, "
                f"ROUND(quantile_cont(CAST({c} AS DOUBLE), {q}), 6) + 0.0 AS value "
                f"FROM lineitem GROUP BY l_returnflag"
            )
    return "\nUNION ALL\n".join(branches)


_HISTOGRAM_ORACLE = """
WITH stats AS (
  SELECT l_returnflag, MIN(CAST(l_extendedprice AS DOUBLE)) AS mn,
         MAX(CAST(l_extendedprice AS DOUBLE)) AS mx
  FROM lineitem GROUP BY l_returnflag
), binned AS (
  SELECT l.l_returnflag,
         CASE WHEN s.mx = s.mn THEN 0
              ELSE LEAST(CAST(FLOOR((CAST(l.l_extendedprice AS DOUBLE) - s.mn)
                   / ((s.mx - s.mn) / 30.0)) AS INT), 29) END AS bin,
         s.mn, s.mx
  FROM lineitem l JOIN stats s USING (l_returnflag)
  WHERE l.l_extendedprice IS NOT NULL
)
SELECT l_returnflag, 'l_extendedprice' AS column_name, bin,
       ROUND(mn + bin * (mx - mn) / 30.0, 6) + 0.0 AS bin_start,
       ROUND(mn + (bin + 1) * (mx - mn) / 30.0, 6) + 0.0 AS bin_end,
       COUNT(*) AS "count"
FROM binned GROUP BY l_returnflag, bin, mn, mx
"""

_TOPK_ORACLE = """
WITH counts AS (
  SELECT o_orderstatus, substr(CAST(o_orderpriority AS VARCHAR), 1, 256) AS value,
         COUNT(*) AS "count"
  FROM orders GROUP BY 1, 2
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY o_orderstatus ORDER BY "count" DESC, value ASC
  ) AS rank FROM counts
)
SELECT o_orderstatus, 'o_orderpriority' AS column_name, value, "count", rank
FROM ranked WHERE rank <= 128
"""

_UNIQUES_ORACLE = "\nUNION ALL\n".join(
    f"SELECT '{c}' AS column_name, CAST(COUNT(DISTINCT {c}) AS BIGINT) AS unique_count FROM lineitem"
    for c in ("l_orderkey", "l_partkey", "l_suppkey", "l_returnflag")
)

_ENTROPY_ORACLE = """
WITH t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM events)
SELECT 'event_type' AS column_name,
       ROUND(-SUM(p * log2(p)), 6) + 0.0 AS entropy
FROM (SELECT COUNT(*) / (SELECT total FROM t) AS p FROM events
      WHERE event_type IS NOT NULL GROUP BY event_type)
UNION ALL
SELECT 'user_id' AS column_name,
       ROUND(-SUM(p * log2(p)), 6) + 0.0 AS entropy
FROM (SELECT COUNT(*) / (SELECT total FROM t) AS p FROM events
      WHERE user_id IS NOT NULL GROUP BY user_id)
"""


def _confusion_oracle() -> str:
    atoms = numeric_atom_sql("s", "score")
    finals = numeric_final_sql("score", "score_")
    return f"""
    WITH d AS (
      SELECT CASE WHEN value > 50 THEN '1' ELSE '0' END AS prediction,
             CASE WHEN value + (event_id % 20) - 10 > 50 THEN '1' ELSE '0' END AS target,
             CAST(value AS DOUBLE) AS s
      FROM events
    ), a AS (
      SELECT prediction, target, CAST(COUNT(*) AS BIGINT) AS "count", {atoms}
      FROM d GROUP BY 1, 2
    )
    SELECT prediction, target, "count", {finals} FROM a
    """


def _regression_oracle() -> str:
    def hilo(v: str, name: str) -> str:
        return (
            f"SUM(CAST(FLOOR({v}) AS BIGINT)) AS {name}_hi, "
            f"SUM(CAST(FLOOR(({v} - FLOOR({v})) * 1000000.0 + 0.5) AS BIGINT)) AS {name}_lo"
        )

    def tot(name: str) -> str:
        return f"(CAST({name}_hi AS DOUBLE) + CAST({name}_lo AS DOUBLE) / 1000000.0)"

    return f"""
    WITH d AS (
      SELECT l_returnflag,
             (l_extendedprice * (1.0 - l_discount)) - l_extendedprice AS df
      FROM lineitem
    ), a AS (
      SELECT l_returnflag, CAST(COUNT(df) AS BIGINT) AS "count",
        {hilo('ABS(df)', 'sad')},
        {hilo('df', 'sd')},
        {hilo('df * df', 's2d')}
      FROM d GROUP BY 1
    )
    SELECT l_returnflag, "count",
      ROUND({tot('sad')}, 6) + 0.0 AS sum_abs_diff,
      ROUND({tot('sd')}, 6) + 0.0 AS sum_diff,
      ROUND({tot('s2d')}, 6) + 0.0 AS sum2_diff,
      CASE WHEN "count" > 0 THEN ROUND({tot('sad')} / "count", 6) + 0.0 END AS mae,
      CASE WHEN "count" > 0 THEN ROUND({tot('s2d')} / "count", 6) + 0.0 END AS mse,
      CASE WHEN "count" > 0 THEN ROUND(SQRT({tot('s2d')} / "count"), 6) + 0.0 END AS rmse
    FROM a
    """


_DEDUP_EXACT_BEST_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text, 1 AS trust FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text, 5 AS trust
  FROM documents WHERE doc_id % 10 = 0
)
SELECT text_key, n_docs, keep_id FROM (
  SELECT md5(text) AS text_key, doc_id AS keep_id,
         CAST(COUNT(*) OVER (PARTITION BY md5(text)) AS BIGINT) AS n_docs,
         ROW_NUMBER() OVER (
           PARTITION BY md5(text) ORDER BY trust DESC, doc_id ASC
         ) AS rn
  FROM corpus
) WHERE rn = 1
"""


_DEDUP_EXACT_ORACLE = """
SELECT md5(array_to_string(str_split(text, ' ')[1:8], ' ')) AS text_key,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS keep_id
FROM documents GROUP BY 1
"""


_WORD_SHINGLES_SQL = """
      SELECT doc_id,
             CASE WHEN len(str_split(text, ' ')) >= 3
                  THEN list_transform(generate_series(1, len(str_split(text, ' ')) - 2),
                                      i -> array_to_string(str_split(text, ' ')[i:i+2], ' '))
                  ELSE [array_to_string(str_split(text, ' '), ' ')] END AS shingles
      FROM corpus
"""

_CHAR_SHINGLES_SQL = """
      SELECT doc_id,
             CASE WHEN length(lower(text)) >= 5
                  THEN list_transform(generate_series(1, length(lower(text)) - 4),
                                      i -> substr(lower(text), i, 5))
                  ELSE [lower(text)] END AS shingles
      FROM corpus
"""


def _containment_fragment_oracle(
    threshold: float = 0.9, df_cap: int = 50, min_shared: int = 2
) -> str:
    shingles_sql = _WORD_SHINGLES_SQL
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000 AS doc_id,
             array_to_string(str_split(text, ' ')[1:10], ' ') AS text
      FROM documents WHERE doc_id % 20 = 0
    ), sh AS (
      {shingles_sql}
    ), shingle_rows AS (
      SELECT doc_id, unnest(shingles) AS shingle FROM sh
    ), dsh AS (
      SELECT DISTINCT doc_id, shingle FROM shingle_rows
    ), counts AS (
      SELECT shingle, COUNT(*) AS dfreq FROM dsh GROUP BY 1
    ), rare AS (
      SELECT d.doc_id, d.shingle FROM dsh d JOIN counts c USING (shingle)
      WHERE c.dfreq BETWEEN 2 AND {df_cap}
    ), cand AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM rare a JOIN rare b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= {min_shared}
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM dsh GROUP BY 1
    ), inter AS (
      SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM cand c
      JOIN dsh x ON x.doc_id = c.id_a
      JOIN dsh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b, i.inter, sa.sz AS size_a, sb.sz AS size_b,
           ROUND(i.inter / CAST(sa.sz AS DOUBLE), 6) + 0.0 AS containment_a,
           ROUND(i.inter / CAST(sb.sz AS DOUBLE), 6) + 0.0 AS containment_b
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE GREATEST(ROUND(i.inter / CAST(sa.sz AS DOUBLE), 6) + 0.0,
                   ROUND(i.inter / CAST(sb.sz AS DOUBLE), 6) + 0.0) >= {threshold}
    """


_MUTATED_CORPUS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
      FROM documents WHERE doc_id % 10 = 0
"""

# incremental-dedup new batch: near-dup mutants, verbatim copies, and
# guaranteed-fresh docs (every word suffixed, so Jaccard vs ref is 0);
# all new ids >= 100000 while ref ids stay below — the cross predicate
_INCREMENTAL_CORPUS_SQL = """
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
      FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 200000 AS doc_id, text
      FROM documents WHERE doc_id % 25 = 0
      UNION ALL
      SELECT doc_id + 300000 AS doc_id,
             array_to_string(list_transform(str_split(text, ' '),
                                            w -> w || '~x'), ' ') AS text
      FROM documents WHERE doc_id % 10 = 1
"""


def _dedup_near_oracle(
    num_hashes: int = 16,
    bands: int = 4,
    shingles_sql: str = _WORD_SHINGLES_SQL,
    threshold: float = 0.5,
    as_clusters: bool = False,
    containment: bool = False,
    hash_family: str = "affine",
    corpus_sql: str | None = None,
    cand_pred: str = "a.doc_id < b.doc_id",
) -> str:
    r = num_hashes // bands
    if hash_family == "banded32":
        # per-band independent digest, r 32-bit slices (J^r selectivity
        # holds — see dedup.minhash_signatures)
        hashed_cols = ", ".join(
            f"('0x' || substr(md5('mh{b}|' || shingle), {1 + 8 * j}, 8))::BIGINT"
            f" AS v{b * r + j}"
            for b in range(bands)
            for j in range(r)
        )
        mh_aggs = ", ".join(f"MIN(v{i}) AS mh{i}" for i in range(num_hashes))
    else:
        hashed_cols = (
            "('0x' || substr(md5(shingle), 1, 15))::BIGINT AS h1, "
            "('0x' || substr(md5(shingle), 16, 15))::BIGINT % 36028797018963968 AS h2"
        )
        mh_aggs = ", ".join(
            f"MIN(h1 + {i} * h2) AS mh{i}" for i in range(num_hashes)
        )
    band_branches = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, md5({concat}) AS band_sig FROM mh".format(
            b=b,
            concat=" || '|' || ".join(
                f"CAST(mh{b * r + j} AS VARCHAR)" for j in range(r)
            ),
        )
        for b in range(bands)
    )
    sql = f"""
    WITH corpus AS (
      {corpus_sql if corpus_sql is not None else _MUTATED_CORPUS_SQL}
    ), sh AS (
      {shingles_sql}
    ), shingle_rows AS (
      SELECT doc_id, unnest(shingles) AS shingle FROM sh
    ), hashed AS (
      SELECT doc_id, {hashed_cols}
      FROM shingle_rows
    ), mh AS (
      SELECT doc_id, {mh_aggs} FROM hashed GROUP BY doc_id
    ), bands AS (
      {band_branches}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.band_sig = b.band_sig AND {cand_pred}
    ), dsh AS (
      SELECT DISTINCT doc_id, shingle FROM shingle_rows
    ), sizes AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS sz FROM dsh GROUP BY 1
    ), inter AS (
      SELECT c.id_a, c.id_b, CAST(COUNT(*) AS BIGINT) AS inter
      FROM cand c
      JOIN dsh x ON x.doc_id = c.id_a
      JOIN dsh y ON y.doc_id = c.id_b AND y.shingle = x.shingle
      GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b, i.inter, sa.sz AS size_a, sb.sz AS size_b,
           ROUND(i.inter / (sa.sz + sb.sz - i.inter), 6) + 0.0 AS jaccard
    FROM inter i
    JOIN sizes sa ON sa.doc_id = i.id_a
    JOIN sizes sb ON sb.doc_id = i.id_b
    WHERE ROUND(i.inter / (sa.sz + sb.sz - i.inter), 6) + 0.0 >= {threshold}
    """
    if containment:
        return sql.replace(
            "ROUND(i.inter / (sa.sz + sb.sz - i.inter), 6) + 0.0 AS jaccard",
            "ROUND(i.inter / CAST(sa.sz AS DOUBLE), 6) + 0.0 AS containment_a, "
            "ROUND(i.inter / CAST(sb.sz AS DOUBLE), 6) + 0.0 AS containment_b",
        ).replace(
            f"WHERE ROUND(i.inter / (sa.sz + sb.sz - i.inter), 6) + 0.0 >= {threshold}",
            "WHERE GREATEST(ROUND(i.inter / CAST(sa.sz AS DOUBLE), 6) + 0.0, "
            f"ROUND(i.inter / CAST(sb.sz AS DOUBLE), 6) + 0.0) >= {threshold}",
        )
    if not as_clusters:
        return sql
    # cluster resolution: min reachable id per node over the verified-pair
    # graph (recursive CTE = the exact fixpoint the Spark label-propagation
    # loop converges to)
    body = sql.strip().removeprefix("WITH").strip()
    # rebuild: keep all CTEs, wrap the final pair SELECT as a CTE (the
    # final SELECT is the only one at 4-space indent)
    cte_part, _, pair_select = body.rpartition("\n    SELECT")
    return f"""
    WITH RECURSIVE {cte_part},
    pairs AS (
      SELECT {pair_select}
    ),
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL
      SELECT id_b AS src, id_a AS dst FROM pairs
    ),
    reach(id, r) AS (
      SELECT doc_id, doc_id FROM corpus
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id,
           MIN(r) = id AS is_survivor
    FROM reach GROUP BY id
    """


def _similarity_oracle(k: int = 5, query_ids=None) -> str:
    ids = ", ".join(str(i) for i in (query_ids or SIM_QUERY_IDS))
    dp = _fold_sum(
        "list_transform(generate_series(1, len(f.v)), i -> f.v[i] * q.v[i])"
    )
    return f"""
    WITH vecs AS (
      -- zero-norm vectors excluded (mirrors the engine's __n > 0 guard)
      SELECT * FROM (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               SQRT({_fold_sum("list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x)")}) AS n
        FROM embeddings
      ) WHERE n > 0
    ), q AS (
      SELECT vec_id AS query_id, v, n FROM vecs WHERE vec_id IN ({ids})
    ), sim AS (
      SELECT q.query_id, f.vec_id AS neighbor_id,
             {dp} / (f.n * q.n) AS cosine
      FROM vecs f JOIN q ON f.vec_id != q.query_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rank FROM sim
    )
    SELECT query_id, neighbor_id, ROUND(cosine, 6) + 0.0 AS cosine, rank
    FROM ranked WHERE rank <= {k}
    """


def _plane_sign_sql(p: int) -> str:
    """±1.0 hyperplane component — the md5(plane|dim) first-nibble parity
    twin of operators/similarity._plane_component (dim is the 0-based
    ``i - 1`` of a 1-based generate_series index)."""
    return (
        f"(CASE WHEN ('0x' || substr(md5('p{p}|' || CAST(i - 1 AS VARCHAR)), 1, 1))::INT % 2 = 0 "
        f"THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)"
    )


def _bucket_bits_sql(plane_indices) -> str:
    """Concatenated sign bits of left-to-right fold projections over ``v``."""
    return " || ".join(
        "(CASE WHEN "
        + _fold_sum(
            f"list_transform(generate_series(1, len(v)), i -> v[i] * {_plane_sign_sql(p)})"
        )
        + " >= 0 THEN '1' ELSE '0' END)"
        for p in plane_indices
    )


def _rp_oracle(out_dim: int = 8) -> str:
    import math

    inv = repr(1.0 / math.sqrt(float(out_dim)))

    def sign(j: int) -> str:
        return (
            f"(CASE WHEN ('0x' || substr(md5('rp{j}|' || CAST(i - 1 AS VARCHAR)), 1, 1))::INT % 2 = 0 "
            f"THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)"
        )

    cols = ",\n           ".join(
        "ROUND("
        + _fold_sum(
            f"list_transform(generate_series(1, len(v)), i -> v[i] * {sign(j)})"
        )
        + f" * {inv}, 6) + 0.0 AS rp_{j}"
        for j in range(out_dim)
    )
    return f"""
    SELECT vec_id, label,
           {cols}
    FROM (SELECT vec_id, label,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings)
    """


def _rp_topk_oracle(
    k: int = 10, out_dim: int = 16, rerank: int = 32, query_ids=None
) -> str:
    import math

    inv = repr(1.0 / math.sqrt(float(out_dim)))
    ids = ", ".join(str(i) for i in (query_ids or SIM_QUERY_IDS))

    def sign(j: int) -> str:
        return (
            f"(CASE WHEN ('0x' || substr(md5('rp{j}|' || CAST(i - 1 AS VARCHAR)), 1, 1))::INT % 2 = 0 "
            f"THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)"
        )

    rp_cols = ",\n           ".join(
        "ROUND("
        + _fold_sum(
            f"list_transform(generate_series(1, len(v)), i -> v[i] * {sign(j)})"
        )
        + f" * {inv}, 6) + 0.0 AS r{j}"
        for j in range(out_dim)
    )
    pv = "[" + ", ".join(f"r{j}" for j in range(out_dim)) + "]"
    pn = _fold_sum("list_transform(pv, x -> x * x)")
    pdp = _fold_sum(
        "list_transform(generate_series(1, len(f.pv)), i -> f.pv[i] * q.qpv[i])"
    )
    rdp = _fold_sum(
        "list_transform(generate_series(1, len(e2.v)), i -> e2.v[i] * q.qv[i])"
    )
    nsq = _fold_sum(
        "list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)),"
        " x -> x * x)"
    )
    return f"""
    WITH vecs AS (
      SELECT * FROM (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               SQRT({nsq}) AS n
        FROM embeddings
      ) WHERE n > 0
    ), pr AS (
      SELECT vec_id,
           {rp_cols}
      FROM vecs
    ), pn AS (
      SELECT vec_id, pv, SQRT({pn}) AS pn
      FROM (SELECT vec_id, {pv} AS pv FROM pr)
    ), pq AS (
      SELECT vec_id AS query_id, pv AS qpv, pn AS qpn
      FROM pn WHERE vec_id IN ({ids}) AND pn > 0
    ), cand AS (
      SELECT q.query_id, f.vec_id AS neighbor_id,
             ROUND({pdp} / (f.pn * q.qpn), 6) + 0.0 AS rp_cosine
      FROM pn f JOIN pq q ON f.vec_id != q.query_id
      WHERE f.pn > 0
    ), cut AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY rp_cosine DESC, neighbor_id ASC
        ) AS rp_rank FROM cand
      ) WHERE rp_rank <= {rerank}
    ), qf AS (
      SELECT vec_id AS query_id, v AS qv, n AS qn FROM vecs
      WHERE vec_id IN ({ids})
    ), ref AS (
      SELECT c.query_id, c.neighbor_id,
             ROUND({rdp} / (e2.n * q.qn), 6) + 0.0 AS cosine
      FROM cut c
      JOIN vecs e2 ON e2.vec_id = c.neighbor_id
      JOIN qf q ON q.query_id = c.query_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rank FROM ref
    ) WHERE rank <= {k}
    """


def _dedup_threshold_oracle(thresholds=(0.5, 0.6, 0.7, 0.8, 0.9)) -> str:
    pairs = _dedup_near_oracle(threshold=min(thresholds))
    branches = []
    for t in sorted(set(thresholds)):
        branches.append(f"""
      SELECT CAST({t} AS DOUBLE) AS threshold,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs
              WHERE jaccard >= {t}) AS n_pairs,
             (SELECT CAST(COUNT(DISTINCT d) AS BIGINT) FROM
               (SELECT unnest([id_a, id_b]) AS d FROM pairs
                WHERE jaccard >= {t}) u) AS n_docs""")
    union = "\n      UNION ALL\n".join(branches)
    return f"""
    WITH pairs AS (
      SELECT * FROM ({pairs}) p
    ), corpus_n AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus
      FROM ({_MUTATED_CORPUS_SQL}) c
    ), rows_ AS ({union}
    )
    SELECT threshold, n_pairs, n_docs, s.n_corpus,
           ROUND(n_docs / s.n_corpus, 6) + 0.0 AS affected_frac
    FROM rows_ CROSS JOIN corpus_n s
    """


def _pipeline_v3_oracle(context_len: int = 256, sep: int = 1) -> str:
    gate = " AND ".join(
        f"len(regexp_extract_all(lower(text), '\\b{t}\\b')) = 0"
        for t in PIPELINE_V3_TERMS
    )
    corpus_sql = f"""
      SELECT doc_id, text FROM (
        {_MUTATED_CORPUS_SQL}
      ) mc WHERE {gate}
"""
    clusters = _dedup_near_oracle(as_clusters=True, corpus_sql=corpus_sql)
    key = (
        "('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT"
        " % 1000000"
    )
    cases, cum = [], 0.0
    for label, frac in SPLIT_SPEC[:-1]:
        cum += frac
        cases.append(f"WHEN {key} < {int(cum * 1_000_000)} THEN '{label}'")
    case_sql = f"CASE {' '.join(cases)} ELSE '{SPLIT_SPEC[-1][0]}' END"
    c = float(context_len)
    return f"""
    SELECT split, doc_id, n_tokens,
           CAST(token_offset AS BIGINT) AS token_offset,
           CAST(FLOOR(token_offset / {c}) AS BIGINT) AS first_context,
           CAST(CASE WHEN n_tokens > 0
                THEN FLOOR((token_offset + n_tokens - 1) / {c})
                ELSE FLOOR(token_offset / {c}) END AS BIGINT)
             AS last_context,
           CAST(CASE WHEN n_tokens > 0
                THEN FLOOR((token_offset + n_tokens - 1) / {c})
                     - FLOOR(token_offset / {c}) + 1
                ELSE 0 END AS BIGINT) AS n_contexts
    FROM (
      SELECT split, doc_id, n_tokens,
             COALESCE(SUM(n_tokens) OVER (PARTITION BY split ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             + (ROW_NUMBER() OVER (PARTITION BY split ORDER BY doc_id) - 1)
               * {sep} AS token_offset
      FROM (
        SELECT m.split, m.doc_id,
               CAST(len(list_filter(string_split(t.text, ' '),
                                    x -> x <> '')) AS BIGINT) AS n_tokens
        FROM (
          SELECT doc_id, {case_sql} AS split
          FROM ({clusters}) cc WHERE is_survivor
        ) m JOIN ({corpus_sql}) t USING (doc_id)
      ) s
    ) o
    """


def _ivfpq_stored_oracle(
    k: int = 10,
    n_centroids: int = 16,
    m: int = 4,
    codebook_k: int = 16,
    nprobe: int = 4,
    rerank: int = 30,
) -> str:
    """DuckDB twin of build_ivfpq_index + ivfpq_topk_stored: md5-rank
    centroids route vectors to lists; md5-rank seed vectors sliced per
    subspace form the codebooks; per-vector codes are the strict-fold
    squared-L2 argmin (lowest code on ties); the probe ranks candidates
    from the nprobe nearest lists by the rounded ADC cosine proxy, cuts
    to rerank, and re-ranks survivors by the exact (unrounded) cosine."""
    ids = ", ".join(str(i) for i in SIM_QUERY_IDS)
    sub_expr = f"(len(e.v) // {m})"

    def dist_j(j: int) -> str:
        idx = f"({j} * {sub_expr} + i)"
        return _fold_sum(
            f"list_transform(generate_series(1, {sub_expr}), "
            f"i -> (e.v[{idx}] - cb.v[{idx}]) * (e.v[{idx}] - cb.v[{idx}]))"
        )

    subq = f"(len(q.v) // {m})"
    subc = f"(len(cb.v) // {m})"

    def dot_j(j: int) -> str:
        return _fold_sum(
            f"list_transform(generate_series(1, {subq}), "
            f"i -> q.v[({j} * {subq} + i)] * cb.v[({j} * {subq} + i)])"
        )

    def rn_j(j: int) -> str:
        return _fold_sum(
            f"list_transform(generate_series(1, {subc}), "
            f"i -> cb.v[({j} * {subc} + i)] * cb.v[({j} * {subc} + i)])"
        )

    nsq = _fold_sum(
        "list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)),"
        " x -> x * x)"
    )
    cdp = _fold_sum(
        "list_transform(generate_series(1, len(f.v)), i -> f.v[i] * c.cv[i])"
    )
    rdp = _fold_sum(
        "list_transform(generate_series(1, len(e2.v)), i -> e2.v[i] * q.qv[i])"
    )
    code_cols = ",\n         ".join(
        f"CAST(MIN([{dist_j(j)}, CAST(cb.cid AS DOUBLE)])[2] AS INT)"
        f" AS code_{j}"
        for j in range(m)
    )
    dt_cols = ",\n         ".join(f"{dot_j(j)} AS d_{j}" for j in range(m))
    rn_cols = ",\n         ".join(f"{rn_j(j)} AS rn_{j}" for j in range(m))
    dt_joins = "\n      ".join(
        f"JOIN dt t{j} ON t{j}.cid = c.code_{j} AND t{j}.query_id = p.query_id"
        for j in range(m)
    )
    rn_joins = "\n      ".join(
        f"JOIN cbn b{j} ON b{j}.cid = c.code_{j}" for j in range(m)
    )
    score = " + ".join(f"t{j}.d_{j}" for j in range(m))
    rnsum = " + ".join(f"b{j}.rn_{j}" for j in range(m))
    return f"""
    WITH vecs AS (
      SELECT * FROM (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               SQRT({nsq}) AS n
        FROM embeddings
      ) WHERE n > 0
    ), cent AS (
      SELECT vec_id AS centroid_id FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {n_centroids}
    ), cvecs AS (
      SELECT c.centroid_id, w.v AS cv, w.n AS cn
      FROM vecs w JOIN cent c ON w.vec_id = c.centroid_id
    ), cranked AS (
      SELECT f.vec_id, c.centroid_id,
             ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY
               {cdp} / (f.n * c.cn) DESC,
               c.centroid_id ASC) AS crk
      FROM vecs f CROSS JOIN cvecs c
    ), assigned AS (
      SELECT vec_id, centroid_id FROM cranked WHERE crk = 1
    ), cb AS (
      SELECT v, row_number() OVER (
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      FROM (SELECT * FROM vecs
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {codebook_k})
    ), codes AS (
      SELECT e.vec_id,
         {code_cols}
      FROM vecs e CROSS JOIN cb GROUP BY e.vec_id
    ), q AS (
      SELECT vec_id AS query_id, v, n FROM vecs WHERE vec_id IN ({ids})
    ), probes AS (
      SELECT vec_id AS query_id, centroid_id FROM cranked
      WHERE vec_id IN ({ids}) AND crk <= {nprobe}
    ), dt AS (
      SELECT q.query_id, cb.cid,
         {dt_cols}
      FROM q CROSS JOIN cb
    ), cbn AS (
      SELECT cb.cid,
         {rn_cols}
      FROM cb
    ), adc AS (
      SELECT p.query_id, c.vec_id AS neighbor_id,
        ROUND(({score}) / NULLIF(qq.n * SQRT({rnsum}), 0), 6) + 0.0 AS adcr
      FROM codes c
      JOIN assigned a ON a.vec_id = c.vec_id
      JOIN probes p ON p.centroid_id = a.centroid_id
      {dt_joins}
      {rn_joins}
      JOIN q qq ON qq.query_id = p.query_id
      WHERE c.vec_id != p.query_id
    ), cut AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id
          ORDER BY adcr DESC NULLS LAST, neighbor_id ASC
        ) AS rr FROM adc
      ) WHERE rr <= {rerank}
    ), qf AS (
      SELECT vec_id AS query_id, v AS qv, n AS qn FROM vecs
      WHERE vec_id IN ({ids})
    ), refined AS (
      SELECT c.query_id, c.neighbor_id,
             {rdp} / (e2.n * q.qn) AS cosine
      FROM cut c
      JOIN vecs e2 ON e2.vec_id = c.neighbor_id
      JOIN qf q ON q.query_id = c.query_id
    )
    SELECT query_id, neighbor_id,
           ROUND(cosine, 6) + 0.0 AS cosine, rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rank FROM refined
    ) WHERE rank <= {k}
    """


def _similarity_lsh_oracle(
    k: int = 10, planes: int = 8, probes: int = 4, n_queries: int = 20
) -> str:
    ids = ", ".join(str(i) for i in range(n_queries))
    flips = ", ".join(
        f"substr(bucket, 1, {i}) || "
        f"(CASE WHEN substr(bucket, {i + 1}, 1) = '1' THEN '0' ELSE '1' END) || "
        f"substr(bucket, {i + 2}, {planes})"
        for i in range(probes)
    )
    dp = _fold_sum(
        "list_transform(generate_series(1, len(q.v)), i -> q.v[i] * f.v[i])"
    )
    return f"""
    WITH vecs AS (
      -- zero-norm vectors excluded (mirrors the engine's __n > 0 guard)
      SELECT * FROM (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               SQRT({_fold_sum("list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x)")}) AS n
        FROM embeddings
      ) WHERE n > 0
    ), sigs AS (
      SELECT vec_id, v, n, {_bucket_bits_sql(range(planes))} AS bucket FROM vecs
    ), probes AS (
      SELECT vec_id AS query_id, v, n,
             unnest([bucket, {flips}]) AS bucket
      FROM sigs WHERE vec_id IN ({ids})
    ), sim AS (
      SELECT DISTINCT q.query_id, f.vec_id AS neighbor_id,
             {dp} / (q.n * f.n) AS cosine
      FROM sigs f JOIN probes q
        ON f.bucket = q.bucket AND f.vec_id != q.query_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rank FROM sim
    )
    SELECT query_id, neighbor_id, ROUND(cosine, 6) + 0.0 AS cosine, rank
    FROM ranked WHERE rank <= {k}
    """


def _dedup_embedding_fast_oracle(
    threshold: float = 0.9,
    planes: int = 4,
    bands: int = 2,
    bucket_cap: int = 2000,
    split_planes: int = 4,
    split_rounds: int = 3,
) -> str:
    """DuckDB twin of the PRODUCTION double-tier bucketed embedding dedup
    (banded signatures + iterated bucket-cap refinement + fold cosine) —
    the refinement loop unrolls to ``split_rounds`` window-count rounds:
    every member of an over-cap (band, bucket) appends that round's extra
    sign bits, exactly the append-only census/split the Spark loop runs
    (the Spark early-exit changes cost, never results)."""
    band_selects = " UNION ALL ".join(
        f"SELECT vec_id, v, n, {b} AS band, "
        f"{_bucket_bits_sql(range(b * planes, (b + 1) * planes))} AS bucket, "
        + ", ".join(
            f"{_bucket_bits_sql(range(bands * planes + r * split_planes, bands * planes + (r + 1) * split_planes))} AS extra{r}"
            for r in range(split_rounds)
        )
        + " FROM vecs"
        for b in range(bands)
    )
    refine = "sig0"
    ctes = []
    for r in range(split_rounds):
        ctes.append(
            f"sig{r + 1} AS (SELECT vec_id, v, n, band, "
            f"bucket || (CASE WHEN COUNT(*) OVER (PARTITION BY band, bucket) > {bucket_cap} "
            f"THEN extra{r} ELSE '' END) AS bucket"
            + "".join(f", extra{x}" for x in range(r + 1, split_rounds))
            + f" FROM sig{r})"
        )
        refine = f"sig{r + 1}"
    dp = _fold_sum(
        "list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])"
    )
    return f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000 AS vec_id,
             list_transform(embedding,
               x -> CAST(CAST(x AS DOUBLE) * CAST(0.9 AS DOUBLE)
                         + CAST(0.01 AS DOUBLE) AS FLOAT)) AS embedding
      FROM embeddings WHERE vec_id % 10 = 0
    ), vecs AS (
      -- zero-norm vectors excluded (mirrors the engine's __n > 0 guard)
      SELECT * FROM (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               SQRT({_fold_sum("list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x)")}) AS n
        FROM corpus
      ) WHERE n > 0
    ), sig0 AS (
      {band_selects}
    ), {", ".join(ctes)}, cand AS (
      SELECT DISTINCT s1.vec_id AS id_a, s2.vec_id AS id_b
      FROM {refine} s1 JOIN {refine} s2
        ON s1.band = s2.band AND s1.bucket = s2.bucket
       AND s1.vec_id < s2.vec_id
    ), scored AS (
      SELECT c.id_a, c.id_b,
             ROUND({dp} / (a.n * b.n), 6) + 0.0 AS cosine
      FROM cand c
      JOIN vecs a ON a.vec_id = c.id_a
      JOIN vecs b ON b.vec_id = c.id_b
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {threshold}
    """


def _similarity_ivf_oracle(
    k: int = 10, n_centroids: int = 16, nprobe: int = 4, n_queries: int = 20
) -> str:
    ids = ", ".join(str(i) for i in range(n_queries))
    cdp = _fold_sum(
        "list_transform(generate_series(1, len(f.v)), i -> f.v[i] * c.cv[i])"
    )
    qdp = _fold_sum(
        "list_transform(generate_series(1, len(q.v)), i -> q.v[i] * f.v[i])"
    )
    return f"""
    WITH vecs AS (
      -- zero-norm vectors excluded (mirrors the engine's __n > 0 guard)
      SELECT * FROM (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               SQRT({_fold_sum("list_transform(list_transform(embedding, x -> CAST(x AS DOUBLE)), x -> x * x)")}) AS n
        FROM embeddings
      ) WHERE n > 0
    ), cent AS (
      SELECT vec_id AS centroid_id FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)) LIMIT {n_centroids}
    ), cvecs AS (
      SELECT c.centroid_id, w.v AS cv, w.n AS cn
      FROM vecs w JOIN cent c ON w.vec_id = c.centroid_id
    ), cranked AS (
      SELECT f.vec_id, c.centroid_id,
             ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY
               {cdp} / (f.n * c.cn) DESC,
               c.centroid_id ASC) AS crk
      FROM vecs f CROSS JOIN cvecs c
    ), lists AS (
      SELECT vec_id AS neighbor_id, centroid_id FROM cranked WHERE crk = 1
    ), probes AS (
      SELECT vec_id AS query_id, centroid_id FROM cranked
      WHERE vec_id IN ({ids}) AND crk <= {nprobe}
    ), cand AS (
      SELECT DISTINCT p.query_id, l.neighbor_id
      FROM lists l JOIN probes p ON l.centroid_id = p.centroid_id
      WHERE l.neighbor_id != p.query_id
    ), sim AS (
      SELECT c.query_id, c.neighbor_id,
             {qdp} / (q.n * f.n) AS cosine
      FROM cand c
      JOIN vecs q ON q.vec_id = c.query_id
      JOIN vecs f ON f.vec_id = c.neighbor_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rank FROM sim
    )
    SELECT query_id, neighbor_id, ROUND(cosine, 6) + 0.0 AS cosine, rank
    FROM ranked WHERE rank <= {k}
    """


def _similarity_ivf_kmeans_oracle(
    k: int = 10, n_centroids: int = 16, nprobe: int = 4, n_queries: int = 20
) -> str:
    """DuckDB twin of the kmeans-quantizer IVF store: the coarse
    centroids are the _kmeans_oracle c1 table (md5 seeds + one
    exact-integer Lloyd update — kmeans_centroids(n_iter=1)), then the
    IDENTICAL cosine assignment/probe pipeline as
    _similarity_ivf_oracle runs against those trained centroids."""
    ids = ", ".join(str(i) for i in range(n_queries))
    cdp = _fold_sum(
        "list_transform(generate_series(1, len(f.v)), i -> f.v[i] * c.cv[i])"
    )
    qdp = _fold_sum(
        "list_transform(generate_series(1, len(q.v)), i -> q.v[i] * f.v[i])"
    )

    def dist(vexpr: str, cexpr: str) -> str:
        return _fold_sum(
            f"list_transform(generate_series(1, len({vexpr})), "
            f"i -> ({vexpr}[i] - {cexpr}[i]) * ({vexpr}[i] - {cexpr}[i]))"
        )

    cnorm = _fold_sum("list_transform(c, x -> x * x)")
    return f"""
    WITH emb AS (
      -- kmeans training set (_prepare_emb filter: non-null, non-empty)
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) > 0
    ), seed_order AS (
      SELECT v, row_number() OVER (
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
      FROM (SELECT * FROM emb
            ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
            LIMIT {n_centroids})
    ), a0 AS (
      SELECT e.vec_id, e.v,
             CAST(MIN([{dist('e.v', 's.v')}, CAST(s.cid AS DOUBLE)])[2]
               AS INT) AS cid
      FROM emb e CROSS JOIN seed_order s GROUP BY e.vec_id, e.v
    ), c1dims AS (
      SELECT cid, pos,
             (CAST(SUM(CAST(FLOOR(v[pos] * 1000000 + 0.5) AS BIGINT))
               AS DOUBLE) / COUNT(*)) / 1000000 AS comp
      FROM a0, LATERAL (SELECT unnest(generate_series(1, len(v))) AS pos) u
      GROUP BY cid, pos
    ), c1v AS (
      SELECT cid, list(comp ORDER BY pos) AS c FROM c1dims GROUP BY cid
    ), c1 AS (
      SELECT s.cid, COALESCE(n.c, s.v) AS c
      FROM seed_order s LEFT JOIN c1v n ON s.cid = n.cid
    ), cvecs AS (
      -- zero-norm trained centroids dropped (engine guard)
      SELECT * FROM (
        SELECT cid AS centroid_id, c AS cv, SQRT({cnorm}) AS cn FROM c1
      ) WHERE cn > 0
    ), vecs AS (
      SELECT * FROM (
        SELECT vec_id, v,
               SQRT({_fold_sum("list_transform(v, x -> x * x)")}) AS n
        FROM emb
      ) WHERE n > 0
    ), cranked AS (
      SELECT f.vec_id, c.centroid_id,
             ROW_NUMBER() OVER (PARTITION BY f.vec_id ORDER BY
               {cdp} / (f.n * c.cn) DESC,
               c.centroid_id ASC) AS crk
      FROM vecs f CROSS JOIN cvecs c
    ), lists AS (
      SELECT vec_id AS neighbor_id, centroid_id FROM cranked WHERE crk = 1
    ), probes AS (
      SELECT vec_id AS query_id, centroid_id FROM cranked
      WHERE vec_id IN ({ids}) AND crk <= {nprobe}
    ), cand AS (
      SELECT DISTINCT p.query_id, l.neighbor_id
      FROM lists l JOIN probes p ON l.centroid_id = p.centroid_id
      WHERE l.neighbor_id != p.query_id
    ), sim AS (
      SELECT c.query_id, c.neighbor_id,
             {qdp} / (q.n * f.n) AS cosine
      FROM cand c
      JOIN vecs q ON q.vec_id = c.query_id
      JOIN vecs f ON f.vec_id = c.neighbor_id
    ), rankedq AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC
      ) AS rank FROM sim
    )
    SELECT query_id, neighbor_id, ROUND(cosine, 6) + 0.0 AS cosine, rank
    FROM rankedq WHERE rank <= {k}
    """


def _langid_oracle() -> str:
    from whylogs_java_spark.operators.text import language_scores_sql

    score_select = ", ".join(
        f"{expr} AS __s_{lang}" for lang, expr in language_scores_sql("text").items()
    )
    return f"""
    WITH scored AS (SELECT lang, {score_select} FROM documents)
    SELECT lang, {language_id_sql()} AS predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM scored GROUP BY 1, 2
    """


_QUALITY_ORACLE = """
WITH m AS (
  SELECT doc_id,
    len(list_filter(str_split(text, ' '), t -> t != '')) AS word_count,
    length(text) AS nch,
    list_sum(list_transform(list_filter(str_split(text, ' '), t -> t != ''),
                            t -> length(t))) AS chars_in_words,
    len(list_filter(str_split(lower(text), ' '),
        t -> t IN ('the','and','of','to','a','in','is','that','for','it'))) AS sw,
    len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS punct,
    len(regexp_extract_all(text, '[0-9]')) AS digits
  FROM documents
), r AS (
  SELECT doc_id, word_count,
    CASE WHEN word_count > 0 THEN ROUND(CAST(chars_in_words AS DOUBLE) / word_count, 6) + 0.0 END AS mean_word_len,
    CASE WHEN word_count > 0 THEN ROUND(CAST(sw AS DOUBLE) / word_count, 6) + 0.0 END AS stopword_ratio,
    CASE WHEN nch > 0 THEN ROUND(CAST(punct AS DOUBLE) / nch, 6) + 0.0 END AS punct_ratio,
    CASE WHEN nch > 0 THEN ROUND(CAST(digits AS DOUBLE) / nch, 6) + 0.0 END AS digit_ratio
  FROM m
)
SELECT doc_id, word_count, mean_word_len, stopword_ratio, punct_ratio, digit_ratio,
  ROUND((
    (CASE WHEN word_count >= 5 AND word_count <= 10000 THEN 1 ELSE 0 END) +
    (CASE WHEN mean_word_len >= 2 AND mean_word_len <= 12 THEN 1 ELSE 0 END) +
    (CASE WHEN stopword_ratio >= 0.01 THEN 1 ELSE 0 END) +
    (CASE WHEN punct_ratio <= 0.2 THEN 1 ELSE 0 END) +
    (CASE WHEN digit_ratio <= 0.3 THEN 1 ELSE 0 END)
  ) / 5.0, 6) + 0.0 AS quality
FROM r
"""

_FINGERPRINT_ORACLE = """
SELECT doc_id,
       md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
       md5(substr(regexp_replace(lower(text), '\\s+', ' ', 'g'), 1, 64)) AS prefix_key
FROM documents
"""

_TOKENS_ORACLE = """
SELECT doc_id,
       len(list_filter(str_split(text, ' '), t -> t != '')) AS ws_tokens,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS re_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""


def _encoding_oracle() -> str:
    from whylogs_java_spark.operators.text import (
        CTRL_RE,
        MOJIBAKE_RE,
        NON_ASCII_RE,
        REPLACEMENT_RE,
        ZERO_WIDTH_RE,
    )

    def hits(pat: str) -> str:
        return f"len(regexp_extract_all(text, '{pat}'))"

    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 300000 AS doc_id, text || {_ENCODING_PLANT_SQL} AS text
      FROM documents WHERE doc_id % 25 = 1
    )
    SELECT doc_id,
           length(text) AS n_chars,
           {hits(REPLACEMENT_RE)} AS replacement_chars,
           {hits(CTRL_RE)} AS control_chars,
           {hits(MOJIBAKE_RE)} AS mojibake_hits,
           {hits(ZERO_WIDTH_RE)} AS zero_width_chars,
           CASE WHEN length(text) > 0
                THEN ROUND({hits(NON_ASCII_RE)} / length(text), 6) + 0.0
           END AS non_ascii_frac,
           ({hits(REPLACEMENT_RE)} > 0 OR {hits(CTRL_RE)} > 0
            OR {hits(MOJIBAKE_RE)} > 0 OR {hits(ZERO_WIDTH_RE)} > 0)
             AS encoding_suspect
    FROM corpus
    """


# DuckDB twin of lm_score(vocab_size=256, top_bigrams=2048, alpha=0.5):
# smoothing denominator = alpha * (vocab_size + 1) = 128.5
def _lm_score_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    vocab: int = 256,
    top: int = 2048,
) -> str:
    """The bigram-LM build+score oracle, parameterized on its corpus —
    `documents` for lm_score_documents/ccnet, the cleaned-corpus CTE for
    the v4 pipeline (add-0.5 smoothing; denominator uses the CONFIGURED
    vocab size, mirroring lm_score_with)."""
    denom = 0.5 * (vocab + 1)
    return f"""
WITH d AS (
  SELECT {id_col} AS doc_id,
         list_filter(string_split(lower({text_expr}), ' '), x -> x <> '') AS toks
  FROM {table}
), ug AS (
  SELECT tok, COUNT(*) AS c
  FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok
), vocab AS (
  SELECT tok FROM ug ORDER BY c DESC, tok ASC LIMIT {vocab}
), bgidx AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS gs FROM d
), bg0 AS (
  SELECT doc_id, gs AS pos, toks[gs] AS p0, toks[gs + 1] AS w0 FROM bgidx
), bg AS (
  SELECT doc_id, pos,
         COALESCE(pv.tok, '<unk>') AS prev,
         COALESCE(wv.tok, '<unk>') AS w
  FROM bg0
  LEFT JOIN vocab pv ON bg0.p0 = pv.tok
  LEFT JOIN vocab wv ON bg0.w0 = wv.tok
), pc AS (
  SELECT prev, COUNT(*) AS cp FROM bg GROUP BY prev
), bc AS (
  SELECT prev, w, COUNT(*) AS cb FROM bg GROUP BY prev, w
  ORDER BY cb DESC, prev ASC, w ASC LIMIT {top}
), sc AS (
  SELECT bg.doc_id,
         ln((COALESCE(bc.cb, 0) + 0.5) / (COALESCE(pc.cp, 0) + {denom})) AS lnp
  FROM bg
  LEFT JOIN pc ON bg.prev = pc.prev
  LEFT JOIN bc ON bg.prev = bc.prev AND bg.w = bc.w
), agg AS (
  SELECT doc_id, COUNT(*) AS n_bigrams, SUM(lnp) AS s FROM sc GROUP BY doc_id
)
SELECT d0.{id_col} AS doc_id,
       COALESCE(agg.n_bigrams, 0) AS n_bigrams,
       ROUND(agg.s / agg.n_bigrams, 6) + 0.0 AS avg_logp,
       ROUND(exp(-(agg.s / agg.n_bigrams)), 6) + 0.0 AS perplexity
FROM {table} d0 LEFT JOIN agg ON agg.doc_id = d0.{id_col}
"""


_LM_SCORE_ORACLE = _lm_score_sql()


# DuckDB twin of lm_score(order=3): JM-interpolated trigram over
# add-0.5 conditionals — replays the vocab, mapped unigram/bigram/
# trigram counts, the exact top-k truncations, and the per-position
# ln(l3*P3 + l2*P2 + l1*P1) in the engine's expression shape.
def _lm_score3_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    vocab: int = 256,
    top_b: int = 2048,
    top_t: int = 4096,
    l3: float = 0.5,
    l2: float = 0.3,
    l1: float = 0.2,
) -> str:
    denom = 0.5 * (vocab + 1)
    return f"""
WITH d AS (
  SELECT {id_col} AS doc_id,
         list_filter(string_split(lower({text_expr}), ' '), x -> x <> '') AS toks
  FROM {table}
), ug_raw AS (
  SELECT tok, COUNT(*) AS c
  FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok
), vocab AS (
  SELECT tok FROM ug_raw ORDER BY c DESC, tok ASC LIMIT {vocab}
), u0 AS (
  SELECT unnest(toks) AS tok FROM d
), um AS (
  SELECT COALESCE(v.tok, '<unk>') AS w, COUNT(*) AS cu
  FROM u0 LEFT JOIN vocab v ON u0.tok = v.tok GROUP BY 1
), tot AS (
  SELECT SUM(cu) AS n FROM um
), bgidx AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS gs FROM d
), bg0 AS (
  SELECT doc_id, toks[gs] AS p0, toks[gs + 1] AS w0 FROM bgidx
), bg AS (
  SELECT doc_id,
         COALESCE(pv.tok, '<unk>') AS prev,
         COALESCE(wv.tok, '<unk>') AS w
  FROM bg0
  LEFT JOIN vocab pv ON bg0.p0 = pv.tok
  LEFT JOIN vocab wv ON bg0.w0 = wv.tok
), pc AS (
  SELECT prev, COUNT(*) AS cp FROM bg GROUP BY prev
), bc AS (
  SELECT prev, w, COUNT(*) AS cb FROM bg GROUP BY prev, w
  ORDER BY cb DESC, prev ASC, w ASC LIMIT {top_b}
), tgidx AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS gs FROM d
), tg0 AS (
  SELECT doc_id, toks[gs] AS a0, toks[gs + 1] AS b0, toks[gs + 2] AS c0
  FROM tgidx
), tg AS (
  SELECT doc_id,
         COALESCE(v2.tok, '<unk>') AS prev2,
         COALESCE(v1.tok, '<unk>') AS prev,
         COALESCE(vw.tok, '<unk>') AS w
  FROM tg0
  LEFT JOIN vocab v2 ON tg0.a0 = v2.tok
  LEFT JOIN vocab v1 ON tg0.b0 = v1.tok
  LEFT JOIN vocab vw ON tg0.c0 = vw.tok
), tq AS (
  SELECT prev2, prev, COUNT(*) AS cq FROM tg GROUP BY prev2, prev
), tc AS (
  SELECT prev2, prev, w, COUNT(*) AS ct FROM tg GROUP BY prev2, prev, w
  ORDER BY ct DESC, prev2 ASC, prev ASC, w ASC LIMIT {top_t}
), sc AS (
  SELECT tg.doc_id,
         ln({l3!r} * ((COALESCE(tc.ct, 0) + 0.5) / (COALESCE(tq.cq, 0) + {denom!r}))
          + {l2!r} * ((COALESCE(bc.cb, 0) + 0.5) / (COALESCE(pc.cp, 0) + {denom!r}))
          + {l1!r} * ((COALESCE(um.cu, 0) + 0.5) / ((SELECT n FROM tot) + {denom!r}))
         ) AS lnp
  FROM tg
  LEFT JOIN tq ON tg.prev2 = tq.prev2 AND tg.prev = tq.prev
  LEFT JOIN tc ON tg.prev2 = tc.prev2 AND tg.prev = tc.prev AND tg.w = tc.w
  LEFT JOIN pc ON tg.prev = pc.prev
  LEFT JOIN bc ON tg.prev = bc.prev AND tg.w = bc.w
  LEFT JOIN um ON tg.w = um.w
), agg AS (
  SELECT doc_id, COUNT(*) AS n_trigrams, SUM(lnp) AS s FROM sc GROUP BY doc_id
)
SELECT d0.{id_col} AS doc_id,
       COALESCE(agg.n_trigrams, 0) AS n_trigrams,
       ROUND(agg.s / agg.n_trigrams, 6) + 0.0 AS avg_logp,
       ROUND(exp(-(agg.s / agg.n_trigrams)), 6) + 0.0 AS perplexity
FROM {table} d0 LEFT JOIN agg ON agg.doc_id = d0.{id_col}
"""


_LM_SCORE3_ORACLE = _lm_score3_sql()


def _lm_score3_kn_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
    vocab: int = 256,
    top_t: int = 4096,
    alpha: float = 0.5,
    d: float = 0.75,
) -> str:
    """DuckDB twin of lm_score(order=3, smoothing='kn'): the JM
    oracle's vocab/census/truncation CTEs plus the four continuation
    aggregates, scored with the interpolated-KN cascade (trigram
    absolute discount -> bigram continuation -> alpha-floored
    continuation unigram)."""
    denom = alpha * (vocab + 1)
    return f"""
WITH d AS (
  SELECT {id_col} AS doc_id,
         list_filter(string_split(lower({text_expr}), ' '), x -> x <> '') AS toks
  FROM {table}
), ug_raw AS (
  SELECT tok, COUNT(*) AS c
  FROM (SELECT unnest(toks) AS tok FROM d) GROUP BY tok
), vocab AS (
  SELECT tok FROM ug_raw ORDER BY c DESC, tok ASC LIMIT {vocab}
), bgidx AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS gs FROM d
), bg0 AS (
  SELECT doc_id, toks[gs] AS p0, toks[gs + 1] AS w0 FROM bgidx
), bg AS (
  SELECT doc_id,
         COALESCE(pv.tok, '<unk>') AS prev,
         COALESCE(wv.tok, '<unk>') AS w
  FROM bg0
  LEFT JOIN vocab pv ON bg0.p0 = pv.tok
  LEFT JOIN vocab wv ON bg0.w0 = wv.tok
), bgt AS (
  SELECT prev, w FROM bg GROUP BY prev, w
), n1w AS (
  SELECT w, COUNT(*) AS n1w FROM bgt GROUP BY w
), n11 AS (
  SELECT COUNT(*) AS n FROM bgt
), tgidx AS (
  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS gs FROM d
), tg0 AS (
  SELECT doc_id, toks[gs] AS a0, toks[gs + 1] AS b0, toks[gs + 2] AS c0
  FROM tgidx
), tg AS (
  SELECT doc_id,
         COALESCE(v2.tok, '<unk>') AS prev2,
         COALESCE(v1.tok, '<unk>') AS prev,
         COALESCE(vw.tok, '<unk>') AS w
  FROM tg0
  LEFT JOIN vocab v2 ON tg0.a0 = v2.tok
  LEFT JOIN vocab v1 ON tg0.b0 = v1.tok
  LEFT JOIN vocab vw ON tg0.c0 = vw.tok
), tcf AS (
  SELECT prev2, prev, w, COUNT(*) AS ct FROM tg GROUP BY prev2, prev, w
), tq AS (
  SELECT prev2, prev, SUM(ct) AS cq, COUNT(*) AS nt
  FROM tcf GROUP BY prev2, prev
), tc AS (
  SELECT prev2, prev, w, ct FROM tcf
  ORDER BY ct DESC, prev2 ASC, prev ASC, w ASC LIMIT {top_t}
), cont AS (
  SELECT prev, w, COUNT(*) AS npw FROM tcf GROUP BY prev, w
), mid AS (
  SELECT prev, SUM(npw) AS nmid, COUNT(*) AS tv FROM cont GROUP BY prev
), sc AS (
  SELECT tg.doc_id,
         ln(CASE WHEN COALESCE(tq.cq, 0) > 0
              THEN (GREATEST(COALESCE(tc.ct, 0) - {d!r}, 0.0)
                    + {d!r} * COALESCE(tq.nt, 0) *
                      (CASE WHEN COALESCE(mid.nmid, 0) > 0
                         THEN (GREATEST(COALESCE(cont.npw, 0) - {d!r}, 0.0)
                               + {d!r} * COALESCE(mid.tv, 0) *
                                 ((COALESCE(n1w.n1w, 0) + {alpha!r})
                                  / ((SELECT n FROM n11) + {denom!r})))
                              / COALESCE(mid.nmid, 0)
                         ELSE ((COALESCE(n1w.n1w, 0) + {alpha!r})
                               / ((SELECT n FROM n11) + {denom!r})) END))
                   / COALESCE(tq.cq, 0)
              ELSE (CASE WHEN COALESCE(mid.nmid, 0) > 0
                      THEN (GREATEST(COALESCE(cont.npw, 0) - {d!r}, 0.0)
                            + {d!r} * COALESCE(mid.tv, 0) *
                              ((COALESCE(n1w.n1w, 0) + {alpha!r})
                               / ((SELECT n FROM n11) + {denom!r})))
                           / COALESCE(mid.nmid, 0)
                      ELSE ((COALESCE(n1w.n1w, 0) + {alpha!r})
                            / ((SELECT n FROM n11) + {denom!r})) END)
            END) AS lnp
  FROM tg
  LEFT JOIN tq ON tg.prev2 = tq.prev2 AND tg.prev = tq.prev
  LEFT JOIN tc ON tg.prev2 = tc.prev2 AND tg.prev = tc.prev AND tg.w = tc.w
  LEFT JOIN cont ON tg.prev = cont.prev AND tg.w = cont.w
  LEFT JOIN mid ON tg.prev = mid.prev
  LEFT JOIN n1w ON tg.w = n1w.w
), agg AS (
  SELECT doc_id, COUNT(*) AS n_trigrams, SUM(lnp) AS s FROM sc GROUP BY doc_id
)
SELECT d0.{id_col} AS doc_id,
       COALESCE(agg.n_trigrams, 0) AS n_trigrams,
       ROUND(agg.s / agg.n_trigrams, 6) + 0.0 AS avg_logp,
       ROUND(exp(-(agg.s / agg.n_trigrams)), 6) + 0.0 AS perplexity
FROM {table} d0 LEFT JOIN agg ON agg.doc_id = d0.{id_col}
"""


_LM_SCORE3_KN_ORACLE = _lm_score3_kn_sql()


def _bpe_oracle(n_merges: int = BPE_MERGES) -> str:
    """Unrolled BPE trainer: census + one (pairs → argmax → replace)
    CTE trio per merge, replaying bpe_train's trajectory exactly."""
    parts = ["""w0 AS MATERIALIZED (
  SELECT '|' || array_to_string(string_split(w, ''), '||') || '||·|' AS s,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(list_filter(string_split(lower(COALESCE(text, '')), ' '),
                                  x -> x <> '')) AS w
        FROM documents)
  WHERE NOT contains(w, '|') AND NOT contains(w, '·')
  GROUP BY w
)"""]
    for i in range(n_merges):
        parts.append(f"""p{i} AS MATERIALIZED (
  SELECT arr[j] AS l, arr[j+1] AS r, SUM(cnt) AS c
  FROM (SELECT string_split(s[2:len(s)-1], '||') AS arr, cnt FROM w{i}),
       unnest(generate_series(1, len(arr) - 1)) u(j)
  GROUP BY 1, 2
), m{i} AS MATERIALIZED (
  SELECT l, r, c FROM p{i} ORDER BY c DESC, l ASC, r ASC LIMIT 1
), w{i + 1} AS MATERIALIZED (
  SELECT replace(s,
           '|' || (SELECT l FROM m{i}) || '||' || (SELECT r FROM m{i}) || '|',
           '|' || (SELECT l FROM m{i}) || (SELECT r FROM m{i}) || '|') AS s,
         cnt
  FROM w{i}
)""")
    finals = "\nUNION ALL ".join(
        f'SELECT {i} AS step, l AS "left", r AS "right", '
        f'l || r AS merged, CAST(c AS BIGINT) AS pair_count FROM m{i}'
        for i in range(n_merges)
    )
    return "WITH " + ",\n".join(parts) + "\n" + finals


_C4_FILTER_ORACLE = """
WITH w AS (
  SELECT doc_id,
    list_filter(string_split(COALESCE(text, ''), ' '), x -> x <> '') AS w
  FROM documents
), ln AS (
  SELECT doc_id,
    list_transform(
      generate_series(1, CAST(GREATEST(FLOOR((len(w) + 5) / 6.0), 1) AS BIGINT)),
      i -> array_to_string(w[(i-1)*6+1 : (i-1)*6+6], ' ') ||
           CASE WHEN doc_id % 50 = 0 AND i = 1 THEN ' lorem ipsum.'
                WHEN (doc_id + i) % 3 = 0 THEN '.'
                ELSE '' END
    ) AS lines
  FROM w
), t2 AS (
  SELECT doc_id,
    array_to_string(lines, chr(10)) ||
    CASE WHEN doc_id % 97 = 0 THEN chr(10) || 'brace { line }'
         ELSE '' END AS text
  FROM ln
), k AS (
  SELECT doc_id, string_split(text, chr(10)) AS ls, text,
    list_filter(
      string_split(text, chr(10)),
      x -> regexp_matches(x, '[.!?"]\\s*$')
        AND len(list_filter(string_split(x, ' '), y -> y <> '')) >= 5
        AND NOT contains(lower(x), 'lorem ipsum')
        AND NOT contains(lower(x), 'javascript')
    ) AS kept
  FROM t2
)
SELECT doc_id,
  CAST(len(ls) AS BIGINT) AS n_lines,
  CAST(len(kept) AS BIGINT) AS n_kept,
  (len(kept) >= 3 AND NOT contains(text, '{')
     AND NOT contains(text, '}')) AS keep,
  COALESCE(array_to_string(kept, chr(10)), '') AS clean_text
FROM k
"""

# CCNet tiers = the LM-score oracle nested as a CTE + per-language exact
# tercile cutoffs (quantile_cont == Spark percentile, rounded 6 on both
# engines before the boundary comparison) + the bucket CASE.
_CCNET_BUCKETS_ORACLE = f"""
WITH lm AS ({_LM_SCORE_ORACLE}),
sc AS (
  SELECT lm.doc_id, d.lang, lm.perplexity
  FROM lm JOIN documents d USING (doc_id)
), cut AS (
  SELECT lang,
    ROUND(quantile_cont(perplexity, 0.3333333333333333), 6) + 0.0 AS c1,
    ROUND(quantile_cont(perplexity, 0.6666666666666666), 6) + 0.0 AS c2
  FROM sc GROUP BY lang
)
SELECT sc.doc_id, sc.lang, sc.perplexity,
  CASE WHEN sc.perplexity IS NULL THEN NULL
       WHEN sc.perplexity <= cut.c1 THEN 'head'
       WHEN sc.perplexity <= cut.c2 THEN 'middle'
       ELSE 'tail' END AS bucket
FROM sc LEFT JOIN cut USING (lang)
"""


_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id, list_filter(str_split(text, ' '), x -> x <> '') AS w
  FROM documents
), ucnt AS (
  SELECT doc_id, word, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(w) AS word FROM toks) GROUP BY 1, 2
), uagg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_words,
         CAST(COUNT(*) AS BIGINT) AS n_distinct, MAX(c) AS top_w
  FROM ucnt GROUP BY 1
), bcnt AS (
  SELECT doc_id, g, COUNT(*) AS c
  FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(w) >= 2
           THEN list_transform(generate_series(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i + 1])
           ELSE []::VARCHAR[] END
    ) AS g FROM toks
  ) GROUP BY 1, 2
), bagg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_bigrams, MAX(c) AS top_b
  FROM bcnt GROUP BY 1
)
SELECT u.doc_id, u.n_words,
       ROUND(u.n_distinct / CAST(u.n_words AS DOUBLE), 6) + 0.0
         AS distinct_word_frac,
       ROUND(u.top_w / CAST(u.n_words AS DOUBLE), 6) + 0.0 AS top_word_frac,
       ROUND(b.top_b / CAST(b.n_bigrams AS DOUBLE), 6) + 0.0
         AS top_bigram_frac
FROM uagg u LEFT JOIN bagg b USING (doc_id)
"""

_SAMPLE_KEY_SQL = (
    "('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 1000000"
)


def _sample_oracle() -> str:
    cases = " ".join(
        f"WHEN '{v}' THEN {int(f * 1_000_000)}"
        for v, f in sorted(SAMPLE_FRACTIONS.items())
    )
    default = int(SAMPLE_DEFAULT_FRACTION * 1_000_000)
    return f"""
    SELECT doc_id, lang FROM documents
    WHERE {_SAMPLE_KEY_SQL} < CASE lang {cases} ELSE {default} END
    """


_SAMPLE_TOPK_ORACLE = f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang, ROW_NUMBER() OVER (
    PARTITION BY lang ORDER BY {_SAMPLE_KEY_SQL} ASC, doc_id ASC
  ) AS rk FROM documents
) WHERE rk <= 20
"""


def _mixture_oracle(temperature: float = 2.0, f: float = 0.5) -> str:
    """Replays sampling.mixture_sample exactly: integerized sqrt-mass
    weights (exact BIGINT stratum sums), ONE fixed parenthesization of
    the probability expression in double, 6-decimal rounding before the
    md5-threshold membership test."""
    exp = 1.0 / temperature
    return f"""
WITH c AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(FLOOR(POWER(CAST(COUNT(*) AS DOUBLE), {exp}) * 1000000 + 0.5)
              AS BIGINT) AS w
  FROM documents GROUP BY source
), t AS (
  SELECT CAST(SUM(n) AS BIGINT) AS tot_n, CAST(SUM(w) AS BIGINT) AS tot_w
  FROM c
), p AS (
  SELECT source,
         CAST(FLOOR(ROUND(LEAST(1.0,
           (({f} * CAST(t.tot_n AS DOUBLE)) * CAST(c.w AS DOUBLE))
           / (CAST(c.n AS DOUBLE) * CAST(t.tot_w AS DOUBLE))), 6)
           * 1000000 + 0.5) AS BIGINT) AS thr
  FROM c CROSS JOIN t
)
SELECT d.source, COUNT(*) AS n_kept,
       CAST(SUM(d.n_chars) AS BIGINT) AS sum_chars
FROM documents d JOIN p ON d.source = p.source
WHERE {_SAMPLE_KEY_SQL} < p.thr
GROUP BY d.source
"""


def _prune_oracle(k: int = 4, prune_frac: float = 0.25) -> str:
    """cluster_prototype_prune twin: the _kmeans_oracle assignment in a
    CTE, then the same closest-first distance-rank windows."""
    return f"""
WITH a AS (
{_kmeans_oracle(k)}
)
SELECT vec_id, cluster, dist,
       CAST(COUNT(*) OVER (PARTITION BY cluster) AS BIGINT) AS cluster_size,
       CAST(ROW_NUMBER() OVER (PARTITION BY cluster
            ORDER BY dist ASC, vec_id ASC) AS BIGINT) AS rank_close,
       CAST(ROW_NUMBER() OVER (PARTITION BY cluster
            ORDER BY dist ASC, vec_id ASC) AS BIGINT)
         <= CAST(FLOOR(COUNT(*) OVER (PARTITION BY cluster) * {prune_frac})
                 AS BIGINT) AS is_pruned
FROM a
"""


_CHUNK_ORACLE = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
), c AS (
  SELECT doc_id, i AS chunk_id,
         array_to_string(w[i*30+1 : i*30+40], ' ') AS chunk_text,
         LEAST(40, len(w) - i*30) AS n_tokens
  FROM w, unnest(range(0, CAST(CEIL(len(w) / 30.0) AS INT))) AS u(i)
)
SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
       CAST(n_tokens AS BIGINT) AS n_tokens, chunk_text
FROM c
"""


def _cluster_balanced_oracle(k: int = 4, per_cluster: int = 20) -> str:
    """cluster_balanced_sample twin: the _kmeans_oracle assignment in a
    CTE, then the md5 hash-rank pick per cluster."""
    key = "('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT % 1000000"
    return f"""
WITH a AS (
{_kmeans_oracle(k)}
), r AS (
  SELECT vec_id, cluster, dist,
         CAST(ROW_NUMBER() OVER (PARTITION BY cluster
              ORDER BY {key} ASC, vec_id ASC) AS BIGINT) AS pick_rank
  FROM a
)
SELECT vec_id, cluster, dist, pick_rank FROM r
WHERE pick_rank <= {per_cluster}
"""


def _split_oracle() -> str:
    cases, cum = [], 0.0
    for label, frac in SPLIT_SPEC[:-1]:
        cum += frac
        cases.append(f"WHEN {_SAMPLE_KEY_SQL} < {int(cum * 1_000_000)} THEN '{label}'")
    return f"""
    SELECT source,
      CASE {' '.join(cases)} ELSE '{SPLIT_SPEC[-1][0]}' END AS split,
      COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents GROUP BY 1, 2
    """


def _split_leakage_oracle() -> str:
    key = (
        "('0x' || substr(md5(CAST(cluster_id AS VARCHAR)), 1, 15))::BIGINT"
        " % 1000000"
    )
    cases, cum = [], 0.0
    for label, frac in SPLIT_SPEC[:-1]:
        cum += frac
        cases.append(f"WHEN {key} < {int(cum * 1_000_000)} THEN '{label}'")
    cluster = _dedup_near_oracle(as_clusters=True)
    return f"""
    SELECT doc_id, cluster_id, is_survivor,
           CASE {' '.join(cases)} ELSE '{SPLIT_SPEC[-1][0]}' END AS split
    FROM ({cluster}) c
    """


def _blocklist_oracle() -> str:
    terms = [t.lower() for t in BLOCKLIST_TERMS]
    cnts = ", ".join(
        f"len(regexp_extract_all(lower(text), '\\b{t}\\b')) AS c{i}"
        for i, t in enumerate(terms)
    )
    total = " + ".join(f"c{i}" for i in range(len(terms)))
    hits = ", ".join(
        f"CASE WHEN c{i} > 0 THEN '{t}' END" for i, t in enumerate(terms)
    )
    return f"""
    WITH c AS (
      SELECT doc_id, lang, {cnts} FROM documents
    ), h AS (
      SELECT *, list_filter([{hits}], x -> x IS NOT NULL) AS hit_terms
      FROM c
    )
    SELECT doc_id, lang, CAST({total} AS BIGINT) AS n_blocked,
           CAST(len(hit_terms) AS BIGINT) AS n_blocked_terms,
           COALESCE(array_to_string(list_sort(hit_terms), ','), '')
             AS matched_terms,
           ({total}) > 0 AS blocked
    FROM h
    """


_NOVELTY_ORACLE = """
WITH ref AS (
  SELECT text FROM documents WHERE doc_id % 3 = 0
), cur AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
  UNION ALL
  SELECT doc_id + 200000 AS doc_id, text || ' tail' AS text
  FROM documents WHERE doc_id % 30 = 0
), rw AS (
  SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w FROM ref
), rg AS (
  SELECT DISTINCT md5(array_to_string(w[i:i+4], ' ')) AS g
  FROM rw, unnest(range(1, len(w) - 5 + 2)) AS u(i) WHERE len(w) >= 5
), cw AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM cur
), cg AS (
  SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+4], ' ')) AS g
  FROM cw, unnest(range(1, len(w) - 5 + 2)) AS u(i) WHERE len(w) >= 5
), tot AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM cg GROUP BY 1
), seen AS (
  SELECT cg.doc_id, CAST(COUNT(*) AS BIGINT) AS n_seen
  FROM cg JOIN rg ON cg.g = rg.g GROUP BY 1
)
SELECT t.doc_id, t.n_grams,
       COALESCE(s.n_seen, 0) AS n_seen,
       t.n_grams - COALESCE(s.n_seen, 0) AS n_novel,
       ROUND((t.n_grams - COALESCE(s.n_seen, 0))
             / CAST(t.n_grams AS DOUBLE), 6) + 0.0 AS novelty
FROM tot t LEFT JOIN seen s ON s.doc_id = t.doc_id
UNION ALL
SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
       CAST(NULL AS DOUBLE)
FROM cw WHERE len(w) < 5
"""


_PACK_ORACLE = """
WITH t AS (
  SELECT lang, doc_id,
         CAST(len(list_filter(string_split(text, ' '), x -> x <> ''))
              AS BIGINT) AS n_tokens
  FROM documents
), o AS (
  SELECT lang, doc_id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + (ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) - 1)
         AS token_offset
  FROM t
)
SELECT lang, doc_id, n_tokens,
       CAST(token_offset AS BIGINT) AS token_offset,
       CAST(FLOOR(token_offset / 512.0) AS BIGINT) AS first_context,
       CAST(CASE WHEN n_tokens > 0
            THEN FLOOR((token_offset + n_tokens - 1) / 512.0)
            ELSE FLOOR(token_offset / 512.0) END AS BIGINT) AS last_context,
       CAST(CASE WHEN n_tokens > 0
            THEN FLOOR((token_offset + n_tokens - 1) / 512.0)
                 - FLOOR(token_offset / 512.0) + 1
            ELSE 0 END AS BIGINT) AS n_contexts
FROM o
"""


_DECONTAM_ORACLE = """
WITH w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
), ew AS (
  SELECT array_to_string(w[3:12], ' ') AS etext FROM w WHERE doc_id % 20 = 0
), eg AS (
  SELECT DISTINCT md5(array_to_string(ww[i:i+4], ' ')) AS g
  FROM (SELECT list_filter(string_split(etext, ' '), x -> x <> '') AS ww FROM ew) t,
       unnest(range(1, len(ww) - 5 + 2)) AS u(i)
  WHERE len(ww) >= 5
), cg AS (
  SELECT doc_id, md5(array_to_string(w[i:i+4], ' ')) AS g
  FROM w, unnest(range(1, len(w) - 5 + 2)) AS u(i) WHERE len(w) >= 5
), cnt AS (
  SELECT doc_id, GREATEST(len(w) - 4, 0) AS n_ngrams FROM w
), h AS (
  SELECT doc_id, COUNT(DISTINCT cg.g) AS n_hits
  FROM cg JOIN eg ON cg.g = eg.g GROUP BY doc_id
)
SELECT c.doc_id, c.n_ngrams, COALESCE(h.n_hits, 0) AS n_hits,
       COALESCE(h.n_hits, 0) > 0 AS contaminated
FROM cnt c LEFT JOIN h USING (doc_id)
"""


# spans-oracle CTE body shared with the v4 pipeline oracle
_DECONTAM_SPANS_CTES = """w AS (
  SELECT doc_id, list_filter(string_split(COALESCE(text, ''), ' '), x -> x <> '') AS w
  FROM documents
), ew AS (
  SELECT array_to_string(w[3:12], ' ') AS etext FROM w WHERE doc_id % 20 = 0
), eg AS (
  SELECT DISTINCT md5(array_to_string(ww[i:i+4], ' ')) AS g
  FROM (SELECT list_filter(string_split(etext, ' '), x -> x <> '') AS ww FROM ew) t,
       unnest(range(1, len(ww) - 5 + 2)) AS u(i)
  WHERE len(ww) >= 5
), hp AS (
  SELECT doc_id, i - 1 AS s0, i + 3 AS e0
  FROM w, unnest(range(1, len(w) - 5 + 2)) AS u(i)
  WHERE len(w) >= 5 AND md5(array_to_string(w[i:i+4], ' ')) IN (SELECT g FROM eg)
), isl AS (
  SELECT doc_id, s0, e0,
    CASE WHEN MAX(e0) OVER (PARTITION BY doc_id ORDER BY s0
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      OR s0 > MAX(e0) OVER (PARTITION BY doc_id ORDER BY s0
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
    THEN 1 ELSE 0 END AS ni
  FROM hp
), isl2 AS (
  SELECT doc_id, s0, e0,
    SUM(ni) OVER (PARTITION BY doc_id ORDER BY s0
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
), spans AS (
  SELECT doc_id, island, MIN(s0) AS s, MAX(e0) AS e
  FROM isl2 GROUP BY doc_id, island
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_spans, SUM(e - s + 1) AS tokens_removed
  FROM spans GROUP BY doc_id
), toks AS (
  SELECT doc_id, i AS ord, w[i] AS tok FROM w, unnest(range(1, len(w) + 1)) AS u(i)
), covered AS (
  SELECT doc_id, j FROM spans, unnest(generate_series(s, e)) AS g(j)
), clean AS (
  SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.ord) AS clean_text
  FROM toks t LEFT JOIN covered c ON t.doc_id = c.doc_id AND t.ord - 1 = c.j
  WHERE c.j IS NULL GROUP BY t.doc_id
)"""

_DECONTAM_SPANS_ORACLE = "WITH " + _DECONTAM_SPANS_CTES + """
SELECT w.doc_id,
  CAST(len(w.w) AS BIGINT) AS n_tokens,
  CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
  CAST(COALESCE(p.tokens_removed, 0) AS BIGINT) AS tokens_removed,
  COALESCE(cl.clean_text, '') AS clean_text
FROM w LEFT JOIN per_doc p USING (doc_id) LEFT JOIN clean cl USING (doc_id)
"""


_DEDUP_SPANS_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
  FROM documents WHERE doc_id % 10 = 0
), w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM corpus
), grams AS (
  SELECT doc_id, i AS pos, md5(array_to_string(w[i+1 : i+8], ' ')) AS gram_key
  FROM w, unnest(range(0, len(w) - 8 + 1)) AS u(i)
), dup AS (
  SELECT gram_key FROM grams GROUP BY gram_key HAVING COUNT(*) >= 2
), dp AS (
  SELECT g.doc_id, g.pos AS s0, g.pos + 7 AS e0
  FROM grams g JOIN dup USING (gram_key)
), isl AS (
  SELECT doc_id, s0, e0,
    CASE WHEN MAX(e0) OVER (PARTITION BY doc_id ORDER BY s0
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
      OR s0 > MAX(e0) OVER (PARTITION BY doc_id ORDER BY s0
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) + 1
    THEN 1 ELSE 0 END AS ni
  FROM dp
), isl2 AS (
  SELECT doc_id, s0, e0,
    SUM(ni) OVER (PARTITION BY doc_id ORDER BY s0
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
  FROM isl
), spans AS (
  SELECT doc_id, island, MIN(s0) AS s, MAX(e0) AS e
  FROM isl2 GROUP BY doc_id, island
), per_doc AS (
  SELECT doc_id, COUNT(*) AS n_dup_spans, SUM(e - s + 1) AS dup_tokens,
         MAX(e - s + 1) AS longest_span
  FROM spans GROUP BY doc_id
), totals AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT)
      AS total_tokens
  FROM corpus
)
SELECT t.doc_id, t.total_tokens,
  CAST(COALESCE(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
  CAST(COALESCE(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
  CAST(COALESCE(p.longest_span, 0) AS BIGINT) AS longest_span,
  ROUND(COALESCE(p.dup_tokens, 0) / GREATEST(t.total_tokens, 1), 6) + 0.0
    AS dup_fraction
FROM totals t LEFT JOIN per_doc p USING (doc_id)
"""

_DEDUP_SEGMENTS_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
  FROM documents WHERE doc_id % 10 = 0
), w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM corpus
), segs AS (
  SELECT doc_id, i AS pos, array_to_string(w[i*10+1 : i*10+10], ' ') AS seg
  FROM w, unnest(range(0, GREATEST(CAST(CEIL(len(w) / 10.0) AS INT), 1))) AS u(i)
), own AS (
  SELECT seg_key, MIN(ROW(doc_id, pos)) AS o
  FROM (SELECT md5(seg) AS seg_key, doc_id, pos FROM segs) GROUP BY seg_key
), fl AS (
  SELECT s.doc_id, s.pos, s.seg, (own.o = ROW(s.doc_id, s.pos)) AS kept
  FROM segs s JOIN own ON md5(s.seg) = own.seg_key
)
SELECT doc_id, COUNT(*) AS n_segments,
       CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
       COALESCE(string_agg(CASE WHEN kept THEN seg END, ' ' ORDER BY pos), '')
         AS dedup_text
FROM fl GROUP BY doc_id
"""


def _corpus_report_oracle() -> str:
    from whylogs_java_spark.operators.text import (
        CTRL_RE,
        MOJIBAKE_RE,
        REPLACEMENT_RE,
        ZERO_WIDTH_RE,
    )

    def hits(pat: str) -> str:
        return f"len(regexp_extract_all(text, '{pat}'))"

    return f"""
    WITH q AS ( {_QUALITY_ORACLE} ),
    enc AS (
      SELECT doc_id,
             ({hits(REPLACEMENT_RE)} > 0 OR {hits(CTRL_RE)} > 0
              OR {hits(MOJIBAKE_RE)} > 0 OR {hits(ZERO_WIDTH_RE)} > 0)
               AS suspect
      FROM documents
    ),
    tok AS (
      SELECT doc_id,
             len(list_filter(str_split(text, ' '), t -> t != '')) AS ws
      FROM documents
    ),
    w AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM documents
    ),
    segs AS (
      SELECT doc_id, i AS pos, array_to_string(w[i*10+1 : i*10+10], ' ') AS seg
      FROM w, unnest(range(0, GREATEST(CAST(CEIL(len(w) / 10.0) AS INT), 1)))
        AS u(i)
    ),
    census AS (
      SELECT md5(seg) AS seg_key, COUNT(DISTINCT doc_id) AS dfreq
      FROM segs GROUP BY 1
    ),
    bp AS (
      SELECT doc_id,
             ROUND(SUM(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) / COUNT(*), 6)
               + 0.0 AS bf
      FROM (SELECT s.doc_id, c.dfreq
            FROM segs s JOIN census c ON md5(s.seg) = c.seg_key)
      GROUP BY doc_id
    )
    SELECT d.source,
      COUNT(*) AS n_docs,
      CAST(SUM(tok.ws) AS BIGINT) AS total_tokens,
      CAST(SUM(CASE WHEN enc.suspect THEN 1 ELSE 0 END) AS BIGINT)
        AS suspect_docs,
      ROUND(SUM(CAST(FLOOR(q.quality * 1000000 + 0.5) AS BIGINT))
            / (COUNT(*) * 1000000.0), 6) + 0.0 AS mean_quality,
      ROUND(SUM(CAST(FLOOR(bp.bf * 1000000 + 0.5) AS BIGINT))
            / (COUNT(*) * 1000000.0), 6) + 0.0 AS mean_boilerplate_frac
    FROM documents d
    JOIN q USING (doc_id) JOIN enc USING (doc_id)
    JOIN tok USING (doc_id) JOIN bp USING (doc_id)
    GROUP BY d.source
    """


_BOILERPLATE_ORACLE = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
  FROM documents WHERE doc_id % 10 = 0
), w AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM corpus
), segs AS (
  SELECT doc_id, i AS pos, array_to_string(w[i*10+1 : i*10+10], ' ') AS seg
  FROM w, unnest(range(0, GREATEST(CAST(CEIL(len(w) / 10.0) AS INT), 1))) AS u(i)
), census AS (
  SELECT md5(seg) AS seg_key, COUNT(DISTINCT doc_id) AS dfreq
  FROM segs GROUP BY 1
), j AS (
  SELECT s.doc_id, c.dfreq FROM segs s JOIN census c ON md5(s.seg) = c.seg_key
)
SELECT doc_id, COUNT(*) AS n_segments,
       CAST(SUM(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS boiler_segments,
       ROUND(SUM(CASE WHEN dfreq >= 2 THEN 1 ELSE 0 END) / COUNT(*), 6) + 0.0
         AS boilerplate_fraction,
       MAX(dfreq) AS max_seg_df
FROM j GROUP BY doc_id
"""


_MULTIMODAL_AUDIO_ORACLE = """
WITH p AS (
  SELECT doc_id,
    doc_id % 10 = 9 AS unk,
    doc_id % 2 + 1 AS ch,
    CASE doc_id % 4 WHEN 0 THEN 8000 WHEN 1 THEN 16000
                    WHEN 2 THEN 44100 ELSE 48000 END AS rate,
    CASE WHEN doc_id % 3 = 0 THEN 8 ELSE 16 END AS bits
  FROM documents
), q AS (
  SELECT doc_id, unk, ch, rate, bits,
         ch * bits // 8 AS block
  FROM p
)
SELECT doc_id,
  CASE WHEN unk THEN 'unknown' ELSE 'wav' END AS format,
  CASE WHEN unk THEN NULL ELSE CAST(ch AS INT) END AS channels,
  CASE WHEN unk THEN NULL ELSE CAST(rate AS INT) END AS sample_rate,
  CASE WHEN unk THEN NULL ELSE CAST(bits AS INT) END AS bits_per_sample,
  CASE WHEN unk THEN NULL
       ELSE CAST((doc_id % 1000 + 1) * block AS BIGINT) END AS data_bytes,
  CASE WHEN unk THEN NULL
       ELSE CAST(FLOOR((doc_id % 1000 + 1) * block * 1000.0
                       / (rate * block)) AS BIGINT) END AS duration_ms
FROM q
"""


_PACKING_ORACLE = """
WITH t AS (
  SELECT lang,
         len(list_filter(str_split(text, ' '), x -> x <> '')) AS tok
  FROM documents
)
SELECT lang,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(SUM(tok) AS BIGINT) AS total_tokens,
  CAST(SUM(CASE WHEN tok > 512 THEN 1 ELSE 0 END) AS BIGINT)
    AS docs_over_context,
  CAST(SUM(GREATEST(tok - 512, 0)) AS BIGINT) AS truncated_tokens,
  CAST(MAX(tok) AS BIGINT) AS max_tokens,
  CAST(CEIL(SUM(tok) / 512.0) AS BIGINT) AS min_contexts,
  CAST(COUNT(*) AS BIGINT) AS contexts_one_doc_each
FROM t GROUP BY lang
"""

def _simhash_oracle(bits: int = 64) -> str:
    bit_sums = ", ".join(
        f"SUM(CASE WHEN ((('0x' || substr(hx, {1 + b // 4}, 1))::INT >> {b % 4})"
        f" & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    nibbles = " || ".join(
        "to_hex("
        + " + ".join(
            f"{1 << (3 - j)} * (CASE WHEN b{bits - 1 - (i * 4 + j)} > 0"
            " THEN 1 ELSE 0 END)"
            for j in range(4)
        )
        + ")"
        for i in range(bits // 4)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, t AS tok
      FROM (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS t
            FROM documents)
      WHERE t <> ''
    ), h AS (
      SELECT doc_id, md5(tok) AS hx FROM toks
    ), sums AS (
      SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id
    )
    SELECT d.doc_id, lower({nibbles}) AS simhash_hex
    FROM documents d LEFT JOIN sums s USING (doc_id)
    """


def _simhash_pairs_oracle(bits: int = 64, max_hamming: int = 3) -> str:
    blocks = max_hamming + 1
    base = bits // blocks
    bounds = []
    pos = 0
    for b in range(blocks):
        ln = base + (1 if b < bits % blocks else 0)
        bounds.append((pos, ln))
        pos += ln
    bit_sums = ", ".join(
        f"SUM(CASE WHEN ((('0x' || substr(hx, {1 + b // 4}, 1))::INT >> {b % 4})"
        f" & 1) = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    bitstr = " || ".join(
        f"(CASE WHEN b{b} > 0 THEN '1' ELSE '0' END)" for b in range(bits)
    )
    block_selects = " UNION ALL ".join(
        f"SELECT doc_id, {i} AS blk, substr(bs, {start + 1}, {ln}) AS bstr "
        f"FROM fp"
        for i, (start, ln) in enumerate(bounds)
    )
    ham = (
        f"CAST(list_sum(list_transform(generate_series(1, {bits}), "
        f"i -> CASE WHEN substr(fa.bs, i, 1) <> substr(fb.bs, i, 1) "
        f"THEN 1 ELSE 0 END)) AS INT)"
    )
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 100000 AS doc_id, text || ' extra token' AS text
      FROM documents WHERE doc_id % 10 = 0
    ), toks AS (
      SELECT doc_id, t AS tok
      FROM (SELECT doc_id, unnest(str_split(lower(text), ' ')) AS t
            FROM corpus)
      WHERE t <> ''
    ), h AS (
      SELECT doc_id, md5(tok) AS hx FROM toks
    ), sums AS (
      SELECT doc_id, {bit_sums} FROM h GROUP BY doc_id
    ), fp AS (
      SELECT c.doc_id, COALESCE({bitstr}, '{"0" * bits}') AS bs
      FROM corpus c LEFT JOIN sums s USING (doc_id)
    ), blocks AS (
      {block_selects}
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM blocks a JOIN blocks b
        ON a.blk = b.blk AND a.bstr = b.bstr AND a.doc_id < b.doc_id
    )
    SELECT c.id_a, c.id_b, {ham} AS hamming
    FROM cand c
    JOIN fp fa ON fa.doc_id = c.id_a
    JOIN fp fb ON fb.doc_id = c.id_b
    WHERE {ham} <= {max_hamming}
    """


_MULTIMODAL_VIDEO_ORACLE = """
SELECT doc_id,
  CASE WHEN doc_id % 10 = 9 THEN 'unknown' ELSE 'mp4' END AS format,
  CASE WHEN doc_id % 10 = 9 THEN NULL
       WHEN doc_id % 3 = 0 THEN 'isom'
       WHEN doc_id % 3 = 1 THEN 'mp42'
       ELSE 'avc1' END AS major_brand,
  CASE WHEN doc_id % 10 = 9 THEN NULL
       ELSE CAST(doc_id % 100 AS BIGINT) END AS minor_version,
  CASE WHEN doc_id % 10 = 9 THEN NULL ELSE doc_id % 7 != 3 END AS has_moov,
  CASE WHEN doc_id % 10 = 9 THEN NULL ELSE doc_id % 5 != 4 END AS has_mdat
FROM documents
"""


def _pii_oracle() -> str:
    from whylogs_java_spark.operators.text import PII_PATTERNS

    def cnt(pat: str) -> str:
        esc = pat.replace("'", "''")
        return f"len(regexp_extract_all(text, '{esc}'))"

    cols = ", ".join(
        f"CAST({cnt(p)} AS INT) AS n_{n}" for n, p in PII_PATTERNS.items()
    )
    has = " OR ".join(
        f"{cnt(PII_PATTERNS[n])} > 0" for n in ("email", "ipv4", "phone")
    )
    return f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 200000 AS doc_id,
             text || ' contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or 10.0.' || CAST(doc_id % 256 AS VARCHAR)
                  || '.1 ref 123456789' AS text
      FROM documents WHERE doc_id % 25 = 0
    )
    SELECT doc_id, {cols}, ({has}) AS has_pii FROM corpus
    """


_ASOF_ORACLE = """
WITH views AS (
  SELECT user_id, ts, MAX(value) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
)
SELECT p.event_id, p.user_id, p.ts,
       ROUND(p.value, 6) + 0.0 AS value,
       v.ts AS view_ts,
       ROUND(v.view_value, 6) + 0.0 AS view_value
FROM purchases p
ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts >= v.ts
"""

def _kmeans_oracle(k: int = 4) -> str:
    """DuckDB twin of kmeans_assign(k, n_iter=1): md5-seeded centroids,
    one exact-integer centroid update, final fold-deterministic
    assignment. list MIN([dist, cid]) replays the lowest-cid tie rule."""

    def dist(vexpr: str, cexpr: str) -> str:
        return _fold_sum(
            f"list_transform(generate_series(1, len({vexpr})), "
            f"i -> ({vexpr}[i] - {cexpr}[i]) * ({vexpr}[i] - {cexpr}[i]))"
        )

    return f"""
WITH emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
  WHERE embedding IS NOT NULL AND len(embedding) > 0
),
seed_order AS (
  SELECT v, row_number() OVER (
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
  FROM (SELECT * FROM emb
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})
),
a0 AS (
  SELECT e.vec_id, e.v,
         CAST(MIN([{dist('e.v', 's.v')}, CAST(s.cid AS DOUBLE)])[2] AS INT)
           AS cid
  FROM emb e CROSS JOIN seed_order s GROUP BY e.vec_id, e.v
),
c1dims AS (
  SELECT cid, pos,
         (CAST(SUM(CAST(FLOOR(v[pos] * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
          / COUNT(*)) / 1000000 AS comp
  FROM a0, LATERAL (SELECT unnest(generate_series(1, len(v))) AS pos) u
  GROUP BY cid, pos
),
c1v AS (SELECT cid, list(comp ORDER BY pos) AS c FROM c1dims GROUP BY cid),
c1 AS (
  SELECT s.cid, COALESCE(n.c, s.v) AS c
  FROM seed_order s LEFT JOIN c1v n ON s.cid = n.cid
)
SELECT e.vec_id,
       CAST(MIN([{dist('e.v', 's.c')}, CAST(s.cid AS DOUBLE)])[2] AS INT)
         AS cluster,
       ROUND(MIN([{dist('e.v', 's.c')}, CAST(s.cid AS DOUBLE)])[1], 6) + 0.0
         AS dist
FROM emb e CROSS JOIN c1 s GROUP BY e.vec_id, e.v
"""


def _semantic_dedup_oracle(
    threshold: float = 0.9, k: int = 4, as_clusters: bool = False
) -> str:
    """DuckDB twin of semantic_dedup_pairs on the mutated corpus: the
    _kmeans_oracle iteration replayed over the corpus CTE, pairs within
    a cluster, fold cosine. ``as_clusters`` wraps the pairs in the
    recursive-CTE reachability fixpoint (the dedup_clusters pattern) to
    twin ``semantic_dedup``'s (vec_id, cluster_id, is_survivor)."""

    def dist(vexpr: str, cexpr: str) -> str:
        return _fold_sum(
            f"list_transform(generate_series(1, len({vexpr})), "
            f"i -> ({vexpr}[i] - {cexpr}[i]) * ({vexpr}[i] - {cexpr}[i]))"
        )

    dp = _fold_sum(
        "list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])"
    )
    tail = f"""
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cluster,
       ROUND({dp} / (a.n * b.n), 6) + 0.0 AS cosine
FROM afinal a JOIN afinal b
  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE ROUND({dp} / (a.n * b.n), 6) + 0.0 >= {threshold}
"""
    if as_clusters:
        tail = f""",
pairs AS (
{tail}
),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b AS src, id_a AS dst FROM pairs
),
reach(id, r) AS (
  SELECT vec_id, vec_id FROM emb
  UNION
  SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
)
SELECT id AS vec_id, MIN(r) AS cluster_id, MIN(r) = id AS is_survivor
FROM reach GROUP BY id
"""
    return f"""
WITH RECURSIVE corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 100000 AS vec_id,
         list_transform(embedding,
           x -> CAST(CAST(x AS DOUBLE) * CAST(0.9 AS DOUBLE)
                     + CAST(0.01 AS DOUBLE) AS FLOAT)) AS embedding
  FROM embeddings WHERE vec_id % 10 = 0
),
emb AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM corpus WHERE embedding IS NOT NULL AND len(embedding) > 0
),
seed_order AS (
  SELECT v, row_number() OVER (
    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid
  FROM (SELECT * FROM emb
        ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k})
),
a0 AS (
  SELECT e.vec_id, e.v,
         CAST(MIN([{dist('e.v', 's.v')}, CAST(s.cid AS DOUBLE)])[2] AS INT)
           AS cid
  FROM emb e CROSS JOIN seed_order s GROUP BY e.vec_id, e.v
),
c1dims AS (
  SELECT cid, pos,
         (CAST(SUM(CAST(FLOOR(v[pos] * 1000000 + 0.5) AS BIGINT)) AS DOUBLE)
          / COUNT(*)) / 1000000 AS comp
  FROM a0, LATERAL (SELECT unnest(generate_series(1, len(v))) AS pos) u
  GROUP BY cid, pos
),
c1v AS (SELECT cid, list(comp ORDER BY pos) AS c FROM c1dims GROUP BY cid),
c1 AS (
  SELECT s.cid, COALESCE(n.c, s.v) AS c
  FROM seed_order s LEFT JOIN c1v n ON s.cid = n.cid
),
afinal AS (
  SELECT e.vec_id, e.v,
         CAST(MIN([{dist('e.v', 's.c')}, CAST(s.cid AS DOUBLE)])[2] AS INT)
           AS cluster,
         SQRT({_fold_sum("list_transform(e.v, x -> x * x)")}) AS n
  FROM emb e CROSS JOIN c1 s GROUP BY e.vec_id, e.v
){tail}"""


_TOPK_DRIFT_ORACLE = """
WITH ha AS (SELECT * FROM part WHERE p_partkey % 2 = 0),
hb AS (SELECT * FROM part WHERE p_partkey % 2 = 1),
ca AS (
  SELECT substr(CAST(p_brand AS VARCHAR), 1, 256) AS value, COUNT(*) AS c
  FROM ha WHERE p_brand IS NOT NULL GROUP BY 1
),
cb AS (
  SELECT substr(CAST(p_brand AS VARCHAR), 1, 256) AS value, COUNT(*) AS c
  FROM hb WHERE p_brand IS NOT NULL GROUP BY 1
),
ra AS (
  SELECT value, c, ROW_NUMBER() OVER (ORDER BY c DESC, value ASC) AS r
  FROM ca
),
rb AS (
  SELECT value, c, ROW_NUMBER() OVER (ORDER BY c DESC, value ASC) AS r
  FROM cb
),
ta AS (SELECT COUNT(p_brand) AS tot FROM ha),
tb AS (SELECT COUNT(p_brand) AS tot FROM hb),
j AS (
  SELECT COALESCE(a.value, b.value) AS value,
         a.c AS count_a, b.c AS count_b, a.r AS rank_a, b.r AS rank_b
  FROM (SELECT * FROM ra WHERE r <= 10) a
  FULL JOIN (SELECT * FROM rb WHERE r <= 10) b ON a.value = b.value
)
SELECT 'p_brand' AS column_name, value, count_a, count_b, rank_a, rank_b,
       ROUND(count_a * 1.0 / ta.tot, 6) + 0.0 AS freq_a,
       ROUND(count_b * 1.0 / tb.tot, 6) + 0.0 AS freq_b,
       ROUND(count_b * 1.0 / tb.tot - count_a * 1.0 / ta.tot, 6) + 0.0
         AS freq_delta,
       CASE WHEN rank_a IS NULL THEN 'new'
            WHEN rank_b IS NULL THEN 'vanished'
            WHEN rank_a != rank_b THEN 'moved'
            ELSE 'stable' END AS status
FROM j CROSS JOIN ta CROSS JOIN tb
"""


_ROLLING_TOPK_ORACLE = """
WITH counts AS (
  SELECT CAST(ts AS DATE) AS day, CAST(user_id AS VARCHAR) AS value,
         COUNT(*) AS n
  FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY day ORDER BY n DESC, value ASC) AS r
  FROM counts
),
top AS (SELECT * FROM ranked WHERE r <= 10),
cur AS (SELECT day, value, n AS count_cur, r AS rank_cur FROM top),
prev AS (SELECT day + 1 AS day, value, n AS count_prev, r AS rank_prev
         FROM top),
days AS (
  SELECT c.day FROM (SELECT DISTINCT day FROM cur) c
  JOIN (SELECT DISTINCT day FROM prev) p ON c.day = p.day
),
j AS (
  SELECT COALESCE(c.day, p.day) AS day, COALESCE(c.value, p.value) AS value,
         c.count_cur, p.count_prev, c.rank_cur, p.rank_prev
  FROM cur c FULL JOIN prev p ON c.day = p.day AND c.value = p.value
)
SELECT j.day, 'user_id' AS column_name, j.value, j.count_cur, j.count_prev,
       j.rank_cur, j.rank_prev,
       CASE WHEN j.rank_prev IS NULL THEN 'new'
            WHEN j.rank_cur IS NULL THEN 'vanished'
            WHEN j.rank_cur != j.rank_prev THEN 'moved'
            ELSE 'stable' END AS status
FROM j JOIN days d ON j.day = d.day
"""


def _monitor_oracle(window: int = 7, z: float = 2.0, min_obs: int = 3) -> str:
    """Monitor oracle: the generated daily-profile SQL in a CTE, then
    the same exact-integer trailing-window moments."""
    from whylogs_java_spark.plans.oracle import profile_oracle_sql

    prof = profile_oracle_sql("events", time_column="ts", time_granularity="day")
    return f"""
WITH store AS (
{prof}
),
s AS (
  SELECT dataset_timestamp, column_name, mean,
         CAST(FLOOR(mean * 1000000 + 0.5) AS BIGINT) AS xi
  FROM store WHERE column_name = 'value'
),
calc AS (
  SELECT dataset_timestamp, column_name, mean,
         COUNT(xi) OVER win AS n,
         -- frame values for the SHIFTED trailing variance (r12 —
         -- operators/monitor.py): pivot = frame min (exact BIGINT),
         -- deviations exact BIGINT, squares + left-fold sums in double
         -- with the identical order as Spark's F.aggregate fold, so
         -- values hash-match bit-for-bit at EVERY metric magnitude
         list(xi) FILTER (WHERE xi IS NOT NULL) OVER win AS l
  FROM s
  WINDOW win AS (PARTITION BY column_name
                 ORDER BY dataset_timestamp, mean ASC NULLS FIRST
                 ROWS BETWEEN {window} PRECEDING AND 1 PRECEDING)
),
shifted AS (
  SELECT dataset_timestamp, column_name, mean, n,
         CAST(list_min(l) AS DOUBLE) AS piv,
         CASE WHEN n > 0 THEN list_transform(
           l, e -> CAST(e - list_min(l) AS DOUBLE)
         ) END AS dev
  FROM calc
),
m AS (
  SELECT dataset_timestamp, column_name, mean, n,
         CASE WHEN n > 0 THEN
           (piv + list_reduce(dev, (a, b) -> a + b) / n) / 1000000
         END AS tmean,
         CASE WHEN n > 0 THEN SQRT(GREATEST((
           list_reduce(list_transform(dev, d -> d * d), (a, b) -> a + b) / n
           - (list_reduce(dev, (a, b) -> a + b) / n)
             * (list_reduce(dev, (a, b) -> a + b) / n))
           / 1000000000000.0, 0.0)) END AS tstd
  FROM shifted
)
SELECT dataset_timestamp, column_name,
       ROUND(mean, 6) + 0.0 AS value,
       n AS trailing_n,
       CASE WHEN n >= {min_obs} THEN ROUND(tmean, 6) + 0.0 END
         AS trailing_mean,
       CASE WHEN n >= {min_obs} THEN ROUND(tstd, 6) + 0.0 END
         AS trailing_std,
       CASE WHEN n >= {min_obs}
            THEN ROUND(ABS(mean - tmean) / NULLIF(tstd, 0), 6) + 0.0 END
         AS zscore,
       COALESCE(CASE WHEN n >= {min_obs}
                     THEN ABS(mean - tmean) > {z} * tstd END, FALSE)
         AS is_anomaly
FROM m
"""


def _constraints_oracle() -> str:
    """Constraints oracle: the SAME global-profile SQL in a CTE, rules
    as VALUES (generated from _CONSTRAINT_RULES so the two sides can
    never drift), CASE-evaluated per rule."""
    from whylogs_java_spark.plans.oracle import profile_oracle_sql

    vals = ",\n    ".join(
        f"({i}, '{c}', '{m}', '{op}', '{t}')"
        for i, (c, m, op, t) in enumerate(_CONSTRAINT_RULES)
    )
    return f"""
WITH prof AS (
{profile_oracle_sql("lineitem")}
),
rules(rule_id, column_name, metric, op, threshold) AS (
  VALUES
    {vals}
),
j AS (
  SELECT r.rule_id, r.column_name, r.metric, r.op, r.threshold,
         ROUND(CASE r.metric
            WHEN 'null_rate' THEN p.null_count * 1.0 / p.count
            WHEN 'count' THEN p.count * 1.0
            WHEN 'min' THEN p.min
            WHEN 'max' THEN p.max
            WHEN 'mean' THEN p.mean
            WHEN 'stddev' THEN p.stddev
         END, 6) + 0.0 AS observed_num,
         CASE WHEN r.metric = 'inferred_type' THEN p.inferred_type
         END AS observed_str
  FROM rules r LEFT JOIN prof p ON p.column_name = r.column_name
)
SELECT rule_id, column_name, metric, op, threshold, observed_num,
       observed_str,
       COALESCE(CASE WHEN metric = 'inferred_type'
             THEN CASE op WHEN '==' THEN observed_str = threshold
                          WHEN '!=' THEN observed_str <> threshold END
             ELSE CASE op
                WHEN '<=' THEN observed_num <= CAST(threshold AS DOUBLE)
                WHEN '<'  THEN observed_num <  CAST(threshold AS DOUBLE)
                WHEN '>=' THEN observed_num >= CAST(threshold AS DOUBLE)
                WHEN '>'  THEN observed_num >  CAST(threshold AS DOUBLE)
                WHEN '==' THEN observed_num =  CAST(threshold AS DOUBLE)
                WHEN '!=' THEN observed_num <> CAST(threshold AS DOUBLE) END
        END, FALSE) AS passed
FROM j
"""


_ASOF_NEAREST_ORACLE = """
WITH views AS (
  SELECT user_id, ts, MAX(value) AS view_value
  FROM events WHERE event_type = 'view' GROUP BY 1, 2
),
purchases AS (
  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
),
b AS (
  SELECT p.event_id, v.ts AS bts, v.view_value AS bval
  FROM purchases p
  ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts >= v.ts
),
f AS (
  SELECT p.event_id, v.ts AS fts, v.view_value AS fval
  FROM purchases p
  ASOF LEFT JOIN views v ON p.user_id = v.user_id AND p.ts <= v.ts
)
SELECT p.event_id, p.user_id, p.ts,
       ROUND(p.value, 6) + 0.0 AS value,
       CASE
         WHEN b.bts IS NULL THEN f.fts
         WHEN f.fts IS NULL THEN b.bts
         WHEN (p.ts - b.bts) <= (f.fts - p.ts) THEN b.bts
         ELSE f.fts
       END AS view_ts,
       ROUND(CASE
         WHEN b.bts IS NULL THEN f.fval
         WHEN f.fts IS NULL THEN b.bval
         WHEN (p.ts - b.bts) <= (f.fts - p.ts) THEN b.bval
         ELSE f.fval
       END, 6) + 0.0 AS view_value
FROM purchases p
JOIN b ON p.event_id = b.event_id
JOIN f ON p.event_id = f.event_id
"""

_OVERLAP_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_linenumber,
         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS lo,
         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
           + CAST(l_quantity AS INT) AS hi
  FROM lineitem
)
SELECT a.l_orderkey, a.l_linenumber AS a_line, b.l_linenumber AS b_line,
       LEAST(a.hi, b.hi) - GREATEST(a.lo, b.lo) + 1 AS overlap_days
FROM li a JOIN li b
  ON a.l_orderkey = b.l_orderkey AND a.l_linenumber < b.l_linenumber
 AND a.lo <= b.hi AND b.lo <= a.hi
"""

_RANGE_BANDS_ORACLE = """
WITH bands AS (
  SELECT i AS band_id, 900.0 + 10.0 * i AS lo, 910.0 + 10.0 * i AS hi
  FROM range(10) t(i)
)
SELECT p.p_partkey, ROUND(p.p_retailprice, 6) + 0.0 AS price, b.band_id
FROM part p JOIN bands b
  ON p.p_retailprice >= b.lo AND p.p_retailprice < b.hi
"""


_WEIGHTED_SAMPLE_ORACLE = """
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars, ROW_NUMBER() OVER (
    PARTITION BY lang
    ORDER BY ROUND(
      LN((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 1)
         / 1152921504606846976.0) / CAST(n_chars AS DOUBLE), 6) DESC,
      doc_id ASC
  ) AS rk
  FROM documents
  WHERE n_chars IS NOT NULL AND NOT isnan(CAST(n_chars AS DOUBLE)) AND n_chars > 0
) WHERE rk <= 20
"""


def _drift_numeric_oracle() -> str:
    """Replicates operators/drift.numeric_drift exactly: fixed split
    binning, eps=1e-6 PSI smoothing, population stddev, running-sum
    binned CDFs."""
    bin_expr = " + ".join(
        f"(CASE WHEN v >= {s} THEN 1 ELSE 0 END)" for s in _DRIFT_SPLITS
    )
    ok = "v IS NOT NULL AND NOT isnan(v) AND NOT isinf(v)"
    return f"""
WITH a AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
           WHERE ts < TIMESTAMP '{_DRIFT_CUT_TS}'),
b AS (SELECT event_type, CAST(value AS DOUBLE) AS v FROM events
      WHERE ts >= TIMESTAMP '{_DRIFT_CUT_TS}'),
sa AS (SELECT event_type, COUNT(*) AS count_a,
         SUM(CASE WHEN {ok} THEN 0 ELSE 1 END) AS nulls_a,
         AVG(CASE WHEN {ok} THEN v END) AS mean_a,
         STDDEV_POP(CASE WHEN {ok} THEN v END) AS stddev_a
       FROM a GROUP BY 1),
sb AS (SELECT event_type, COUNT(*) AS count_b,
         SUM(CASE WHEN {ok} THEN 0 ELSE 1 END) AS nulls_b,
         AVG(CASE WHEN {ok} THEN v END) AS mean_b,
         STDDEV_POP(CASE WHEN {ok} THEN v END) AS stddev_b
       FROM b GROUP BY 1),
ba AS (SELECT event_type, {bin_expr} AS bin, COUNT(*) AS n_a
       FROM a WHERE {ok} GROUP BY 1, 2),
bb AS (SELECT event_type, {bin_expr} AS bin, COUNT(*) AS n_b
       FROM b WHERE {ok} GROUP BY 1, 2),
bins AS (SELECT event_type, bin, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
         FROM ba FULL OUTER JOIN bb USING (event_type, bin)),
per AS (SELECT event_type,
          GREATEST(COALESCE(n_a * 1.0
            / NULLIF(SUM(n_a) OVER (PARTITION BY event_type), 0), 0), 1e-6) AS pa,
          GREATEST(COALESCE(n_b * 1.0
            / NULLIF(SUM(n_b) OVER (PARTITION BY event_type), 0), 0), 1e-6) AS pb,
          COALESCE(SUM(n_a) OVER (PARTITION BY event_type ORDER BY bin) * 1.0
            / NULLIF(SUM(n_a) OVER (PARTITION BY event_type), 0), 0) AS cum_a,
          COALESCE(SUM(n_b) OVER (PARTITION BY event_type ORDER BY bin) * 1.0
            / NULLIF(SUM(n_b) OVER (PARTITION BY event_type), 0), 0) AS cum_b
        FROM bins),
dr AS (SELECT event_type,
         SUM((pa - pb) * (LN(pa) - LN(pb))) AS psi,
         MAX(ABS(cum_a - cum_b)) AS cdf_linf
       FROM per GROUP BY 1)
SELECT event_type, 'value' AS column_name,
       COALESCE(count_a, 0) AS count_a, COALESCE(count_b, 0) AS count_b,
       ROUND(nulls_a * 1.0 / count_a, 6) + 0.0 AS null_rate_a,
       ROUND(nulls_b * 1.0 / count_b, 6) + 0.0 AS null_rate_b,
       ROUND(mean_a, 6) + 0.0 AS mean_a,
       ROUND(mean_b, 6) + 0.0 AS mean_b,
       ROUND(mean_b - mean_a, 6) + 0.0 AS mean_delta,
       ROUND(stddev_a, 6) + 0.0 AS stddev_a,
       ROUND(stddev_b, 6) + 0.0 AS stddev_b,
       ROUND(psi, 6) + 0.0 AS psi,
       ROUND(cdf_linf, 6) + 0.0 AS cdf_linf
FROM sa FULL OUTER JOIN sb USING (event_type)
LEFT JOIN dr USING (event_type)
"""


def _drift_rolling_oracle() -> str:
    """Replicates operators/drift.rolling_drift: previous-calendar-day
    self-join of per-(day, group, bin) counts, eps-smoothed PSI."""
    bin_expr = " + ".join(
        f"(CASE WHEN v >= {s} THEN 1 ELSE 0 END)" for s in _DRIFT_SPLITS
    )
    return f"""
WITH src AS (
  SELECT CAST(ts AS DATE) AS day, event_type, CAST(value AS DOUBLE) AS v
  FROM events WHERE value IS NOT NULL AND NOT isnan(value) AND NOT isinf(value)
),
binned AS (SELECT day, event_type, {bin_expr} AS bin, COUNT(*) AS n
           FROM src GROUP BY 1, 2, 3),
cur AS (SELECT day, event_type, bin, n AS n_cur FROM binned),
prev AS (SELECT day + 1 AS day, event_type, bin, n AS n_prev FROM binned),
both_days AS (SELECT day, event_type, bin,
              COALESCE(n_cur, 0) AS n_cur, COALESCE(n_prev, 0) AS n_prev
              FROM cur FULL OUTER JOIN prev USING (day, event_type, bin)),
per AS (SELECT day, event_type, n_cur, n_prev,
  GREATEST(COALESCE(n_cur * 1.0 / NULLIF(SUM(n_cur) OVER w, 0), 0), 1e-6) AS pc,
  GREATEST(COALESCE(n_prev * 1.0 / NULLIF(SUM(n_prev) OVER w, 0), 0), 1e-6) AS pp,
  COALESCE(SUM(n_cur) OVER wb * 1.0 / NULLIF(SUM(n_cur) OVER w, 0), 0) AS cum_c,
  COALESCE(SUM(n_prev) OVER wb * 1.0 / NULLIF(SUM(n_prev) OVER w, 0), 0) AS cum_p
  FROM both_days
  WINDOW w AS (PARTITION BY day, event_type),
         wb AS (PARTITION BY day, event_type ORDER BY bin))
SELECT day, event_type, 'value' AS column_name,
       CAST(SUM(n_cur) AS BIGINT) AS count_cur,
       CAST(SUM(n_prev) AS BIGINT) AS count_prev,
       ROUND(SUM((pc - pp) * (LN(pc) - LN(pp))), 6) + 0.0 AS psi,
       ROUND(MAX(ABS(cum_c - cum_p)), 6) + 0.0 AS cdf_linf
FROM per GROUP BY 1, 2
HAVING SUM(n_prev) > 0 AND SUM(n_cur) > 0
"""


def _profile_diff_oracle() -> str:
    """Two generated profile oracles (odd/even order halves) joined per
    column — the diff math mirrors operators/drift.profile_diff."""
    from whylogs_java_spark.plans.oracle import TESTDATA_KINDS

    kinds = TESTDATA_KINDS["lineitem"]
    a_sql = profile_oracle_sql(
        "(SELECT * FROM lineitem WHERE l_orderkey % 2 = 0) la", kinds=kinds
    )
    b_sql = profile_oracle_sql(
        "(SELECT * FROM lineitem WHERE l_orderkey % 2 = 1) lb", kinds=kinds
    )
    return f"""
WITH pa AS ({a_sql}), pb AS ({b_sql})
SELECT pa.column_name,
  pa."count" AS count_a, pb."count" AS count_b,
  ROUND(pb."count" * 1.0 / NULLIF(pa."count", 0), 6) + 0.0 AS count_ratio,
  ROUND(pa.null_count * 1.0 / NULLIF(pa."count", 0), 6) + 0.0 AS null_rate_a,
  ROUND(pb.null_count * 1.0 / NULLIF(pb."count", 0), 6) + 0.0 AS null_rate_b,
  ROUND(pb.null_count * 1.0 / NULLIF(pb."count", 0)
        - pa.null_count * 1.0 / NULLIF(pa."count", 0), 6) + 0.0 AS null_rate_delta,
  (pa.inferred_type IS NOT NULL AND pb.inferred_type IS NOT NULL
   AND pa.inferred_type <> pb.inferred_type) AS type_changed,
  pa.inferred_type AS inferred_type_a, pb.inferred_type AS inferred_type_b,
  ROUND(pb.mean - pa.mean, 6) + 0.0 AS mean_delta,
  ROUND(pb.stddev - pa.stddev, 6) + 0.0 AS stddev_delta,
  ROUND(pb.min - pa.min, 6) + 0.0 AS min_delta,
  ROUND(pb.max - pa.max, 6) + 0.0 AS max_delta
FROM pa JOIN pb USING (column_name)
"""


_DRIFT_CAT_ORACLE = """
WITH a AS (SELECT source, COALESCE(CAST(lang AS VARCHAR), chr(0) || 'null') AS cat
           FROM documents WHERE doc_id % 40 < 20),
b AS (SELECT source, COALESCE(CAST(lang AS VARCHAR), chr(0) || 'null') AS cat
      FROM documents WHERE doc_id % 40 >= 20),
ca AS (SELECT source, cat, COUNT(*) AS n_a FROM a GROUP BY 1, 2),
cb AS (SELECT source, cat, COUNT(*) AS n_b FROM b GROUP BY 1, 2),
both_sides AS (SELECT source, cat, COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
               FROM ca FULL OUTER JOIN cb USING (source, cat)),
per AS (SELECT source,
          n_a * 1.0 / SUM(n_a) OVER (PARTITION BY source) AS pa_raw,
          n_b * 1.0 / SUM(n_b) OVER (PARTITION BY source) AS pb_raw
        FROM both_sides)
SELECT source, 'lang' AS column_name, COUNT(*) AS n_categories,
  ROUND(SUM((GREATEST(pa_raw, 1e-6) - GREATEST(pb_raw, 1e-6))
            * (LN(GREATEST(pa_raw, 1e-6)) - LN(GREATEST(pb_raw, 1e-6)))), 6) + 0.0 AS psi,
  ROUND(SUM(ABS(pa_raw - pb_raw)), 6) + 0.0 AS l1,
  ROUND(MAX(ABS(pa_raw - pb_raw)), 6) + 0.0 AS linf
FROM per GROUP BY 1
"""


def _ann_recall_oracle(k: int = 10, n_queries: int = 20) -> str:
    """DuckDB twin of ann_recall_report: each deterministic tier's full
    oracle SQL is composed as a subquery, joined against the exact
    brute-force top-k, and reduced to the same (tier, recall,
    mean_rank_disp) rows — the recall numbers themselves are
    hash-checked, not just the tier outputs."""
    exact = _similarity_oracle(k=k, query_ids=range(n_queries))
    tiers = {
        "ivf_md5": _similarity_ivf_oracle(k=k, n_queries=n_queries),
        "lsh": _similarity_lsh_oracle(k=k, n_queries=n_queries),
        "pq": _pq_oracle(k=k, query_ids=range(n_queries)),
        "rp": _rp_topk_oracle(k=k, rerank=30, query_ids=range(n_queries)),
    }
    parts = []
    for name in sorted(tiers):
        parts.append(f"""
      SELECT '{name}' AS tier, CAST(COUNT(*) AS BIGINT) AS n_tier,
             CAST(COUNT(e.rank_e) AS BIGINT) AS hits,
             CAST(SUM(ABS(t.rank - e.rank_e)) AS BIGINT) AS sum_disp
      FROM ({tiers[name]}) t
      LEFT JOIN ex e
        ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id""")
    union = "\n      UNION ALL\n".join(parts)
    return f"""
    WITH ex AS (
      SELECT query_id, neighbor_id, rank AS rank_e FROM ({exact})
    ), exstats AS (
      SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
             CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM ex
    ), tiers AS ({union}
    )
    SELECT tier, CAST({k} AS BIGINT) AS k, s.n_queries, s.n_exact,
           t.n_tier, t.hits,
           ROUND(t.hits / s.n_exact, 6) + 0.0 AS recall,
           CASE WHEN t.hits > 0
                THEN ROUND(t.sum_disp / t.hits, 6) + 0.0 END AS mean_rank_disp
    FROM tiers t CROSS JOIN exstats s
    """


def _winnow_fps_cte(src: str, out: str, k: int = 5, window: int = 4) -> str:
    """Winnowing selection CTE text: distinct (doc_id, print_hash) of
    the ``src`` relation (doc_id, text) — same selection as
    _WINNOW_PAIRS_ORACLE, parameterized for reuse."""
    return f"""{out}_grams AS (
  SELECT doc_id, i - 1 AS pos,
    ('0x' || substr(md5(substr(lower(text), i, {k})), 1, 15))::BIGINT AS h
  FROM {src},
    unnest(range(1, GREATEST(length(lower(text)) - {k} + 1, 0) + 1)) AS u(i)
), {out}_sel AS (
  SELECT doc_id,
    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn,
    COUNT(*) OVER (PARTITION BY doc_id) AS n,
    MIN([h, -pos]) OVER (PARTITION BY doc_id ORDER BY pos
      ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW) AS m
  FROM {out}_grams
), {out} AS (
  SELECT DISTINCT doc_id, m[1] AS print_hash
  FROM {out}_sel WHERE rn >= {window} OR rn = n
)"""


_WINNOW_SCREEN_STORED_ORACLE = f"""
WITH ref AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
), batch AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
  UNION ALL
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0
), {_winnow_fps_cte("ref", "ref_fps")}, {_winnow_fps_cte("batch", "b_fps")},
sizes AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_prints FROM b_fps GROUP BY 1
), shared AS (
  SELECT b.doc_id, r.doc_id AS ref_id, CAST(COUNT(*) AS BIGINT) AS shared
  FROM b_fps b JOIN ref_fps r USING (print_hash)
  GROUP BY 1, 2
), best AS (
  SELECT doc_id, ref_id AS best_ref, shared AS best_shared FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY shared DESC, ref_id ASC) AS rn
    FROM shared
  ) WHERE rn = 1
)
SELECT b.doc_id,
       COALESCE(s.n_prints, 0) AS n_prints,
       best.best_ref,
       COALESCE(best.best_shared, 0) AS best_shared,
       COALESCE(best.best_shared, 0) >= 2 AS flagged
FROM batch b
LEFT JOIN sizes s USING (doc_id)
LEFT JOIN best USING (doc_id)
"""


def _ann_recall_stored_oracle(k: int = 10) -> str:
    """DuckDB twin of ann_recall_stored: each persisted tier is
    bit-identical to its in-memory twin, so the tier oracles compose
    exactly as in _ann_recall_oracle — over the SIM_QUERY_IDS sample
    (the ivfpq stored oracle is pinned to that set)."""
    exact = _similarity_oracle(k=k, query_ids=SIM_QUERY_IDS)
    tiers = {
        "ivf_stored": _similarity_ivf_oracle(
            k=k, n_queries=len(SIM_QUERY_IDS)
        ),
        "ivf_kmeans_stored": _similarity_ivf_kmeans_oracle(
            k=k, n_queries=len(SIM_QUERY_IDS)
        ),
        "ivfpq_stored": _ivfpq_stored_oracle(k=k, nprobe=4, rerank=30),
        "rp_stored": _rp_topk_oracle(
            k=k, out_dim=16, rerank=30, query_ids=SIM_QUERY_IDS
        ),
    }
    parts = []
    for name in sorted(tiers):
        parts.append(f"""
      SELECT '{name}' AS tier, CAST(COUNT(*) AS BIGINT) AS n_tier,
             CAST(COUNT(e.rank_e) AS BIGINT) AS hits,
             CAST(SUM(ABS(t.rank - e.rank_e)) AS BIGINT) AS sum_disp
      FROM ({tiers[name]}) t
      LEFT JOIN ex e
        ON e.query_id = t.query_id AND e.neighbor_id = t.neighbor_id""")
    union = "\n      UNION ALL\n".join(parts)
    return f"""
    WITH ex AS (
      SELECT query_id, neighbor_id, rank AS rank_e FROM ({exact})
    ), exstats AS (
      SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
             CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM ex
    ), tiers AS ({union}
    )
    SELECT tier, CAST({k} AS BIGINT) AS k, s.n_queries, s.n_exact,
           t.n_tier, t.hits,
           ROUND(t.hits / s.n_exact, 6) + 0.0 AS recall,
           CASE WHEN t.hits > 0
                THEN ROUND(t.sum_disp / t.hits, 6) + 0.0 END AS mean_rank_disp
    FROM tiers t CROSS JOIN exstats s
    """


def oracle_sql() -> dict[str, str]:
    return {
        "profile_lineitem": profile_oracle_sql("lineitem", group_by=["l_returnflag"]),
        "profile_events_daily": profile_oracle_sql(
            "events", group_by=["event_type"], time_column="ts", time_granularity="day"
        ),
        "profile_events_hourly": profile_oracle_sql(
            "events", group_by=["event_type"], time_column="ts", time_granularity="hour"
        ),
        # compaction must land exactly on the independently derived
        # daily answer — same oracle as profile_events_daily
        "profile_events_compacted": profile_oracle_sql(
            "events", group_by=["event_type"], time_column="ts", time_granularity="day"
        ),
        "profile_merge": profile_oracle_sql("lineitem", group_by=["l_returnflag"]),
        "profile_orders_global": profile_oracle_sql("orders"),
        # GROUND-TRUTH brackets (r12): n/min/max recomputed natively in
        # DuckDB; the boolean brackets are literal TRUE — the Spark side
        # computes them against Spark's native avg/var_samp/stddev_samp,
        # so an engine deviation beyond tolerance hash-mismatches here
        # (unlike the construction-identical profile oracles above)
        "profile_bigmag": """
    WITH d AS (
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(epoch_us(ts) AS DOUBLE) AS x, 'epoch_us' AS column_name
      FROM events WHERE ts IS NOT NULL
      UNION ALL
      SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(epoch_us(ts) * 1000 AS DOUBLE) AS x, 'epoch_ns'
      FROM events WHERE ts IS NOT NULL
    )
    SELECT day, column_name, CAST(COUNT(x) AS BIGINT) AS n,
           MIN(x) AS "min", MAX(x) AS "max",
           TRUE AS mean_ok, TRUE AS var_ok, TRUE AS stddev_ok,
           TRUE AS var_positive
    FROM d GROUP BY day, column_name
    """,
        "profile_native_bracket": """
    WITH d AS (
      SELECT CAST(l_quantity AS DOUBLE) AS x, 'l_quantity' AS column_name FROM lineitem
      UNION ALL SELECT CAST(l_extendedprice AS DOUBLE), 'l_extendedprice' FROM lineitem
      UNION ALL SELECT CAST(l_discount AS DOUBLE), 'l_discount' FROM lineitem
      UNION ALL SELECT CAST(l_tax AS DOUBLE), 'l_tax' FROM lineitem
    )
    SELECT column_name, CAST(COUNT(x) AS BIGINT) AS n,
           MIN(x) AS "min", MAX(x) AS "max",
           TRUE AS mean_ok, TRUE AS var_ok, TRUE AS stddev_ok
    FROM d GROUP BY column_name
    """,
        "quantiles_lineitem": _quantiles_oracle(),
        "histogram_lineitem": _HISTOGRAM_ORACLE,
        "topk_orders": _TOPK_ORACLE,
        "uniques_lineitem": _UNIQUES_ORACLE,
        "entropy_events": _ENTROPY_ORACLE,
        "confusion_events": _confusion_oracle(),
        "regression_lineitem": _regression_oracle(),
        "dedup_exact_documents": _DEDUP_EXACT_ORACLE,
        "dedup_near_documents": _dedup_near_oracle(),
        "dedup_clusters": _dedup_near_oracle(as_clusters=True),
        "dedup_char_ngram": _dedup_near_oracle(
            shingles_sql=_CHAR_SHINGLES_SQL, threshold=0.7,
            hash_family="banded32",
        ),
        "dedup_simhash": _simhash_oracle(),
        "dedup_simhash_pairs": _simhash_pairs_oracle(),
        "similarity_topk": _similarity_oracle(),
        "similarity_topk_fast": _similarity_oracle(
            k=10, query_ids=list(range(20))
        ),
        "similarity_lsh": _similarity_lsh_oracle(),
        "dedup_embedding_fast": _dedup_embedding_fast_oracle(),
        "langid_documents": _langid_oracle(),
        "quality_documents": _QUALITY_ORACLE,
        # r12 quota/budget/vocab family — the quality CTE is the shared
        # _QUALITY_ORACLE, so the prefer ordering is ground-truth SQL
        "source_cap_documents": f"""
    WITH q AS ( {_QUALITY_ORACLE} ),
    j AS (
      SELECT d.doc_id, d.source, q.quality
      FROM documents d JOIN q USING (doc_id)
    ),
    r AS (
      SELECT doc_id, source, quality,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY COALESCE(quality, '-infinity'::DOUBLE) DESC,
                        doc_id ASC
             ) AS source_rank
      FROM j
    )
    SELECT doc_id, source, quality, CAST(source_rank AS INT) AS source_rank
    FROM r WHERE source_rank <= 12
""",
        "token_budget_documents": f"""
    WITH q AS ( {_QUALITY_ORACLE} ),
    c AS (
      SELECT doc_id, CAST(word_count AS BIGINT) AS word_count, quality,
             SUM(word_count) OVER (
               ORDER BY COALESCE(quality, '-infinity'::DOUBLE) DESC,
                        doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS cum_tokens
      FROM q
    )
    SELECT doc_id, word_count, quality, CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c WHERE cum_tokens <= 15000
""",
        # stored BM25: the SAME ground-truth scoring SQL over lowered
        # text (the index tokenizer lowercases; this corpus is already
        # lowercase, the lower() keeps the oracle honest if that changes)
        "bm25_stored_documents": _BM25_ORACLE.replace(
            "string_split(text, ' ')", "string_split(lower(text), ' ')"
        ),

        "hybrid_search_documents": f"""
    WITH b AS ( {_BM25_ORACLE} ),
    c AS ( {_similarity_oracle(k=10, query_ids=[1, 2, 3, 4])} ),
    ca AS (SELECT query_id, doc_id, 1.0 / (60 + rank) AS contrib FROM b),
    cb AS (SELECT query_id, neighbor_id AS doc_id, 1.0 / (60 + rank) AS contrib FROM c),
    fused AS (
      SELECT COALESCE(ca.query_id, cb.query_id) AS query_id,
             COALESCE(ca.doc_id, cb.doc_id) AS doc_id,
             ROUND(COALESCE(ca.contrib, 0) + COALESCE(cb.contrib, 0), 6) + 0.0 AS rrf_score
      FROM ca FULL OUTER JOIN cb
        ON ca.query_id = cb.query_id AND ca.doc_id = cb.doc_id
    ),
    ranked AS (
      SELECT query_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC
             ) AS BIGINT) AS rank,
             doc_id, rrf_score
      FROM fused
    )
    SELECT query_id, rank, doc_id, rrf_score FROM ranked WHERE rank <= 10
""",

        "phrases_canary_documents": """
    WITH t AS (
      SELECT doc_id,
             list_filter(str_split(lower(text), ' '), x -> x != '') AS toks
      FROM documents
    ), c AS (
    SELECT doc_id, 'hash join' AS phrase,
           CAST(COALESCE(list_sum(list_transform(
             range(1, greatest(len(toks) - 1, 0) + 1),
             i -> CASE WHEN toks[i+0] = 'hash' AND toks[i+1] = 'join' THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_matches
    FROM t
    UNION ALL
    SELECT doc_id, 'sort merge' AS phrase,
           CAST(COALESCE(list_sum(list_transform(
             range(1, greatest(len(toks) - 1, 0) + 1),
             i -> CASE WHEN toks[i+0] = 'sort' AND toks[i+1] = 'merge' THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_matches
    FROM t
    UNION ALL
    SELECT doc_id, 'window agg' AS phrase,
           CAST(COALESCE(list_sum(list_transform(
             range(1, greatest(len(toks) - 1, 0) + 1),
             i -> CASE WHEN toks[i+0] = 'window' AND toks[i+1] = 'agg' THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_matches
    FROM t
    UNION ALL
    SELECT doc_id, 'slow scan' AS phrase,
           CAST(COALESCE(list_sum(list_transform(
             range(1, greatest(len(toks) - 1, 0) + 1),
             i -> CASE WHEN toks[i+0] = 'slow' AND toks[i+1] = 'scan' THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_matches
    FROM t
    )
    SELECT doc_id, phrase, n_matches FROM c WHERE n_matches >= 1
""",
        "phrase_search_documents": """
    WITH t AS (
      SELECT doc_id,
             list_filter(str_split(lower(text), ' '), x -> x != '') AS toks
      FROM documents
    ), c AS (
      SELECT doc_id,
             CAST(COALESCE(list_sum(list_transform(
               range(1, greatest(len(toks) - 1, 0) + 1),
               i -> CASE WHEN toks[i] = 'hash' AND toks[i+1] = 'join'
                    THEN 1 ELSE 0 END)), 0) AS BIGINT) AS n_matches
      FROM t
    )
    SELECT doc_id, n_matches FROM c WHERE n_matches >= 1
""",
        "vocab_oov_documents": """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(str_split(lower(text), ' '), t -> t != '')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok FROM toks GROUP BY tok ORDER BY COUNT(*) DESC, tok LIMIT 64
    ), per AS (
      SELECT t.doc_id, COUNT(*) AS n_tokens,
             SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS n_oov
      FROM toks t LEFT JOIN vocab v USING (tok) GROUP BY t.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
           CAST(COALESCE(p.n_oov, 0) AS BIGINT) AS n_oov,
           CASE WHEN p.n_tokens > 0
                THEN ROUND(CAST(p.n_oov AS DOUBLE) / p.n_tokens, 6) + 0.0
           END AS oov_rate
    FROM documents d LEFT JOIN per p USING (doc_id)
""",
        "fingerprint_documents": _FINGERPRINT_ORACLE,
        "tokens_documents": _TOKENS_ORACLE,
        "charpos_documents": _charpos_oracle(),
        # sketch-tier BRACKET oracles: the booleans are computed entirely
        # in Spark (estimate vs exact, both engine-side); the oracle
        # asserts the literal TRUE shape plus the SQL-computable exact
        # counts — a sketch regression flips a hash-checked row
        "uniques_lineitem_sketch": """
    WITH ex AS (
      SELECT 'l_orderkey' AS column_name,
             CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_unique
      FROM lineitem
      UNION ALL
      SELECT 'l_partkey', CAST(COUNT(DISTINCT l_partkey) AS BIGINT) FROM lineitem
      UNION ALL
      SELECT 'l_suppkey', CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) FROM lineitem
      UNION ALL
      SELECT 'l_returnflag', CAST(COUNT(DISTINCT l_returnflag) AS BIGINT) FROM lineitem
    )
    SELECT column_name, exact_unique, TRUE AS within_3rsd FROM ex
    """,
        "quantiles_lineitem_sketch": f"""
    SELECT r.l_returnflag, c.column_name, q.quantile, TRUE AS within_rank_eps
    FROM (SELECT DISTINCT l_returnflag FROM lineitem) r
    CROSS JOIN (VALUES ('l_quantity'), ('l_extendedprice'), ('l_discount'))
      AS c(column_name)
    CROSS JOIN (VALUES {", ".join(f"(CAST({q} AS DOUBLE))" for q in QUANTILES)})
      AS q(quantile)
    """,
        "sketch_summary_lineitem": """
    WITH g AS (
      SELECT l_returnflag,
             CAST(COUNT(DISTINCT l_quantity) AS BIGINT) AS u_q,
             CAST(COUNT(DISTINCT l_extendedprice) AS BIGINT) AS u_e
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag, 'l_quantity' AS column_name, u_q AS exact_distinct,
           TRUE AS theta_in_own_bounds, TRUE AS theta_within_3rse,
           TRUE AS hll_within_3rsd, TRUE AS median_within_rank_eps
    FROM g
    UNION ALL
    SELECT l_returnflag, 'l_extendedprice', u_e, TRUE, TRUE, TRUE, TRUE FROM g
    """,
        "similarity_ivf": """
    SELECT vec_id AS query_id,
           TRUE AS top1_not_above_exact,
           TRUE AS top1_quality_floor,
           TRUE AS top10_hit_in_top10
    FROM embeddings
    WHERE vec_id < 20
      AND list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) > 0
    """,
        "profile_coerced": profile_oracle_sql(
            f"(SELECT {_COERCE_VALUE_SQL} AS v FROM lineitem) coerced_src",
            kinds={"v": "string"},
            null_strings=["NA"],
            coerce_strings=True,
        ),
        "dedup_embedding": _dedup_embedding_oracle(),
        "dedup_embedding_bucketed": _dedup_embedding_bucketed_oracle(),
        "weighted_entropy_events": _WEIGHTED_ENTROPY_ORACLE,
        "cube_lineitem": _cube_oracle(),
        "multimodal_meta": _MULTIMODAL_ORACLE,
        "profile_customer": profile_oracle_sql("customer", group_by=["c_mktsegment"]),
        "topk_part_brand": """
            WITH counts AS (
              SELECT substr(CAST(p_brand AS VARCHAR), 1, 256) AS value,
                     COUNT(*) AS "count"
              FROM part GROUP BY 1
            ), ranked AS (
              SELECT *, ROW_NUMBER() OVER (ORDER BY "count" DESC, value ASC) AS rank
              FROM counts
            )
            SELECT 'p_brand' AS column_name, value, "count", rank
            FROM ranked WHERE rank <= 128
        """,
        "similarity_ivf_md5": _similarity_ivf_oracle(),
        # profile_diff_sketch BRACKET oracle: counts are exact-tracked
        # in KLL (value-hashed); sketch-score booleans asserted TRUE
        "profile_diff_sketch": """
    SELECT c.column_name,
           CAST(COUNT(CASE WHEN l_orderkey % 2 = 0 THEN v END) AS BIGINT) AS count_a,
           CAST(COUNT(CASE WHEN l_orderkey % 2 = 1 THEN v END) AS BIGINT) AS count_b,
           TRUE AS cdf_linf_within, TRUE AS psi_within,
           TRUE AS median_a_within, TRUE AS median_b_within
    FROM (
      SELECT l_orderkey, 'l_quantity' AS column_name, l_quantity AS v FROM lineitem
      UNION ALL
      SELECT l_orderkey, 'l_extendedprice', l_extendedprice FROM lineitem
      UNION ALL
      SELECT l_orderkey, 'l_discount', l_discount FROM lineitem
      UNION ALL
      SELECT l_orderkey, 'l_tax', l_tax FROM lineitem
    ) c
    GROUP BY c.column_name
    """,
        "sessions_events": _SESSIONS_ORACLE,
        "repetition_documents": _REPETITION_ORACLE,
        "lm_score_documents": _LM_SCORE_ORACLE,
        "lm_score3_documents": _LM_SCORE3_ORACLE,
        "lm_score3_kn_documents": _LM_SCORE3_KN_ORACLE,
        "lm_score3_kn_stored_documents": _LM_SCORE3_KN_ORACLE,
        "ccnet_buckets_documents": _CCNET_BUCKETS_ORACLE,
        "c4_filter_documents": _C4_FILTER_ORACLE,
        "bpe_merges_documents": _bpe_oracle(),
        "bpe_merges_census_documents": _bpe_oracle(),
        "sample_documents": _sample_oracle(),
        "sample_topk_documents": _SAMPLE_TOPK_ORACLE,
        "dedup_containment": _dedup_near_oracle(threshold=0.9, containment=True),
        "dedup_containment_fragment": _containment_fragment_oracle(),
        "pii_documents": _pii_oracle(),
        "encoding_documents": _encoding_oracle(),
        "multimodal_audio": _MULTIMODAL_AUDIO_ORACLE,
        "multimodal_video": _MULTIMODAL_VIDEO_ORACLE,
        # zlib BRACKET: sizes are build-dependent, but the octet length
        # is exact SQL and the bound/monotonicity booleans are engine-
        # computed facts the oracle pins as literal TRUE (NULL text ->
        # NULL verdicts, mirrored)
        "compression_documents": """
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS raw_bytes,
           CASE WHEN text IS NULL THEN NULL ELSE TRUE END AS z_upper_ok,
           CASE WHEN text IS NULL THEN NULL ELSE TRUE END AS z_lower_ok,
           CASE WHEN text IS NULL THEN NULL ELSE TRUE END AS rep3_ok,
           CASE WHEN text IS NULL THEN NULL ELSE TRUE END AS rep3_gain_ok
    FROM documents
    """,
        # golden-fixture BRACKET: exact constants are the reference's own
        # test expectations (DatasetProfileTest pins; session ids/counts
        # recorded from the golden binaries), booleans are invariants
        # computed over every parsed column
        "profile_wire_fixture": """
    SELECT * FROM (VALUES
      ('profiles-1.bin', CAST(104 AS BIGINT), TRUE, TRUE,
       '889f8b4c-e5de-411b-ac1f-93d35ca02a1c',
       CAST(1609910305301 AS BIGINT),
       'home_ownership', CAST(64969 AS BIGINT), TRUE),
      ('python_profile.bin', CAST(105 AS BIGINT), TRUE, TRUE,
       'd78c144f-a15a-4fd2-b1f6-11410afb55b1',
       CAST(1608772592814 AS BIGINT),
       'mths_since_recent_revol_delinq', CAST(816777 AS BIGINT), TRUE)
    ) AS t(fixture, n_columns, counts_consistent, minmax_ordered,
           session_id, session_timestamp, pin_col, pin_n, pin_ok)
    """,
        "packing_documents": _PACKING_ORACLE,
        "split_documents": _split_oracle(),
        "split_leakage_safe": _split_leakage_oracle(),
        "blocklist_documents": _blocklist_oracle(),
        "novelty_documents": _NOVELTY_ORACLE,
        "pack_documents": _PACK_ORACLE,
        "rp_embeddings": _rp_oracle(),
        "similarity_rp": _rp_topk_oracle(),
        "dedup_threshold_report": _dedup_threshold_oracle(),
        "dedup_exact_best": _DEDUP_EXACT_BEST_ORACLE,
        "pipeline_manifest_v3": _pipeline_v3_oracle(),
        "pipeline_manifest_v4": _pipeline_v4_oracle(),
        "pipeline_manifest_v5": _pipeline_v5_oracle(),

        "retrieval_eval_documents": f"""
WITH run AS ( {_BM25_ORACLE} ),
qt AS (
  SELECT query_id,
         list_filter(list_distinct(string_split(query_text, ' ')), x -> x <> '') AS terms
  FROM (VALUES (1, 'hash join batch'), (2, 'customer order window'),
               (3, 'stream vector scan filter'), (4, 'spark table group'))
       q(query_id, query_text)
), qrels AS (
  SELECT DISTINCT qt.query_id, d.doc_id
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents) d, qt
  WHERE len(list_filter(qt.terms, t -> list_contains(d.toks, t))) = len(qt.terms)
), n_rel AS (
  SELECT query_id, COUNT(*) AS n_rel FROM qrels GROUP BY 1
), marked AS (
  SELECT run.query_id, run.rank,
         CASE WHEN qrels.doc_id IS NOT NULL THEN 1 ELSE 0 END AS rel
  FROM run LEFT JOIN qrels
    ON run.query_id = qrels.query_id AND run.doc_id = qrels.doc_id
  WHERE run.rank <= 10
), perq AS (
  SELECT query_id,
         SUM(rel) AS hits,
         MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel,
         list_sort(list(rank) FILTER (WHERE rel = 1)) AS relranks
  FROM marked GROUP BY 1
)
SELECT n_rel.query_id,
       CAST(n_rel.n_rel AS BIGINT) AS n_rel,
       CAST(COALESCE(perq.hits, 0) AS BIGINT) AS hits_at_k,
       ROUND(CAST(COALESCE(perq.hits, 0) AS DOUBLE) / 10.0, 6) + 0.0 AS precision_at_k,
       ROUND(CAST(COALESCE(perq.hits, 0) AS DOUBLE) / n_rel.n_rel, 6) + 0.0 AS recall_at_k,
       ROUND(COALESCE(1.0 / CAST(perq.first_rel AS DOUBLE), 0.0), 6) + 0.0 AS mrr,
       ROUND(
         (CASE WHEN perq.relranks IS NULL OR len(perq.relranks) = 0 THEN 0.0
               ELSE list_reduce(
                      list_transform(perq.relranks,
                                     r -> 1.0 / (ln(CAST(r AS DOUBLE) + 1.0) / ln(2.0))),
                      (a, b) -> a + b) END)
         / list_reduce(
             list_transform(generate_series(1, LEAST(n_rel.n_rel, 10)),
                            i -> 1.0 / (ln(CAST(i AS DOUBLE) + 1.0) / ln(2.0))),
             (a, b) -> a + b),
         6) + 0.0 AS ndcg_at_k
FROM n_rel LEFT JOIN perq USING (query_id)
""",
        "similarity_ivfpq_stored": _ivfpq_stored_oracle(),
        # stored IVF probes are bit-identical to ivf_topk_exact (pinned)
        "similarity_ivf_stored": _similarity_ivf_oracle(),
        # append leg: build(half)+append(rest) probes are bit-identical
        # to the full build, which is bit-identical to the unstored
        # screen -- shares dedup_incremental's oracle
        "dedup_incremental_appended": _dedup_near_oracle(
            corpus_sql=_INCREMENTAL_CORPUS_SQL,
            cand_pred="a.doc_id < 100000 AND b.doc_id >= 100000",
        ),
        "decontam_documents": _DECONTAM_ORACLE,
        "decontam_spans_documents": _DECONTAM_SPANS_ORACLE,
        "dedup_segments": _DEDUP_SEGMENTS_ORACLE,
        "dedup_spans_documents": _DEDUP_SPANS_ORACLE,
        "boilerplate_documents": _BOILERPLATE_ORACLE,
        "corpus_report": _corpus_report_oracle(),
        "dedup_incremental": _dedup_near_oracle(
            corpus_sql=_INCREMENTAL_CORPUS_SQL,
            cand_pred="a.doc_id < 100000 AND b.doc_id >= 100000",
        ),
        # the stored probe is bit-identical to the unstored screen by
        # construction (bucket keys are pure functions of band_sig/id),
        # so it shares dedup_incremental's oracle verbatim
        "dedup_incremental_stored": _dedup_near_oracle(
            corpus_sql=_INCREMENTAL_CORPUS_SQL,
            cand_pred="a.doc_id < 100000 AND b.doc_id >= 100000",
        ),
        "quantize_embeddings": _QUANTIZE_ORACLE,
        "pipeline_manifest": _pipeline_manifest_oracle(),
        "asof_events": _ASOF_ORACLE,
        "asof_nearest_events": _ASOF_NEAREST_ORACLE,
        "range_bands": _RANGE_BANDS_ORACLE,
        "overlap_lineitem": _OVERLAP_ORACLE,
        "weighted_sample_documents": _WEIGHTED_SAMPLE_ORACLE,
        "constraints_lineitem": _constraints_oracle(),
        "cluster_embeddings": _kmeans_oracle(),
        # stored-model assignment is bit-identical to training-time
        # assignment (pytest-pinned), so it shares the oracle verbatim
        "cluster_assign_stored": _kmeans_oracle(),
        "cluster_embeddings_k64": _kmeans_oracle(64),
        "dedup_semantic": _semantic_dedup_oracle(k=8),
        "dedup_semantic_k256": _semantic_dedup_oracle(k=256),
        "monitor_events_mean": _monitor_oracle(),
        "rolling_topk_events": _ROLLING_TOPK_ORACLE,
        "topk_drift_part": _TOPK_DRIFT_ORACLE,
        "dedup_semantic_survivors": _semantic_dedup_oracle(k=8, as_clusters=True),
        "drift_events_value": _drift_numeric_oracle(),
        "drift_events_rolling": _drift_rolling_oracle(),
        "canary_hex_key": _CANARY_HEX_KEY_ORACLE,
        "canary_sql_constructs": _CANARY_SQL_CONSTRUCTS_ORACLE,
        "mixture_documents": _mixture_oracle(),
        "prune_embeddings": _prune_oracle(),
        "chunk_documents": _CHUNK_ORACLE,
        "cluster_balanced_sample": _cluster_balanced_oracle(),
        "bm25_documents": _BM25_ORACLE,
        "tfidf_documents": _TFIDF_ORACLE,
        "dsir_documents": _DSIR_ORACLE,
        "knn_eval_embeddings": _knn_eval_oracle(),
        "pii_redact_documents": _pii_redact_oracle(),
        "similarity_pq": _pq_oracle(k=10, m=4, codebook_k=16, rerank=30),
        "ann_recall_embeddings": _ann_recall_oracle(),
        "ann_recall_stored": _ann_recall_stored_oracle(),
        "winnow_screen_stored": _WINNOW_SCREEN_STORED_ORACLE,
        "quality_classifier_documents": _quality_classifier_oracle(
            n_iter=3, lr=1.0
        ),
        "winnow_pairs": _WINNOW_PAIRS_ORACLE,
        "knn_eval_ivf_embeddings": _knn_eval_ivf_oracle(),
        "contamination_report": _CONTAM_REPORT_ORACLE,
        "pipeline_manifest_v2": _manifest_v2_oracle(
            span_gram=8, max_dup=0.9, clf_iter=3, lr=1.0, n_buckets=64,
        ),
        "corpus_overlap": _corpus_overlap_oracle(),
        "drift_embeddings_space": _EMBED_DRIFT_ORACLE,
        "drift_documents_lang": _DRIFT_CAT_ORACLE,
        "profile_diff_lineitem": _profile_diff_oracle(),
    }


def _pipeline_manifest_oracle(
    min_tokens: int = 25,
    max_tokens: int = 95,
    min_cpt: float = 3.5,
    max_cpt: float = 7.5,
) -> str:
    """End-to-end manifest oracle: the composed dedup → decontam →
    quality → split pipeline as ONE DuckDB statement (each stage reuses
    the per-stage oracle formulas)."""
    s1 = f"""
      SELECT d.doc_id, d.text FROM ({_INCREMENTAL_CORPUS_SQL}) d
      JOIN (
        SELECT MIN(doc_id) AS doc_id FROM (
          SELECT doc_id,
                 md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS k
          FROM ({_INCREMENTAL_CORPUS_SQL})
        ) GROUP BY k
      ) s USING (doc_id)
    """
    clusters_sql = _dedup_near_oracle(as_clusters=True, corpus_sql=s1)
    cases, cum = [], 0.0
    for label, frac in SPLIT_SPEC[:-1]:
        cum += frac
        cases.append(
            f"WHEN {_SAMPLE_KEY_SQL} < {int(cum * 1_000_000)} THEN '{label}'"
        )
    split_case = f"CASE {' '.join(cases)} ELSE '{SPLIT_SPEC[-1][0]}' END"
    return f"""
    WITH clusters AS ({clusters_sql}),
    s2 AS (
      SELECT d.doc_id, d.text
      FROM ({s1}) d JOIN clusters c USING (doc_id)
      WHERE c.is_survivor
    ),
    w2 AS (
      SELECT doc_id, text,
             list_filter(string_split(text, ' '), x -> x <> '') AS w
      FROM s2
    ),
    ew AS (
      SELECT array_to_string(w[3:12], ' ') AS etext FROM (
        SELECT list_filter(string_split(text, ' '), x -> x <> '') AS w
        FROM documents WHERE doc_id % 20 = 0)
    ),
    eg AS (
      SELECT DISTINCT md5(array_to_string(ww[i:i+4], ' ')) AS g
      FROM (SELECT list_filter(string_split(etext, ' '), x -> x <> '') AS ww
            FROM ew) t,
           unnest(range(1, len(ww) - 5 + 2)) AS u(i)
      WHERE len(ww) >= 5
    ),
    cg AS (
      SELECT doc_id, md5(array_to_string(w[i:i+4], ' ')) AS g
      FROM w2, unnest(range(1, len(w) - 5 + 2)) AS u(i) WHERE len(w) >= 5
    ),
    hits AS (SELECT DISTINCT cg.doc_id FROM cg JOIN eg ON cg.g = eg.g),
    s4 AS (
      SELECT doc_id FROM w2
      WHERE doc_id NOT IN (SELECT doc_id FROM hits)
        AND len(w) BETWEEN {min_tokens} AND {max_tokens}
        AND length(text) / CAST(len(w) AS DOUBLE)
            BETWEEN {min_cpt} AND {max_cpt}
    )
    SELECT doc_id, {split_case} AS split FROM s4
    """


# int8 quantization table: floor(x + 0.5) (exact in IEEE, unlike round's
# engine-varying half rule), error mean via exact floor(e*1e9) BIGINT sums
_QUANTIZE_ORACLE = """
WITH flat AS (
  SELECT i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS t(i)
), census AS (
  SELECT dim, COUNT(*) AS n, MIN(v) AS vmin, MAX(v) AS vmax,
         (MAX(v) - MIN(v)) / CAST(255 AS DOUBLE) AS scale
  FROM flat GROUP BY dim
), err AS (
  SELECT f.dim, c.n, c.vmin, c.vmax, c.scale,
    CASE WHEN c.scale = 0 THEN CAST(0 AS DOUBLE) ELSE
      ABS(f.v - (c.vmin + LEAST(CAST(255 AS DOUBLE),
        GREATEST(CAST(0 AS DOUBLE),
          FLOOR((f.v - c.vmin) / c.scale + CAST(0.5 AS DOUBLE)))) * c.scale))
    END AS e
  FROM flat f JOIN census c USING (dim)
)
SELECT dim, n, vmin, vmax, ROUND(scale, 6) + 0.0 AS scale,
       ROUND(MAX(e), 6) + 0.0 AS max_abs_err,
       ROUND(SUM(CAST(FLOOR(e * 1000000000.0) AS BIGINT))
             / (n * CAST(1000000000 AS DOUBLE)), 6) + 0.0 AS mean_abs_err
FROM err GROUP BY dim, n, vmin, vmax, scale
"""


_SESSIONS_ORACLE = """
WITH s AS (
  SELECT user_id, ts, event_id, epoch_us(ts) AS us,
         LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), b AS (
  SELECT user_id, ts, event_id, us,
         CASE WHEN prev IS NULL OR us - prev > 1800 * 1000000 THEN 1 ELSE 0 END AS brk
  FROM s
), x AS (
  SELECT user_id, ts,
         CAST(SUM(brk) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - 1 AS BIGINT) AS session_idx
  FROM b
)
SELECT user_id, session_idx,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MIN(ts) AS session_start,
       MAX(ts) AS session_end,
       CAST(FLOOR((epoch_us(MAX(ts)) - epoch_us(MIN(ts))) / 1000000.0) AS BIGINT) AS duration_sec
FROM x GROUP BY 1, 2
"""


def _cube_oracle() -> str:
    atoms = numeric_atom_sql("l_quantity", "q")
    finals = numeric_final_sql("q", "qty_")
    return f"""
    WITH a AS (
      SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS "count", {atoms}
      FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    )
    SELECT l_returnflag, l_linestatus, "count", {finals} FROM a
    """


def _dedup_embedding_oracle(threshold: float = 0.9) -> str:
    dp = _fold_sum(
        "list_transform(generate_series(1, len(a.v)), i -> a.v[i] * b.v[i])"
    )
    return f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000 AS vec_id,
             list_transform(embedding,
               x -> CAST(CAST(x AS DOUBLE) * CAST(0.9 AS DOUBLE)
                         + CAST(0.01 AS DOUBLE) AS FLOAT)) AS embedding
      FROM embeddings WHERE vec_id % 10 = 0
    ), vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM corpus
    ), norms AS (
      SELECT vec_id,
             SQRT({_fold_sum("list_transform(v, x -> x * x)")}) AS n
      FROM vecs
    ), scored AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND({dp} / (na.n * nb.n), 6) + 0.0 AS cosine
      FROM vecs a JOIN vecs b ON a.vec_id < b.vec_id
      JOIN norms na ON na.vec_id = a.vec_id
      JOIN norms nb ON nb.vec_id = b.vec_id
      -- zero-norm vectors excluded (mirrors the engine's __n > 0 guard)
      WHERE na.n > 0 AND nb.n > 0
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {threshold}
    """


# strict left-to-right IEEE double fold — the same 0.0-seeded sequence a
# Spark array aggregate() evaluates, so sums are bit-identical across the
# two engines (shuffled SQL SUMs are order-nondeterministic; folds are not)
def _fold_sum(products: str) -> str:
    return (
        f"list_reduce(list_prepend(0.0::DOUBLE, {products}), "
        "(acc, x) -> acc + x)"
    )


def _dedup_embedding_bucketed_oracle(
    threshold: float = 0.9, planes: int = 4, bands: int = 2
) -> str:
    def sign(p: int) -> str:
        return (
            f"(CASE WHEN ('0x' || substr(md5('p{p}|' || CAST(i - 1 AS VARCHAR)), 1, 1))::INT % 2 = 0 "
            f"THEN 1.0::DOUBLE ELSE -1.0::DOUBLE END)"
        )

    total = planes * bands
    projs = ", ".join(
        _fold_sum(
            f"list_transform(generate_series(1, len(v)), i -> v[i] * {sign(p)})"
        )
        + f" AS proj{p}"
        for p in range(total)
    )

    def bucket(band: int) -> str:
        return " || ".join(
            f"(CASE WHEN proj{band * planes + i} >= 0 THEN '1' ELSE '0' END)"
            for i in range(planes)
        )

    band_sigs = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, {bucket(b)} AS bucket FROM proj"
        for b in range(bands)
    )
    dp = _fold_sum(
        "list_transform(generate_series(1, len(x.v)), i -> x.v[i] * y.v[i])"
    )
    return f"""
    WITH corpus AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 100000 AS vec_id,
             list_transform(embedding,
               x -> CAST(CAST(x AS DOUBLE) * CAST(0.9 AS DOUBLE)
                         + CAST(0.01 AS DOUBLE) AS FLOAT)) AS embedding
      FROM embeddings WHERE vec_id % 10 = 0
    ), vecs AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM corpus
    ), proj AS (
      SELECT vec_id, {projs} FROM vecs
    ), sig AS (
      {band_sigs}
    ), cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.band = b.band AND a.bucket = b.bucket
                           AND a.vec_id < b.vec_id
    ), norms AS (
      SELECT vec_id,
             SQRT({_fold_sum("list_transform(v, x -> x * x)")}) AS n
      FROM vecs
    ), scored AS (
      SELECT c.id_a, c.id_b,
             ROUND({dp} / (na.n * nb.n), 6) + 0.0 AS cosine
      FROM cand c
      JOIN vecs x ON x.vec_id = c.id_a
      JOIN vecs y ON y.vec_id = c.id_b
      JOIN norms na ON na.vec_id = c.id_a
      JOIN norms nb ON nb.vec_id = c.id_b
      -- zero-norm vectors excluded (mirrors the engine's __n > 0 guard)
      WHERE na.n > 0 AND nb.n > 0
    )
    SELECT id_a, id_b, cosine FROM scored WHERE cosine >= {threshold}
    """


_WEIGHTED_ENTROPY_ORACLE = """
WITH t AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM events),
g AS (
  SELECT user_id % 10 AS bucket, event_type, CAST(COUNT(*) AS BIGINT) AS gc
  FROM events GROUP BY 1, 2
), p AS (
  SELECT bucket, gc, gc / SUM(gc) OVER (PARTITION BY bucket) AS p FROM g
), e AS (
  SELECT bucket, -SUM(p * log2(p)) AS entropy,
         SUM(gc) / (SELECT total FROM t) AS weight
  FROM p GROUP BY bucket
)
SELECT ROUND(SUM(entropy * weight), 6) + 0.0 AS weighted_entropy FROM e
"""


def _charpos_oracle() -> str:
    from whylogs_java_spark.operators.charpos import char_pos_sql

    return char_pos_sql("documents", "text", group_by=["lang"])
