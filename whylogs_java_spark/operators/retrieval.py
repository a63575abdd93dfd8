"""BM25 keyword retrieval over a document corpus.

The reference engine has no retrieval surface; this extends the
training-data-pipeline family (retrieval for RAG-style curation,
query-anchored dedup review, contamination triage) the same way the
dedup/similarity operators do: pure DataFrame ops, deterministic
scoring, and every float rounded to 6 decimals BEFORE ranking so the
DuckDB oracle replays rank-for-rank.

Scale shape (100 TB corpus, bounded query set):

- one scan of the corpus -> explode to (doc, term) -> ONE shuffle to
  (doc, term) counts with map-side partial aggregation (the token
  multiset collapses to the per-doc vocabulary, so shuffle rows are
  bounded by docs x distinct-terms-per-doc, far below token count);
- doc length rides the same doc-partitioned exchange via a window sum
  (Spark reuses the (doc, term) hash partitioning: partitionBy(doc) is
  a prefix of the groupBy key only after an explicit repartition; we
  instead derive it with a second groupBy on the already-collapsed tf
  table, which is vocabulary-bounded, then a doc-keyed join of two
  tables co-partitioned by the same key);
- document frequency + IDF is a vocabulary-sized aggregate ->
  broadcast;
- the query side (query_id, term) is tiny by construction ->
  broadcast; the postings join is map-side, touching only rows whose
  term appears in some query (Catalyst pushes the broadcast semi-join
  below the wide tf table);
- final (query, doc) score aggregation shuffles only matched postings;
  top-k per query runs as WindowGroupLimit (rank pushed into the
  shuffle) — never a global sort.

No UDFs anywhere; the whole plan is whole-stage-codegen expressions.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..ckpt import literal_df, materialize, release
from ..stores import read_meta, refuse_known_ids, write_meta
from .text import tokens, ws_lower_tokens

_TOKENIZER = "ws-lower-v1"  # pinned in every text index's meta

__all__ = [
    "append_text_index",
    "bm25_topk",
    "bm25_topk_stored",
    "build_text_index",
    "phrase_counts",
    "phrase_search",
    "phrase_search_many",
    "phrase_search_stored",
    "read_text_index",
    "rrf_fuse",
    "term_stats",
]


def term_stats(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-(doc, term) whitespace-token frequencies with doc length.

    Output: (id, term, tf, dl) — ``dl`` is the total token count of the
    doc (the BM25 length norm), attached via a doc-keyed join of the
    two aggregates derived from the same exploded scan.
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    return tf.join(dl, on=id_col)


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str,
    id_col: str,
    query_col: str = "query_text",
    query_id_col: str = "query_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` BM25 (Robertson/Sparck-Jones) documents per query.

    score(q, d) = sum over distinct query terms t of
        idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    with idf(t) = ln(1 + (N - df + 0.5) / (df + 0.5)).

    Determinism: scores are rounded to 6 decimals BEFORE ranking, ties
    break on ascending doc id, so the ordering (not just the values) is
    stable across engines. Output: (query_id, rank, id, score) — only
    queries with at least one matching document appear.
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dl = tf.groupBy(id_col).agg(F.sum("tf").alias("dl"))
    # corpus constants as a one-row broadcast (never a driver collect)
    corpus = tf.groupBy().agg(
        F.count_distinct(F.col(id_col)).alias("__n_docs"),
        (F.sum("tf") / F.count_distinct(F.col(id_col))).alias("__avgdl"),
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))

    qterms = queries.select(
        F.col(query_id_col),
        F.explode(F.array_distinct(tokens(F.col(query_col)))).alias("term"),
    )

    n = F.col("__n_docs").cast("double")
    idf = F.log(
        F.lit(1.0) + (n - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfv = F.col("tf").cast("double")
    norm = F.lit(float(k1)) * (
        F.lit(1.0 - b) + F.lit(float(b)) * F.col("dl") / F.col("__avgdl")
    )
    contrib = idf * tfv * F.lit(float(k1) + 1.0) / (tfv + norm)

    # broadcast-filter the postings BEFORE the doc-keyed dl join, so the
    # only full-width shuffle joins (matched postings) x (doc lengths)
    # instead of (all postings) x (doc lengths)
    scored = (
        tf.join(F.broadcast(qterms), on="term")
        .join(F.broadcast(dfreq), on="term")
        .join(dl, on=id_col)
        .crossJoin(F.broadcast(corpus))
        .groupBy(query_id_col, id_col)
        .agg((F.round(F.sum(contrib), 6) + F.lit(0.0)).alias("score"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("score"), F.asc(id_col)
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= F.lit(int(k)))
        .select(query_id_col, "rank", id_col, "score")
    )


def phrase_counts(text: Column, words: list[str]) -> Column:
    """Overlap-aware count of exact token-adjacent occurrences of
    ``words`` in lowercase whitespace tokens of ``text`` — a pure
    array-world expression (zero shuffle, composes with any scan).

    Chain starts may overlap ("a a a" contains "a a" twice); substring
    counting can't see that, so the count walks candidate start
    positions explicitly. The token array is let-bound (hof.let_bound)
    so the split runs once per row, not once per candidate position.
    """
    from ..functions.hof import let_bound

    if not words:
        raise ValueError("phrase must have at least one word")
    w = [x.lower() for x in words]
    n = len(w)

    def count_in(toks: Column) -> Column:
        # sequence(1, 0) DESCENDS (the _dims_seq hazard — dedup.py) and
        # ANSI element_at throws out-of-bounds, so short docs must get
        # an explicitly EMPTY start list
        starts = F.when(
            F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - n + 1)
        ).otherwise(F.array().cast("array<int>"))
        hit = lambda i: F.aggregate(  # noqa: E731
            F.sequence(F.lit(0), F.lit(n - 1)),
            F.lit(True),
            lambda acc, j: acc
            & (
                F.element_at(toks, (i + j).cast("int"))
                == F.element_at(F.array(*[F.lit(x) for x in w]), (j + 1).cast("int"))
            ),
        )
        return F.size(F.filter(starts, hit)).cast("long")

    return let_bound(ws_lower_tokens(text), count_in)


def phrase_search(
    docs: DataFrame, text_col: str, id_col: str, phrase: str
) -> DataFrame:
    """Scan-side phrase search: docs containing the exact token-adjacent
    phrase, with the overlap-aware match count. Output:
    (id, n_matches), n_matches >= 1. One scan, zero shuffles."""
    words = [x for x in phrase.lower().split(" ") if x]
    c = phrase_counts(F.col(text_col), words).alias("n_matches")
    return docs.select(F.col(id_col), c).where(F.col("n_matches") >= 1)


def build_text_index(
    docs: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    n_buckets: int = 64,
) -> None:
    """Persisted positional inverted index over lowercase whitespace
    tokens: one parquet row per (term, doc) with the sorted 1-based
    position list, partitioned by ``bucket = pmod(xxhash64(term),
    n_buckets)`` so a query touches only its terms' partitions (static
    partition pruning from literal buckets — no index-wide scan).

    Layout: ``{path}/postings`` (bucket=…/) + ``{path}/meta`` pinning
    (n_buckets, tokenizer) — probes refuse a mismatched expectation
    loudly (the read_winnow_store convention) — + ``{path}/stats``
    (n_docs, total_tokens, avgdl: the BM25 corpus constants, one row).

    Each postings row also carries the document length ``dl``
    (DENORMALIZED on purpose: one long per (term, doc) row buys
    ranked retrieval with NO doc-table join at probe time — a
    candidates × corpus-wide doc-length join would shuffle the whole
    length table at 100 TB).

    Scale: the build is one token posexplode into a map-side-combined
    (term, id) agg — shuffle rows are the per-doc vocabulary, not the
    token stream; positions stay with their (term, doc) row so the
    state is O(total tokens) spread across term-hash partitions with no
    hot key (a stop-word's postings spread over all docs, and the
    probe's per-term read is a pruned columnar scan, never a driver
    collect)."""
    if n_buckets < 1:
        raise ValueError(f"n_buckets must be >= 1, got {n_buckets}")
    refuse_known_ids("text index", path, docs, id_col)
    postings = _postings(docs, text_col, id_col, n_buckets)
    # cluster by bucket before the partitioned write: one task per
    # bucket writes one file instead of every shuffle partition writing
    # a sliver into every bucket dir (n_buckets x shuffle.partitions
    # small files). Write parallelism = n_buckets — size it to the
    # corpus (64 for tests, thousands for a 100 TB build).
    postings.repartition(n_buckets, "bucket").write.mode(
        "overwrite"
    ).partitionBy("bucket").parquet(f"{path}/postings")
    spark = docs.sparkSession
    # stats from the WRITTEN postings (vocab-sized read-back) — the
    # corpus tokenization pipeline runs exactly once
    try:
        readback = spark.read.parquet(f"{path}/postings")
    except Exception as e:  # UNABLE_TO_INFER_SCHEMA: zero postings files
        raise ValueError(
            f"corpus has no tokens; refusing to finish text index at "
            f"{path} (empty postings dir written, no meta/stats — delete "
            f"the path before rebuilding)"
        ) from e
    readback.groupBy("id").agg(F.first("dl").alias("dl")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
        F.when(
            F.count(F.lit(1)) > 0,
            F.sum("dl").cast("double") / F.count(F.lit(1)),
        ).alias("avgdl"),
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/stats")
    write_meta(path, dict(n_buckets=int(n_buckets), tokenizer=_TOKENIZER))


def _postings(
    docs: DataFrame, text_col: str, id_col: str, n_buckets: int
) -> DataFrame:
    """The ONE postings pipeline build and append share (bit-identity
    between build(A)+append(B) and build(A∪B) hangs off this):
    ws-lower-v1 posexplode → (term, id) tf/positions agg → dl via one
    id-partitioned window (an agg+join twin would pay two exchanges) →
    term-hash bucket."""
    from pyspark.sql import Window

    posted = docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(ws_lower_tokens(F.col(text_col))).alias("pos0", "term"),
    ).select("id", "term", (F.col("pos0") + 1).alias("pos"))
    tf = posted.groupBy("term", "id").agg(
        F.sort_array(F.collect_list("pos")).alias("positions"),
        F.count(F.lit(1)).alias("tf"),
    )
    dl_w = F.sum("tf").over(Window.partitionBy("id")).alias("dl")
    return tf.select("*", dl_w).withColumn(
        "bucket", F.pmod(F.xxhash64("term"), F.lit(n_buckets))
    )


def read_text_index(spark, path: str, n_buckets: int | None = None):
    """Open a persisted text index; returns (postings DataFrame,
    n_buckets). Passing ``n_buckets`` validates against the store's
    pinned meta and refuses a mismatch loudly."""
    meta = read_meta(
        path, "text index", tokenizer=_TOKENIZER, n_buckets=n_buckets
    )
    return spark.read.parquet(f"{path}/postings"), meta["n_buckets"]


def phrase_search_stored(
    spark,
    path: str,
    phrase: str,
    id_out: str = "doc_id",
    n_buckets: int | None = None,
) -> DataFrame:
    """Phrase search against a persisted text index, no corpus scan:
    the probe reads ONLY the phrase terms' bucket partitions (literal
    partition filter), joins the k term postings on the doc id, and
    counts adjacency chains over the position arrays. Bit-identical to
    the scan-side :func:`phrase_search` (pinned by pytest).

    Output: (id_out, n_matches), n_matches >= 1.

    Scale: per-term postings reads are pruned columnar scans; the k-way
    join is doc-keyed (co-partitioned after the first shuffle); chain
    counting is array work over per-doc position lists. A stop-word
    phrase term fans the join to its document list — the same bound as
    any inverted index; the rarest term's list drives the join size, so
    the k-way join starts from the SMALLEST postings list (joins are
    ordered by ascending tf sum)."""
    words = [x for x in phrase.lower().split(" ") if x]
    if not words:
        raise ValueError("phrase must have at least one word")
    # n_buckets: optional caller expectation, validated against meta
    postings, nb = read_text_index(spark, path, n_buckets=n_buckets)
    uniq = sorted(set(words))
    buckets = sorted(
        {r["bucket"] for r in
         literal_df(spark, [(w,) for w in uniq], "term string")
         .select(F.pmod(F.xxhash64("term"), F.lit(nb)).alias("bucket"))
         .collect()}
    )
    pruned = postings.where(
        F.col("bucket").isin(*buckets) & F.col("term").isin(*uniq)
    )
    # smallest-postings-first join order: census the phrase terms once
    # (aggregate-sized: <= k rows) and start the chain from the rarest
    sizes = {
        r["term"]: r["n"]
        for r in pruned.groupBy("term").agg(F.sum("tf").alias("n")).collect()
    }
    order = sorted(range(len(words)), key=lambda i: (sizes.get(words[i], 0), i))
    first = order[0]
    cur = (
        pruned.where(F.col("term") == words[first])
        .select(F.col("id"), F.col("positions").alias(f"p{first}"))
    )
    for i in order[1:]:
        nxt = pruned.where(F.col("term") == words[i]).select(
            F.col("id"), F.col("positions").alias(f"p{i}")
        )
        cur = cur.join(nxt, "id")
    # chain starts: positions of word0 whose i-th successors all exist
    chain = F.filter(
        F.col("p0"),
        lambda p: F.aggregate(
            F.sequence(F.lit(1), F.lit(len(words) - 1)),
            F.lit(True),
            lambda acc, j: acc
            # array_contains can't take a column needle pre-3.0 idiom;
            # exists() scans the (sorted, per-doc-bounded) list instead
            & F.exists(
                F.col("p_all")[j.cast("int") - 1], lambda q: q == p + j
            ),
        )
        if len(words) > 1
        else F.lit(True),
    )
    if len(words) == 1:
        out = cur.select(
            F.col("id").alias(id_out), F.size(F.col(f"p{first}")).cast("long").alias("n_matches")
        )
        return out.where(F.col("n_matches") >= 1)
    out = (
        cur.withColumn(
            "p_all", F.array(*[F.col(f"p{i}") for i in range(1, len(words))])
        )
        .select(
            F.col("id").alias(id_out),
            F.size(chain).cast("long").alias("n_matches"),
        )
        .where(F.col("n_matches") >= 1)
    )
    return out


def bm25_topk_stored(
    spark,
    path: str,
    queries: DataFrame,
    query_col: str = "query_text",
    query_id_col: str = "query_id",
    id_out: str = "doc_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    n_buckets: int | None = None,
) -> DataFrame:
    """Top-``k`` BM25 per query against a persisted text index — the
    build-once / query-many half of :func:`bm25_topk` (identical
    scoring, identical determinism: scores rounded to 6 decimals BEFORE
    ranking, ascending-id tie-break; the index tokenizer lowercases, so
    parity with the in-memory operator is over lowercased text —
    bit-identity pinned by pytest).

    The probe NEVER scans the corpus or the index in full:

    - postings read = the query terms' bucket partitions only
      (literal partition filter + term filter);
    - ``df`` per term aggregates over that pruned read
      (aggregate-sized, broadcast);
    - ``dl`` is denormalized on the posting rows (no doc-table join);
    - corpus constants come from the one-row ``stats`` table
      (broadcast crossJoin, never a collect);
    - top-k per query is a WindowGroupLimit, never a global sort.
    """
    postings, nb = read_text_index(spark, path, n_buckets=n_buckets)
    if "dl" not in postings.columns:
        raise ValueError(
            f"text index at {path} predates BM25 stats (no dl column); "
            "rebuild with build_text_index"
        )
    qterms = queries.select(
        F.col(query_id_col),
        F.explode(
            F.array_distinct(tokens(F.lower(F.col(query_col))))
        ).alias("term"),
    )
    uniq = sorted(
        {r["term"] for r in qterms.select("term").distinct().collect()}
    )
    if not uniq:
        raise ValueError("queries contain no terms")
    buckets = sorted(
        {r["bucket"] for r in
         literal_df(spark, [(t,) for t in uniq], "term string")
         .select(F.pmod(F.xxhash64("term"), F.lit(nb)).alias("bucket"))
         .collect()}
    )
    pruned = postings.where(
        F.col("bucket").isin(*buckets) & F.col("term").isin(*uniq)
    ).select("term", "id", "tf", "dl")
    dfreq = pruned.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    stats = spark.read.parquet(f"{path}/stats")

    n = F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0) + (n - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfv = F.col("tf").cast("double")
    norm = F.lit(float(k1)) * (
        F.lit(1.0 - b) + F.lit(float(b)) * F.col("dl") / F.col("avgdl")
    )
    contrib = idf * tfv * F.lit(float(k1) + 1.0) / (tfv + norm)
    scored = (
        pruned.join(F.broadcast(qterms), on="term")
        .join(F.broadcast(dfreq), on="term")
        .crossJoin(F.broadcast(stats.select("n_docs", "avgdl")))
        .groupBy(query_id_col, "id")
        .agg((F.round(F.sum(contrib), 6) + F.lit(0.0)).alias("score"))
    )
    w = Window.partitionBy(query_id_col).orderBy(F.desc("score"), F.asc("id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= F.lit(int(k)))
        .select(query_id_col, "rank", F.col("id").alias(id_out), "score")
    )


def append_text_index(
    docs: DataFrame, path: str, text_col: str, id_col: str
) -> None:
    """Append a batch's postings to an existing text index — the
    incremental-ingest leg (build → search → append accepted docs), so
    tomorrow's corpus searches without a rebuild.

    n_buckets/tokenizer come from ``{path}/meta`` (the probe's pinning);
    parquet ``append`` adds one file per touched bucket dir; the
    ``stats`` corpus constants are REWRITTEN as old + batch delta, so
    stored BM25 over build+append is bit-identical to an index built on
    the union (pinned by test). A batch holding an id already in the
    index is refused before anything is written (dl/tf are per-(term,
    doc) rows — a re-appended doc would double its postings).
    """
    spark = docs.sparkSession
    nb = read_meta(path, "text index", tokenizer=_TOKENIZER)["n_buckets"]
    refuse_known_ids(
        "text index", path, docs, id_col,
        spark.read.parquet(f"{path}/postings").select("id"),
    )
    # materialize: the batch pipeline runs once for BOTH the append
    # write and the stats delta
    postings = materialize(_postings(docs, text_col, id_col, nb))
    postings.repartition(F.col("bucket")).write.mode("append").partitionBy(
        "bucket"
    ).parquet(f"{path}/postings")
    dl = postings.groupBy("id").agg(F.first("dl").alias("dl"))
    # stats = old + batch delta; the tiny unioned agg rewrites the
    # one-row table (the only non-append mutation, atomic enough for a
    # single-writer store lifecycle)
    old = spark.read.parquet(f"{path}/stats").select(
        "n_docs", "total_tokens"
    )
    delta = dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
    )
    merged = (
        old.unionByName(delta)
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("total_tokens").alias("total_tokens"),
        )
        .select(
            "n_docs",
            "total_tokens",
            (F.col("total_tokens").cast("double") / F.col("n_docs")).alias(
                "avgdl"
            ),
        )
        .collect()
    )
    spark.createDataFrame(merged).coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{path}/stats")
    release(postings)


def rrf_fuse(
    a: DataFrame,
    b: DataFrame,
    id_col: str,
    query_col: str = "query_id",
    rank_col: str = "rank",
    k0: int = 60,
    k: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack/Clarke/Buttcher 2009) of two
    ranked lists — the standard hybrid-retrieval combiner (BM25 x
    vector, or any two rankers): a doc's fused score is
    sum over lists of 1/(k0 + rank), missing-from-a-list contributes 0.

    Rank-only fusion makes the combiner score-scale-free, which is why
    it needs no calibration between heterogeneous rankers. Determinism:
    fused scores round to 6 decimals BEFORE ranking, ties break on the
    ascending id (the bm25_topk convention). Output:
    (query_col, rank, id_col, rrf_score).

    Scale: both inputs are top-k-per-query tables (queries x k rows —
    aggregate-sized by construction), so the full-outer join and the
    re-rank window never touch corpus-scale data; at 100 TB the cost
    lives in the upstream rankers.
    """
    if k0 < 1 or k < 1:
        raise ValueError(f"k0 and k must be >= 1, got k0={k0} k={k}")

    def side(df: DataFrame, out: str) -> DataFrame:
        return df.select(
            F.col(query_col),
            F.col(id_col),
            (F.lit(1.0) / (F.lit(float(k0)) + F.col(rank_col).cast("double"))
             ).alias(out),
        )

    fused = (
        side(a, "__ca")
        .join(side(b, "__cb"), on=[query_col, id_col], how="full_outer")
        .select(
            query_col,
            id_col,
            (
                F.round(
                    F.coalesce(F.col("__ca"), F.lit(0.0))
                    + F.coalesce(F.col("__cb"), F.lit(0.0)),
                    6,
                )
                + F.lit(0.0)
            ).alias("rrf_score"),
        )
    )
    w = Window.partitionBy(query_col).orderBy(
        F.desc("rrf_score"), F.asc(id_col)
    )
    return (
        fused.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(query_col, "rank", id_col, "rrf_score")
    )


def phrase_search_many(
    docs: DataFrame, text_col: str, id_col: str, phrases: Sequence[str]
) -> DataFrame:
    """Screen a corpus against MANY exact phrases in ONE scan — the
    contamination-canary / policy-phrase shape (a list of marker
    phrases, every doc checked against all of them). Each phrase
    compiles to its own overlap-aware chain walk over the SHARED
    let-bound token array, then the per-phrase counts unpivot through
    one inline explode. Zero shuffles, zero joins; cost is
    O(tokens × total phrase words) inside the scan stage.

    Output: (id, phrase, n_matches) for n_matches >= 1 only.
    """
    plist = [(p, [x for x in p.lower().split(" ") if x]) for p in phrases]
    if not plist or any(not w for _, w in plist):
        raise ValueError("phrases must be non-empty and contain words")
    rows = F.array(
        *[
            F.struct(
                F.lit(p).alias("phrase"),
                phrase_counts(F.col(text_col), w).alias("n_matches"),
            )
            for p, w in plist
        ]
    )
    return (
        docs.select(F.col(id_col), F.explode(rows).alias("__m"))
        .select(id_col, "__m.phrase", "__m.n_matches")
        .where(F.col("n_matches") >= 1)
    )


def retrieval_eval(
    runs: DataFrame,
    qrels: DataFrame,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    k: int = 10,
) -> DataFrame:
    """IR effectiveness dashboard — the retrieval counterpart of the
    embedding family's ``knn_label_eval``/``ann_recall_report``: given a
    ranker's RUN (query, doc, rank — ``bm25_topk``/``rrf_fuse``/
    ``bm25_topk_stored`` output) and binary relevance judgments QRELS
    (query, doc), the standard trec_eval-style per-query metrics at
    cutoff ``k``:

    - ``hits_at_k`` / ``precision_at_k`` / ``recall_at_k``
    - ``mrr`` — reciprocal rank of the FIRST relevant in the top-k
      (0.0 when none; the @k-bounded convention)
    - ``ndcg_at_k`` — binary nDCG with the standard 1/log2(rank+1)
      discount; ideal DCG uses min(n_rel, k) positions.

    Every query WITH judgments gets a row (a judged query the ranker
    returned nothing for scores zeros); run rows for unjudged queries
    are ignored (not evaluable — the trec_eval convention). Determinism:
    DCG/IDCG evaluate as left-to-right array folds over sorted rank
    lists (bit-reproducible in DuckDB ``list_reduce``), everything
    rounds to 6 decimals.

    Scale: both inputs are aggregate-sized by construction (runs =
    queries x k, qrels = judgment count), so every join and the final
    per-query aggregation are broadcast-tier — at 100 TB the cost lives
    in the upstream ranker, never here.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    rel = qrels.select(query_col, doc_col).distinct()
    n_rel = rel.groupBy(query_col).agg(F.count(F.lit(1)).alias("n_rel"))
    # dedup (query, doc) keeping the BEST rank — trec_eval scores each
    # judged doc once; a run that repeats a doc in its top-k would
    # otherwise double-count __hits/__relranks and push precision/
    # recall/nDCG past 1.0
    topk = (
        runs.where(F.col(rank_col) <= k)
        .groupBy(query_col, doc_col)
        .agg(F.min(F.col(rank_col).cast("long")).alias("__rk"))
    )
    marked = topk.join(
        rel.withColumn("__r", F.lit(1)), on=[query_col, doc_col], how="left"
    ).select(
        query_col, "__rk", F.coalesce(F.col("__r"), F.lit(0)).alias("__rel")
    )
    per_q = marked.groupBy(query_col).agg(
        F.sum("__rel").alias("__hits"),
        F.min(F.when(F.col("__rel") == 1, F.col("__rk"))).alias("__first"),
        F.sort_array(
            F.collect_list(F.when(F.col("__rel") == 1, F.col("__rk")))
        ).alias("__relranks"),
    )

    def disc(r: Column) -> Column:
        return F.lit(1.0) / (
            F.log(r.cast("double") + F.lit(1.0)) / F.log(F.lit(2.0))
        )

    dcg = F.aggregate(
        F.coalesce(F.col("__relranks"), F.array().cast("array<bigint>")),
        F.lit(0.0),
        lambda acc, r: acc + disc(r),
    )
    m = F.least(F.col("n_rel"), F.lit(k))
    idcg = F.aggregate(
        F.sequence(F.lit(1), m), F.lit(0.0), lambda acc, i: acc + disc(i)
    )
    hits = F.coalesce(F.col("__hits"), F.lit(0)).cast("long")
    r6 = lambda c: F.round(c, 6) + F.lit(0.0)  # noqa: E731
    return (
        n_rel.join(per_q, on=query_col, how="left")
        .select(
            F.col(query_col),
            F.col("n_rel").cast("long").alias("n_rel"),
            hits.alias("hits_at_k"),
            r6(hits / F.lit(float(k))).alias("precision_at_k"),
            r6(hits / F.col("n_rel")).alias("recall_at_k"),
            r6(
                F.coalesce(
                    F.lit(1.0) / F.col("__first").cast("double"), F.lit(0.0)
                )
            ).alias("mrr"),
            r6(dcg / idcg).alias("ndcg_at_k"),
        )
    )
