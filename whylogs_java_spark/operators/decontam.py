"""Test-set decontamination for training-data pipelines.

Flags training documents that share word n-grams with a held-out
evaluation corpus — the standard pre-training hygiene pass (the GPT-3 /
PaLM "13-gram overlap" rule, here with a configurable n).

Design for scale (100 TB corpus vs a tiny benchmark suite):

- The eval side reduces to a DISTINCT set of md5 n-gram digests —
  O(benchmark size), megabytes even for large eval suites — and is
  **broadcast**: the corpus-side probe is a broadcast hash join inside
  the scan stage, no shuffle of corpus bytes, no skew surface.
- The corpus side explodes its n-grams once; the only shuffle is the
  per-document hit aggregation on ``doc_id`` (high-cardinality,
  skew-free) and it carries (doc_id, digest) pairs for MATCHED grams
  only — on a clean corpus nearly nothing.
- Digests are md5 of the space-joined gram (engine-portable, same
  family as operators/dedup.py minhash), so the whole pass is
  oracle-checkable in DuckDB.

No reference counterpart (whylogs-java has no joins — SURVEY.md §2.3);
this is a scale-path extension of the dedup family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hof import let_bound
from ..stores import read_meta, write_meta


def ngram_digests(text: Column, n: int) -> Column:
    """md5 digests of the word n-grams of ``text`` as an array column.

    Pure JVM expressions (split -> transform over an index sequence ->
    slice+join+md5). Documents with fewer than ``n`` words contribute NO
    n-grams (empty array) — a short doc cannot be "contaminated" by a
    gram longer than itself. The split+filter is LET-BOUND so the text
    is tokenized once per row, not once per gram (functions.hof).
    """

    def grams(words: Column) -> Column:
        cnt = F.size(words)
        return F.when(
            cnt >= n,
            F.transform(
                F.sequence(F.lit(1), cnt - n + 1),
                lambda i: F.md5(F.concat_ws(" ", F.slice(words, i, n))),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let_bound(
        F.filter(F.split(text, " "), lambda t: t != ""), grams
    )


def eval_ngram_set(eval_df: DataFrame, text_col: str, n: int) -> DataFrame:
    """DISTINCT n-gram digests of the evaluation corpus: one ``gram``
    column. This is the broadcast side — distinct-ing upstream keeps the
    broadcast table minimal."""
    return (
        eval_df.select(
            F.explode(ngram_digests(F.col(text_col), n)).alias("gram")
        ).distinct()
    )


def decontaminate(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    eval_df: DataFrame,
    eval_text_col: str | None = None,
    n: int = 5,
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """Per-document contamination report against an eval corpus.

    Output: (id, n_ngrams, n_hits, contaminated) — ``n_hits`` counts
    DISTINCT matched digests; ``contaminated`` is n_hits > 0. Filtering
    the corpus is then ``.where(~contaminated)`` (or a threshold on the
    hit ratio for fuzzy policies).

    Plan shape: broadcast(eval digests) ⋈ exploded corpus grams ->
    hash-agg on id -> left join back onto the per-doc gram counts. The
    corpus is scanned once; the only wide exchange carries matched pairs.

    ``eval_grams`` supplies a precomputed digest set (one ``gram``
    column) instead of deriving it from ``eval_df`` — pass a persisted
    set when calling repeatedly (the streaming wrapper does) so the
    distinct is not recomputed per call.
    """
    grams = (
        eval_grams
        if eval_grams is not None
        else eval_ngram_set(eval_df, eval_text_col or text_col, n)
    )
    # n_ngrams is arithmetic — max(words - n + 1, 0) — so the counts
    # branch never materializes digests; only the hits branch pays the
    # per-position md5 walk, and it pays it exactly once.
    words = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    counts = corpus.select(
        F.col(id_col),
        F.greatest(F.size(words) - n + 1, F.lit(0)).alias("n_ngrams"),
    )
    from whylogs_java_spark.ckpt import spread

    hits = (
        spread(corpus.select(id_col, text_col))
        .select(
            F.col(id_col),
            F.explode(ngram_digests(F.col(text_col), n)).alias("gram"),
        )
        .join(F.broadcast(grams), "gram")
        .groupBy(id_col)
        .agg(F.count_distinct("gram").alias("n_hits"))
    )
    return (
        counts.join(hits, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_ngrams"),
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) > 0).alias("contaminated"),
        )
    )


def contamination_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    eval_df: DataFrame,
    eval_id_col: str,
    eval_text_col: str | None = None,
    n: int = 5,
) -> DataFrame:
    """Per-eval-item contamination attribution — the inverse view of
    :func:`decontaminate`: for each evaluation row, how much of it leaks
    into the training corpus (which benchmark items are compromised and
    how badly), the report an eval owner reads before trusting a score.

    Output, one row per eval item:
      (eval_id, n_grams, n_grams_hit, n_docs, hit_fraction)
    — n_docs = distinct corpus documents sharing ≥1 of the item's
    n-grams; hit_fraction = n_grams_hit / n_grams (rounded 6). Items
    with fewer than ``n`` words report n_grams = 0 and zero hits.

    Scale shape: the eval side is bounded (grams broadcast); corpus
    grams are SEMI-JOINED to the eval gram set inside the scan before
    the attribution join, so only matched grams (≈ nothing on a clean
    corpus) reach the (gram → eval item) fan-out; aggregates key on the
    eval id. The corpus is scanned once.
    """
    etc = eval_text_col or text_col
    ev = eval_df.select(
        F.col(eval_id_col).alias("eval_id"),
        F.explode_outer(ngram_digests(F.col(etc), n)).alias("gram"),
    ).distinct()
    totals = ev.groupBy("eval_id").agg(
        F.count(F.col("gram")).alias("n_grams")
    )
    cg = df.select(
        F.col(id_col).alias("__doc"),
        F.explode(ngram_digests(F.col(text_col), n)).alias("gram"),
    ).distinct()
    matched = cg.join(
        F.broadcast(ev.where(F.col("gram").isNotNull()).select("gram").distinct()),
        "gram",
        "left_semi",
    )
    hits = (
        matched.join(F.broadcast(ev), "gram")
        .groupBy("eval_id")
        .agg(
            F.countDistinct("gram").alias("n_grams_hit"),
            F.countDistinct("__doc").alias("n_docs"),
        )
    )
    return (
        totals.join(hits, "eval_id", "left")
        .select(
            F.col("eval_id"),
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce("n_grams_hit", F.lit(0)).cast("long").alias("n_grams_hit"),
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            (
                F.round(
                    F.coalesce("n_grams_hit", F.lit(0))
                    / F.greatest(F.col("n_grams"), F.lit(1)),
                    6,
                )
                + F.lit(0.0)
            ).alias("hit_fraction"),
        )
    )


def ngram_novelty(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    ref_df: DataFrame | None = None,
    ref_text_col: str | None = None,
    n: int = 5,
    broadcast_ref: bool = False,
    ref_grams: DataFrame | None = None,
) -> DataFrame:
    """Per-document novelty vs a reference corpus: the fraction of the
    doc's DISTINCT word n-grams that do NOT appear anywhere in the
    reference — the "new information" signal data-curation pipelines
    use to rank an incoming batch against what the training set already
    contains (dedup's soft sibling: exact-duplicate docs score 0.0,
    genuinely new text scores ~1.0).

    Output: (id, n_grams, n_seen, n_novel, novelty) with ``n_grams``
    the doc's distinct-gram count and ``novelty = n_novel / n_grams``
    (NULL for docs shorter than ``n`` words — no grams, no signal).

    Scale shape: unlike ``decontaminate`` (whose eval side is
    benchmark-sized and broadcast), the reference here is typically
    ANOTHER CORPUS — so both sides reduce to distinct gram digests and
    meet in a shuffle semi-join on the digest key (high-cardinality,
    skew-free; md5 keys hash uniformly). Corpus bytes are never
    shuffled — only (id, digest) pairs. Pass ``broadcast_ref=True``
    when the reference is known to be small (an eval suite, a seed
    set) to collapse the join into the scan stage. ``ref_grams``
    supplies a precomputed distinct digest set (one ``gram`` column)
    instead of deriving it from ``ref_df`` — pass a persisted set when
    calling repeatedly (the streaming wrapper does) so the reference is
    never re-scanned per call.
    """
    from whylogs_java_spark.ckpt import spread

    if ref_grams is None:
        if ref_df is None:
            raise ValueError("provide ref_df or a precomputed ref_grams")
        ref_grams = (
            ref_df.select(
                F.explode(
                    ngram_digests(F.col(ref_text_col or text_col), n)
                ).alias("gram")
            ).distinct()
        )
    if broadcast_ref:
        ref_grams = F.broadcast(ref_grams)
    doc_grams = (
        spread(corpus.select(id_col, text_col))
        .select(
            F.col(id_col),
            F.explode(ngram_digests(F.col(text_col), n)).alias("gram"),
        )
        .distinct()
    )
    totals = doc_grams.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_grams")
    )
    seen = (
        doc_grams.join(ref_grams, "gram", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_seen"))
    )
    short = corpus.select(F.col(id_col)).join(totals, id_col, "left_anti")
    out = (
        totals.join(seen, id_col, "left")
        .select(
            F.col(id_col),
            F.col("n_grams"),
            F.coalesce(F.col("n_seen"), F.lit(0)).alias("n_seen"),
            (F.col("n_grams") - F.coalesce(F.col("n_seen"), F.lit(0))).alias(
                "n_novel"
            ),
        )
        .withColumn(
            "novelty",
            F.round(F.col("n_novel") / F.col("n_grams"), 6) + F.lit(0.0),
        )
    )
    return out.unionByName(
        short.select(
            F.col(id_col),
            F.lit(0).cast("long").alias("n_grams"),
            F.lit(0).cast("long").alias("n_seen"),
            F.lit(0).cast("long").alias("n_novel"),
            F.lit(None).cast("double").alias("novelty"),
        )
    )


def build_gram_store(
    df: DataFrame,
    path: str,
    text_col: str,
    n: int = 5,
    n_buckets: int = 16,
) -> None:
    """Persist an N-GRAM DIGEST STORE: build once, screen many — the
    decontam/novelty twin of ``dedup.build_minhash_store``. Both
    ``decontaminate`` and ``ngram_novelty`` re-derive the reference
    side's distinct gram digests on every call; a pipeline that screens
    every incoming batch against the same benchmark suite (or the same
    frozen corpus) should pay that reduction exactly once.

    Two parquet tables under ``path``:

    - ``{path}/grams``: distinct digests, one ``gram`` column,
      PARTITIONED BY ``bucket = pmod(xxhash64(gram), n_buckets)`` —
      bucketing keeps files balanced and lets a future pruned probe
      read subsets; today's consumers read the whole (small) set.
    - ``{path}/meta``: one row pinning ``n`` — a store built for
      5-grams must not silently screen 13-gram queries; readers
      validate instead of trusting caller arguments.

    Store size is O(distinct reference grams) — megabytes for eval
    suites, and even a frozen 100 TB reference corpus reduces to its
    distinct-digest set once, instead of once per arriving batch.
    """
    _write_grams(eval_ngram_set(df, text_col, n), path, n_buckets, "overwrite")
    write_meta(path, dict(n=int(n), n_buckets=int(n_buckets)))


def _write_grams(grams: DataFrame, path: str, n_buckets: int, mode: str) -> None:
    """Write digests into a gram store's ``{path}/grams`` in ``mode``,
    one task/file per bucket dir."""
    grams.withColumn(
        "bucket", F.pmod(F.xxhash64("gram"), F.lit(n_buckets))
    ).repartition(F.col("bucket")).write.mode(mode).partitionBy(
        "bucket"
    ).parquet(f"{path}/grams")


def append_gram_store(
    df: DataFrame,
    path: str,
    text_col: str,
) -> None:
    """Append a batch's n-gram digests to an existing gram store — the
    incremental leg of the decontam/novelty screens (the reference set
    grows as batches are accepted; rebuilding re-pays the whole
    distinct-digest reduction). Only digests NOT already in the store
    are written (a left-anti join against the stored set — the store
    stays a distinct set, so store-backed screens after build+append
    are bit-identical to a store built on the union; pinned by test).
    ``n``/``n_buckets`` come from ``{path}/meta``."""
    meta = read_meta(path, "gram store")
    existing = df.sparkSession.read.parquet(f"{path}/grams").select("gram")
    fresh = eval_ngram_set(df, text_col, meta["n"]).join(existing, "gram", "left_anti")
    _write_grams(fresh, path, meta["n_buckets"], "append")


def read_gram_store(spark, path: str, n: int | None = None) -> DataFrame:
    """Load a persisted gram store's digest set (one ``gram`` column).

    Validates the requested ``n`` against the store's meta — screening
    with a mismatched gram length would silently find nothing.
    """
    read_meta(path, "gram store", n=n)
    return spark.read.parquet(f"{path}/grams").select("gram")


def decontaminate_spans(
    corpus: DataFrame,
    text_col: str,
    id_col: str,
    eval_df: DataFrame | None = None,
    eval_text_col: str | None = None,
    n: int = 5,
    eval_grams: DataFrame | None = None,
) -> DataFrame:
    """SURGICAL span-level decontamination: excise the contaminated
    n-gram spans instead of dropping whole documents.

    :func:`decontaminate` implements the drop-the-document policy; for
    long documents that incidentally quote one benchmark sentence,
    production pipelines prefer to cut just the leaked span and keep
    the rest (the open-web variant of Lee et al. 2022's substring
    removal, aimed at eval overlap instead of self-duplication). A
    token position is contaminated when ANY word ``n``-gram covering it
    matches the eval set; overlapping/adjacent contaminated windows
    merge into maximal spans (gaps-and-islands, the
    ``dedup.duplicate_spans`` machinery pointed at a reference set).

    Output, one row per input document:
      (id, n_tokens, n_spans, tokens_removed, clean_text)
    ``clean_text`` re-joins the surviving tokens with single spaces
    (whitespace is normalized — the tokenization is the same
    split-and-drop-empties used by every gram operator here; NULL text
    behaves as empty). Clean documents keep their full token stream.

    Scale shape (100 TB corpus vs a bounded benchmark): eval digests
    broadcast; the corpus-side probe is a scan-stage broadcast join and
    only MATCHED positions (≈ nothing on a clean corpus) reach the
    per-document span-merge window; the rebuild join is keyed on the
    id. No pair fan-out, no driver collect anywhere.
    """
    from pyspark.sql import Window

    from ..ckpt import spread

    if eval_grams is None and eval_df is None:
        raise ValueError("pass eval_df or a precomputed eval_grams set")
    grams = (
        eval_grams
        if eval_grams is not None
        else eval_ngram_set(eval_df, eval_text_col or text_col, n)
    )
    t = F.coalesce(F.col(text_col), F.lit(""))
    base = spread(corpus.select(id_col, text_col))
    hit_pos = (
        base.select(
            F.col(id_col),
            F.posexplode(ngram_digests(t, n)).alias("pos", "gram"),
        )
        .join(F.broadcast(grams), "gram")
        .select(
            F.col(id_col),
            F.col("pos").alias("s0"),
            (F.col("pos") + n - 1).alias("e0"),
        )
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("s0")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("s0")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_end = F.max("e0").over(w_prev)
    new_island = F.when(
        prev_end.isNull() | (F.col("s0") > prev_end + 1), 1
    ).otherwise(0)
    spans = (
        hit_pos.withColumn("island", F.sum(new_island).over(w_run))
        .groupBy(id_col, "island")
        .agg(F.min("s0").alias("s"), F.max("e0").alias("e"))
        .groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("s"), F.col("e")))
            ).alias("__spans"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.col("e") - F.col("s") + 1).alias("tokens_removed"),
        )
    )
    words = F.filter(F.split(t, " "), lambda x: x != "")
    sp = F.coalesce(
        F.col("__spans"),
        F.array().cast("array<struct<s: int, e: int>>"),
    )
    # 0-based token index i survives unless some merged span covers it;
    # spans-per-doc is bounded by the eval suite, so the exists() scan
    # inside the filter lambda is tiny and stays in the scan stage
    clean = F.filter(
        words,
        lambda x, i: ~F.exists(
            sp, lambda s: (i >= s["s"]) & (i <= s["e"])
        ),
    )
    return (
        base.join(spans, id_col, "left")
        .select(
            F.col(id_col),
            F.size(words).cast("long").alias("n_tokens"),
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("tokens_removed", F.lit(0))
            .cast("long")
            .alias("tokens_removed"),
            F.concat_ws(" ", clean).alias("clean_text"),
        )
    )
