"""End-to-end training-data manifest: the composed cleaning pipeline.

The individual operators (exact dedup, near-dup cluster resolution,
decontamination, quality gating, split assignment) each exist and are
oracle-checked on their own; this module composes them into the single
pass a real pre-training pipeline runs over a raw corpus:

    raw corpus
      → exact dedup            (min-id survivor per content key)
      → near-dup resolution    (MinHash-LSH → connected components,
                                keep each cluster's min-id survivor)
      → decontamination        (drop docs sharing any word n-gram with
                                the eval corpus)
      → quality gate           (token count + chars-per-token windows)
      → split assignment       (deterministic hash-threshold
                                train/val/test)
      → manifest               (doc_id, split)

Composition is DataFrame lineage with materialized stage boundaries:
the exact-dedup survivor corpus and the near-dup survivor corpus each
feed multiple downstream branches, so they are lazily
``localCheckpoint``-ed — the single-node analog of staging to parquet
between pipeline phases — and each stage runs once, as part of the
first job that reads it, instead of once per branch. Every decision is
deterministic (md5 keys, min-id survivors, exact filters), so the WHOLE
pipeline output is oracle-checkable end to end, not just stage by
stage.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ckpt import materialize_lazy as _materialize_lazy

from .decontam import decontaminate
from .dedup import boilerplate_stats, exact_dedup, near_dup_clusters
from .sampling import assign_splits


def training_manifest(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    eval_df: DataFrame,
    near_threshold: float = 0.5,
    ngram_n: int = 5,
    min_tokens: int = 50,
    max_tokens: int = 100_000,
    min_chars_per_token: float = 3.0,
    max_chars_per_token: float = 10.0,
    splits: Sequence[tuple[str, float]] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
    max_boilerplate_fraction: float | None = None,
    boiler_seg_words: int = 10,
    boiler_df_threshold: int = 3,
) -> DataFrame:
    """Run the full cleaning pipeline; return the manifest (id, split).

    Quality gate: whitespace token count in [min_tokens, max_tokens] and
    chars-per-token (length/tokens) in [min_chars_per_token,
    max_chars_per_token]. The defaults are the Gopher-style window for a
    REAL corpus (50..100k words, mean word length 3..10); test/bench
    runs over the short synthetic corpora pass explicit tighter windows.

    ``max_boilerplate_fraction`` (off by default) adds the CCNet-style
    template-page gate between decontamination and the token gates: docs
    whose corpus-repeated segment fraction (``boilerplate_stats`` over
    the post-dedup survivors — dedup first, so exact copies don't inflate
    the document-frequency census) exceeds the threshold are dropped
    wholesale.
    """
    src = docs.select(id_col, text_col)
    # s1 feeds three consumers (the near-dup signature pipeline, the
    # survivor semi-join, and decontamination); without a stage boundary
    # each branch re-derives it from the raw scan + content-hash shuffle.
    # localCheckpoint is the single-node analog of the parquet staging a
    # cluster pipeline would do between phases.
    s1 = exact_dedup(src, text_col, id_col).transform(_materialize_lazy)
    survivors = near_dup_clusters(
        s1, text_col, id_col, threshold=near_threshold
    ).where(F.col("is_survivor")).select(id_col)
    s2 = s1.join(survivors, id_col, "left_semi").transform(_materialize_lazy)
    clean = decontaminate(s2, text_col, id_col, eval_df, n=ngram_n).where(
        ~F.col("contaminated")
    ).select(id_col)
    s3 = s2.join(clean, id_col, "left_semi")
    if max_boilerplate_fraction is not None:
        bp = boilerplate_stats(
            s3, text_col, id_col,
            seg_words=boiler_seg_words, df_threshold=boiler_df_threshold,
        )
        keep = bp.where(
            F.col("boilerplate_fraction") <= max_boilerplate_fraction
        ).select(id_col)
        s3 = s3.join(keep, id_col, "left_semi")
    toks = F.size(F.filter(F.split(F.col(text_col), " "), lambda t: t != ""))
    cpt = F.length(F.col(text_col)) / toks
    s4 = s3.where(
        toks.between(min_tokens, max_tokens)
        & cpt.between(min_chars_per_token, max_chars_per_token)
    )
    return assign_splits(s4, id_col, splits).select(id_col, "split")


def training_manifest_v2(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    label,
    span_gram: int = 8,
    max_dup_fraction: float = 0.9,
    clf_threshold: float | str = "prior",
    clf_iter: int = 3,
    dsir_buckets: int = 64,
    splits: Sequence[tuple[str, float]] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
) -> DataFrame:
    """The round-9 pipeline composition — every stage a trained or
    corpus-statistical operator rather than a fixed heuristic:

        raw corpus
          → exact dedup              (canonical-text md5, min-id survivor)
          → duplicate-span gate      (rolling-8-gram dup_fraction ≤ τ —
                                      drops template/boilerplate pages)
          → TRAINED quality gate     (logistic filter supervised by
                                      ``label``, batch-GD; the default
                                      "prior" threshold keeps the docs
                                      the model ranks above the corpus's
                                      own target base rate)
          → DSIR importance weight   (hashed-unigram log-ratio vs the
                                      ``label`` slice)
          → split assignment         (deterministic hash thresholds)

    Output, one row per surviving doc: (id, split, score, dsir_logratio).
    Deterministic end to end — the DuckDB oracle replays every stage
    INCLUDING the classifier's training trajectory, so the composition
    (not just the pieces) is hash-checked.

    Scale: stage boundaries materialize like :func:`training_manifest`;
    each stage's own scale story is its operator's (see PLANS.md /
    SCALE.md entries for the components).
    """
    from .classifier import quality_filter
    from .dedup import duplicate_spans
    from .sampling import dsir_weights

    base = docs.select(
        F.col(id_col), F.col(text_col), label.alias("__lbl")
    )
    s1 = exact_dedup(base, text_col, id_col).transform(_materialize_lazy)
    keep_span = duplicate_spans(
        s1, text_col, id_col, gram_words=span_gram
    ).where(F.col("dup_fraction") <= max_dup_fraction).select(id_col)
    s2 = s1.join(keep_span, id_col, "left_semi").transform(_materialize_lazy)
    scored = quality_filter(
        s2, text_col, id_col, F.col("__lbl"),
        n_iter=clf_iter, threshold=clf_threshold,
    )
    keep_q = scored.where(F.col("keep")).select(id_col, "score")
    # NOTE (r15, measured and rejected): materialize_lazy(keep_q) A/B'd
    # consistently WORSE (~1.18×) — the checkpointed RDD loses size
    # statistics, so the s2 ⋈ keep_q join (replayed by the DSIR and
    # manifest consumers) flips from broadcast to sort-merge. The
    # underlying scoring plan is already cheap per copy (feats are
    # checkpointed inside quality_filter; the weights are literals).
    s3 = s2.join(keep_q, id_col)
    w = dsir_weights(
        s3, text_col, id_col, F.col("__lbl"), n_buckets=dsir_buckets
    ).select(id_col, "dsir_logratio")
    return assign_splits(s3.join(w, id_col), id_col, splits).select(
        F.col(id_col), F.col("split"), F.col("score"), F.col("dsir_logratio")
    )


def leakage_safe_splits(
    df: DataFrame,
    text_col: str,
    id_col: str,
    splits: Sequence[tuple[str, float]] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
    *,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    char_ngrams: bool = False,
    salt: str = "",
) -> DataFrame:
    """Train/val/test assignment with near-duplicates held together.

    A plain per-document hash split leaks: two near-copies of the same
    page can land one in train and one in test, and the model is then
    evaluated on (a mutation of) its own training data. This operator
    closes that hole by splitting at DEDUP-CLUSTER granularity — the
    md5 hash-threshold key is the cluster id (the connected component's
    min member id), so every member of a near-dup cluster inherits ONE
    split label, and singleton docs degenerate to the usual per-id
    split (their cluster id is their own id).

    Output: one row per doc — (id, cluster_id, is_survivor, split).
    ``is_survivor`` marks the cluster's min-id member, so downstream
    can both dedup (keep survivors) and split leakage-free from the
    same table.

    Scale shape: exactly ``near_dup_clusters`` (band equi-joins, CC
    over pair endpoints only) plus one shuffle-free projection — the
    split assignment adds NO exchange on top of the dedup pass a
    pipeline already runs. Stability: membership is a pure function of
    (cluster id, salt); growing the corpus only reassigns docs whose
    cluster MERGES with another (the unavoidable case — the merged
    cluster must land on one side).
    """
    clusters = near_dup_clusters(
        df, text_col, id_col, threshold=threshold, num_hashes=num_hashes,
        bands=bands, shingle_size=shingle_size, char_ngrams=char_ngrams,
    )
    return assign_splits(clusters, "cluster_id", splits, salt=salt)


def training_manifest_v3(
    df: DataFrame,
    text_col: str,
    id_col: str,
    blocked_terms: Sequence[str],
    splits: Sequence[tuple[str, float]] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
    *,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    context_len: int = 512,
    sep_tokens: int = 1,
) -> DataFrame:
    """Composed v3 pipeline — the round-10 operators end to end, with a
    PHYSICAL LAYOUT as the deliverable:

        raw corpus
          → blocklist gate          (drop docs matching blocked terms)
          → leakage-safe split      (near-dup clusters assigned
                                     atomically to train/val/test)
          → survivor dedup          (keep each cluster's min-id member)
          → packing assignment      (per-SPLIT concat-and-chunk: every
                                     surviving doc's context windows)

    Output: (split, id, n_tokens, token_offset, first_context,
    last_context, n_contexts) — not just WHICH docs train, but WHERE
    each one lands in the packed token stream, per split. Every
    decision is deterministic (regexp gate, md5 cluster split, min-id
    survivor, id-order packing), so the whole composition is
    oracle-checkable as ONE query.

    Scale: the gate is scan-side; the split is the dedup pass the
    pipeline runs anyway; packing adds one window exchange on the
    3-value split key (shard-then-pack applies within splits at corpus
    scale — see ``text.pack_assign``). The blocklist-survivor corpus is
    lazily checkpointed, since it feeds both the cluster pass and the
    final pack join.
    """
    from .text import blocklist_filter, pack_assign

    bl = blocklist_filter(df, text_col, id_col, tuple(blocked_terms))
    keep = df.join(
        bl.where(~F.col("blocked")).select(id_col), id_col, "left_semi"
    ).transform(_materialize_lazy)
    sp = leakage_safe_splits(
        keep, text_col, id_col, splits, threshold=threshold,
        num_hashes=num_hashes, bands=bands, shingle_size=shingle_size,
    )
    surv = sp.where(F.col("is_survivor")).select(F.col(id_col), "split")
    return pack_assign(
        keep.join(surv, id_col), text_col, id_col,
        context_len=context_len, strata=["split"], sep_tokens=sep_tokens,
    )


def _ccnet_tier_gate(
    corpus: DataFrame,
    id_col: str,
    lang_col: str,
    source_col: str,
    drop_tiers: Sequence[str],
    *,
    vocab_size: int,
    top_bigrams: int,
    order: int = 2,
    top_trigrams: int = 16384,
) -> DataFrame:
    """The v4/v5 CCNet tier gate: LM-score the cleaned corpus, assign
    per-language exact terciles, drop ``drop_tiers``.

    Semantically ``score_buckets`` + a self-join back onto the scored
    corpus — but shaped for the composed pipeline (guide §2.3/§2.4):

    - the scored table is PROJECTED to the five columns the rest of the
      pipeline reads (id, lang, source, clean-token count, perplexity)
      — ``clean_text`` never crosses a post-scoring exchange — and
      lazily checkpointed, so the LM scoring pass runs ONCE instead of
      once per consumer (the tercile aggregate, the tier join, and the
      final manifest all replayed it);
    - the tier label is the same CASE ``score_buckets_with`` applies,
      taken against the broadcast cutoff row directly, which removes
      the corpus-sized ``scored ⋈ tiers`` id-keyed self-join (two
      exchanges at scale) the previous composition paid.

    Returns the surviving rows with ``bucket`` and the ``__q``
    preference column ``source_cap`` orders by.
    """
    from .sampling import score_cutoffs
    from .text import lm_score

    scored = corpus.select(
        F.col(id_col), F.col(lang_col), F.col(source_col), "__clean_tokens"
    ).join(
        lm_score(
            corpus, "clean_text", id_col,
            vocab_size=vocab_size, top_bigrams=top_bigrams, order=order,
            top_trigrams=top_trigrams,
        ).select(F.col(id_col), "perplexity"),
        id_col,
    ).transform(_materialize_lazy)
    cutdf = score_cutoffs(scored, "perplexity", stratum_col=lang_col)
    px = F.col("perplexity")
    bucket = (
        F.when(px.isNull() | F.col("__cuts").isNull(), F.lit(None))
        .when(px <= F.element_at("__cuts", 1), F.lit("head"))
        .when(px <= F.element_at("__cuts", 2), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.join(F.broadcast(cutdf), on=lang_col, how="left")
        .withColumn("bucket", bucket)
        .drop("__cuts")
        .where(
            F.col("bucket").isNotNull()
            & ~F.col("bucket").isin(*drop_tiers)
        )
        .withColumn("__q", -px)
    )


def training_manifest_v4(
    df: DataFrame,
    text_col: str,
    id_col: str,
    eval_df: DataFrame,
    *,
    lang_col: str = "lang",
    source_col: str = "source",
    n: int = 5,
    vocab_size: int = 256,
    top_bigrams: int = 2048,
    drop_tiers: Sequence[str] = ("tail",),
    cap: int = 15,
) -> DataFrame:
    """Composed v4 pipeline — the round-12 operators end to end:

        raw corpus
          → surgical span decontamination  (excise eval-overlap spans;
                                            the CLEANED text feeds every
                                            later stage)
          → CCNet tier gate                (bigram-LM perplexity trained
                                            on the cleaned corpus,
                                            per-language exact terciles;
                                            ``drop_tiers`` and unscorable
                                            docs drop)
          → per-source quota               (keep the ``cap``
                                            lowest-perplexity docs per
                                            source, id tie-break)
          → manifest

    Output, one row per admitted doc:
      (id, lang, source, perplexity, bucket, source_rank, n_tokens)
    — n_tokens counts the CLEANED token stream (what would actually be
    packed). Every stage is deterministic, so the whole composition is
    oracle-checkable as ONE query (span rebuild → LM trajectory → tier
    cutoffs → quota window, all replayed in DuckDB).

    Scale: the decontam pass is the broadcast-digest scan; LM state is
    bounded/broadcast; the tier gate is an O(languages) cutoff
    broadcast; the quota is one WindowGroupLimit exchange on the source
    key. The cleaned corpus is lazily checkpointed (it feeds the LM build
    twice and the scoring pass).
    """
    from .decontam import decontaminate_spans
    from .sampling import source_cap

    cleaned = decontaminate_spans(df, text_col, id_col, eval_df, n=n)
    corpus = (
        df.select(F.col(id_col), lang_col, source_col)
        .join(
            cleaned.select(
                F.col(id_col),
                F.col("clean_text"),
                (F.col("n_tokens") - F.col("tokens_removed")).alias(
                    "__clean_tokens"
                ),
            ),
            id_col,
        )
        .transform(_materialize_lazy)
    )
    kept = _ccnet_tier_gate(
        corpus, id_col, lang_col, source_col, drop_tiers,
        vocab_size=vocab_size, top_bigrams=top_bigrams,
    )
    capped = source_cap(kept, id_col, source_col, cap, "__q")
    return capped.select(
        F.col(id_col),
        F.col(lang_col),
        F.col(source_col),
        F.col("perplexity"),
        F.col("bucket"),
        F.col("source_rank").cast("long").alias("source_rank"),
        F.col("__clean_tokens").cast("long").alias("n_tokens"),
    )


def training_manifest_v5(
    df: DataFrame,
    text_col: str,
    id_col: str,
    eval_df: DataFrame,
    *,
    lang_col: str = "lang",
    source_col: str = "source",
    n: int = 5,
    vocab_size: int = 256,
    top_bigrams: int = 2048,
    top_trigrams: int = 4096,
    drop_tiers: Sequence[str] = ("tail",),
    cap: int = 15,
    token_budget: int = 8000,
) -> DataFrame:
    """Composed v5 pipeline — the round-13 operators end to end:

        raw corpus
          → surgical span decontamination   (v4 stage, cleaned text
                                             feeds everything later)
          → TRIGRAM-tier CCNet gate         (order=3 JM-interpolated LM
                                             trained on the cleaned
                                             corpus — the r13 tier,
                                             closer to the published
                                             5-gram shape; per-language
                                             exact terciles, tail drops)
          → per-source quota                (cap best-perplexity docs
                                             per source)
          → global token budget             (the final "best N tokens"
                                             cut over the survivors by
                                             (-perplexity, id))
          → manifest

    Output, one row per admitted doc: (id, lang, source, perplexity,
    bucket, source_rank, n_tokens, cum_tokens) — cum_tokens is the
    running CLEANED-token total of the final selection. Every stage is
    deterministic, so the whole composition replays as ONE DuckDB
    statement (span rebuild → trigram LM trajectory → tier cutoffs →
    quota window → budget window).

    Scale: v4's ledger plus the trigram LM's two extra bounded
    broadcast tables and the budget stage's census and bucket windows
    over the already-quota-capped survivor set (≤ cap × sources rows).
    """
    from .decontam import decontaminate_spans
    from .sampling import source_cap, token_budget_select

    cleaned = decontaminate_spans(df, text_col, id_col, eval_df, n=n)
    corpus = (
        df.select(F.col(id_col), lang_col, source_col)
        .join(
            cleaned.select(
                F.col(id_col),
                F.col("clean_text"),
                (F.col("n_tokens") - F.col("tokens_removed")).alias(
                    "__clean_tokens"
                ),
            ),
            id_col,
        )
        .transform(_materialize_lazy)
    )
    kept = _ccnet_tier_gate(
        corpus, id_col, lang_col, source_col, drop_tiers,
        vocab_size=vocab_size, top_bigrams=top_bigrams,
        order=3, top_trigrams=top_trigrams,
    )
    capped = source_cap(kept, id_col, source_col, cap, "__q").select(
        F.col(id_col),
        F.col(lang_col),
        F.col(source_col),
        F.col("perplexity"),
        F.col("bucket"),
        F.col("source_rank").cast("long").alias("source_rank"),
        F.col("__clean_tokens").cast("long").alias("n_tokens"),
        F.col("__q"),
    )
    return token_budget_select(
        capped, id_col, "n_tokens", "__q", token_budget
    ).drop("__q")
