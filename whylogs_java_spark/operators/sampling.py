"""Deterministic sampling operators for training-data pipelines.

A 100 TB corpus pipeline needs samples that are (a) reproducible across
runs and engines — no RNG state, no partition-order dependence — and
(b) pure scan-side filters/projections so they compose with predicate
pushdown. Both operators key the decision on an md5-derived integer of
the row's id (the same engine-portable hash family the MinHash pipeline
uses: hex-parse of an md5 prefix, reproducible in any engine), never on
``rand()``.

- ``hash_sample``: Bernoulli-style per-stratum fractions. A pure filter:
  no shuffle, no state; at scale it rides inside the scan stage.
- ``stratified_sample_exact``: exactly-k-per-stratum via hash-rank. The
  deterministic twin of reservoir sampling: rank = row_number over the
  hash within each stratum. One shuffle on the stratum key; Spark's
  WindowGroupLimit pushes the top-k below the sort at scale.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# 2^60-bound integer from the md5 hex prefix — same construction as
# operators/dedup.py minhash (engine-portable: DuckDB parses the same hex)
_SAMPLE_MOD = 1_000_000


def sample_key(id_col: Column, salt: str = "") -> Column:
    """Deterministic uniform integer in [0, 1e6) from a row id."""
    h = F.md5(F.concat(F.lit(salt), id_col.cast("string")))
    return F.conv(F.substring(h, 1, 15), 16, 10).cast("long") % _SAMPLE_MOD


def hash_sample(
    df: DataFrame,
    id_col: str,
    fraction: float | None = None,
    stratum_col: str | None = None,
    fractions: Mapping[str, float] | None = None,
    default_fraction: float = 0.0,
    salt: str = "",
) -> DataFrame:
    """Deterministic Bernoulli sample, optionally stratified.

    Either a global ``fraction``, or per-stratum ``fractions`` keyed by the
    values of ``stratum_col`` (strata not in the map fall back to
    ``default_fraction``). The row set is a pure function of (id, salt) —
    stable under any partitioning, re-run, or engine.
    """
    key = sample_key(F.col(id_col), salt)
    if stratum_col is None:
        if fraction is None:
            raise ValueError("need fraction or (stratum_col, fractions)")
        return df.where(key < int(fraction * _SAMPLE_MOD))
    if fractions is None:
        raise ValueError("stratum_col requires fractions")
    thr: Column = F.lit(int(default_fraction * _SAMPLE_MOD))
    for value, frac in sorted(fractions.items()):
        thr = F.when(
            F.col(stratum_col) == value, F.lit(int(frac * _SAMPLE_MOD))
        ).otherwise(thr)
    return df.where(key < thr)


def weighted_priority(id_col: Column, weight: Column, salt: str = "") -> Column:
    """Efraimidis–Spirakis A-ES sampling priority, deterministic.

    u = (md5-prefix + 1) / 2^60 is an exact engine-portable uniform in
    (0, 1]; the A-ES key u^(1/w) selects weight-proportionally, and
    ln(u)/w orders identically (ln is monotone) without the pow. Rounded
    to 6 decimals so the cross-engine ordering is reproducible (ties
    break on the id downstream)."""
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), id_col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(float(1 << 60))
    return F.round(F.log(u) / weight, 6)


def weighted_sample_k(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    group_by: Sequence[str] = (),
    salt: str = "",
) -> DataFrame:
    """Exactly-k weight-proportional without-replacement sample per group
    (A-ES): keep the k rows with the largest ``ln(u)/w`` priority.

    Deterministic in (id, salt) like every sampler here — stable under
    partitioning, re-runs, and engines. Rows with NULL, NaN, or
    non-positive weights are excluded (they have zero selection mass).
    Data-mixing use case: weight by token count to sample long documents
    proportionally to their training-token contribution.

    Scale: one shuffle on the group keys; Spark plans the per-group
    row_number + filter as WindowGroupLimit (top-k retained map-side),
    so state per task is O(k), not O(group).
    """
    from pyspark.sql import Window

    w = F.col(weight_col).cast("double")
    eligible = df.where(w.isNotNull() & ~F.isnan(w) & (w > 0))
    pri = weighted_priority(F.col(id_col), w, salt)
    win = Window.partitionBy(*group_by).orderBy(
        pri.desc(), F.col(id_col).asc()
    )
    return (
        eligible.withColumn("__rk", F.row_number().over(win))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def assign_splits(
    df: DataFrame,
    id_col: str,
    splits: Sequence[tuple[str, float]] = (
        ("train", 0.8),
        ("val", 0.1),
        ("test", 0.1),
    ),
    salt: str = "",
) -> DataFrame:
    """Deterministic train/val/test split assignment.

    Adds a ``split`` column chosen by hash-threshold over the same
    md5-derived key as :func:`hash_sample`: the first split whose
    cumulative fraction exceeds ``key/1e6`` wins, and the LAST split
    absorbs any rounding remainder so every row gets a label. The
    assignment is a pure projection — no shuffle, no RNG, stable across
    runs/engines/partitionings — and membership is a function of (id,
    salt) only, so adding rows never reassigns existing ones (the
    property that keeps eval sets frozen as a corpus grows).

    ``splits`` is an ordered sequence of (label, fraction); fractions
    must sum to ~1.
    """
    total = sum(f for _, f in splits)
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    if len(splits) < 2:
        raise ValueError("need at least two splits")
    key = sample_key(F.col(id_col), salt)
    cum = 0.0
    expr: Column | None = None
    for label, frac in splits[:-1]:
        cum += frac
        cond = key < int(cum * _SAMPLE_MOD)
        expr = (
            F.when(cond, F.lit(label))
            if expr is None
            else expr.when(cond, F.lit(label))
        )
    assert expr is not None
    return df.withColumn("split", expr.otherwise(F.lit(splits[-1][0])))


def stratified_sample_exact(
    df: DataFrame,
    id_col: str,
    strata: Sequence[str],
    k: int,
    salt: str = "",
) -> DataFrame:
    """Exactly ``min(k, |stratum|)`` rows per stratum, chosen by hash rank.

    Deterministic reservoir sampling: the "random" order is the md5-derived
    key, so the selected set is stable across runs/engines and
    oracle-checkable. Ties (hash collisions) break on the id.
    """
    from pyspark.sql import Window

    key = sample_key(F.col(id_col), salt)
    w = Window.partitionBy(*strata).orderBy(key.asc(), F.col(id_col).asc())
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def mixture_sample(
    df: DataFrame,
    id_col: str,
    stratum_col: str,
    temperature: float = 2.0,
    target_fraction: float = 0.5,
    salt: str = "",
) -> DataFrame:
    """Temperature-scaled mixture resampling — the data-mixing rule that
    rebalances a web-scale corpus across sources: stratum mass ``n_s``
    is re-weighted to ``n_s^(1/T)`` (T=1 keeps the natural mix, T→∞
    approaches uniform over strata), then rows are kept by the same
    deterministic md5-threshold rule as :func:`hash_sample`.

    Per-stratum keep probability::

        p_s = min(1, target_fraction · N · w_s / (n_s · W))
        w_s = n_s^(1/T),  W = Σ w_s,  N = Σ n_s

    so the expected kept mass is ``target_fraction · N`` distributed
    ∝ ``n_s^(1/T)`` (strata hitting the p=1 cap contribute everything
    they have and the realized total lands slightly under target — a
    single normalization, no cap-redistribution iteration, documented
    and deterministic).

    Engine-determinism: ``w_s`` is integerized (``floor(·1e6 + .5)``)
    before the stratum sum, so ``W`` is an exact BIGINT sum
    (order-independent); the probability expression is evaluated with
    one fixed parenthesization over those exact ints and rounded to 6
    decimals before thresholding — the same cross-engine convention as
    the rest of the sampling family.

    Scale: one map-side-combined aggregate for the stratum census
    (O(strata) rows), a broadcast join of the tiny probability table,
    and a pure scan-side threshold filter — no shuffle of the corpus.
    """
    if temperature <= 0:
        raise ValueError(f"temperature must be > 0, got {temperature}")
    if not 0 < target_fraction <= 1:
        raise ValueError(
            f"target_fraction must be in (0, 1], got {target_fraction}"
        )
    counts = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("__n"))
    wint = F.floor(
        F.pow(F.col("__n").cast("double"), 1.0 / temperature)
        * _SAMPLE_MOD
        + F.lit(0.5)
    ).cast("long")
    counts = counts.select(stratum_col, "__n", wint.alias("__w"))
    totals = counts.agg(
        F.sum("__n").alias("__tot_n"), F.sum("__w").alias("__tot_w")
    )
    # products in double (overflow-proof at any corpus size); ONE fixed
    # parenthesization, mirrored verbatim in the DuckDB oracle
    p = F.round(
        F.least(
            F.lit(1.0),
            (
                F.lit(float(target_fraction))
                * F.col("__tot_n").cast("double")
                * F.col("__w").cast("double")
            )
            / (F.col("__n").cast("double") * F.col("__tot_w").cast("double")),
        ),
        6,
    )
    probs = counts.crossJoin(F.broadcast(totals)).select(
        stratum_col,
        F.floor(p * _SAMPLE_MOD + F.lit(0.5)).cast("long").alias("__thr"),
    )
    key = sample_key(F.col(id_col), salt)
    return (
        df.join(F.broadcast(probs), stratum_col)
        .where(key < F.col("__thr"))
        .drop("__thr")
    )


def dsir_weights(
    df: DataFrame,
    text_col: str,
    id_col: str,
    target_pred: Column,
    n_buckets: int = 256,
    alpha: float = 1.0,
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023, DSIR):
    score every document by how target-like its hashed-unigram
    distribution is, using the log-likelihood ratio between the target
    slice (rows where ``target_pred``) and the full raw corpus.

    Features are hashed unigrams: bucket = md5-prefix(term) mod
    ``n_buckets`` (the engine-portable hash family the sampler uses).
    Per-bucket log-ratio with add-``alpha`` smoothing:

        lr_b = ln((t_b + a) / (T + a·B)) − ln((r_b + a) / (R + a·B))

    A document's score is the mean lr over its tokens. Output, one row
    per document with ≥1 token:
      (id, n_tokens, dsir_logratio, dsir_weight = exp(logratio))

    Engine-determinism: each bucket's lr is rounded to 6 decimals and
    scaled to an exact integer atom BEFORE the per-doc sum, so the
    aggregation is order-free (the ``functions/metrics.py`` exact-sum
    pattern) and DuckDB-oracle-checkable bit-for-bit.

    Scale shape: one token explode (O(corpus tokens)); the bucket stats
    table is B rows — aggregated with map-side combine, then broadcast
    back to the token stream (a B-row broadcast hash join, no shuffle on
    the token side beyond the final doc-keyed agg, which is skew-free by
    id construction). Totals ride a ONE-ROW broadcast crossJoin, never a
    collect. The raw 100 TB corpus is scanned twice (bucket census, doc
    scoring); the census state is O(B), not O(vocab).
    """
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be > 0, got {n_buckets}")
    words = F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != "")
    toks = df.select(
        F.col(id_col),
        target_pred.alias("__is_t"),
        F.explode(words).alias("__term"),
    ).select(
        F.col(id_col),
        F.col("__is_t"),
        (
            F.conv(F.substring(F.md5(F.col("__term")), 1, 15), 16, 10)
            .cast("long")
            % n_buckets
        ).alias("__bucket"),
    )
    stats = toks.groupBy("__bucket").agg(
        F.sum(F.col("__is_t").cast("long")).alias("__t_b"),
        F.count(F.lit(1)).alias("__r_b"),
    )
    tot = stats.agg(
        F.sum("__t_b").alias("__T"), F.sum("__r_b").alias("__R")
    )
    a = float(alpha)
    ab = a * n_buckets
    lr = F.log(
        (F.col("__t_b") + F.lit(a)) / (F.col("__T") + F.lit(ab))
    ) - F.log((F.col("__r_b") + F.lit(a)) / (F.col("__R") + F.lit(ab)))
    # exact integer atom: order-free per-doc summation
    lr_i = F.floor(F.round(lr, 6) * 1_000_000 + F.lit(0.5)).cast("long")
    lrs = stats.crossJoin(F.broadcast(tot)).select(
        F.col("__bucket"), lr_i.alias("__lr_i")
    )
    agg = (
        toks.join(F.broadcast(lrs), "__bucket")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("__lr_i").alias("__s"),
        )
    )
    # sign-aware floor, NOT F.round: Spark rounds the shortest-decimal
    # repr (BigDecimal HALF_UP) while DuckDB rounds the binary double,
    # and they disagree when the decimal repr sits exactly on a half
    # (observed: -0.0078605 -> -0.007861 vs -0.00786). floor(|x|+0.5)
    # on the SAME double is engine-identical.
    mean_micro = F.col("__s") / F.col("n_tokens")
    logratio = (
        F.signum(mean_micro)
        * F.floor(F.abs(mean_micro) + F.lit(0.5))
        / F.lit(1_000_000.0)
    ) + F.lit(0.0)
    return agg.select(
        F.col(id_col),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        logratio.alias("dsir_logratio"),
        (F.round(F.exp(logratio), 6) + F.lit(0.0)).alias("dsir_weight"),
    )


def source_cap(
    df: DataFrame,
    id_col: str,
    source_col: str,
    cap: int,
    prefer_col: str | None = None,
) -> DataFrame:
    """Per-source quota cap: keep at most ``cap`` rows per source,
    preferring high ``prefer_col`` (quality score, length, ...) with a
    deterministic id tie-break — the web-pipeline rule that stops a
    single crawl domain from dominating the training mix.

    NULL ``prefer_col`` sorts LAST (coalesced to -inf — the
    ``dedup.keep_best`` convention: an unscored row never beats a scored
    one), and the id tie-break makes the kept set engine-reproducible.

    Output: the capped rows plus ``source_rank`` (1-based rank within
    the source), so downstream stages can tighten the cap without
    re-ranking.

    Scale: ONE shuffle on the source key; the rank-<=cap predicate is a
    WindowGroupLimit — Spark pushes a per-partition top-``cap`` heap
    BELOW the exchange (partial limit map-side), so a hot source ships
    at most ``cap`` rows per input partition, never its full fan-in.
    That bounds the skewed-task input at cap x upstream-partitions
    rows — the window never materializes a whole hot source in one task.
    """
    from pyspark.sql import Window

    if cap < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    prefer = (
        F.coalesce(F.col(prefer_col).cast("double"), F.lit(float("-inf")))
        if prefer_col
        else F.lit(0.0)
    )
    w = Window.partitionBy(source_col).orderBy(
        prefer.desc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("source_rank", F.row_number().over(w))
        .where(F.col("source_rank") <= cap)
    )


def token_budget_select(
    df: DataFrame,
    id_col: str,
    tokens_col: str,
    prefer_col: str,
    budget: int,
    quantize: int | None = None,
) -> DataFrame:
    """Greedy token-budget selection: order the corpus by
    (``prefer_col`` DESC, id ASC) and keep the prefix whose running
    token total stays within ``budget`` (a row is kept iff the total
    INCLUDING it is <= budget) — the standard "best N tokens" cut when a
    training run has a token budget rather than a document budget.

    Semantically a single global cumulative sum — but a global-order
    window is a one-task cliff at corpus scale, so the plan is split by
    the prefer value itself (which prefixes of the global order respect,
    because the order's leading key IS the prefer value):

    1. per-prefer-value token totals — one map-side-combined hash agg,
       O(distinct prefer values) rows;
    2. running totals over that table (one window over d rows, d =
       distinct scores), broadcast back as each value's offset;
    3. values whose offset is past the budget drop out before any
       per-row work;
    4. every participating value pays one within-value cumulative
       window (one partition = one value's rows, ordered by id) on top
       of its offset.

    NULL ``prefer_col`` sorts last (-inf, same convention as
    :func:`source_cap`); NULL/negative token counts (and a float
    ``tokens_col``'s NaN/Inf) are rejected rows (they would corrupt the
    running sum silently). Output: the selected rows + ``cum_tokens``
    (the global running total including the row).

    The plan is lazy: nothing runs until the caller's action, and no
    checkpoint is taken. Its two one-task windows are the regimes to
    know: the census window runs over all d distinct scores, and a
    participating score bucket's window runs over all of that bucket's
    rows. Measured on 4 vCPU (local[4]) at 16M rows, both stay cheaper
    in CPU than a distributed prefix sum, even for constant scores;
    with all 16M scores distinct the census window made the call 35%
    slower in wall time (25 s vs 19 s) while still using less CPU.
    ``quantize=k`` rounds the score to ``k`` decimals (half-up) first,
    bounding d: rows tied after rounding are ordered id-asc within the
    tie, so the kept set can differ from the unquantized greedy exactly
    at quantization ties.
    """
    from pyspark.sql import Window

    if budget < 0:
        raise ValueError(f"budget must be >= 0, got {budget}")
    score = F.col(prefer_col).cast("double")
    if quantize is not None:
        score = F.round(score, quantize)
    # try_cast, not cast: a float tokens_col with NaN/Inf must land in
    # the rejected rows (NULL tokens), not throw the ANSI CAST_OVERFLOW
    # mid-scan (Spark 4 default)
    toks = F.col(tokens_col).try_cast("long")
    base = df.withColumn(
        "__p", F.coalesce(score, F.lit(float("-inf")))
    ).where(toks.isNotNull() & (toks >= 0))

    # (1) per-value census; (2) running totals over the census
    per_val = base.groupBy("__p").agg(F.sum(toks).alias("__vt"))
    wv = Window.orderBy(F.col("__p").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ladder = per_val.select(
        "__p", (F.sum("__vt").over(wv) - F.col("__vt")).alias("__cum_start")
    )
    # (3) + (4): the within-value cumulative is ONE window partitioned
    # by the value (bounded by the bucket, never global order)
    wb = Window.partitionBy("__p").orderBy(F.col(id_col).asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (F.col("__cum_start") + F.sum(toks).over(wb)).alias("cum_tokens")
    # prefilter must be <=, not <: a bucket whose offset EQUALS the
    # budget can still contribute zero-token rows (cum == budget keeps
    # the row per the greedy contract), incl. the budget=0 edge
    return (
        base.join(F.broadcast(ladder), "__p")
        .where(F.col("__cum_start") <= budget)
        .select(*df.columns, cum)
        .where(F.col("cum_tokens") <= budget)
    )


def score_cutoffs(
    df: DataFrame,
    score_col: str,
    stratum_col: str | None = None,
    cuts: Sequence[float] = (1.0 / 3.0, 2.0 / 3.0),
    approx: bool = False,
) -> DataFrame:
    """Per-stratum quantile cutoffs for :func:`score_buckets_with` —
    ONE aggregate producing O(strata) rows (stratum?, __cuts), each cut
    an exact interpolated quantile rounded to 6 decimals (DuckDB
    quantile_cont parity). Computed once over a REFERENCE corpus these
    freeze the tier boundaries, which is exactly what the streaming
    twin needs: scoring a firehose against last-build cutoffs instead
    of re-deriving them per batch. ``approx=True`` switches to
    percentile_approx (same plan shape, estimate-tier cutoffs) for
    continuous score domains at corpus scale."""
    if any(a >= b for a, b in zip(cuts, cuts[1:])) or any(
        not 0.0 < c < 1.0 for c in cuts
    ):
        # strictly ascending: a duplicated cut would make its label's
        # CASE branch unreachable — silent mis-tiering, refuse loudly
        raise ValueError(
            f"cuts must be strictly ascending and in (0, 1): {cuts!r}"
        )
    s = F.col(score_col)
    strat = [stratum_col] if stratum_col is not None else []
    pcts = F.array(*[F.lit(float(c)) for c in cuts])
    agg = (F.percentile_approx(s, pcts, 10000) if approx
           else F.percentile(s, pcts))
    return df.groupBy(*strat).agg(
        F.transform(agg, lambda c: F.round(c, 6) + F.lit(0.0)).alias("__cuts")
    )


def score_buckets_with(
    df: DataFrame,
    cutoffs: DataFrame,
    id_col: str,
    score_col: str,
    stratum_col: str | None = None,
    labels: Sequence[str] = ("head", "middle", "tail"),
) -> DataFrame:
    """Assign tier labels against FROZEN cutoffs (``score_cutoffs``
    output): broadcast join (or one-row crossJoin when unstratified) +
    a scan-side CASE — a stateless projection, which is why the
    streaming twin is this exact plan over a streaming source.

    ``labels`` must have exactly len(cuts)+1 entries for the cutoff
    arity the store was built with (the CASE walks labels[:-1] against
    ``element_at(__cuts, i)`` — under ANSI a mismatch fails loudly).
    Buckets fill low-score-first; NULL scores (and strata absent from
    the cutoff table) get a NULL bucket.
    """
    s = F.col(score_col)
    strat = [stratum_col] if stratum_col is not None else []
    if not strat:
        # r12 advice: a stratified (multi-row) cutoff table passed with
        # stratum_col=None would silently multiply every input row
        # N-fold with conflicting buckets — the crossJoin is sanctioned
        # for exactly ONE row. limit(2) probe: O(1), aggregate-sized.
        n_cut = len(cutoffs.limit(2).collect())
        if n_cut != 1:
            raise ValueError(
                f"unstratified score_buckets_with needs a ONE-row cutoff "
                f"table (got {'0 rows' if n_cut == 0 else '>1 rows'}) — "
                "pass the stratum_col the cutoffs were built with, or "
                "rebuild them with score_cutoffs(stratum_col=None)"
            )
    joined = (
        df.join(F.broadcast(cutoffs), on=strat, how="left")
        if strat
        else df.crossJoin(F.broadcast(cutoffs))  # ONE cutoff row, not data×data
    )
    bucket = F.when(s.isNull() | F.col("__cuts").isNull(), F.lit(None))
    for i, lab in enumerate(labels[:-1]):
        bucket = bucket.when(
            s <= F.element_at("__cuts", i + 1), F.lit(lab)
        )
    bucket = bucket.otherwise(F.lit(labels[-1]))
    return joined.select(
        F.col(id_col), *strat, s.alias(score_col), bucket.alias("bucket")
    )


def score_buckets(
    df: DataFrame,
    id_col: str,
    score_col: str,
    stratum_col: str | None = None,
    cuts: Sequence[float] = (1.0 / 3.0, 2.0 / 3.0),
    labels: Sequence[str] = ("head", "middle", "tail"),
    approx: bool = False,
) -> DataFrame:
    """CCNet-style score bucketing (Wenzek et al. 2020): split a scored
    corpus into quality tiers by per-stratum score quantiles — the
    canonical use is head/middle/tail perplexity terciles PER LANGUAGE
    over an LM score (``text.lm_score``), after which a pipeline keeps
    the head, samples the middle, and drops the tail.

    Buckets are assigned low-score-first: ``labels[0]`` is scores ≤ the
    first cutoff (for perplexity, lower = more fluent = "head"). Rows
    with NULL scores (e.g. sub-bigram docs) keep their row with a NULL
    bucket. Cutoffs are exact interpolated quantiles rounded to 6
    decimals so the boundary comparison replays bit-identically in the
    DuckDB oracle (quantile_cont == Spark percentile, the
    quantiles-query pairing).

    Output: input id/stratum/score columns + ``bucket``.

    Scale shape: NO global (or per-stratum) sort of the data — cutoffs
    come from ONE aggregate (O(strata) rows, :func:`score_cutoffs`),
    broadcast back, and the assignment is a scan-side CASE
    (:func:`score_buckets_with` — reuse it directly to freeze cutoffs
    across batches/streams). The exact-percentile aggregate holds
    per-group value counts in memory; for continuous score domains at
    corpus scale pass ``approx=True`` (percentile_approx, same plan
    shape) and accept estimate-tier cutoffs — the exact tier is the
    oracle-checkable default.
    """
    if len(labels) != len(cuts) + 1:
        raise ValueError(
            f"need len(labels) == len(cuts) + 1, got {len(labels)} labels "
            f"for {len(cuts)} cuts"
        )
    cutdf = score_cutoffs(df, score_col, stratum_col, cuts, approx)
    return score_buckets_with(
        df, cutdf, id_col, score_col, stratum_col, labels
    )
