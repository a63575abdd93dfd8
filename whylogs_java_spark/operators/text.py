"""Text-analysis operators for training-data pipelines.

All pure JVM expressions (split/filter/regexp/aggregate) — no UDFs in the
hot path; every operator is a narrow projection or one aggregation, so the
plans scale linearly with corpus size and stay inside whole-stage codegen.
"""

from __future__ import annotations

from typing import NamedTuple, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hof import let_bound

from ..ckpt import materialize, materialize_lazy, release
from ..stores import read_meta, write_meta

# Minimal stopword lexicons for the n-gram/stopword language heuristic.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a", "in", "is", "that", "for", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "für", "auf"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "pour", "dans", "que"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "para", "en", "que"),
}
CJK_RE = r"[一-鿿]"

# BPE-ish tokenization: letter runs, digit runs, or single non-space symbols
REGEX_TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"
PUNCT_RE = r"[^A-Za-z0-9\s]"


def tokens(col: Column) -> Column:
    """Whitespace tokens (the reference's tokenizer — StringTracker.java:25)."""
    return F.filter(F.split(col, " "), lambda t: t != "")


def ws_lower_tokens(col: Column) -> Column:
    """Lowercase whitespace tokens, NULL text = empty doc — the
    "ws-lower-v1" tokenizer pinned in text-index store meta. Every
    consumer (vocab induction, OOV, phrase search, index build/append)
    MUST share this one expression: stored-vs-scan bit-identity and the
    meta version contract both hang off it."""
    return F.filter(
        F.split(F.coalesce(F.lower(col), F.lit("")), " "), lambda t: t != ""
    )


def token_counts(
    df: DataFrame, text_col: str, id_col: str, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Whitespace + regex token counts per document.

    Output: (id, *keep_cols, ws_tokens, re_tokens, n_chars) —
    ``keep_cols`` pass through untouched so projection operators chain in
    ONE scan instead of self-joining on the id (`report.corpus_report`).
    """
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        F.size(tokens(t)).alias("ws_tokens"),
        F.size(F.regexp_extract_all(t, F.lit(REGEX_TOKEN_PATTERN), 0)).alias("re_tokens"),
        F.length(t).alias("n_chars"),
    )


def language_scores(col: Column) -> dict[str, Column]:
    """Per-language stopword-hit counts over lowercase whitespace tokens."""
    toks = tokens(F.lower(col))
    scores = {
        lang: F.size(F.filter(toks, lambda t: t.isin(*sw)))
        for lang, sw in LANG_STOPWORDS.items()
    }
    # CJK: character-level evidence instead of stopwords
    scores["zh"] = F.size(F.regexp_extract_all(col, F.lit(CJK_RE), 0))
    return scores


def language_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Heuristic language ID: argmax stopword evidence, ties -> lexicographic
    first language, no evidence -> 'und'. Output: (id, predicted_lang).

    Two-phase: scores project once per row, then the argmax walk runs over
    plain attributes — the naive nested-CASE walk re-evaluates every score
    expression O(2^langs) times.
    """
    scores = language_scores(F.col(text_col))
    langs = sorted(scores)  # deterministic tie-break order
    scored = df.select(
        F.col(id_col), *[scores[lang].alias(f"__s_{lang}") for lang in langs]
    )
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in reversed(langs):  # earlier langs win ties via >=
        s = F.col(f"__s_{lang}")
        cond = s >= F.greatest(best_score, F.lit(1))
        best_lang = F.when(cond, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(cond, s).otherwise(best_score)
    return scored.select(F.col(id_col), best_lang.alias("predicted_lang"))


def language_scores_sql(text_expr: str) -> dict[str, str]:
    """DuckDB SQL for the same per-language scores (oracle parity)."""
    toks = f"str_split(lower({text_expr}), ' ')"
    out = {}
    for lang, sw in LANG_STOPWORDS.items():
        inlist = ", ".join(f"'{w}'" for w in sw)
        out[lang] = f"len(list_filter({toks}, t -> t IN ({inlist})))"
    out["zh"] = f"len(regexp_extract_all({text_expr}, '{CJK_RE}'))"
    return out


def language_id_sql(score_cols: dict[str, str] | None = None) -> str:
    """DuckDB CASE tree replicating language_id's priority walk exactly.

    ``score_cols`` maps language -> SQL expression (typically a projected
    column name such as ``__s_en``); defaults to ``__s_<lang>``.
    """
    scores = score_cols or {lang: f"__s_{lang}" for lang in [*LANG_STOPWORDS, "zh"]}
    langs = sorted(scores)
    best_lang, best_score = "'und'", "0"
    for lang in reversed(langs):
        s = scores[lang]
        cond = f"{s} >= GREATEST({best_score}, 1)"
        best_lang = f"CASE WHEN {cond} THEN '{lang}' ELSE {best_lang} END"
        best_score = f"CASE WHEN {cond} THEN {s} ELSE {best_score} END"
    return best_lang


def quality_metrics(
    df: DataFrame, text_col: str, id_col: str, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Gopher-style quality signals + a composite score.

    Signals: word count, mean word length, stopword ratio, punctuation
    ratio, digit ratio. Composite ``quality`` is the fraction of gates
    passed (word count in [5, 10000], mean word len in [2, 12], stopword
    ratio ≥ 0.01, punct ratio ≤ 0.2, digit ratio ≤ 0.3).
    Output: (id, *keep_cols, word_count, mean_word_len, stopword_ratio,
    punct_ratio, digit_ratio, quality); ``keep_cols`` pass through
    untouched (single-scan chaining — see ``token_counts``).
    """
    t = F.col(text_col)
    toks = tokens(t)
    wc = F.size(toks)
    nch = F.length(t)
    mean_wl = F.when(
        wc > 0,
        F.round(
            F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x)).cast("double") / wc, 6
        )
        + 0.0,
    )
    en_sw = LANG_STOPWORDS["en"]
    sw_ratio = F.when(
        wc > 0,
        F.round(
            F.size(F.filter(F.transform(toks, F.lower), lambda x: x.isin(*en_sw))).cast("double")
            / wc,
            6,
        )
        + 0.0,
    )
    punct_ratio = F.when(
        nch > 0,
        F.round(F.size(F.regexp_extract_all(t, F.lit(PUNCT_RE), 0)).cast("double") / nch, 6) + 0.0,
    )
    digit_ratio = F.when(
        nch > 0,
        F.round(F.size(F.regexp_extract_all(t, F.lit(r"[0-9]"), 0)).cast("double") / nch, 6) + 0.0,
    )
    out = df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        wc.alias("word_count"),
        mean_wl.alias("mean_word_len"),
        sw_ratio.alias("stopword_ratio"),
        punct_ratio.alias("punct_ratio"),
        digit_ratio.alias("digit_ratio"),
    )
    gates = (
        F.when((F.col("word_count") >= 5) & (F.col("word_count") <= 10000), 1).otherwise(0)
        + F.when((F.col("mean_word_len") >= 2) & (F.col("mean_word_len") <= 12), 1).otherwise(0)
        + F.when(F.col("stopword_ratio") >= 0.01, 1).otherwise(0)
        + F.when(F.col("punct_ratio") <= 0.2, 1).otherwise(0)
        + F.when(F.col("digit_ratio") <= 0.3, 1).otherwise(0)
    )
    return out.withColumn("quality", (F.round(gates / 5.0, 6) + 0.0))


def fingerprint(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Deterministic document fingerprint: md5 of normalized text plus a
    64-char prefix key for blocking. Output: (id, fp, prefix_key)."""
    norm = F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " ")
    return df.select(
        F.col(id_col),
        F.md5(norm).alias("fp"),
        F.md5(F.substring(norm, 1, 64)).alias("prefix_key"),
    )


def repetition_metrics(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition signals: how much of a document is the same
    word / word-bigram repeated (MassiveText used duplicate-line and
    top-n-gram-coverage gates; these are the word-bag equivalents for
    corpora without line structure).

    Output per document:
    - ``n_words``           whitespace token count
    - ``distinct_word_frac``  |distinct words| / n_words
    - ``top_word_frac``       occurrences of the most common word / n_words
    - ``top_bigram_frac``     occurrences of the most common word bigram /
                              (n_words - 1); NULL when n_words < 2

    Scale shape: one explode per n-gram order feeding a two-level
    hash-aggregate — (id, gram) counts reduce map-side, then per-id
    max/sum. Both shuffles key on the document id (the natural partition
    key of a corpus), never on the gram, so hot grams cannot skew a
    partition.
    """
    t = F.col(text_col)
    toks = tokens(t)
    base = df.select(F.col(id_col).alias("__id"), toks.alias("__toks"))

    uni = (
        base.select("__id", F.explode("__toks").alias("w"))
        .groupBy("__id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("__id")
        .agg(
            F.sum("c").alias("n_words"),
            F.count(F.lit(1)).alias("n_distinct"),
            F.max("c").alias("top_w"),
        )
    )
    bigrams = F.when(
        F.size("__toks") >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - 1),
            lambda i: F.concat_ws(
                " ", F.element_at("__toks", i), F.element_at("__toks", i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    bi = (
        base.select("__id", F.explode(bigrams).alias("g"))
        .groupBy("__id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("__id")
        .agg(F.sum("c").alias("n_bigrams"), F.max("c").alias("top_b"))
    )
    return (
        uni.join(bi, on="__id", how="left")
        .select(
            F.col("__id").alias(id_col),
            F.col("n_words"),
            (F.round(F.col("n_distinct") / F.col("n_words"), 6) + 0.0).alias(
                "distinct_word_frac"
            ),
            (F.round(F.col("top_w") / F.col("n_words"), 6) + 0.0).alias(
                "top_word_frac"
            ),
            (F.round(F.col("top_b") / F.col("n_bigrams"), 6) + 0.0).alias(
                "top_bigram_frac"
            ),
        )
    )


# PII-ish surface patterns: kept RE2-compatible (no backrefs/lookarounds)
# so the Spark (java.util.regex) and DuckDB (RE2) engines agree.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b",
    "phone": r"\+?[0-9][0-9() .-]{7,}[0-9]",
    "number_run": r"[0-9]{4,}",
}


def pii_scan(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Per-document PII-surface counts (emails, IPv4s, phone-shaped runs,
    long digit runs) — the scrub/filter signal a training-data pipeline
    computes before release. Pure projection (regexp_extract_all sizes):
    no shuffle, rides inside the scan at any scale.

    Pattern dialect note: patterns are RE2-compatible so the DuckDB oracle
    runs them verbatim; \\b word boundaries are supported by both engines.
    Output: (id, n_email, n_ipv4, n_phone, n_number_run, has_pii).
    """
    t = F.col(text_col)
    counts = {
        name: F.size(F.regexp_extract_all(t, F.lit(pat), 0))
        for name, pat in PII_PATTERNS.items()
    }
    has_pii = (
        (counts["email"] > 0) | (counts["ipv4"] > 0) | (counts["phone"] > 0)
    )
    return df.select(
        F.col(id_col),
        *[counts[n].cast("int").alias(f"n_{n}") for n in PII_PATTERNS],
        has_pii.alias("has_pii"),
    )


def compression_ratio(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Compression-ratio quality signal: zlib(text) bytes / raw bytes.

    Low ratios flag boilerplate/templated/repetitive documents — the
    classic cheap complement to n-gram repetition gates. There is no
    Catalyst expression for DEFLATE, so this is the sanctioned slow path
    done right: an Arrow-batched ``pandas_udf`` (one Python call per
    record batch, not per row) over a pure projection — no shuffle, scales
    with the scan. Cross-engine oracle is impossible (ratios depend on the
    zlib build), so the query tier is rows-only with pytest pinning the
    ordering invariants (repetitive < natural < random).

    Output: (id, raw_bytes, zlib_bytes, compression_ratio).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def zlib_size(s: pd.Series) -> pd.Series:
        import zlib

        return s.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6))
            if t is not None
            else None
        )

    t = F.col(text_col)
    raw = F.octet_length(t)
    z = zlib_size(t)
    return df.select(
        F.col(id_col),
        raw.cast("long").alias("raw_bytes"),
        z.alias("zlib_bytes"),
        F.when(raw > 0, F.round(z / raw, 6) + 0.0).alias("compression_ratio"),
    )


def compression_invariants(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Hash-checkable BRACKET companion to ``compression_ratio``: the
    per-doc zlib sizes themselves depend on the zlib build (no DuckDB
    twin), but these DO replay cross-engine —

    - ``raw_bytes``: exact UTF-8 octet length (octet_length both sides)
    - ``z_upper_ok``: zlib_bytes <= raw + raw/100 + 64 (deflateBound-
      style worst case with margin; corpus-measured max overhead is 8B)
    - ``z_lower_ok``: zlib_bytes >= 8 (the empty-input zlib stream is
      8 bytes: 2B header + empty fixed block + 4B adler)
    - ``rep3_ok``: zlib(text×3) <= 3·zlib(text) — self-repetition never
      compresses worse than three independent copies (the extra copies
      become window back-references; streams beyond the 32 KB window
      still save the repeated headers)
    - ``rep3_gain_ok``: for texts within the 32 KB deflate window,
      zlib(text×3) - zlib(text) <= raw/8 + 64 — the two extra copies
      cost at most match codes (~raw/86 measured), i.e. repetition is
      detected, not re-encoded. Past the window the extra copies cannot
      back-reference the first (match distance > 32768), so the bound
      is vacuously TRUE there — ``rep3_ok`` still applies

    One Arrow-batched pandas UDF computes both sizes per batch; the
    booleans are NULL for NULL text (mirrored by the oracle's CASE).
    Monotonicity/extreme-input behavior is pinned by pytest on
    constructed strings; this query ties the same invariants to the
    corpus under the driver's hash gate.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<z1: long, z3: long>")
    def zsizes(s: pd.Series) -> pd.DataFrame:
        import zlib

        def f(t):
            if t is None:
                return (None, None)
            b = t.encode("utf-8")
            return (len(zlib.compress(b, 6)), len(zlib.compress(b * 3, 6)))

        out = s.map(f)
        return pd.DataFrame(
            {"z1": out.map(lambda x: x[0]), "z3": out.map(lambda x: x[1])}
        )

    t = F.col(text_col)
    raw = F.octet_length(t).cast("long")
    z = zsizes(t)
    z1, z3 = z["z1"], z["z3"]
    return df.select(
        F.col(id_col),
        raw.alias("raw_bytes"),
        (z1 <= raw + F.floor(raw / 100) + 64).alias("z_upper_ok"),
        (z1 >= 8).alias("z_lower_ok"),
        (z3 <= 3 * z1).alias("rep3_ok"),
        ((raw > 32768) | (z3 - z1 <= F.floor(raw / 8) + 64)).alias(
            "rep3_gain_ok"
        ),
    )


def packing_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    context_len: int = 512,
    strata: list[str] | None = None,
) -> DataFrame:
    """Sequence-packing planning stats: how a tokenized corpus fills
    fixed-size training contexts.

    Per stratum (or globally): document/token totals, docs exceeding one
    context (they must be chunked), tokens lost to truncate-at-one-context
    policy, and the two packing bounds every batch planner needs —
    ``min_contexts`` = ceil(total_tokens / context_len) (perfect packing /
    concat-and-chunk lower bound) and ``contexts_one_doc_each`` = one doc
    per context (the no-packing upper bound). Greedy bin packing lands
    between them and is order-dependent, so the bounds — not a specific
    packing — are the engine-level statistics.

    One hash-aggregate over whitespace token counts; scale-identical to
    the profile family.
    """
    keys = list(strata or [])
    toks = F.size(tokens(F.col(text_col)))
    base = df.select(*keys, F.col(id_col), toks.alias("__t"))
    ctx = F.lit(context_len)
    agg = base.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__t").alias("total_tokens"),
        F.sum(F.when(F.col("__t") > ctx, 1).otherwise(0)).alias("docs_over_context"),
        F.sum(F.greatest(F.col("__t") - ctx, F.lit(0))).alias("truncated_tokens"),
        F.max("__t").alias("max_tokens"),
    )
    return agg.select(
        *keys,
        "n_docs",
        "total_tokens",
        "docs_over_context",
        "truncated_tokens",
        "max_tokens",
        F.ceil(F.col("total_tokens") / ctx).cast("long").alias("min_contexts"),
        F.col("n_docs").alias("contexts_one_doc_each"),
    )


class NgramLM(NamedTuple):
    """A built smoothed n-gram LM (see :func:`build_ngram_lm`): bounded
    count tables (all broadcastable regardless of corpus size) plus the
    scoring constants. Build once; score any number of corpora or
    micro-batches with :func:`lm_score_with`.

    Every model carries the vocabulary and the bigram tables. An
    ``order=3`` model adds the unigram, trigram-prefix and trigram
    tables; a ``smoothing="kn"`` model adds the Kneser-Ney continuation
    tables, every one an aggregate of the trigram/bigram type census,
    so none can outgrow the count tables it derives from. The tables an
    order or smoothing does not use are ``None``."""

    order: int                       # 2 | 3
    vocab: DataFrame                 # (tok) — exact top-V, deterministic ties
    prefix_counts: DataFrame         # (prev, __cp) — ≤ V+1 rows
    bigram_counts: DataFrame         # (prev, w, __cb) — exact top-B
    vocab_size: int
    alpha: float
    lambdas: tuple                   # (λ3, λ2, λ1), sums to 1 (order-3 jm)
    smoothing: str = "jm"            # "jm" | "kn" (order 3)
    discount: float = 0.75           # KN absolute discount D
    unigram_counts: DataFrame | None = None   # (w, __cu) — ≤ V+1 rows
    total_tokens: int = 0            # N: total mapped token count
    trigram_prefix_counts: DataFrame | None = None  # (prev2, prev, __cq[, __nt])
    trigram_counts: DataFrame | None = None  # (prev2, prev, w, __ct) — top-T
    kn_cont: DataFrame | None = None  # (prev, w, __npw=N1+(·,v,w))
    kn_mid: DataFrame | None = None   # (prev, __nmid=N1+(·,v,·), __tv)
    kn_uni: DataFrame | None = None   # (w, __n1w=N1+(·,w))
    kn_bigram_types: int = 0          # N1+(·,·): distinct mapped bigrams


# the context columns of an n-gram row, last token last
_GRAM_COLS = ("prev2", "prev", "w")


def _lm_toks(c: Column) -> Column:
    return F.filter(F.split(F.lower(c), " "), lambda t: t != "")


def _gram_rows(
    source: DataFrame, text_col: str, vocab: DataFrame, id_col: str | None,
    n: int,
) -> DataFrame:
    """(id?, pos, [prev2,] prev, w) ``n``-gram rows with
    out-of-vocabulary tokens mapped to ``<unk>`` via one broadcast join
    per position. The gram array is a pure per-row array expression —
    no window, no per-doc state."""
    names = _GRAM_COLS[-n:]
    cols = [F.col(id_col)] if id_col else []
    empty = "array<struct<" + ",".join(f"{c}:string" for c in names) + ">>"

    def grams(t: Column) -> Column:
        # let-bound: a free `t` here would re-tokenize the text once per
        # gram (functions.hof)
        return F.when(
            F.size(t) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - (n - 1)),
                lambda i: F.struct(*[
                    F.element_at(t, i + k).alias(c)
                    for k, c in enumerate(names)
                ]),
            ),
        ).otherwise(F.array().cast(empty))

    arr = let_bound(_lm_toks(F.col(text_col)), grams)
    rows = source.select(*cols, F.posexplode(arr).alias("pos", "__g"))
    for c in names:
        v = vocab.select(F.col("tok").alias(f"__v_{c}"))
        rows = rows.join(
            F.broadcast(v), F.col(f"__g.{c}") == F.col(f"__v_{c}"), "left"
        )
    return rows.select(
        *cols,
        "pos",
        *[F.coalesce(f"__v_{c}", F.lit("<unk>")).alias(c) for c in names],
    )


def build_ngram_lm(
    src: DataFrame,
    text_col: str,
    *,
    order: int = 2,
    vocab_size: int = 512,
    top_bigrams: int = 4096,
    top_trigrams: int = 16384,
    alpha: float = 0.5,
    lambdas: tuple = (0.5, 0.3, 0.2),
    smoothing: str = "jm",
    discount: float = 0.75,
) -> NgramLM:
    """Train a smoothed n-gram LM from ``src``; every table is bounded
    and every tie is broken by a total order, so the build is
    deterministic and DuckDB-replayable.

    ``order=2``, the add-``alpha`` bigram LM, in two corpus passes:

    - vocabulary: exact top-``vocab_size`` lowercase whitespace tokens
      (count desc, token asc); everything else maps to ``<unk>``, so
      the conditional denominator table is ≤ V+1 rows. Checkpointed
      once: it feeds the mapping joins of every later consumer.
    - one mapped-bigram aggregation, bounded at (V+1)² rows by
      unk-mapping before counting and checkpointed lazily, from which
      both the prefix counts (≤ V+1 rows) and the exact
      top-``top_bigrams`` bigram counts (count desc, prev asc, w asc)
      derive; dropped/unseen bigrams back off to the add-``alpha``
      numerator.

    ``order=3`` adds one mapped-unigram and one mapped-trigram
    aggregation (run from two threads so their jobs overlap), the
    trigram prefix table (≤ (V+1)² rows: ~263k short rows at V=512) and
    the exact top-``top_trigrams`` trigram table. ``smoothing="jm"``
    scores the Jelinek-Mercer interpolation P(w|u,v) = λ3·P̂3(w|u,v) +
    λ2·P̂2(w|v) + λ1·P̂1(w) of add-``alpha`` conditionals — one step
    toward the published CCNet shape (Wenzek et al. 2020 use a 5-gram
    KenLM). ``smoothing="kn"`` scores interpolated KNESER-NEY instead
    (Kneser & Ney 1995; the Chen & Goodman 1999 form — the family
    KenLM, and so the published CCNet pipeline, uses): absolute
    ``discount`` D at the trigram level, continuation counts at the
    bigram/unigram levels, and an add-``alpha`` floor on the
    continuation unigram so every trigram keeps finite mass; its extra
    tables aggregate the trigram and bigram type censuses, so nothing
    grows past the (V+1)² ceiling, and ``lambdas`` goes unused.
    """
    from concurrent.futures import ThreadPoolExecutor

    from ..ckpt import spread

    if order not in (2, 3):
        raise ValueError(f"order must be 2 or 3, got {order}")
    if smoothing not in ("jm", "kn"):
        raise ValueError(f"smoothing must be 'jm' or 'kn', got {smoothing!r}")
    if smoothing == "kn" and order != 3:
        raise ValueError("smoothing='kn' is a trigram (order=3) tier")
    if not 0.0 < discount <= 1.0:
        raise ValueError(f"discount must be in (0, 1], got {discount}")
    if len(lambdas) != 3 or any(l <= 0 for l in lambdas) or abs(
        sum(lambdas) - 1.0
    ) > 1e-9:
        raise ValueError(
            f"lambdas must be 3 positive weights summing to 1: {lambdas!r}"
        )
    lm_toks = spread(src.select(_lm_toks(F.col(text_col)).alias("__toks")))
    vocab = (
        lm_toks.select(F.explode("__toks").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("__c"))
        .orderBy(F.desc("__c"), F.asc("tok"))
        .limit(vocab_size)
        .select("tok")
        .transform(materialize)
    )
    # LAZY checkpoint (guide §5): the bigram-type census feeds the
    # prefix/bigram tables (broadcast sides of the scoring plan) and
    # KN's unigram continuation — the first action (KN's type count, or
    # the scoring job itself) materializes it once, no extra eager job
    bigram_types = (
        _gram_rows(spread(src), text_col, vocab, None, 2)
        .groupBy("prev", "w")
        .agg(F.count(F.lit(1)).alias("__cb"))
        .transform(materialize_lazy)
    )
    lm = NgramLM(
        order,
        vocab,
        bigram_types.groupBy("prev").agg(F.sum("__cb").alias("__cp")),
        bigram_types.orderBy(
            F.desc("__cb"), F.asc("prev"), F.asc("w")
        ).limit(top_bigrams),
        vocab_size,
        alpha,
        tuple(float(x) for x in lambdas),
        smoothing,
        float(discount),
    )
    if order == 2:
        return lm

    toks = spread(src).select(F.explode(_lm_toks(F.col(text_col))).alias("t0"))
    uv = vocab.select(F.col("tok").alias("__uv"))

    def _build_ug():
        # lazy checkpoint + total-count fusion (guide §5): the sum
        # collect is the first full action, so one job materializes the
        # unigram census AND returns the total
        ug = (
            toks.join(F.broadcast(uv), toks["t0"] == F.col("__uv"), "left")
            .select(F.coalesce("__uv", F.lit("<unk>")).alias("w"))
            .groupBy("w")
            .agg(F.count(F.lit(1)).alias("__cu"))
            .transform(materialize_lazy)
        )
        return ug, ug.agg(F.sum("__cu")).collect()[0][0] or 0

    def _build_tc():
        return (
            _gram_rows(spread(src), text_col, vocab, None, 3)
            .groupBy("prev2", "prev", "w")
            .agg(F.count(F.lit(1)).alias("__ct"))
            .transform(materialize)
        )

    # the unigram and trigram censuses are independent given the vocab:
    # build them from two threads so their materialization jobs overlap
    # (optimization guide §2.6) instead of running back to back
    with ThreadPoolExecutor(max_workers=2) as pool:
        f_ug, f_tc = pool.submit(_build_ug), pool.submit(_build_tc)
        (ug, total), tc_full = f_ug.result(), f_tc.result()
    lm = lm._replace(
        unigram_counts=ug,
        total_tokens=int(total),
        trigram_counts=tc_full.orderBy(
            F.desc("__ct"), F.asc("prev2"), F.asc("prev"), F.asc("w")
        ).limit(top_trigrams),
    )
    if smoothing == "jm":
        return lm._replace(trigram_prefix_counts=tc_full.groupBy(
            "prev2", "prev"
        ).agg(F.sum("__ct").alias("__cq")))
    # KN continuation state — every table an aggregate of a type
    # census (tc_full rows are distinct (u,v,w), so COUNT(*) groupings
    # ARE the N1+ "distinct contexts" counts):
    #   __nt   = N1+(u,v,·): distinct w after the trigram prefix
    #   __npw  = N1+(·,v,w): distinct u before the bigram
    #   __nmid = N1+(·,v,·) and __tv = |{w: N1+(·,v,w)>0}|
    #   __n1w  = N1+(·,w) from the bigram-type census (the trigram
    #            census misses each doc's first bigram)
    cont = tc_full.groupBy("prev", "w").agg(
        F.count(F.lit(1)).alias("__npw")
    ).transform(materialize_lazy)
    return lm._replace(
        trigram_prefix_counts=tc_full.groupBy("prev2", "prev").agg(
            F.sum("__ct").alias("__cq"), F.count(F.lit(1)).alias("__nt")
        ),
        kn_cont=cont,
        kn_mid=cont.groupBy("prev").agg(
            F.sum("__npw").alias("__nmid"), F.count(F.lit(1)).alias("__tv")
        ),
        kn_uni=bigram_types.groupBy("w").agg(F.count(F.lit(1)).alias("__n1w")),
        kn_bigram_types=int(bigram_types.count()),
    )


def lm_score_with(
    df: DataFrame, text_col: str, id_col: str, lm: NgramLM
) -> DataFrame:
    """Score ``df`` against a built :class:`NgramLM`.

    Scan-shaped: per-row gram arrays, one explode, broadcast count
    joins, one doc-keyed aggregation (the only shuffle, skew-free by
    key construction). All add-``alpha`` conditionals share the
    denominator constant α·(V+1), so scores don't shift when the corpus
    has fewer distinct tokens than the CONFIGURED vocab_size; every
    count join is left + zero backoff, so a prefix the LM corpus never
    saw still scores (as pure add-alpha mass) instead of silently
    dropping the gram. Per position, ln of:

    - order 2: P̂2(w|v) = (c(v,w)+α) / (c(v)+α·(V+1));
    - order 3, jm: λ3·P̂3 + λ2·P̂2 + λ1·P̂1, P̂3 the trigram twin of P̂2
      and P̂1(w) = (c(w)+α) / (N+α·(V+1)), N the corpus token total;
    - order 3, kn: per level the discounted MLE term plus the discount
      mass times the lower level, a prefix the census never saw backing
      off entirely to that lower level —

        P(w|u,v) = (max(c(u,v,w)−D,0) + D·N1+(u,v,·)·P(w|v)) / c(u,v)
        P(w|v)   = (max(N1+(·,v,w)−D,0) + D·|after v|·P(w)) / N1+(·,v,·)
        P(w)     = (N1+(·,w) + α) / (N1+(·,·) + α·(V+1))

      (the unigram α-floor keeps every log finite and sums to exactly 1
      over the mapped vocabulary, since ΣN1+(·,w) = N1+(·,·)).

    Output, one row per input doc: (id, n_bigrams | n_trigrams,
    avg_logp, perplexity) with avg_logp = mean ln P rounded to 6
    decimals, perplexity = exp(-mean) rounded to 6; docs with fewer
    than ``order`` tokens keep their row with a zero count and null
    scores.
    """
    from ..ckpt import spread

    a = float(lm.alpha)
    denom = a * (lm.vocab_size + 1)
    n_col = "n_bigrams" if lm.order == 2 else "n_trigrams"

    def c(name):
        return F.coalesce(F.col(name), F.lit(0))

    def add_alpha(count, context):
        return (c(count) + F.lit(a)) / (context + F.lit(denom))

    def discounted(count, types, context, lower):
        d = float(lm.discount)
        return F.when(
            c(context) > 0,
            (
                F.greatest(c(count) - F.lit(d), F.lit(0.0))
                + F.lit(d) * c(types) * lower
            ) / c(context),
        ).otherwise(lower)

    p2 = add_alpha("__cb", c("__cp"))
    trigram = [
        (lm.trigram_prefix_counts, ["prev2", "prev"]),
        (lm.trigram_counts, ["prev2", "prev", "w"]),
    ]
    if lm.order == 2:
        joins = [(lm.prefix_counts, "prev"), (lm.bigram_counts, ["prev", "w"])]
        p = p2
    elif lm.smoothing == "kn":
        joins = trigram + [
            (lm.kn_cont, ["prev", "w"]), (lm.kn_mid, "prev"), (lm.kn_uni, "w"),
        ]
        p1 = add_alpha("__n1w", F.lit(float(lm.kn_bigram_types)))
        p = discounted(
            "__ct", "__nt", "__cq", discounted("__npw", "__tv", "__nmid", p1)
        )
    else:
        joins = trigram + [
            (lm.prefix_counts, "prev"), (lm.bigram_counts, ["prev", "w"]),
            (lm.unigram_counts, "w"),
        ]
        l3, l2, l1 = lm.lambdas
        p = (
            F.lit(l3) * add_alpha("__ct", c("__cq"))
            + F.lit(l2) * p2
            + F.lit(l1) * add_alpha("__cu", F.lit(float(lm.total_tokens)))
        )
    scored = _gram_rows(spread(df), text_col, lm.vocab, id_col, lm.order)
    for table, on in joins:
        scored = scored.join(F.broadcast(table), on=on, how="left")
    agg = (
        scored.select(F.col(id_col), F.log(p).alias("__lnp"))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias(n_col), F.sum("__lnp").alias("__s"))
    )
    mean = F.col("__s") / F.col(n_col)
    return (
        df.select(id_col)
        .join(agg, on=id_col, how="left")
        .select(
            F.col(id_col),
            F.coalesce(n_col, F.lit(0)).cast("long").alias(n_col),
            (F.round(mean, 6) + 0.0).alias("avg_logp"),
            (F.round(F.exp(-mean), 6) + 0.0).alias("perplexity"),
        )
    )


def lm_score(
    df: DataFrame,
    text_col: str,
    id_col: str,
    vocab_size: int = 512,
    top_bigrams: int = 4096,
    alpha: float = 0.5,
    lm_df: DataFrame | None = None,
    order: int = 2,
    top_trigrams: int = 16384,
    lambdas: tuple = (0.5, 0.3, 0.2),
    smoothing: str = "jm",
    discount: float = 0.75,
) -> DataFrame:
    """Corpus-trained smoothed n-gram LM quality score (the CCNet-style
    perplexity proxy: fluent, corpus-typical text scores low perplexity;
    gibberish, boilerplate, and wrong-language text score high).

    :func:`build_ngram_lm` + :func:`lm_score_with` in one call: the LM
    trains on the corpus itself (or ``lm_df``, e.g. a clean
    deterministic sample from ``operators.sampling``). At ``order=2``
    the corpus is scanned at most three times end-to-end (vocab count,
    mapped-bigram count, scoring). All LM state is bounded and
    broadcast by construction, every decision is deterministic (exact
    top-k with total-order ties), so the whole pipeline is
    oracle-checkable in DuckDB to the 6-decimal rounding.

    ``order=3`` scores the interpolated-trigram tier (``smoothing`` "jm"
    or "kn") — closer to the published CCNet 5-gram shape while keeping
    the same bounded, replayable design; the output column is then
    ``n_trigrams`` instead of ``n_bigrams``.
    """
    lm = build_ngram_lm(
        lm_df if lm_df is not None else df, text_col, order=order,
        vocab_size=vocab_size, top_bigrams=top_bigrams,
        top_trigrams=top_trigrams, alpha=alpha, lambdas=lambdas,
        smoothing=smoothing, discount=discount,
    )
    return lm_score_with(df, text_col, id_col, lm)


# on-disk table name -> NgramLM field; an order-2 model writes the first
# three, an order-3 jm model the first six, a kn model all nine
_LM_TABLES = {
    "vocab": "vocab",
    "bigram_prefix": "prefix_counts",
    "bigram_counts": "bigram_counts",
    "unigram": "unigram_counts",
    "trigram_prefix": "trigram_prefix_counts",
    "trigram_counts": "trigram_counts",
    "kn_cont": "kn_cont",
    "kn_mid": "kn_mid",
    "kn_uni": "kn_uni",
}


def build_lm_store(
    src: DataFrame,
    path: str,
    text_col: str = "text",
    vocab_size: int = 512,
    top_bigrams: int = 4096,
    alpha: float = 0.5,
    order: int = 2,
    top_trigrams: int = 16384,
    lambdas: tuple = (0.5, 0.3, 0.2),
    smoothing: str = "jm",
    discount: float = 0.75,
) -> None:
    """Persist a trained LM: train once on the CLEAN reference corpus,
    score every future shard against the frozen artifact — how the
    published CCNet pipeline actually deploys its KenLM (Wenzek et al.
    2020 train on Wikipedia, score Common Crawl), and the LM member of
    the minhash/gram/winnow/kmeans/IVF/BM25 store family.

    Writes the model's bounded count tables as parquet under ``path``
    (vocab / bigram_prefix / bigram_counts, plus unigram /
    trigram_prefix / trigram_counts for order=3 and the continuation
    tables for smoothing="kn") and a one-row ``meta`` pinning every
    scoring constant (order, vocab_size, alpha, lambdas, smoothing,
    discount, total_tokens, kn_bigram_types). Readers reconstruct the
    exact in-memory model, so stored scoring is bit-identical to
    ``lm_score`` with the same parameters (pinned by test).

    Deliberately NO append leg (unlike the minhash/IVF/winnow stores):
    the stored bigram/trigram tables are exact top-k TRUNCATIONS, so
    adding a shard's counts to them cannot reproduce retraining (a
    dropped gram's true count is gone) — an "appended" model would
    silently diverge from the retrained one. The store contract is
    train-once / score-many; refreshing the model is a rebuild."""
    lm = build_ngram_lm(
        src, text_col, order=order, vocab_size=vocab_size,
        top_bigrams=top_bigrams, top_trigrams=top_trigrams, alpha=alpha,
        lambdas=lambdas, smoothing=smoothing, discount=discount,
    )
    tables = {
        name: getattr(lm, field) for name, field in _LM_TABLES.items()
        if getattr(lm, field) is not None
    }
    for name, table in tables.items():
        table.coalesce(1).write.mode("overwrite").parquet(f"{path}/{name}")
    l3, l2, l1 = lm.lambdas
    write_meta(path, dict(
        order=int(order), vocab_size=int(vocab_size), alpha=float(alpha),
        l3=l3, l2=l2, l1=l1, smoothing=lm.smoothing, discount=lm.discount,
        total_tokens=lm.total_tokens, kn_bigram_types=lm.kn_bigram_types,
    ))
    # every table reads only the build's own checkpoints
    for table in tables.values():
        release(table)


def read_lm_store(spark, path: str) -> NgramLM:
    """Load a persisted LM (``build_lm_store``) back into the exact
    in-memory model — the scoring tables are KB-scale parquet (bounded
    by construction), so this is a metadata-cheap open; the count
    tables stay DataFrames and broadcast at score time exactly like a
    freshly built model's."""
    meta = read_meta(path, "lm store")
    n_tables = 3 if meta["order"] == 2 else 9 if meta["smoothing"] == "kn" else 6
    return NgramLM(
        order=meta["order"],
        vocab_size=meta["vocab_size"],
        alpha=meta["alpha"],
        lambdas=(meta["l3"], meta["l2"], meta["l1"]),
        smoothing=meta["smoothing"],
        discount=meta["discount"],
        total_tokens=meta["total_tokens"],
        kn_bigram_types=meta["kn_bigram_types"],
        **{
            field: spark.read.parquet(f"{path}/{name}")
            for name, field in list(_LM_TABLES.items())[:n_tables]
        },
    )


def lm_score_stored(
    spark, path: str, df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Score a corpus against a persisted LM (``build_lm_store``):
    the production CCNet loop — the reference model is a frozen
    artifact, every shard pays only the scan + broadcast-join scoring
    plan. Bit-identical to in-memory scoring with the same model
    (pinned by test)."""
    return lm_score_with(df, text_col, id_col, read_lm_store(spark, path))


# Encoding-hygiene regexes — shared Java-regex/RE2 subset (two-digit \xhh
# and braced \x{hhhh} escapes, no lookaround) so the Spark expressions and
# the DuckDB oracle compile the same automaton.
REPLACEMENT_RE = "�"
CTRL_RE = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"
# UTF-8 bytes decoded as Latin-1/Windows-1252: 'Ã'+continuation,
# 'Â'+NBSP-range, or the 'â€¦'-family punctuation artifacts
MOJIBAKE_RE = "(?:Ã[\\x{0080}-\\x{00BF}]|Â[\\x{00A0}-\\x{00BF}]|â€.)"
ZERO_WIDTH_RE = "[\\x{200B}-\\x{200D}\\x{FEFF}]"
NON_ASCII_RE = r"[^\x00-\x7F]"


def encoding_scan(
    df: DataFrame, text_col: str, id_col: str, keep_cols: tuple[str, ...] = ()
) -> DataFrame:
    """Per-document encoding-hygiene signals for web-crawl text: U+FFFD
    replacement characters (lossy transcoding), C0 control characters
    (binary contamination), classic UTF-8-as-Latin-1/Windows-1252 mojibake
    sequences ('Ã©', 'Â ', 'â€™'...), zero-width characters (invisible
    spam/watermarks), and the non-ASCII fraction.

    Pure scan-side projection — counters via ``regexp_extract_all`` sizes,
    no shuffle at any scale; patterns stay in the Java-regex ∩ RE2 subset
    so the DuckDB oracle runs the identical expressions.
    Output: (id, *keep_cols, n_chars, replacement_chars, control_chars,
    mojibake_hits, zero_width_chars, non_ascii_frac, encoding_suspect);
    ``keep_cols`` pass through untouched (single-scan chaining — see
    ``token_counts``).
    """
    t = F.col(text_col)

    def hits(pat: str) -> Column:
        return F.size(F.regexp_extract_all(t, F.lit(pat), 0))

    n = F.length(t)
    repl = hits(REPLACEMENT_RE)
    ctrl = hits(CTRL_RE)
    moji = hits(MOJIBAKE_RE)
    zw = hits(ZERO_WIDTH_RE)
    non_ascii = hits(NON_ASCII_RE)
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        n.alias("n_chars"),
        repl.alias("replacement_chars"),
        ctrl.alias("control_chars"),
        moji.alias("mojibake_hits"),
        zw.alias("zero_width_chars"),
        F.when(n > 0, F.round(non_ascii / n, 6) + 0.0).alias("non_ascii_frac"),
        ((repl > 0) | (ctrl > 0) | (moji > 0) | (zw > 0)).alias(
            "encoding_suspect"
        ),
    )


def canonical_text(
    col,
    casefold: bool = True,
    collapse_whitespace: bool = True,
    strip_punct: bool = False,
):
    """Canonical form of a text column for content-keyed dedup — pure
    JVM expressions (lower / regexp_replace / trim), so it composes
    into any scan projection: ``exact_dedup(df.withColumn("canon",
    canonical_text(F.col("text"))), "canon", "doc_id")`` dedups
    case/whitespace(/punctuation) variants the raw md5 key would treat
    as distinct.

    Order: casefold → punctuation strip (Unicode-category punctuation,
    RE2-compatible ``\\p{P}``) → whitespace collapse (all runs → one
    space, ends trimmed). NULL stays NULL. Unicode NFC normalization is
    NOT applied (no JVM builtin; a pipeline needing it normalizes at
    ingestion).
    """
    from pyspark.sql import functions as F

    out = col
    if casefold:
        out = F.lower(out)
    if strip_punct:
        out = F.regexp_replace(out, r"\p{P}+", " ")
    if collapse_whitespace:
        out = F.trim(F.regexp_replace(out, r"\s+", " "))
    return out


def chunk_documents(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 512,
    overlap: int = 0,
) -> DataFrame:
    """Token-window chunking — the context-length preprocessing step for
    training and retrieval pipelines: each document becomes overlapping
    windows of ``chunk_tokens`` whitespace tokens, stride
    ``chunk_tokens - overlap``.

    Output: (id, chunk_id, n_tokens, chunk_text), chunk_id 0-based in
    document order; the final chunk is the (possibly shorter) tail.
    Documents with zero tokens produce NO chunks. Deterministic and
    DuckDB-oracle-checkable (the same slice/sequence vocabulary as
    ``dedup._segment_rows``, plus an overlap stride).

    Scale: a pure per-document explode inside the scan stage — no
    shuffle, no state; composes with any downstream dedup/packing over
    the chunk rows (chunk-level dedup is the standard pre-packing pass).
    """
    if chunk_tokens <= 0:
        raise ValueError(f"chunk_tokens must be > 0, got {chunk_tokens}")
    if not 0 <= overlap < chunk_tokens:
        raise ValueError(
            f"overlap must be in [0, chunk_tokens), got {overlap}"
        )
    stride = chunk_tokens - overlap

    def chunks(words: Column) -> Column:
        # let-bound: a free `words` here would re-split the text once
        # per chunk (functions.hof)
        n = F.size(words)
        n_chunks = F.ceil(n / F.lit(stride)).cast("int")
        # a bare sequence(0, -1) DESCENDS when n_chunks == 0 — guard to
        # an empty array (the _dims_seq hazard)
        idx = F.when(
            n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)
        ).otherwise(F.array().cast("array<int>"))
        return F.struct(
            n.alias("n"),
            F.transform(
                idx,
                lambda i: F.struct(
                    i.alias("chunk_id"),
                    F.concat_ws(
                        " ",
                        F.slice(words, i * stride + 1, chunk_tokens),
                    ).alias("chunk_text"),
                ),
            ).alias("cs"),
        )

    bound = let_bound(
        F.filter(F.split(F.col(text_col), " "), lambda t: t != ""), chunks
    )
    return (
        df.select(F.col(id_col), bound.alias("__b"))
        .select(
            F.col(id_col),
            F.col("__b.n").alias("__n"),
            F.explode(F.col("__b.cs")).alias("__c"),
        )
        .select(
            F.col(id_col),
            F.col("__c.chunk_id").alias("chunk_id"),
            F.least(
                F.lit(chunk_tokens),
                F.col("__n") - F.col("__c.chunk_id") * F.lit(stride),
            ).cast("long").alias("n_tokens"),
            F.col("__c.chunk_text").alias("chunk_text"),
        )
    )


def tfidf_keywords(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
) -> DataFrame:
    """Per-document top-k keywords by smoothed TF-IDF — the corpus-level
    term-salience signal a training pipeline uses for topic statistics,
    near-dup triage, and dataset cards.

    score = (term_count / doc_tokens) · (ln((N+1)/(doc_freq+1)) + 1),
    rounded to 6 — sklearn's smooth-idf formulation. Top ``k`` terms per
    document, ties broken by term (deterministic, oracle-checkable).

    Output: (id, term, term_count, doc_tokens, doc_freq, score, rank).
    Documents with zero tokens produce no rows.

    Scale shape: the term explode is O(corpus tokens); tf and df are
    hash-aggs with map-side combine; the doc-count scalar rides a
    ONE-ROW broadcast crossJoin (never a collect); the vocabulary join
    is an equi-join on the term (vocab is corpus-scale — broadcasting it
    would be wrong); the per-doc top-k compiles to a rank window that
    Spark's WindowGroupLimit prunes before the final filter.
    """
    from pyspark.sql import Window

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    toks = df.select(
        F.col(id_col), F.explode(tokens(F.lower(F.col(text_col)))).alias("term")
    )
    tf = toks.groupBy(id_col, "term").agg(
        F.count(F.lit(1)).alias("term_count")
    )
    doclen = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("doc_tokens"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    ndocs = doclen.agg(F.count(F.lit(1)).alias("__N"))
    score = (
        F.round(
            (F.col("term_count") / F.col("doc_tokens"))
            * (
                F.log((F.col("__N") + 1) / (F.col("doc_freq") + 1))
                + F.lit(1.0)
            ),
            6,
        )
        + F.lit(0.0)
    )
    scored = (
        tf.join(doclen, id_col)
        .join(dfreq, "term")
        .crossJoin(F.broadcast(ndocs))
        .select(
            F.col(id_col),
            F.col("term"),
            F.col("term_count").cast("long").alias("term_count"),
            F.col("doc_tokens").cast("long").alias("doc_tokens"),
            F.col("doc_freq").cast("long").alias("doc_freq"),
            score.alias("score"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.asc("term")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).where(F.col("rank") <= k)


def pii_redact(
    df: DataFrame,
    text_col: str,
    id_col: str,
    kinds: tuple[str, ...] = ("email", "ipv4", "phone"),
) -> DataFrame:
    """Redact PII surfaces in place — the write-side twin of
    :func:`pii_scan`: each matched span is replaced by a typed
    placeholder (``<EMAIL>``, ``<IPV4>``, ``<PHONE>``), in the fixed
    ``kinds`` order so overlapping patterns resolve deterministically
    (an email's digits are consumed by ``<EMAIL>`` before the phone
    pass can see them).

    Output: (id, redacted_text, n_redactions) — ``n_redactions`` counts
    the spans actually replaced: each pass counts matches of ITS pattern
    on the text as it stood *before* that pass's replace (so a source
    document that already contains a literal ``<EMAIL>`` string is not
    miscounted, and a later pattern never counts a placeholder an
    earlier pass wrote). Pure projection: chained ``regexp_replace``
    inside the scan stage, no shuffle, no UDF; the same RE2-compatible
    dialect as ``pii_scan`` keeps the DuckDB oracle verbatim.
    """
    unknown = [k for k in kinds if k not in PII_PATTERNS]
    if unknown:
        raise ValueError(f"unknown PII kinds {unknown}; use {list(PII_PATTERNS)}")
    out = F.col(text_col)
    pass_counts = []
    for k in kinds:
        pass_counts.append(
            F.size(F.regexp_extract_all(out, F.lit(PII_PATTERNS[k]), 0))
        )
        out = F.regexp_replace(out, PII_PATTERNS[k], f"<{k.upper()}>")
    n = sum(pass_counts, start=F.lit(0))
    return df.select(
        F.col(id_col),
        out.alias("redacted_text"),
        n.cast("long").alias("n_redactions"),
    )


_BLOCK_META_RE = r"([.^$*+?()\[\]{}|\\])"


def blocklist_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    terms: "tuple[str, ...] | list[str]",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """C4-style blocklist screen: per-doc match counts against a term
    list (single words or multi-word phrases), case-insensitive, whole-
    word (``\\b`` boundaries so "spark" does not fire inside
    "sparkle"). Boundary caveat: ``\\b`` needs a word character at the
    term's edges, so terms that START or END with punctuation (e.g.
    "c++") will not match — strip the punctuation or use a custom
    pattern for those.

    Output: (id, *keep_cols, n_blocked, n_blocked_terms, matched_terms,
    blocked) — total match count, number of distinct terms that hit, the
    hit terms sorted+comma-joined (engine-portable stand-in for an
    array column), and the drop verdict. The DROP policy itself stays
    with the caller (`.where(~blocked)` for C4's hard drop, or a
    threshold on n_blocked for softer policies).

    Scale shape: a pure scan-side projection — every term compiles to a
    Catalyst ``regexp_extract_all`` over the lowered text (term list is
    config-sized, so columns-per-term is fine), no shuffle, no UDF, no
    broadcast. At 100 TB this pushes whole into the parquet scan stage.
    """
    if not terms:
        raise ValueError("terms must be non-empty")
    import re as _re

    t = F.lower(F.col(text_col))
    cnt_cols = []
    for term in terms:
        pat = r"\b" + _re.sub(_BLOCK_META_RE, r"\\\1", term.lower()) + r"\b"
        # coalesce: regexp over NULL text yields NULL, and a NULL count
        # would poison n_blocked AND the drop predicate (~blocked skips
        # NULL rows silently) — NULL text counts as zero hits instead
        cnt_cols.append(
            F.coalesce(
                F.size(F.regexp_extract_all(t, F.lit(pat), 0)), F.lit(0)
            )
        )
    n_blocked = cnt_cols[0]
    for c in cnt_cols[1:]:
        n_blocked = n_blocked + c
    hit_terms = F.array_sort(
        F.filter(
            F.array(
                *[
                    F.when(c > 0, F.lit(term.lower()))
                    for term, c in zip(terms, cnt_cols)
                ]
            ),
            lambda x: x.isNotNull(),
        )
    )
    return df.select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        n_blocked.cast("long").alias("n_blocked"),
        F.size(hit_terms).cast("long").alias("n_blocked_terms"),
        F.concat_ws(",", hit_terms).alias("matched_terms"),
        (n_blocked > 0).alias("blocked"),
    )


def pack_assign(
    df: DataFrame,
    text_col: str,
    id_col: str,
    context_len: int = 512,
    strata: list[str] | None = None,
    sep_tokens: int = 0,
    allow_single_stream: bool = False,
    single_stream_row_limit: int = 1_000_000,
) -> DataFrame:
    """Concat-and-chunk sequence packing ASSIGNMENT (the GPT-style
    packing step itself, where ``packing_stats`` only computes the
    bounds): documents are concatenated in deterministic id order
    within each stratum — ``sep_tokens`` separator tokens between
    consecutive docs — and the token stream is sliced into fixed
    ``context_len`` windows. Each doc learns which contexts it lands
    in.

    Output per doc: (*strata, id, n_tokens, token_offset,
    first_context, last_context, n_contexts) — ``token_offset`` is the
    doc's global start position in its stratum's stream, contexts are
    0-based, and ``n_contexts`` is how many windows the doc touches
    (0 for empty docs, which occupy no space). Deterministic by
    construction (order = id), so the full assignment is
    oracle-checkable — unlike greedy bin packing, whose output depends
    on visit order.

    Scale shape: ONE exchange (the window partition on the strata) and
    a per-stratum running sum. The running sum is inherently sequential
    WITHIN a stratum — that is the packing contract, not an
    implementation choice — so corpus-scale jobs should compose
    shard-then-pack: assign token-budgeted shards first
    (``sources.shards.assign_shards``) and pack within (shard, stratum),
    which bounds every window partition to a shard's token budget and
    parallelizes across shards.
    """
    from pyspark.sql import Window

    keys = list(strata or [])
    if not keys and not allow_single_stream:
        # no strata = ONE window partition = the whole corpus serializes
        # onto a single task. Cheap bounded probe (limit stops the scan
        # early); corpus-scale callers must either stratify, pre-shard
        # via sources.shards.assign_shards and pack per shard, or opt in
        # explicitly with allow_single_stream=True.
        probe = df.select(F.lit(1)).limit(single_stream_row_limit + 1).count()
        if probe > single_stream_row_limit:
            raise ValueError(
                "pack_assign without strata serializes the whole input "
                f"onto one window task and the input exceeds "
                f"{single_stream_row_limit} rows; pass strata=, pre-shard "
                "with sources.shards.assign_shards and pack per shard, or "
                "set allow_single_stream=True to accept the single-task "
                "stream"
            )
    # coalesce: NULL text must behave like an empty doc (n_tokens=0,
    # zero contexts) — size(split(NULL)) is NULL and would both skip the
    # row in SUM(n_tokens) and still burn a separator slot
    toks = F.coalesce(F.size(tokens(F.col(text_col))), F.lit(0))
    base = df.select(*keys, F.col(id_col), toks.cast("long").alias("__t"))
    w = (
        Window.partitionBy(*keys).orderBy(id_col)
        if keys
        else Window.partitionBy(F.lit(0)).orderBy(id_col)
    )
    prev = F.coalesce(
        F.sum("__t").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        F.lit(0),
    )
    rn = F.row_number().over(w)
    off = (prev + (rn - F.lit(1)).cast("long") * F.lit(sep_tokens)).alias(
        "token_offset"
    )
    ctx = F.lit(float(context_len))
    out = base.select(*keys, F.col(id_col), F.col("__t"), off)
    first = F.floor(F.col("token_offset") / ctx).cast("long")
    last = F.when(
        F.col("__t") > 0,
        F.floor((F.col("token_offset") + F.col("__t") - 1) / ctx).cast("long"),
    ).otherwise(first)
    return out.select(
        *keys,
        F.col(id_col),
        F.col("__t").alias("n_tokens"),
        F.col("token_offset"),
        first.alias("first_context"),
        last.alias("last_context"),
        F.when(F.col("__t") > 0, last - first + 1)
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_contexts"),
    )


def vocab_top(df: DataFrame, text_col: str, k: int = 64) -> DataFrame:
    """Corpus-wide top-``k`` vocabulary over lowercase whitespace tokens
    (the reference's tokenizer, StringTracker.java:25), ranked by
    (count DESC, token ASC) so the boundary is deterministic.

    Output: (token, n). Scale: one token explode into a map-side-combined
    hash agg (state = O(distinct tokens)), then a TakeOrderedAndProject
    top-k — no global sort; each partition ships only its k best.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    return (
        df.select(F.explode(ws_lower_tokens(F.col(text_col))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(k)
    )


def oov_stats(
    df: DataFrame, text_col: str, id_col: str, vocab: Sequence[str]
) -> DataFrame:
    """Per-document out-of-vocabulary rate against a FIXED vocabulary
    (a list, e.g. ``vocab_top(...)`` collected): the tokenizer-coverage
    check a pipeline runs before committing to a vocab size.

    Output: (id, n_tokens, n_oov, oov_rate) — oov_rate NULL for empty
    docs. Pure scan-side projection (the vocab is a literal IN-list over
    array elements): zero shuffles, zero joins — at 100 TB this is a
    single pass that composes with whatever scan is already running.
    """
    voc = [v.lower() for v in vocab]
    # NULL text counts as an empty doc (0 tokens, NULL rate) — the
    # blocklist/pack_assign NULL-text convention, and what the DuckDB
    # twin's missing-row COALESCE produces
    toks = ws_lower_tokens(F.col(text_col))
    n_tok = F.size(toks)
    n_oov = (
        F.size(F.filter(toks, lambda t: ~t.isin(*voc)))
        if voc
        else n_tok
    )
    return df.select(
        F.col(id_col),
        n_tok.cast("long").alias("n_tokens"),
        n_oov.cast("long").alias("n_oov"),
        F.when(
            n_tok > 0,
            F.round(n_oov.cast("double") / n_tok, 6) + F.lit(0.0),
        ).alias("oov_rate"),
    )


def vocab_oov(
    df: DataFrame, text_col: str, id_col: str, k: int = 64
) -> DataFrame:
    """Top-``k`` vocab induction + per-document OOV coverage in one call
    (``vocab_top`` -> ``oov_stats``). The vocab collect is k rows —
    aggregate-sized by construction, never corpus-scale — and the OOV
    pass is a second scan with the vocab folded in as literals (no join,
    no broadcast table to build)."""
    voc = [r["token"] for r in vocab_top(df, text_col, k).collect()]
    return oov_stats(df, text_col, id_col, voc)


def c4_filter(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_words_per_line: int = 5,
    min_lines: int = 3,
    banned_substrings: Sequence[str] = ("lorem ipsum", "javascript"),
    drop_braces: bool = True,
) -> DataFrame:
    """The C4 line-level cleaning rules (Raffel et al. 2020, §2.2) as
    one scan-side operator: keep only lines that (a) end in a terminal
    punctuation mark (``. ! ? "``), (b) hold at least
    ``min_words_per_line`` words, and (c) contain none of the
    case-insensitive ``banned_substrings`` (C4 drops "javascript"
    warnings and "lorem ipsum" placeholder text); then gate the DOCUMENT
    on ``min_lines`` surviving lines and (``drop_braces``) on curly
    braces anywhere in the original text (C4's source-code heuristic).

    Output, one row per input document:
      (id, n_lines, n_kept, keep, clean_text)
    — ``clean_text`` re-joins surviving lines with ``\\n`` (empty when
    nothing survives); ``keep`` is the page verdict (n_kept ≥ min_lines
    AND no brace). NULL text behaves as empty. The cross-document
    three-sentence-span dedup from the same paper is a separate concern
    (``dedup.duplicate_spans`` / ``segment_dedup``).

    Scale shape: a pure per-row array projection — split on newline,
    one ``F.filter`` with per-line predicates, concat back. ZERO
    exchanges at any corpus size; composes into any scan (the verdict
    is a column, so `.where(keep)` costs nothing extra). Every
    predicate stays in the Java-regex ∩ RE2 subset so the DuckDB oracle
    replays it verbatim.
    """
    if min_words_per_line < 1 or min_lines < 0:
        raise ValueError(
            f"need min_words_per_line >= 1 and min_lines >= 0, got "
            f"{min_words_per_line}/{min_lines}"
        )
    t = F.coalesce(F.col(text_col), F.lit(""))
    lines = F.split(t, "\n")

    def _line_ok(ln: Column) -> Column:
        words = F.filter(F.split(ln, " "), lambda w: w != "")
        ok = (
            ln.rlike('[.!?"]\\s*$')
            & (F.size(words) >= min_words_per_line)
        )
        low = F.lower(ln)
        for b in banned_substrings:
            ok = ok & ~low.contains(b.lower())
        return ok

    kept = F.filter(lines, _line_ok)
    has_brace = t.contains("{") | t.contains("}")
    keep = F.size(kept) >= min_lines
    if drop_braces:
        keep = keep & ~has_brace
    return df.select(
        F.col(id_col),
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_kept"),
        keep.alias("keep"),
        F.concat_ws("\n", kept).alias("clean_text"),
    )
