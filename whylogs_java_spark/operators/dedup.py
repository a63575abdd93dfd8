"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's scope (whylogs-java has no joins/dedup — SURVEY.md
§2.3); these are the scale-path extensions a 100 TB corpus pipeline needs.

Design for scale:
- exact dedup: hash-groupBy — one shuffle on the content hash; no sort.
- near-dup: MinHash+LSH — shingle -> k minhashes -> b band signatures ->
  equi-join on (band, signature). The join is a *bucket join on a
  pre-hashed key*, never a cross product; candidate verification (exact
  Jaccard) only touches pairs that collide in a band. AQE handles the
  skewed "very common band" case; identical-text mega-clusters should be
  removed by exact dedup first.
- SimHash: 64-bit signed-projection fingerprint; near-dup = small Hamming
  distance. Bit arithmetic stays in JVM expressions.

Determinism: every minhash is an integer MIN over values carved from md5
hex digests — the affine family's h1 + i*h2 from one digest of the shingle
(``_affine_parts``), the banded32 family's 32-bit slices of
md5('mh{band}|' || shingle) — stable across engines and partitionings, so
results are oracle-checkable in DuckDB with the same formulas. The exact
Jaccard is rounded to 6 places (``_with_jaccard``), as the oracle SQL
rounds it.
"""

from __future__ import annotations

import warnings

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ckpt import literal_df, materialize_lazy, spread
from ..ckpt import materialize as _materialize
from ..functions.hof import let_bound
from ..functions.sqlexpr import qcol
from ..stores import read_meta, refuse_known_ids, write_meta


def content_key(col: Column) -> Column:
    """Canonical content hash: md5 of whitespace-normalized lowercase text."""
    return F.md5(F.regexp_replace(F.lower(col), r"\s+", " "))


def exact_duplicate_groups(
    df: DataFrame,
    text_col: str,
    id_col: str,
    key: Column | None = None,
    prefer: Column | None = None,
) -> DataFrame:
    """Exact-duplicate groups: (text_key, n_docs, keep_id).

    ``keep_id`` is the minimum id — the deterministic survivor — unless
    ``prefer`` is given: then the survivor is the group member with the
    HIGHEST ``prefer`` score (ties -> min id), the policy real pipelines
    use to keep the best-metadata copy of duplicated content (longest
    version, highest quality score, most trusted source). A NULL
    ``prefer`` score loses to every non-null score (it coalesces to
    -inf before negation), so an unscored copy can never beat a scored
    one; all-NULL groups fall back to min id. Still ONE
    aggregation pass either way — the preferred survivor is
    min(struct(-score, id)), which Spark compiles to a SORT-based
    aggregate (struct buffers are not hash-aggregable) with the partial
    min still running map-side before the single exchange on the md5
    key; the plain min-id path stays a HashAggregate.
    """
    k = key if key is not None else content_key(F.col(text_col))
    if prefer is None:
        keep = F.min(id_col).alias("keep_id")
        sel = df.select(k.alias("text_key"), F.col(id_col))
    else:
        keep = F.min(
            F.struct(
                (
                    -F.coalesce(
                        F.col("__pref").cast("double"),
                        F.lit(float("-inf")),
                    )
                ).alias("np"),
                F.col(id_col).alias("i"),
            )
        )["i"].alias("keep_id")
        sel = df.select(
            k.alias("text_key"), F.col(id_col), prefer.alias("__pref")
        )
    return sel.groupBy("text_key").agg(
        F.count(F.lit(1)).alias("n_docs"), keep
    )


def exact_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    prefer: Column | None = None,
) -> DataFrame:
    """Keep one row per distinct content key, preserving schema: the
    min-id member, or the max-``prefer`` member (ties -> min id)."""
    keys = exact_duplicate_groups(df, text_col, id_col, prefer=prefer)
    return df.join(
        keys.select(F.col("keep_id").alias(id_col)), on=id_col, how="left_semi"
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def word_shingles(text: Column, size: int = 3) -> Column:
    """Word n-gram shingles as an array column — pure JVM expressions
    (split -> transform over an index sequence -> slice+join), no explode,
    no UDF. The split is LET-BOUND: a free `split` inside the transform
    lambda would re-split the text once per shingle (O(words²) per row —
    measured 25× slower on 8×-long documents)."""

    def sh(words: Column) -> Column:
        n = F.size(words)
        return F.when(
            n >= size,
            F.transform(
                F.sequence(F.lit(1), n - size + 1),
                lambda i: F.concat_ws(" ", F.slice(words, i, size)),
            ),
        ).otherwise(F.array(F.concat_ws(" ", words)))

    return let_bound(F.split(text, " "), sh)


# affine hash-family modulus bound: with h1 < 2^60 and h2 < 2^55,
# h1 + i*h2 stays below 2^63 for i <= (2^63 - 2^60) / 2^55 = 224, so the
# family is overflow-free in signed 64-bit only up to 224 hash functions
# (enforced in _minhash_from_shingles)
_H2_BOUND = 1 << 55
_MAX_NUM_HASHES = 224


def char_shingles(text: Column, size: int = 5) -> Column:
    """Character n-gram shingles (lowercased) as an array column — pure JVM
    expressions (transform over an index sequence + substr), no explode, no
    UDF. Texts shorter than ``size`` yield the whole text as one shingle.
    The lowered text is LET-BOUND so it is lowered once, not once per
    gram (see functions.hof)."""

    def sh(t: Column) -> Column:
        n = F.length(t)
        return F.when(
            n >= size,
            F.transform(
                F.sequence(F.lit(1), n - size + 1),
                lambda i: t.substr(i, F.lit(size)),
            ),
        ).otherwise(F.array(t))

    return let_bound(F.lower(text), sh)


def _shingler(shingle_size: int, char_ngrams: bool):
    if char_ngrams:
        return lambda c: char_shingles(c, shingle_size)
    return lambda c: word_shingles(c, shingle_size)


def shingle_sets(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_size: int = 3,
    char_ngrams: bool = False,
) -> DataFrame:
    """Distinct (id, shingle) rows — the inverted-index input of
    ``shingle_candidate_pairs``. ``char_ngrams`` switches from word
    n-grams to character n-grams.
    """
    sh = _shingler(shingle_size, char_ngrams)
    return df.select(
        F.col(id_col),
        F.explode(sh(F.col(text_col))).alias("shingle"),
    ).distinct()


def _affine_parts(shingle: Column) -> tuple[Column, Column]:
    """The affine family's two parts of one shingle, from its md5 hex:
    h1 = hex[1:15] and h2 = hex[16:30] mod 2^55. The batch signatures and
    the streaming flagger (``streaming.dedup_near_stream``) both hash
    through here, so the stream flags exactly the batch band collisions."""
    h = F.md5(shingle)
    return (
        F.conv(F.substring(h, 1, 15), 16, 10).cast("long"),
        F.conv(F.substring(h, 16, 15), 16, 10).cast("long") % _H2_BOUND,
    )


def _affine_family(num_hashes: int) -> list:
    """The k affine components h_i(h1, h2) = h1 + i*h2; a signature's
    mh{i} is the MIN of h_i over the doc's shingles."""
    if num_hashes > _MAX_NUM_HASHES:
        raise ValueError(
            f"num_hashes={num_hashes} exceeds {_MAX_NUM_HASHES}: the affine "
            "family h1 + i*h2 overflows signed 64-bit beyond i=224"
        )

    def component(i: int):
        return lambda h1, h2: h1 + F.lit(i) * h2

    return [component(i) for i in range(num_hashes)]


def _minhash_from_shingles(sh: DataFrame, id_col: str, num_hashes: int) -> DataFrame:
    """MinHash signatures from an (id, shingle) table: (id, mh0..mh{k-1})."""
    family = _affine_family(num_hashes)
    h1, h2 = _affine_parts(F.col("shingle"))
    hashed = sh.select(id_col, h1.alias("h1"), h2.alias("h2"))
    aggs = [
        F.min(h(F.col("h1"), F.col("h2"))).alias(f"mh{i}")
        for i, h in enumerate(family)
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def _minhash_banded32_from_shingles(
    sh: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """MinHash via per-band independent md5 digests, r 32-bit slices each.

    Band ``b`` hashes every shingle with ``md5('mh{b}|' || shingle)`` and
    carves the digest into ``r = num_hashes // bands`` 8-hex (32-bit)
    values — so the r minhashes WITHIN a band come from independent digest
    bits and DIFFERENT bands use different digests: the classic
    ``P(band collision) = J^r`` LSH selectivity actually holds, unlike
    the affine family (see ``minhash_signatures``). Costs ``bands``
    digests per shingle (vs 1 affine / num_hashes naive). 32-bit minimums
    are collision-safe for realistic shingle-set sizes (birthday at ~2^16
    distinct shingles per doc).
    """
    r = num_hashes // bands
    if r * bands != num_hashes:
        raise ValueError(f"bands={bands} must divide num_hashes={num_hashes}")
    if r > 4:
        raise ValueError(
            f"banded32 carves 4 x 8-hex slices per digest: rows-per-band "
            f"{r} > 4 (use more bands or the affine family)"
        )
    cols = []
    for b in range(bands):
        h = F.md5(F.concat(F.lit(f"mh{b}|"), F.col("shingle")))
        for j in range(r):
            cols.append(
                F.conv(F.substring(h, 1 + 8 * j, 8), 16, 10)
                .cast("long")
                .alias(f"v{b * r + j}")
            )
    hashed = sh.select(id_col, *cols)
    return hashed.groupBy(id_col).agg(
        *[F.min(f"v{i}").alias(f"mh{i}") for i in range(num_hashes)]
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    shingle_size: int = 3,
    char_ngrams: bool = False,
    hash_family: str = "affine",
    bands: int = 4,
) -> DataFrame:
    """Per-doc MinHash signature: k columns mh0..mh{k-1}.

    ``hash_family="affine"`` (default): one md5 per shingle yields two
    60-bit integers (h1 from hex[1:15], h2 from hex[16:30]); the hash
    family is the affine h_i = h1 + i*(h2 mod 2^55) — k-1 adds/multiplies
    instead of k digests per shingle (~10x cheaper than hashing k times),
    overflow-free in signed 64-bit for num_hashes <= 224, and
    reproducible in any engine that can parse hex (the DuckDB oracle uses
    ('0x'||substr(md5,...))::BIGINT). CAVEAT: the components are
    CORRELATED across i (one digest drives all k) — two docs sharing the
    argmin shingle tend to collide in MANY components at once, so a
    band's collision probability degrades from the textbook J^r toward
    ~J. Harmless when background Jaccard is low (word shingles: rare
    cross-doc argmin sharing), catastrophic when it is high: char 5-grams
    at background J≈0.19 leaked 12.5% of ALL pairs as candidates (1.56M
    at sf0.1 — measured) where honest J^4 banding admits ~0.4%.

    ``hash_family="banded32"``: per-band independent digests sliced into
    r 32-bit minhashes (``_minhash_banded32_from_shingles``) — J^r
    selectivity holds; ``bands`` digests per shingle. Use it whenever the
    shingle domain has high background similarity (char n-grams, small
    vocabularies). ``bands`` is only consulted by this family and must
    match the ``lsh_band_signatures`` banding downstream.
    Output: one row per doc: (id, mh0..mh{k-1} BIGINT).
    """
    shingler = _shingler(shingle_size, char_ngrams)
    sh = df.select(
        F.col(id_col),
        F.explode(shingler(F.col(text_col))).alias("shingle"),
    )
    if hash_family == "banded32":
        return _minhash_banded32_from_shingles(sh, id_col, num_hashes, bands)
    if hash_family != "affine":
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    return _minhash_from_shingles(sh, id_col, num_hashes)


def lsh_band_signatures(
    signatures: DataFrame, id_col: str, num_hashes: int = 16, bands: int = 4
) -> DataFrame:
    """Band signatures: (id, band, band_sig) — md5 over each band's minhashes."""
    rows_per_band = num_hashes // bands
    out = []
    for b in range(bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        out.append(
            F.struct(
                F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("band_sig")
            )
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*out)).alias("bs")
    ).select(id_col, "bs.band", "bs.band_sig")


# the signature parameters a MinHash store pins in its meta table
_SIG_PARAMS = ("num_hashes", "bands", "shingle_size", "char_ngrams", "hash_family")


def _band_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int,
    bands: int,
    shingle_size: int,
    char_ngrams: bool,
    hash_family: str,
) -> DataFrame:
    """(id, band, band_sig) of every doc — the signature and banding
    steps shared by every band-join screen and the MinHash store."""
    sigs = minhash_signatures(
        df, text_col, id_col, num_hashes, shingle_size, char_ngrams,
        hash_family=hash_family, bands=bands,
    )
    return lsh_band_signatures(sigs, id_col, num_hashes, bands)


def _candidates_from_bands(
    bands_df: DataFrame, id_col: str, bucket_cap: int | None = None
) -> DataFrame:
    """Self-equi-join on (band, band_sig) -> distinct (id_a < id_b) pairs.

    ``bucket_cap`` is the hot-bucket skew ceiling: a bucket of m members
    fans out m² join rows, and one degenerate signature (a stop-phrase
    band over near-empty texts, or un-deduped exact-copy mass) can
    otherwise produce a single partition with the whole corpus in it.
    With the cap, buckets larger than ``bucket_cap`` are DROPPED before
    the join — bounding every bucket's fan-out at bucket_cap² and the
    join's worst partition at the cap. A >cap bucket means >cap
    documents agreeing on an entire band; real pipelines run exact
    dedup first, after which such mass is boilerplate the shingle
    family's df_cap drops for the same reason. The count rides a window
    over the SAME (band, band_sig) key the join shuffles on, so the cap
    adds no extra exchange. Default None preserves the uncapped
    contract (every existing query/oracle hash).
    """
    if bucket_cap is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band", "band_sig")
        bands_df = (
            bands_df.withColumn("__m", F.count(F.lit(1)).over(w))
            .where(F.col("__m") <= bucket_cap)
            .drop("__m")
        )
    a = bands_df.select(F.col(id_col).alias("id_a"), "band", "band_sig")
    b = bands_df.select(F.col(id_col).alias("id_b"), "band", "band_sig")
    return (
        a.join(b, on=["band", "band_sig"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) sharing ≥1 LSH band.

    The heart of the scale path: a self-equi-join on (band, band_sig) —
    shuffle on the band key only, no cross product. ``bucket_cap``
    bounds the hot-bucket fan-out (see ``_candidates_from_bands``).
    """
    bands_df = _band_table(
        df, text_col, id_col, num_hashes, bands, shingle_size, False, "affine"
    )
    return _candidates_from_bands(bands_df, id_col, bucket_cap=bucket_cap)


def _shingle_set(text: Column, shingle_size: int, char_ngrams: bool) -> Column:
    """A doc's distinct shingle set as ONE array value — the verify side
    of every exact-Jaccard screen and the store's shingle table."""
    return F.array_distinct(_shingler(shingle_size, char_ngrams)(text))


def _set_size(shset: Column) -> Column:
    return F.size(shset).cast("long")


def _intersect_size(sa: str, sb: str) -> Column:
    """|A∩B| of two shingle-set array columns, as ``inter``."""
    return _set_size(F.array_intersect(F.col(sa), F.col(sb))).alias("inter")


def _with_jaccard(scored: DataFrame) -> DataFrame:
    """(id_a, id_b, inter, size_a, size_b, jaccard) of scored pair rows:
    jaccard = |A∩B| / |A∪B| rounded to 6 places, the oracle SQL's own
    formula — so a stored probe and an in-flight screen agree bit for
    bit."""
    inter, size_a, size_b = F.col("inter"), F.col("size_a"), F.col("size_b")
    return scored.select(
        "id_a",
        "id_b",
        "inter",
        "size_a",
        "size_b",
        (F.round(inter / (size_a + size_b - inter), 6) + 0.0).alias("jaccard"),
    )


def _jaccard_from_shingle_arrays(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_size: int,
    char_ngrams: bool,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs via per-doc shingle
    ARRAYS and ``array_intersect`` — the one exact verifier.

    Each doc's distinct shingle set rides as ONE array row
    (``_shingle_set`` — no explode, no re-aggregation) and |A∩B| is a
    per-pair JVM hash-set intersect: O(|A|+|B|) per candidate with no
    row blow-up. An explode-join verifier (one row per (doc, shingle),
    joined on shingle and re-aggregated) materializes |pairs| ×
    |shingles/doc| join rows instead — measured 9e8 join rows / 166 s at
    sf0.1 when the affine hash family leaked 1.56M char-n-gram
    candidates.

    Honest cost model: the per-pair intersect on ~300-string arrays is
    itself ~60 µs (interpreted UTF8 hashing), so this tier is linear in
    CANDIDATES but with a fat constant — it complements, not replaces,
    selective candidate generation (at 1.56M leaked candidates it still
    took ~90 s; after the ``banded32`` family cut candidates to the
    J^r-predicted volume the full char-n-gram query dropped to ~19 s,
    hash-green). Scale: the doc→array table is O(docs) rows of ~KB; the
    pairs join is a plain equi-join Spark can broadcast when the array
    table is small or sort-merge at scale — candidate rows carry two
    arrays briefly, never an exploded row per shingle.

    Every given pair is scored, sharing shingles or not.
    Output: (id_a, id_b, inter, size_a, size_b, jaccard).
    """
    docs = df.select(
        F.col(id_col),
        _shingle_set(F.col(text_col), shingle_size, char_ngrams).alias("__shset"),
    )
    a = docs.select(
        F.col(id_col).alias("id_a"),
        F.col("__shset").alias("__sa"),
        _set_size(F.col("__shset")).alias("size_a"),
    )
    b = docs.select(
        F.col(id_col).alias("id_b"),
        F.col("__shset").alias("__sb"),
        _set_size(F.col("__shset")).alias("size_b"),
    )
    # Two stage-shape guards around the per-pair intersect — the
    # compute-heavy fold over byte-tiny rows AQE cannot see (the
    # SemDeDup pathology, guide §2.5):
    # 1. candidate rows arrive from a distinct/groupBy whose shuffle is
    #    a few KB, so AQE coalesces it to 1-8 partitions and the
    #    interpreted intersect serializes on as many cores (measured
    #    12.3 s on ONE task for the char-5-gram query at sf0.1). An
    #    explicit round-robin spread of the 16-byte pair rows pins the
    #    verify joins at cluster width for pennies of exchange;
    # 2. the caller's threshold filter would otherwise be pushed into
    #    the last join's CONDITION, where the jaccard expression
    #    evaluates array_intersect twice more per candidate (plan node
    #    audit: 3 evals/surviving row). The lazy checkpoint is a
    #    barrier the pushdown cannot cross — the intersect runs ONCE
    #    per candidate, and the checkpoint itself persists only
    #    5-long stat rows as a side effect of the caller's action.
    target = pairs.sparkSession.sparkContext.defaultParallelism
    scored = (
        pairs.repartition(target)
        .join(a, on="id_a")
        .join(b, on="id_b")
        .select("id_a", "id_b", _intersect_size("__sa", "__sb"), "size_a", "size_b")
        .transform(materialize_lazy)
    )
    return _with_jaccard(scored)


def near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    char_ngrams: bool = False,
    hash_family: str = "affine",
    bucket_cap: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard ≥ threshold.
    ``char_ngrams=True`` runs the same pipeline over character n-gram sets
    (the classic n-gram-Jaccard dedup; robust to word-boundary edits).

    One lazy DAG, filter then verify: signatures → band self-join
    (``_candidates_from_bands``) → per-pair shingle-array intersect
    (``_jaccard_from_shingle_arrays``) → threshold. It is NOT the naive
    shingle recompute it looks like statically: under AQE, identical
    shuffle subtrees collapse into ``ReusedExchange`` nodes, so the
    EXECUTED plan holds at most two shingle explodes, each feeding the
    minhash partial aggregate (only 16 longs/doc cross that shuffle,
    never raw shingle strings). Measured at sf0.1 on local[32], this ran
    ~2x faster (≈3.5 s vs ≈5-9 s) than every explicitly staged
    persist/checkpoint variant tried (global shared distinct-shingle
    cache: 3x slower; candidate-pruned staged pipeline: 1.5-2x slower) —
    the extra jobs, cache fills, and materialization barriers cost more
    than they save, at any scale where AQE reuse holds. A caller that
    composes long lineage on the result severs it with its own
    checkpoint.

    Output: (id_a < id_b, inter, size_a, size_b, jaccard).
    """
    # One round-robin spread feeds BOTH the signature and the verify
    # branch (AQE reuses the exchange): in the small-file regime the
    # corpus otherwise arrives in 1-2 partitions and the CPU-heavy
    # shingle walk serializes on 2 of 32 cores (measured 18.6 s -> 4.5 s
    # for the char-5-gram query at sf0.1); at cluster scale the scan
    # already has >= cores partitions and this is a no-op.
    df = spread(df)
    bands_df = _band_table(
        df, text_col, id_col, num_hashes, bands, shingle_size, char_ngrams,
        hash_family,
    )
    pairs = _candidates_from_bands(bands_df, id_col, bucket_cap=bucket_cap)
    verified = _jaccard_from_shingle_arrays(
        df, pairs, text_col, id_col, shingle_size, char_ngrams
    )
    return verified.where(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """SimHash near-dup pairs within ``max_hamming`` bits — the Manku et
    al. (WWW'07) web-dedup shape, scale-correct by the pigeonhole
    principle: the ``bits``-bit fingerprint splits into
    ``max_hamming + 1`` blocks, so any pair within distance d ≤
    max_hamming matches EXACTLY on at least one block. Candidates come
    from a self equi-join per (block index, block string) — never a
    cross product, never an all-pairs Hamming scan — then the exact
    Hamming distance verifies on candidates only.

    Determinism: ``hash_family="md5"`` makes the fingerprints (hence
    the pair set) engine-portable — the DuckDB oracle tier; xxhash64 is
    the cheap default. Output: (id_a, id_b, hamming), id_a < id_b,
    hamming ≤ max_hamming.
    """
    blocks = int(max_hamming) + 1
    if blocks < 1 or blocks > bits:
        raise ValueError("max_hamming must be in [0, bits-1]")
    sig = simhash(
        df, text_col, id_col, bits=bits, hash_family=hash_family
    ).select(F.col(id_col).alias("__id"), "simhash_bits")
    sig = sig.transform(_materialize)  # feeds blocks AND both verify sides

    # block b covers bit positions [b*len .. start of b+1), last block
    # takes the remainder — slice() is 1-based
    base = bits // blocks
    bounds = []
    pos = 0
    for b in range(blocks):
        ln = base + (1 if b < bits % blocks else 0)
        bounds.append((pos, ln))
        pos += ln
    block_rows = sig.select(
        "__id",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "",
                        F.transform(
                            F.slice("simhash_bits", start + 1, ln),
                            lambda x: x.cast("string"),
                        ),
                    )
                    for start, ln in bounds
                ]
            )
        ).alias("__blk", "__bs"),
    )
    a = block_rows.select(
        F.col("__id").alias("id_a"), "__blk", "__bs"
    )
    b_side = block_rows.select(
        F.col("__id").alias("id_b"), "__blk", "__bs"
    )
    cand = (
        a.join(b_side, on=["__blk", "__bs"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = sig.select(F.col("__id").alias("id_a"), F.col("simhash_bits").alias("__ba"))
    vb = sig.select(F.col("__id").alias("id_b"), F.col("simhash_bits").alias("__bb"))
    hamming = F.aggregate(
        F.zip_with(F.col("__ba"), F.col("__bb"), lambda x, y: F.abs(x - y)),
        F.lit(0),
        lambda acc, d: acc + d,
    )
    # Same stage-shape guards as the near-dup verify (guide §2.5's AQE
    # blind spot): the candidate distinct's shuffle is byte-tiny, so AQE
    # coalesces it to one task and the interpreted Hamming fold
    # serializes there (measured: a 1-task, 222k-row verify stage at
    # sf0.1); respread the 16-byte pair rows, and checkpoint the scored
    # rows so the max_hamming filter cannot fold the Hamming expression
    # into the verify join's condition (one fold per candidate, not
    # two).
    target = df.sparkSession.sparkContext.defaultParallelism
    scored = (
        cand.repartition(target)
        .join(va, on="id_a")
        .join(vb, on="id_b")
        .select("id_a", "id_b", hamming.alias("hamming"))
        .transform(materialize_lazy)
    )
    return (
        scored.where(F.col("hamming") <= F.lit(int(max_hamming)))
    )


def simhash(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 64,
    hash_family: str = "xxhash64",
) -> DataFrame:
    """64-bit SimHash as an array<int> of bits (1/0), plus hex rendering.

    Per token: a 64-bit token hash; bit b contributes +1 if set else -1;
    the fingerprint bit is 1 iff the signed sum is positive. All JVM-side:
    explode tokens -> 64 conditional-sum aggregates. Documents with no
    non-empty tokens get the defined all-zero fingerprint (instead of
    silently dropping out of downstream Hamming joins).

    ``hash_family``: ``"xxhash64"`` (default — cheapest: one JVM hash +
    shifts per token) or ``"md5"`` (engine-portable: bit b reads bit
    ``b%4`` of hex nibble ``b//4`` of md5(token), so any engine that can
    md5 reproduces the fingerprints exactly — the DuckDB oracle tier).
    Output: (id, simhash_bits array<int>, simhash_hex).
    """
    # expressions emitted as SQL text: the 64 conditional-sum aggregates
    # + nibble parses + hex rendering cost ~1 s of py4j chatter per
    # build via the Column API; identical trees, one parse each
    # (functions/sqlexpr.py)
    toks = spread(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(F.split(F.lower(F.col(text_col)), " ")).alias("tok")
    ).where(F.col("tok") != "")
    if hash_family == "md5":
        # parse each hex nibble ONCE in the pre-aggregation projection
        # (bits/4 convs per token) instead of once per BIT inside the 64
        # sum expressions (bits convs per token — 4x the parse work)
        toks = toks.selectExpr(
            qcol(id_col),
            *[
                f"CAST(conv(substring(md5(tok), {1 + i}, 1), 16, 10) "
                f"AS INT) AS __nib{i}"
                for i in range(bits // 4)
            ],
        )
        aggs = [
            F.expr(
                f"sum(CASE WHEN (shiftright(__nib{b // 4}, {b % 4}) & 1) = 1 "
                f"THEN 1 ELSE -1 END)"
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    else:
        aggs = [
            F.expr(
                f"sum(CASE WHEN (shiftright(xxhash64(tok), {b}) & 1) = 1 "
                f"THEN 1 ELSE -1 END)"
            ).alias(f"b{b}")
            for b in range(bits)
        ]
    sums = toks.groupBy(id_col).agg(*aggs)
    bits_arr_s = (
        "array("
        + ",".join(
            f"CASE WHEN b{b} > 0 THEN 1 ELSE 0 END" for b in range(bits)
        )
        + ")"
    )
    out = sums.selectExpr(qcol(id_col), f"{bits_arr_s} AS simhash_bits")
    # hex: 4 bits per nibble, most-significant bit first
    nibbles = [
        "conv(concat("
        + ",".join(
            f"CAST(simhash_bits[{bits - 1 - (i * 4 + j)}] AS STRING)"
            for j in range(4)
        )
        + "), 2, 16)"
        for i in range(bits // 4)
    ]
    sig = out.selectExpr(
        qcol(id_col),
        "simhash_bits",
        "lower(concat(" + ",".join(nibbles) + ")) AS simhash_hex",
    )
    zero_bits = F.array(*[F.lit(0) for _ in range(bits)])
    return (
        df.select(id_col)
        .join(sig, on=id_col, how="left")
        .select(
            id_col,
            F.coalesce("simhash_bits", zero_bits).alias("simhash_bits"),
            F.coalesce("simhash_hex", F.lit("0" * (bits // 4))).alias("simhash_hex"),
        )
    )


def hamming_distance(bits_a: Column, bits_b: Column) -> Column:
    """Hamming distance between two equal-length bit arrays (JVM zip_with)."""
    return F.aggregate(
        F.zip_with(bits_a, bits_b, lambda x, y: F.abs(x - y)),
        F.lit(0),
        lambda acc, x: acc + x,
    )


# The resolve_clusters tier choice: a pair list of at most this many edges
# (after the ghost filter) is collected and propagated on the driver, a
# larger one by the distributed label loop. Two ids per edge, so the cap
# collects a few MB, the order of a broadcast-join build side.
CC_DRIVER_MAX_EDGES = 200_000


def resolve_clusters(
    pairs: DataFrame,
    nodes: DataFrame,
    id_col: str = "doc_id",
    max_iters: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over near-dup pairs: every node gets the
    smallest id reachable through the pair graph as its ``cluster_id``.

    A dedup pipeline needs survivor RESOLUTION, not just pairs: if A~B and
    B~C, all three form one cluster and a single survivor should be kept
    even though (A, C) may never have been emitted as a pair.

    Ghost edges: a pair with an endpoint absent from ``nodes`` (a ghost)
    is dropped before propagation, so it neither labels a node nor joins
    two clusters, and every ``cluster_id`` is a node id. Pairs derived
    from the same corpus, as in ``near_dup_clusters``, have none.

    The engine is synchronous min-label propagation: each round every
    endpoint takes min(own label, neighbors' labels). Near-dup graphs are
    unions of small cliques (diameter 2-3), so 3-4 rounds in practice;
    the worst case is about the graph's diameter. Two propagation steps
    run per convergence check ("the second step changed nothing" proves
    the fixpoint), which halves the check jobs; so when convergence lands
    on an odd step ``stats["rounds"]`` (if ``stats`` is given) counts one
    more round than the minimal one. It is a work counter, not a diameter
    bound. Isolated nodes never enter the loop: they rejoin as their own
    singleton survivors in the final projection.

    The ghost filter, the lazy checkpoint and the edge count run as one
    job; the count picks the tier, with no option to set:

    - at most ``CC_DRIVER_MAX_EDGES`` edges: the collected pair list is
      propagated in a Python loop on the driver and the labels rejoin the
      plan as a broadcast ``literal_df``;
    - above it: the same propagation as iterative DataFrame joins (a
      join on the symmetric edge list + groupBy(min) per step, a
      ``localCheckpoint`` and a changed-label count per check).

    Both tiers give identical labels and ``rounds``, ``max_iters``
    truncation included. When ``max_iters`` stops propagation with labels
    still changing, the result may split a component over several
    ``cluster_id``s and keep more than one survivor in it, and a
    ``RuntimeWarning`` names the round count (a run whose last allowed
    step first reaches the fixpoint warns too: its check cannot tell).

    Output: (id_col, cluster_id, is_survivor) — survivor = the cluster's
    minimum id, the same min-id rule as ``exact_dedup``.
    """
    id_type = nodes.schema[id_col].dataType
    node_ids = nodes.select(F.col(id_col).alias("id"))
    # Lazy checkpoint + count fusion: the count is the first
    # full-scan action, so it runs the pair pipeline, the ghost filter
    # and the sizing in ONE job. After the semi-joins every endpoint is a
    # node value, so the cast to the node type is lossless.
    pairs = (
        pairs.join(node_ids.withColumnRenamed("id", "id_a"), "id_a", "left_semi")
        .join(node_ids.withColumnRenamed("id", "id_b"), "id_b", "left_semi")
        .select(F.col("id_a").cast(id_type), F.col("id_b").cast(id_type))
        .transform(materialize_lazy)
    )
    if pairs.count() <= CC_DRIVER_MAX_EDGES:
        labels, rounds, converged = _driver_labels(pairs, max_iters)
    else:
        labels, rounds, converged = _loop_labels(pairs, max_iters)
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        warnings.warn(
            f"resolve_clusters hit max_iters after {rounds} rounds with "
            "labels still changing: some cluster_ids may not be component "
            "minima; raise max_iters",
            RuntimeWarning,
            stacklevel=2,
        )
    label = F.coalesce("label", "id")
    return node_ids.join(labels, on="id", how="left").select(
        F.col("id").alias(id_col),
        label.alias("cluster_id"),
        (label == F.col("id")).alias("is_survivor"),
    )


def _loop_labels(
    pairs: DataFrame, max_iters: int
) -> tuple[DataFrame, int, bool]:
    """The distributed tier: (labels (id, label), rounds, converged)."""
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    # Iterate over pair endpoints only, never the corpus: at 100 TB the
    # per-round tables must be bounded by 2·|pairs|, not by N.
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .select("id", F.col("id").alias("label"))
    )
    rounds = 0
    # TWO propagation steps per materialize + ONE convergence count:
    # propagation is deterministic and idempotent at the fixpoint, so the
    # batch count compares step 2 against step 1 (column __mid). The
    # driver pays roughly half the checkpoint + count jobs of a
    # round-per-count loop (per-round ACTION cost, not shuffle volume,
    # dominates these loops at any scale).
    while rounds < max_iters:
        cur = labels
        for _ in range(min(2, max_iters - rounds)):
            rounds += 1
            # __mid trails the label by exactly one step: after the
            # loop it holds the second-to-last step's labels
            cur = cur.select("id", "label", F.col("label").alias("__mid"))
            nb = (
                cur.join(edges, cur["id"] == edges["src"])
                .groupBy("dst")
                .agg(F.min("label").alias("nb_label"))
                .withColumnRenamed("dst", "id")
            )
            cur = cur.join(nb, on="id", how="left").select(
                "id",
                F.least(F.col("label"), F.coalesce("nb_label", "label")).alias(
                    "label"
                ),
                "__mid",
            )
        new = cur.transform(_materialize)
        changed = new.where(F.col("label") != F.col("__mid")).count()
        labels = new.drop("__mid")
        if changed == 0:
            return labels, rounds, True
    return labels, rounds, False


def _driver_labels(
    pairs: DataFrame, max_iters: int
) -> tuple[DataFrame, int, bool]:
    """The driver tier: ``_loop_labels`` replayed step for step over the
    collected pair list (same seeding, two steps per check, same
    ``max_iters`` truncation), so labels and rounds match it bit for bit."""
    pdf = pairs.toPandas()
    adj: dict = {}
    for a, b in zip(pdf["id_a"].tolist(), pdf["id_b"].tolist()):
        adj.setdefault(a, set())
        adj.setdefault(b, set())
        if a != b:
            adj[a].add(b)
            adj[b].add(a)
    labels = {v: v for v in adj}
    rounds, converged = 0, False
    while rounds < max_iters:
        for _ in range(min(2, max_iters - rounds)):
            rounds += 1
            prev = labels
            labels = {
                v: min([prev[v], *(prev[u] for u in nbrs)])
                for v, nbrs in adj.items()
            }
        if labels == prev:
            converged = True
            break
    t = pairs.schema["id_a"].dataType.simpleString()
    lab_df = literal_df(
        pairs.sparkSession, sorted(labels.items()), f"id {t}, label {t}"
    )
    return lab_df, rounds, converged


def near_dup_clusters(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    char_ngrams: bool = False,
    max_iters: int = 20,
    hash_family: str = "affine",
) -> DataFrame:
    """End-to-end near-dup resolution: MinHash-LSH verified pairs ->
    connected components (``resolve_clusters``) -> (id, cluster_id,
    is_survivor). Keeping only ``is_survivor`` rows is the full dedup pass
    a training-data pipeline runs."""
    pairs = near_dup_pairs(
        df, text_col, id_col, threshold=threshold, num_hashes=num_hashes,
        bands=bands, shingle_size=shingle_size, char_ngrams=char_ngrams,
        hash_family=hash_family,
    ).select("id_a", "id_b")
    return resolve_clusters(pairs, df.select(id_col), id_col, max_iters)


def shingle_candidate_pairs(
    sh: DataFrame, id_col: str, df_cap: int = 50, min_shared: int = 1
) -> DataFrame:
    """Inverted-index candidate pairs: (id_a < id_b) sharing ≥1 RARE
    shingle (document frequency in [2, df_cap]).

    The containment-recall remedy banded minhash cannot provide: a band
    collision's probability tracks SYMMETRIC Jaccard ≈ |A|/|B|, which
    vanishes for a small fragment quoted inside a long document (a 10-word
    fragment of a 500-word doc has J ≈ 0.016 — even r=2 bands collide with
    probability ~J² per band). Sharing a rare shingle, by contrast, is
    near-certain for any contained fragment whose text isn't pure
    boilerplate — recall is exact unless EVERY one of the fragment's
    shingles appears in more than ``df_cap`` documents.

    ``df_cap`` bounds per-shingle pair generation at ≤ df_cap² rows per
    shingle — the same skew bound a bucket cap gives LSH; a shingle in
    more docs than the cap is corpus boilerplate, not containment
    evidence. One shuffle on the shingle key (the df census reuses it).

    ``min_shared`` requires a pair to share at least that many rare
    shingles before it becomes a candidate (the pair agg that replaces
    the plain DISTINCT costs nothing extra — same shuffle key). At the
    default 1 the recall guarantee above holds verbatim. On corpora with
    a small vocabulary the df window stops discriminating (most shingles
    land in [2, df_cap] and candidates approach all-pairs — measured
    1.15M pairs / 8% density on the synthetic sf0.1 corpus);
    ``min_shared=2`` then cuts candidates ~4x while keeping every
    genuinely-contained fragment, whose shingles co-occur in the
    container by construction (a τ=0.9 containment of an s-shingle
    fragment shares ≥ ⌈0.9·s⌉ shingles, far above 2 for any fragment
    long enough to matter).
    """
    # Pin the pair-generation join's width (guide §2.5's blind spot,
    # same pathology as the verify tier): the rare-(id, shingle) shuffle
    # is byte-tiny, so AQE coalesces the a ⋈ b join to a handful of
    # tasks — but that join's OUTPUT explodes up to df_cap² rows per
    # shingle and its CPU is invisible to byte-driven coalescing
    # (measured 10.9 s over 8 tasks at sf0.1). One explicit hash
    # repartition on the join key replaces the ENSURE_REQUIREMENTS
    # exchange (the df census, the semi-join, and both pair-join sides
    # all reuse it — no exchange is added) and AQE leaves user-numbered
    # repartitions alone.
    sh = sh.repartition(
        sh.sparkSession.sparkContext.defaultParallelism, "shingle"
    )
    counts = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    rare = sh.join(
        counts.where((F.col("__df") >= 2) & (F.col("__df") <= df_cap)),
        on="shingle",
        how="left_semi",
    )
    a = rare.select(F.col(id_col).alias("id_a"), "shingle")
    b = rare.select(F.col(id_col).alias("id_b"), "shingle")
    joined = a.join(b, on="shingle").where(F.col("id_a") < F.col("id_b"))
    if min_shared <= 1:
        return joined.select("id_a", "id_b").distinct()
    return (
        joined.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("__shared"))
        .where(F.col("__shared") >= min_shared)
        .select("id_a", "id_b")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.9,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    char_ngrams: bool = False,
    candidates: str = "bands",
    df_cap: int = 50,
    hash_family: str = "affine",
    min_shared: int = 1,
    bucket_cap: int | None = None,
) -> DataFrame:
    """Asymmetric near-dup: Jaccard CONTAINMENT C(A,B) = |A∩B| / |A|.

    Catches what symmetric Jaccard misses: a short document wholly quoted
    inside a long one has tiny Jaccard (union is large) but containment ≈ 1
    on the short side — the boilerplate/quotation/subset-dup case a
    training-data pipeline must detect separately from mirror-copy dedup.

    Candidate generation (``candidates``):

    - ``"bands"`` (default): the same MinHash-LSH band join as
      ``near_dup_pairs`` — right when the contained side is a substantial
      fraction of the container (mirror-with-additions dups). Its recall
      caveat is structural, not a tuning issue: band collisions track
      symmetric Jaccard ≈ |A|/|B|, so small quoted fragments are mostly
      missed. Measured on sf0.001 (10-word fragments of every 20th doc,
      docs averaging 56 words, J ≈ 0.15): 12/25 fragments caught at
      (num_hashes=16, bands=4, r=4); lowering to r=2 (bands=8) only
      reaches 14/25 — shorter bands cannot fix smallness, and a 500-word
      container (J ≈ 0.016) would drive both to ~0
      (``tests/test_pipeline_ops.py`` pins these counts).
    - ``"shingle"``: rare-shingle inverted-index candidates
      (``shingle_candidate_pairs``, df ∈ [2, ``df_cap``]) — measured
      recall 25/25 on the same fragment corpus; the scale-safe remedy for
      the tiny-fragment case.

    Exact shingle-set verification either way; the filter keeps pairs
    where EITHER side is ≥ ``threshold`` contained in the other.

    Output: (id_a, id_b, inter, size_a, size_b, containment_a,
    containment_b) with containment_X = |A∩B| / |size of X's set|.
    """
    df = spread(df)  # same small-file guard as near_dup_pairs
    if candidates == "shingle":
        sh = shingle_sets(df, text_col, id_col, shingle_size, char_ngrams)
        pairs = shingle_candidate_pairs(sh, id_col, df_cap, min_shared)
    elif candidates == "bands":
        bands_df = _band_table(
            df, text_col, id_col, num_hashes, bands, shingle_size, char_ngrams,
            hash_family,
        )
        pairs = _candidates_from_bands(bands_df, id_col, bucket_cap=bucket_cap)
    else:
        raise ValueError(f"unknown candidates mode: {candidates!r}")
    v = _jaccard_from_shingle_arrays(
        df, pairs, text_col, id_col, shingle_size, char_ngrams
    )
    ca = F.round(F.col("inter") / F.col("size_a"), 6) + 0.0
    cb = F.round(F.col("inter") / F.col("size_b"), 6) + 0.0
    return (
        v.select(
            "id_a",
            "id_b",
            "inter",
            "size_a",
            "size_b",
            ca.alias("containment_a"),
            cb.alias("containment_b"),
        )
        .where(F.greatest(F.col("containment_a"), F.col("containment_b")) >= threshold)
    )


# ---------------------------------------------------------------------------
# Segment-level corpus dedup (C4-style repeated-span removal)
# ---------------------------------------------------------------------------

def _segment_rows(
    df: DataFrame, text_col: str, id_col: str, seg_words: int
) -> DataFrame:
    """(id, pos, seg, seg_key) rows: consecutive non-overlapping
    ``seg_words``-word segments per document with md5 digests — the shared
    explode behind ``segment_dedup`` and ``boilerplate_stats``."""
    def segs(words: Column) -> Column:
        # let-bound: a free `words` here would re-split+filter the text
        # once per segment (see functions.hof)
        n_segs = F.ceil(F.size(words) / F.lit(seg_words)).cast("int")
        return F.transform(
            F.sequence(F.lit(0), F.greatest(n_segs, F.lit(1)) - 1),
            lambda i: F.struct(
                i.alias("pos"),
                F.concat_ws(
                    " ", F.slice(words, i * seg_words + 1, seg_words)
                ).alias("seg"),
            ),
        )

    words_expr = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    return spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(let_bound(words_expr, segs)).alias("s"),
    ).select(
        F.col(id_col),
        F.col("s.pos").alias("pos"),
        F.col("s.seg").alias("seg"),
        F.md5(F.col("s.seg")).alias("seg_key"),
    )


def segment_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seg_words: int = 10,
) -> DataFrame:
    """Corpus-wide repeated-segment removal (the C4/Gopher line-dedup
    rule, adapted to span units): split every document into consecutive
    non-overlapping ``seg_words``-word segments, and for each DISTINCT
    segment keep only its first occurrence — the (min doc id, min
    position) owner — deleting every other copy corpus-wide. Documents
    whose boilerplate (headers, footers, license blocks, navigation)
    repeats across the corpus keep one canonical copy and lose the rest.

    Output, one row per document:
      (id, n_segments, n_kept, n_removed, dedup_text)
    where ``dedup_text`` is the kept segments re-joined in document
    order (empty string when every segment was removed).

    Scale shape — two shuffles, both on high-cardinality skew-free keys:
      1. hash-agg on the segment digest: ``min(struct(id, pos))`` picks
         the global owner with map-side partial min — the heavily
         repeated segment (the skew case) REDUCES to one row per
         partition before the exchange;
      2. hash-agg on the doc id to reassemble: documents are bounded
         (segments-per-doc = words/seg_words), so the collect_list is
         O(doc) not O(corpus).
    The owner join is an equi-join on the digest; a broadcast is wrong
    here (owners ≈ distinct segments ≈ corpus-sized) and Spark's
    sort-merge/shuffled-hash picks apply.

    Determinism: owner = lexicographic min (id, pos); digests are md5 of
    the space-joined segment — oracle-checkable in DuckDB.
    """
    segs = _segment_rows(df, text_col, id_col, seg_words)
    owners = segs.groupBy("seg_key").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("owner")
    )
    flagged = segs.join(owners, "seg_key").select(
        F.col(id_col),
        F.col("pos"),
        F.col("seg"),
        (
            (F.col(f"owner.{id_col}") == F.col(id_col))
            & (F.col("owner.pos") == F.col("pos"))
        ).alias("kept"),
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("kept").cast("long")).alias("n_kept"),
        F.sum((~F.col("kept")).cast("long")).alias("n_removed"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("kept"),
                            F.struct(F.col("pos"), F.col("seg")),
                        )
                    )
                ),
                lambda s: s["seg"],
            ),
        ).alias("dedup_text"),
    )


def boilerplate_stats(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seg_words: int = 10,
    df_threshold: int = 3,
) -> DataFrame:
    """Per-document boilerplate saturation via corpus segment frequency
    (the CCNet paragraph-frequency signal, over the same non-overlapping
    ``seg_words``-word segments as ``segment_dedup``).

    A segment is *boilerplate* when it appears in ≥ ``df_threshold``
    DISTINCT documents (distinct-doc frequency, so a doc internally
    repeating its own refrain is not corpus boilerplate). Where
    ``segment_dedup`` REMOVES repeats, this MEASURES how much of each
    document is corpus-repeated — the quality-gate input for dropping
    template/navigation-dominated pages wholesale instead of shredding
    them segment by segment.

    Output per document: (id, n_segments, boiler_segments,
    boilerplate_fraction, max_seg_df) — fraction rounded to 6 decimals,
    ``max_seg_df`` the highest document frequency among the doc's
    segments (how viral its worst segment is).

    Scale shape — two shuffles on high-cardinality skew-free keys: the
    DF census hash-aggs on the segment digest (count_distinct id has
    map-side partial aggregation), the per-doc rollup on the doc id;
    between them one digest equi-join (the census is corpus-sized —
    deliberately NOT broadcast). Deterministic (md5 digests, integer
    counts), so fully oracle-checkable.
    """
    segs = _segment_rows(df, text_col, id_col, seg_words)
    census = segs.groupBy("seg_key").agg(
        F.count_distinct(F.col(id_col)).alias("__df")
    )
    per_doc = (
        segs.join(census, "seg_key")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum(
                (F.col("__df") >= df_threshold).cast("long")
            ).alias("boiler_segments"),
            F.max("__df").alias("max_seg_df"),
        )
    )
    return per_doc.select(
        F.col(id_col),
        "n_segments",
        "boiler_segments",
        (
            F.round(F.col("boiler_segments") / F.col("n_segments"), 6) + 0.0
        ).alias("boilerplate_fraction"),
        "max_seg_df",
    )


# ---------------------------------------------------------------------------
# Incremental (cross-corpus) dedup
# ---------------------------------------------------------------------------

def duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    gram_words: int = 8,
) -> DataFrame:
    """Exact-substring duplicate-span statistics — the rolling k-gram
    formulation of suffix-array substring dedup ("Deduplicating Training
    Data Makes Language Models Better", Lee et al. 2022), re-expressed as
    Spark relational algebra (a true distributed suffix array is not a
    DataFrame shape; overlapping k-gram matching finds every duplicated
    substring of >= ``gram_words`` words, which is the unit that paper
    removes).

    A word position is *duplicated* when some ``gram_words``-word window
    covering it occurs more than once corpus-wide (including twice within
    one document). Overlapping/adjacent duplicated windows merge into
    maximal spans per document (gaps-and-islands).

    Output, one row per document:
      (id, total_tokens, n_dup_spans, dup_tokens, longest_span,
       dup_fraction)

    Scale shape — O(total corpus tokens) gram rows, never pairs:
      1. gram census: hash-agg on the gram digest with map-side combine
         (the heavily repeated gram — the skew case — reduces to one row
         per map partition before the exchange);
      2. duplicated-positions join: grams ⋈ (census where n > 1) is an
         equi-join on the digest, and the census side is FILTERED before
         the join so only duplicated grams flow;
      3. span merge: window functions partitioned by doc id — frame size
         bounded by document length, not corpus size.
    No cross product anywhere; no driver collects.

    Determinism: digests are md5 of the space-joined window; span merge
    is order-deterministic (positions are unique per doc) — the DuckDB
    oracle replays the identical expressions.
    """
    from pyspark.sql import Window

    if gram_words < 1:
        raise ValueError(f"gram_words must be >= 1, got {gram_words}")
    words = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    n = F.size(words)
    base = spread(df.select(id_col, text_col)).select(
        F.col(id_col), words.alias("__w"), n.alias("__n")
    )
    grams = base.where(F.col("__n") >= gram_words).select(
        F.col(id_col),
        F.col("__n"),
        F.explode(F.sequence(F.lit(0), F.col("__n") - gram_words)).alias("pos"),
        F.col("__w"),
    ).select(
        F.col(id_col),
        F.col("pos"),
        F.md5(
            F.concat_ws(" ", F.slice(F.col("__w"), F.col("pos") + 1, gram_words))
        ).alias("gram_key"),
    )
    dup_keys = (
        grams.groupBy("gram_key")
        .agg(F.count(F.lit(1)).alias("n_occ"))
        .where(F.col("n_occ") >= 2)
        .select("gram_key")
    )
    dup_pos = grams.join(dup_keys, "gram_key").select(
        F.col(id_col),
        F.col("pos").alias("start"),
        (F.col("pos") + gram_words - 1).alias("end"),
    )
    w_prev = (
        Window.partitionBy(id_col)
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy(id_col)
        .orderBy("start")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prev_end = F.max("end").over(w_prev)
    new_island = F.when(
        prev_end.isNull() | (F.col("start") > prev_end + 1), 1
    ).otherwise(0)
    islands = dup_pos.withColumn(
        "island", F.sum(new_island).over(w_run)
    )
    spans = islands.groupBy(id_col, "island").agg(
        F.min("start").alias("s"), F.max("end").alias("e")
    )
    per_doc = spans.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_tokens"),
        F.max(F.col("e") - F.col("s") + 1).alias("longest_span"),
    )
    totals = spread(df.select(id_col, text_col)).select(
        F.col(id_col), F.size(words).cast("long").alias("total_tokens")
    )
    return totals.join(per_doc, id_col, "left").select(
        F.col(id_col),
        F.col("total_tokens"),
        F.coalesce(F.col("n_dup_spans"), F.lit(0)).cast("long").alias("n_dup_spans"),
        F.coalesce(F.col("dup_tokens"), F.lit(0)).cast("long").alias("dup_tokens"),
        F.coalesce(F.col("longest_span"), F.lit(0)).cast("long").alias("longest_span"),
        (
            F.round(
                F.coalesce(F.col("dup_tokens"), F.lit(0))
                / F.greatest(F.col("total_tokens"), F.lit(1)),
                6,
            )
            + F.lit(0.0)
        ).alias("dup_fraction"),
    )


def cross_dedup_pairs(
    new_df: DataFrame,
    ref_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    char_ngrams: bool = False,
    hash_family: str = "affine",
) -> DataFrame:
    """Incremental dedup: near-dup pairs BETWEEN a new batch and an
    existing reference corpus — the daily-crawl shape, where each ingest
    must be screened against everything already accepted without
    re-deduplicating the corpus against itself.

    Only cross pairs are generated: the band join is ref-bands ⋈
    new-bands, so candidate volume is O(batch collisions), never
    O(corpus²) — new×new and ref×ref pairs are structurally impossible
    (run ``near_dup_pairs`` on the batch alone for intra-batch dups).
    Exact duplicates surface as jaccard = 1.0 pairs. Id spaces must be
    disjoint.

    At scale the ref side's signatures are computed once and persist as
    a SIGNATURE STORE (16 longs per doc — the only state the screen
    needs); each incremental batch computes its own signatures and
    equi-joins bands against the store, so per-batch cost is O(batch +
    matched candidates). The verify stage re-reads text for matched ids
    only (a left-semi prune to the candidates' ids before shingling).

    Output: (id_a = ref id, id_b = new id, inter, size_a, size_b,
    jaccard) for pairs with jaccard >= threshold.
    """
    new_df = spread(new_df.select(id_col, text_col))
    ref_df = spread(ref_df.select(id_col, text_col))
    params = (num_hashes, bands, shingle_size, char_ngrams, hash_family)
    bands_ref = _band_table(ref_df, text_col, id_col, *params)
    bands_new = _band_table(new_df, text_col, id_col, *params)
    # Materialize the (small) candidate list once: it feeds both the
    # verify join and the ref-side prune below — without the checkpoint
    # the band join would re-execute per consumer. LAZY (guide §5): the
    # caller's first action (the output write / downstream count)
    # computes every candidate partition, persisting it for the other
    # consumers in the same job — no separate eager-checkpoint job.
    cand = (
        bands_ref.select(F.col(id_col).alias("id_a"), "band", "band_sig")
        .join(
            bands_new.select(F.col(id_col).alias("id_b"), "band", "band_sig"),
            on=["band", "band_sig"],
        )
        .select("id_a", "id_b")
        .distinct()
        .transform(materialize_lazy)
    )
    # Left-semi prune BEFORE shingling for verify: per-batch verify cost
    # must be O(batch + matched candidates), never O(corpus) — without
    # this the array_distinct shingle walk would run over EVERY ref doc
    # on every incremental batch.
    cand_ids = (
        cand.select(F.col("id_a").alias(id_col))
        .unionByName(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    union = ref_df.unionByName(new_df).join(cand_ids, id_col, "left_semi")
    v = _jaccard_from_shingle_arrays(
        union, cand, text_col, id_col, shingle_size, char_ngrams
    )
    return v.where(F.col("jaccard") >= threshold)


def build_minhash_store(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    char_ngrams: bool = False,
    hash_family: str = "affine",
    n_buckets: int = 16,
) -> None:
    """Persist a MinHash SIGNATURE STORE: build once, screen many — the
    text-dedup twin of ``build_ivf_index`` (same build-once /
    partition-pruned-probe pattern). ``cross_dedup_pairs`` recomputes
    the reference corpus's signatures on every incremental batch; this
    store computes them exactly once. Three parquet tables under
    ``path``:

    - ``{path}/bands``: (id, band_sig) PARTITIONED BY (band, bucket)
      where ``bucket = pmod(xxhash64(band_sig), n_buckets)`` — the
      probe joins on (band, bucket, band_sig), so Spark's dynamic
      partition pruning reads only the band files a batch's signatures
      can collide with (pinned by plan-guard test);
    - ``{path}/shingles``: (id, shset, size) PARTITIONED BY
      ``sbucket = pmod(xxhash64(id), n_buckets)`` — the exact-Jaccard
      verify side; candidate ids carry the same bucket, so verify
      reads only partitions that hold a matched ref doc;
    - ``{path}/meta``: one row pinning the construction params — a
      store is only probe-compatible with its own (hash family,
      shingling, banding); the probe reads these instead of trusting
      caller arguments.

    The bucket columns are internal partition keys (Spark ``xxhash64``,
    never in output), so oracle portability is untouched: a stored
    probe reproduces ``cross_dedup_pairs`` bit-for-bit (pinned by
    test + the shared ``dedup_incremental`` oracle).

    At 100 TB: store state is O(corpus) but tiny per doc — bands rows
    are (long, 32-hex) × bands, shingle arrays are the only text-scale
    table and verify touches just the candidate buckets of it. The
    per-batch cost is O(batch + matched candidates), with the ref side
    read partition-pruned, never recomputed.
    """
    refuse_known_ids("minhash store", path, df, id_col)
    df = spread(df.select(id_col, text_col))
    bands_df = _band_table(
        df, text_col, id_col, num_hashes, bands, shingle_size, char_ngrams,
        hash_family,
    )

    # the two table writes are independent jobs into different
    # directories: overlap them so the later write's tasks back-fill the
    # earlier one's straggler tail (optimization guide §2.6); FIFO
    # scheduling preserves the back-fill shape
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        futs = [
            pool.submit(
                _write_band_table, bands_df, id_col, path, n_buckets, "overwrite"
            ),
            pool.submit(
                _write_shingle_table, df, text_col, id_col, path, n_buckets,
                shingle_size, char_ngrams, "overwrite",
            ),
        ]
        for f in futs:
            f.result()
    write_meta(path, dict(
        num_hashes=num_hashes, bands=bands, shingle_size=shingle_size,
        char_ngrams=bool(char_ngrams), hash_family=hash_family, n_buckets=n_buckets,
    ))


def _bucket(col: Column, n_buckets: int) -> Column:
    """A store partition key: ``pmod(xxhash64(col), n_buckets)``."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets))


def _write_band_table(
    bands_df: DataFrame, id_col: str, path: str, n_buckets: int, mode: str
) -> None:
    """Write a store's ``{path}/bands`` table in ``mode``."""
    (
        bands_df.select(
            F.col(id_col).alias("id"),
            F.col("band"),
            _bucket(F.col("band_sig"), n_buckets).alias("bucket"),
            F.col("band_sig"),
        )
        # cluster by the write-partition keys: one task/file per
        # (band, bucket) dir instead of a sliver from every shuffle
        # partition (the postings-write lesson, retrieval.py)
        .repartition(F.col("band"), F.col("bucket"))
        .write.mode(mode)
        .partitionBy("band", "bucket")
        .parquet(f"{path}/bands")
    )


def _write_shingle_table(
    df: DataFrame,
    text_col: str,
    id_col: str,
    path: str,
    n_buckets: int,
    shingle_size: int,
    char_ngrams: bool,
    mode: str,
) -> None:
    """Write a store's ``{path}/shingles`` table in ``mode``."""
    shset = _shingle_set(F.col(text_col), shingle_size, char_ngrams)
    (
        df.select(
            F.col(id_col).alias("id"),
            _bucket(F.col(id_col), n_buckets).alias("sbucket"),
            shset.alias("shset"),
            _set_size(shset).alias("size"),
        )
        .repartition(F.col("sbucket"))
        .write.mode(mode)
        .partitionBy("sbucket")
        .parquet(f"{path}/shingles")
    )


def append_minhash_store(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
) -> None:
    """Append a batch's signatures to an existing store — the third leg
    of the incremental-ingest loop (build → probe each batch → append
    the ACCEPTED rows), so tomorrow's batch screens against everything
    accepted today without ever rebuilding.

    Construction params come from ``{path}/meta`` (the same pinning the
    probe uses), partition layouts match the builder's, and parquet
    ``append`` adds files inside the existing (band, bucket) /
    (sbucket) partitions — probes over build+append are bit-identical
    to a store built on the union (pinned by test). A batch holding an
    id already in the store is refused before anything is written
    (``stores.refuse_known_ids``): screen first, append the accepted.
    """
    m = read_meta(path, "minhash store")
    refuse_known_ids(
        "minhash store", path, df, id_col,
        df.sparkSession.read.parquet(f"{path}/shingles").select("id"),
    )
    df = spread(df.select(id_col, text_col))
    bands_df = _band_table(df, text_col, id_col, **{k: m[k] for k in _SIG_PARAMS})
    _write_band_table(bands_df, id_col, path, m["n_buckets"], "append")
    _write_shingle_table(
        df, text_col, id_col, path, m["n_buckets"], m["shingle_size"],
        m["char_ngrams"], "append",
    )


def cross_dedup_stored(
    spark,
    path: str,
    new_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Screen a NEW batch against a persisted ``build_minhash_store`` —
    incremental ingest without recomputing reference signatures
    (``cross_dedup_pairs`` re-derives them per batch; here the ref side
    is a partition-pruned store scan).

    Construction params come from ``{path}/meta``; only the batch's own
    signatures are computed. Candidates are the stored-bands ⋈
    batch-bands equi-join on (band, bucket, band_sig) — bucket is a pure
    function of band_sig, so the match set is identical to the
    unstored screen and Spark prunes the stored partitions dynamically.
    Verify joins candidate ids against the stored shingle arrays (ref
    side, bucket-pruned) and the batch's own arrays (computed in-flight).

    Output: (id_a = stored id, id_b = new id, inter, size_a, size_b,
    jaccard), identical to ``cross_dedup_pairs`` (pinned by test). Id
    spaces must be disjoint.
    """
    m = read_meta(path, "minhash store")
    new_df = spread(new_df.select(id_col, text_col))
    bands_new = _band_table(
        new_df, text_col, id_col, **{k: m[k] for k in _SIG_PARAMS}
    ).select(
        F.col(id_col).alias("id_b"),
        F.col("band"),
        _bucket(F.col("band_sig"), m["n_buckets"]).alias("bucket"),
        F.col("band_sig"),
    )
    stored_bands = spark.read.parquet(f"{path}/bands").select(
        F.col("id").alias("id_a"), "band", "bucket", "band_sig"
    )
    # ONE materialized candidate table (was two: a cand checkpoint plus
    # a keyed checkpoint re-materializing cand + one column — guide §5):
    # the sbucket key is computed inline, the checkpoint is LAZY, and
    # the bucket census collect below is the single action that both
    # materializes the candidate pipeline and reads the ≤ n_buckets
    # distinct values (the distinct's map stage scans every partition,
    # satisfying the materialize_lazy contract).
    keyed = (
        stored_bands.join(
            F.broadcast(bands_new), on=["band", "bucket", "band_sig"]
        )
        .select("id_a", "id_b")
        .distinct()
        .select(
            "id_a",
            "id_b",
            _bucket(F.col("id_a"), m["n_buckets"]).alias("sbucket"),
        )
        .transform(materialize_lazy)
    )
    # ref arrays: partition-pruned store scan keyed by the candidate
    # ids' bucket — never a full-store read for a small batch. keyed is
    # materialized by this collect, so the census is aggregate-sized
    # and becomes a LITERAL partition filter on the scan: static
    # pruning, no DPP heuristics to satisfy.
    hit_buckets = [
        r["sbucket"] for r in keyed.select("sbucket").distinct().collect()
    ]
    ref_sh = spark.read.parquet(f"{path}/shingles").where(
        F.col("sbucket").isin(hit_buckets)
    )
    a = keyed.join(
        ref_sh.select(
            F.col("id").alias("id_a"),
            "sbucket",
            F.col("shset").alias("__sa"),
            F.col("size").alias("size_a"),
        ),
        on=["sbucket", "id_a"],
    )
    shset = _shingle_set(F.col(text_col), m["shingle_size"], m["char_ngrams"])
    b = new_df.select(
        F.col(id_col).alias("id_b"),
        shset.alias("__sb"),
        _set_size(shset).alias("size_b"),
    )
    v = _with_jaccard(
        a.join(b, on="id_b").select(
            "id_a", "id_b", _intersect_size("__sa", "__sb"), "size_a", "size_b"
        )
    )
    return v.where(F.col("jaccard") >= threshold)


def winnow_fingerprints(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every overlapping char ``k``-gram
    of the lowercased text, slide a ``window`` of consecutive hashes,
    and select each window's MINIMUM hash (ties to the RIGHTMOST
    position, the paper's rule). The selected set is the document's
    fingerprint: any shared substring of length ≥ k + window - 1 is
    GUARANTEED to surface as a shared print — the local-algorithm
    guarantee MinHash does not give.

    Output: (id, pos, print_hash) — pos is the 0-based char position of
    the selected k-gram.

    Scale shape: ZERO-SHUFFLE — the whole hash → sliding-window-min →
    distinct selection runs inside the scan stage's ARRAY world
    (transform over an index sequence; array_min over a slice per
    window; array_distinct before the explode), so no gram row ever
    crosses an exchange and there is no per-document sort. The r10
    implementation exploded every k-gram into rows and ran window
    functions over them — that shuffled+sorted O(total chars) rows and
    was the engine's steepest scaling exponent (5.08× per 10× docs,
    SCALE.md); the array form is the same selection with the explode
    AFTER the distinct cut (≈0.4× gram count at window=4).
    Deterministic (md5-prefix hashes, struct-min rightmost-tie rule)
    and DuckDB-replayable; equivalence with the paper's algorithm is
    pinned by a pure-python property test.
    """
    t = F.lower(F.col(text_col))
    sel = _winnow_select_structs(t, k, window)
    return spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.explode(F.array_distinct(sel)).alias("s"),
    ).select(
        F.col(id_col),
        (-F.col("s.np")).cast("int").alias("pos"),
        F.col("s.h").alias("print_hash"),
    )


def _winnow_select_structs(t: Column, k: int, window: int) -> Column:
    """Array of winnowing selections for lowercased text ``t``: one
    struct (h = 60-bit md5-prefix hash of the k-gram, np = -pos) per
    sliding window of ``window`` consecutive gram hashes —
    ``array_min`` over each window slice implements the paper's
    min-hash selection with ties to the RIGHTMOST position (min np =
    max pos among equal h). Documents with fewer than ``window`` grams
    contribute one selection over all their grams; texts shorter than
    ``k`` contribute none (a bare sequence(1, 0) DESCENDS — the
    _dims_seq hazard — hence the explicit emptiness guards).

    Validates k/window here so EVERY caller (winnow_fingerprints,
    winnow_pairs, winnow_screen, build_winnow_store — and through them
    the CLI's user-supplied -k/-w) refuses invalid parameters instead of
    silently hashing empty grams (k=0) or selecting NULLs (window=0)."""
    if k < 1 or window < 1:
        raise ValueError(f"k and window must be >= 1, got k={k} window={window}")
    empty = F.array().cast("array<struct<h: bigint, np: int>>")

    # LET-BINDING, load-bearing (functions.hof): a lambda body
    # re-evaluates its free subtrees on every invocation. Unbound, (a)
    # slice(grams, …) inside the per-window transform would re-hash the
    # WHOLE gram array per window — O(n²) md5 calls per document
    # (measured: a 10× corpus probe burned 199 CPU-minutes) — and (b)
    # substring(lower(text), …) inside the gram transform would
    # re-lower the text per gram. Both the lowered text and the hashed
    # gram array are bound once per row.
    def _with_text(tb: Column) -> Column:
        n_grams = F.greatest(F.length(tb) - k + 1, F.lit(0))
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(n_grams, F.lit(1))),
            lambda i: F.struct(
                F.conv(
                    F.substring(F.md5(F.substring(tb, i, k)), 1, 15), 16, 10
                )
                .cast("long")
                .alias("h"),
                (1 - i).cast("int").alias("np"),
            ),
        )

        def _selections(g: Column) -> Column:
            return (
                F.when(
                    n_grams >= window,
                    F.transform(
                        F.sequence(
                            F.lit(window), F.greatest(n_grams, F.lit(window))
                        ),
                        lambda j: F.array_min(
                            F.slice(g, j - window + 1, window)
                        ),
                    ),
                )
                .when(n_grams > 0, F.array(F.array_min(g)))
                .otherwise(empty)
            )

        return let_bound(grams, _selections)

    return let_bound(t, _with_text)


def winnow_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    df_cap: int = 64,
    min_overlap: float = 0.0,
) -> DataFrame:
    """Fingerprint-overlap candidate pairs from winnowed prints: docs
    sharing ≥ ``min_shared`` selected prints (and overlap ≥
    ``min_overlap``), with the containment-style overlap fraction
    shared / min(|A|, |B|) — short texts over a shared vocabulary share
    many incidental prints, so a fraction threshold is the useful knob.

    ``df_cap`` drops prints selected by more than that many documents
    (ubiquitous boilerplate k-grams) BEFORE the pair join — the same
    quadratic bound as the shingle candidate mode: per-print pair
    fan-out ≤ df_cap². Output: (id_a, id_b, n_a, n_b, shared, overlap).
    """
    # the distinct (id, print) table comes straight out of the array
    # world — array_distinct over the selections' hashes BEFORE the
    # explode, so no shuffle and no corpus-wide DISTINCT. It is tiny
    # (≤ one row per selected k-gram) but its lineage is the full gram
    # hashing pass. The df-capped census rides ONE window count over the
    # print_hash exchange (r12 — replaces the r11 groupBy census + join-
    # back, which paid a second full pass and a second checkpoint of the
    # print table), and the result is materialized ONCE for its three
    # consumers (sizes, both pair-join sides) — without the checkpoint
    # the raw corpus re-hashes per consumer (measured: 16 scans under
    # the r10 shape, and a pure exchange-reuse r12 prototype regressed
    # 3.55×→4.6× per 10× docs because every consumer re-ran the census
    # join from shuffle files).
    from pyspark.sql import Window as _W

    sel = _winnow_select_structs(F.lower(F.col(text_col)), k, window)
    fps = (
        spread(df.select(id_col, text_col))
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(F.transform(sel, lambda s: s["h"]))
            ).alias("print_hash"),
        )
    )
    rare = (
        fps.withColumn(
            "__df", F.count(F.lit(1)).over(_W.partitionBy("print_hash"))
        )
        .where(F.col("__df") <= df_cap)
        .drop("__df")
        # LAZY: the caller's final action materializes the capped print
        # table once for its three consumers — no eager job (guide §5)
        .transform(materialize_lazy)
    )
    # sizes over the SAME df-capped print space the intersection uses —
    # mixing a rare-print numerator with an all-print denominator would
    # deflate every overlap on a shared-vocabulary corpus
    sizes = rare.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_prints"))
    a = rare.select(F.col(id_col).alias("id_a"), "print_hash")
    b = rare.select(F.col(id_col).alias("id_b"), "print_hash")
    shared = (
        a.join(b, "print_hash")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
        .where(F.col("shared") >= min_shared)
    )
    return (
        shared.join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("n_prints").alias("n_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("n_prints").alias("n_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.col("shared").cast("long").alias("shared"),
            (
                F.round(
                    F.col("shared") / F.least(F.col("n_a"), F.col("n_b")), 6
                )
                + F.lit(0.0)
            ).alias("overlap"),
        )
        .where(F.col("overlap") >= F.lit(float(min_overlap)))
    )


def winnow_screen(
    df: DataFrame,
    ref_prints: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    ref_df_cap: int | None = None,
) -> DataFrame:
    """Screen a batch of documents against a STATIC winnowed print store
    (``winnow_fingerprints`` output of a reference corpus, columns
    (ref_id, print_hash)) — the incremental-ingest face of
    ``winnow_pairs``: each new document is checked against everything
    already accepted without re-fingerprinting the store.

    Per-document verdict only (no cross-document state), so the
    streaming twin (`streaming.winnow_stream`) is batch-equivalent under
    any micro-batch boundaries.

    Output: (id, n_prints, best_ref, best_shared, flagged) — best_ref is
    the store document sharing the most prints (ties to the lowest
    ref_id; NULL when nothing is shared), flagged when best_shared ≥
    ``min_shared``.

    ``ref_df_cap`` is the store-side skew ceiling (the screen's analog
    of ``winnow_pairs``' df_cap): a print selected by more than that
    many STORE documents — a stop phrase or license boilerplate the
    whole accepted corpus shares — would fan the probe join out by its
    document frequency for every batch doc that contains it. With the
    cap, such prints are dropped from the store side before the join
    (window count on the join key, no extra exchange), bounding the
    per-print fan-out at ref_df_cap and keeping verdicts driven by
    CONTENT prints. Default None preserves the uncapped contract
    (every existing hash).
    """
    from pyspark.sql import Window

    # distinct (id, print) straight from the array world — no shuffle
    # (see winnow_pairs)
    sel = _winnow_select_structs(F.lower(F.col(text_col)), k, window)
    fps = (
        spread(df.select(id_col, text_col))
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(F.transform(sel, lambda s: s["h"]))
            ).alias("print_hash"),
        )
        .transform(materialize_lazy)  # final action computes it once
    )
    sizes = fps.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_prints")
    )
    ref = ref_prints.select(F.col("ref_id"), F.col("print_hash"))
    if ref_df_cap is not None:
        wc = Window.partitionBy("print_hash")
        ref = (
            ref.withColumn("__m", F.count(F.lit(1)).over(wc))
            .where(F.col("__m") <= ref_df_cap)
            .drop("__m")
        )
    shared = (
        fps.join(ref, "print_hash")
        .groupBy(id_col, "ref_id")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    wb = Window.partitionBy(id_col).orderBy(
        F.desc("shared"), F.asc("ref_id")
    )
    best = (
        shared.withColumn("__r", F.row_number().over(wb))
        .where(F.col("__r") == 1)
        .select(
            F.col(id_col),
            F.col("ref_id").alias("best_ref"),
            F.col("shared").alias("best_shared"),
        )
    )
    return (
        df.select(id_col)
        .join(sizes, id_col, "left")
        .join(best, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("n_prints", F.lit(0)).cast("long").alias("n_prints"),
            F.col("best_ref"),
            F.coalesce("best_shared", F.lit(0)).cast("long").alias("best_shared"),
            (
                F.coalesce("best_shared", F.lit(0)) >= F.lit(int(min_shared))
            ).alias("flagged"),
        )
    )


def build_winnow_store(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    k: int = 5,
    window: int = 4,
    n_buckets: int = 16,
) -> None:
    """Persist a WINNOWED PRINT STORE: build once, screen many — the
    guaranteed-detection (MOSS) twin of ``build_minhash_store`` /
    ``decontam.build_gram_store``. ``winnow_screen`` re-fingerprints
    the accepted corpus on every call; a pipeline screening each
    arriving batch against the same frozen corpus should pay that
    hashing pass exactly once.

    Two parquet tables under ``path``:

    - ``{path}/prints``: distinct (ref_id, print_hash), PARTITIONED BY
      ``bucket = pmod(xxhash64(print_hash), n_buckets)`` — balanced
      files keyed on the screen's join key, so a probe co-partitions
      against the store layout instead of reshuffling it;
    - ``{path}/meta``: one row pinning (k, window, n_buckets) — a store
      built for 5-gram/window-4 prints must not silently screen other
      parameters; readers validate instead of trusting callers.

    Store size is O(selected prints) ≈ 0.4× the reference gram count at
    window=4 — a frozen reference corpus reduces once, not per batch.
    """
    refuse_known_ids("winnow store", path, df, id_col)
    _write_prints(df, path, text_col, id_col, k, window, n_buckets, "overwrite")
    write_meta(path, dict(k=int(k), window=int(window), n_buckets=int(n_buckets)))


def _write_prints(
    df: DataFrame, path: str, text_col: str, id_col: str,
    k: int, window: int, n_buckets: int, mode: str,
) -> None:
    """Write a winnow store's ``{path}/prints`` table in ``mode``."""
    sel = _winnow_select_structs(F.lower(F.col(text_col)), k, window)
    (
        spread(df.select(id_col, text_col))
        .select(
            F.col(id_col).alias("ref_id"),
            F.explode(
                F.array_distinct(F.transform(sel, lambda s: s["h"]))
            ).alias("print_hash"),
        )
        .withColumn(
            "bucket", F.pmod(F.xxhash64("print_hash"), F.lit(n_buckets))
        )
        # one task/file per bucket dir (the postings-write lesson)
        .repartition(F.col("bucket"))
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(f"{path}/prints")
    )


def append_winnow_store(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
) -> None:
    """Append a batch's winnowed prints to an existing print store —
    the incremental-ingest leg the minhash/gram/text-index stores
    already have (build → screen each batch → append the ACCEPTED
    docs), so tomorrow's batch screens against everything accepted
    today without re-fingerprinting the corpus.

    k/window/n_buckets come from ``{path}/meta`` (the same pinning the
    screen validates), the bucket layout matches the builder's, and
    parquet ``append`` adds files inside existing bucket partitions —
    screens over build+append are bit-identical to a store built on
    the union (pinned by test). A batch holding an id already in the
    store is refused before anything is written (screen first)."""
    m = read_meta(path, "winnow store")
    prints = df.sparkSession.read.parquet(f"{path}/prints")
    refuse_known_ids(
        "winnow store", path, df, id_col, prints.select(F.col("ref_id").alias("id"))
    )
    _write_prints(
        df, path, text_col, id_col, m["k"], m["window"], m["n_buckets"], "append"
    )


def read_winnow_store(
    spark, path: str, k: int | None = None, window: int | None = None
) -> tuple[DataFrame, int, int]:
    """Load a persisted winnow print store -> ((ref_id, print_hash)
    DataFrame, k, window). Validates requested parameters against the
    store's meta — mismatched k/window would silently find nothing."""
    meta = read_meta(path, "winnow store", k=k, window=window)
    prints = spark.read.parquet(f"{path}/prints").select(
        "ref_id", "print_hash"
    )
    return prints, meta["k"], meta["window"]


def winnow_screen_stored(
    spark,
    path: str,
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_shared: int = 2,
    ref_df_cap: int | None = None,
    k: int | None = None,
    window: int | None = None,
) -> DataFrame:
    """Screen a batch against a PERSISTED winnow print store
    (``build_winnow_store``): the store side is read, never
    re-fingerprinted; k/window come from the store's meta so the batch
    is hashed with exactly the parameters the store was built with.
    Pass explicit ``k``/``window`` to VALIDATE against the store's meta
    (raises on mismatch — a k=7 screen over a k=5 store finds nothing).
    Bit-identical to ``winnow_screen`` over the same reference corpus
    (pinned by test). ``ref_df_cap`` bounds hot-boilerplate store
    prints (see ``winnow_screen``). Output: (id, n_prints, best_ref,
    best_shared, flagged)."""
    prints, k, window = read_winnow_store(spark, path, k=k, window=window)
    return winnow_screen(
        df, prints, text_col, id_col, k, window, min_shared,
        ref_df_cap=ref_df_cap,
    )


def dedup_threshold_report(
    df: DataFrame,
    text_col: str,
    id_col: str,
    thresholds: "tuple[float, ...]" = (0.5, 0.6, 0.7, 0.8, 0.9),
    num_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    char_ngrams: bool = False,
    hash_family: str = "affine",
) -> DataFrame:
    """Dedup threshold tuning table — the near-dup analog of the ANN
    recall dashboard: ONE verified-pair pass at the LOWEST candidate
    threshold, then per-threshold aggregates over the (small) pair
    table, so an operator can read off how aggressive each cut is
    before committing a corpus-wide dedup.

    Output: one row per threshold — (threshold, n_pairs, n_docs,
    n_corpus, affected_frac): pairs at jaccard >= t, distinct docs
    touched by those pairs, corpus size, and the affected fraction.

    Candidate recall caveat (documented, inherent): candidates come
    from the band config evaluated at min(thresholds) — LSH recall
    decays below the band family's S-curve, so rows at the LOW end
    undercount pairs the bands never surfaced. The HIGH-end rows (the
    ones that pick the production cut) are band-complete.

    Scale: the expensive term is the single near_dup_pairs pass
    (banded, never all-pairs); the report itself is len(thresholds)
    aggregates over the materialized pair table (O(pairs), tiny).
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    ts = sorted(set(float(t) for t in thresholds))
    pairs = materialize_lazy(
        near_dup_pairs(
            df, text_col, id_col, threshold=ts[0], num_hashes=num_hashes,
            bands=bands, shingle_size=shingle_size, char_ngrams=char_ngrams,
            hash_family=hash_family,
        ).select("id_a", "id_b", "jaccard")
    )  # the report's first aggregate materializes the pair table
    n_corpus = df.agg(F.count(F.lit(1)).cast("long").alias("n_corpus"))
    ends = pairs.select(
        "jaccard", F.explode(F.array("id_a", "id_b")).alias("__d")
    )
    rows = None
    for t in ts:
        np_ = pairs.where(F.col("jaccard") >= t).agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs")
        )
        nd = ends.where(F.col("jaccard") >= t).agg(
            F.count_distinct("__d").cast("long").alias("n_docs")
        )
        r = (
            np_.crossJoin(nd)
            .select(
                F.lit(t).cast("double").alias("threshold"),
                "n_pairs",
                "n_docs",
            )
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.crossJoin(F.broadcast(n_corpus)).select(
        "threshold",
        "n_pairs",
        "n_docs",
        "n_corpus",
        (F.round(F.col("n_docs") / F.col("n_corpus"), 6) + 0.0).alias(
            "affected_frac"
        ),
    )
