"""Embedding similarity search (ANN) over array<float> columns.

One engine per capability. Every cosine is a strict left-to-right
double fold (``dot``/``norm``), so each tier's rows replay bit for bit
in the DuckDB oracle's ``list_reduce`` over the same sequence; every
top-k ranks by (cosine DESC, neighbor_id ASC); zero-norm vectors have
no defined cosine and are dropped from both sides.

- ``cosine_topk``: brute-force top-k over broadcast queries (a query
  frame or a list of corpus ids) — the exact side every ANN tier's
  recall is measured against.
- ``cosine_pairs_exact`` / ``cosine_pairs_bucketed``: embedding
  near-duplicate pairs, all-pairs and hyperplane-bucketed.
- ANN tiers: ``ivf_topk`` (xxhash64 centroid sample, shuffle-free
  broadcast argmax), ``ivf_topk_exact`` (md5 sample), ``lsh_bucket_topk``,
  ``pq_topk`` and ``rp_topk``. Each docstring states the tier's measured
  recall@10 for query ids 0-19 against ``cosine_topk`` on the sf0.01 /
  sf0.1 test embeddings (500 / 2,000 64-dim vectors). The persisted
  indexes run the same probe as their in-memory form.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..ckpt import literal_df, materialize, materialize_lazy, release, spread
from ..functions import sqlexpr as sqlx
from ..stores import read_meta, refuse_known_ids, write_meta


def _as_double(vec: Column | str) -> Column:
    """Cast an array column to double elements.

    Accepts a COLUMN NAME as a fast path: building the transform lambda
    through the Column API costs ~10 ms of py4j round trips per call,
    while one ``F.expr`` text parse is <1 ms and yields the identical
    Catalyst tree (guide §4 applied to plan construction; see
    functions/sqlexpr.py for the measurements). Same for ``dot``/``norm``.
    """
    if isinstance(vec, str):
        return F.expr(sqlx.as_double_s(sqlx.qcol(vec)))
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column | str, b: Column | str) -> Column:
    """Strict left-to-right double dot fold. String args take the
    single-parse ``F.expr`` fast path (bit-identical tree)."""
    if isinstance(a, str) and isinstance(b, str):
        return F.expr(sqlx.dot_s(sqlx.qcol(a), sqlx.qcol(b)))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a: Column | str) -> Column:
    """Strict-fold L2 norm. String args take the ``F.expr`` fast path."""
    if isinstance(a, str):
        return F.expr(sqlx.norm_s(sqlx.qcol(a)))
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def _vectors(
    df: DataFrame, id_col: str, vec_col: str, names: tuple[str, str, str] | None = None
) -> DataFrame:
    """(id, v, n): the double-cast vector and its strict-fold norm, folded
    once per vector. Zero-norm rows are dropped: they have no defined
    cosine, and their 0/0 = NaN would sort above every number under DESC.
    ``names`` renames the three columns (default ``id_col``, ``__v``,
    ``__n``)."""
    i, v, n = names or (id_col, "__v", "__n")
    vd = sqlx.as_double_s(sqlx.qcol(vec_col))
    return df.selectExpr(
        f"{sqlx.qcol(id_col)} AS {sqlx.qcol(i)}",
        f"{vd} AS {v}",
        f"{sqlx.norm_s(vd)} AS {n}",
    ).where(F.col(n) > 0)


def _query_vectors(queries: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(query_id, qv, qn): the query side of every top-k."""
    return _vectors(queries, id_col, vec_col, ("query_id", "qv", "qn"))


def _top_k(sim: DataFrame, k: int) -> DataFrame:
    """Each query's ``k`` best (query_id, neighbor_id, cosine) rows by
    (cosine DESC, neighbor_id ASC), cosine rounded to 6 dp, plus rank."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", (F.round("cosine", 6) + 0.0).alias("cosine"), "rank")
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame | list[int],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Brute-force cosine top-k: (query_id, neighbor_id, cosine, rank).

    ``queries`` is a frame of (id, vector) rows or a list of corpus ids;
    either way it must be small (it is broadcast). Self-matches excluded.
    """
    if not isinstance(queries, DataFrame):
        queries = embeddings.where(F.col(id_col).isin(list(queries)))
    # norms are per-vector: fold them once per side before the crossJoin
    # (3 interpreted folds per candidate row becomes 1), and spread the
    # corpus when the scan arrives in fewer partitions than cores (no-op
    # at cluster scale)
    q = _query_vectors(queries, id_col, vec_col)
    c = _vectors(spread(embeddings), id_col, vec_col, ("neighbor_id", "cv", "cn"))
    sim = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"{sqlx.dot_s('qv', 'cv')} / (qn * cn) AS cosine",
        )
    )
    return _top_k(sim, k)


def cosine_pairs_exact(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs: all (id_a < id_b) with cosine ≥ τ.

    Brute force — the correctness baseline for embedding dedup; the
    scale path is ``cosine_pairs_bucketed``. The all-pairs id_a < id_b
    join is a deliberate O(n²).
    Output: (id_a, id_b, cosine).
    """
    vecs = _vectors(spread(embeddings), id_col, vec_col)
    a = vecs.select(
        F.col(id_col).alias("id_a"), F.col("__v").alias("va"), F.col("__n").alias("na")
    )
    b = vecs.select(
        F.col(id_col).alias("id_b"), F.col("__v").alias("vb"), F.col("__n").alias("nb")
    )
    cos = dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", (F.round(cos, 6) + 0.0).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# LSH bucketing (random hyperplanes, deterministic)
# ---------------------------------------------------------------------------

def _plane_component(plane: int, dim: Column) -> Column:
    """Deterministic pseudo-random ±1 from md5(plane|dim) parity."""
    h = F.md5(F.concat(F.lit(f"p{plane}|"), dim.cast("string")))
    nibble = F.conv(F.substring(h, 1, 1), 16, 10).cast("int")
    return F.when(nibble % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))


def _dims_seq_s(vec_s: str) -> str:
    """[0 .. size(vec)-1], EMPTY for an empty array. A bare
    ``sequence(0, size - 1)`` DESCENDS to [0, -1] when size == 0, which
    would zip_with null-padding into null projections and engine-divergent
    sign bits (the DuckDB twin's generate_series(1, 0) is empty)."""
    return (
        f"CASE WHEN size({vec_s}) > 0 THEN sequence(0, size({vec_s}) - 1) "
        f"ELSE CAST(array() AS ARRAY<INT>) END"
    )


def _lsh_signature_s(vec_s: str, planes: int) -> str:
    """Bit-string LSH bucket signature: sign of <v, r_p> per plane, the
    ±1 planes md5-derived from (plane, dim) exactly as
    ``_plane_component`` derives them — no stored model, reproducible
    everywhere. SQL text: one parser call instead of ~planes x 4 py4j
    lambda constructions (sqlexpr.py has the 20 ms -> 0.5 ms numbers)."""
    dims = _dims_seq_s(vec_s)
    bits = []
    for p in range(planes):
        comp = (
            f"CASE WHEN CAST(conv(substring(md5(concat('p{p}|', "
            f"CAST(i AS STRING))), 1, 1), 16, 10) AS INT) % 2 = 0 "
            f"THEN 1.0D ELSE -1.0D END"
        )
        proj = (
            f"aggregate(zip_with({vec_s}, transform({dims}, i -> {comp}), "
            f"(x, r) -> x * r), 0.0D, (acc, x) -> acc + x)"
        )
        bits.append(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END")
    return "concat(" + ", ".join(bits) + ")"


def banded_buckets(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    bands: int = 1,
    bucket_cap: int | None = None,
    split_planes: int = 4,
    split_rounds: int = 3,
) -> DataFrame:
    """Per-band hyperplane bucket table (id, band, bucket).

    Strict left-to-right double-fold projections onto md5(plane|dim)
    ±1 planes (no dim explode), so every sign bit replays in the DuckDB
    ``list_reduce`` twin: band ``b`` uses planes
    ``b*planes .. (b+1)*planes-1``. An empty vector folds to 0.0
    projections (all-'1' bucket); a NULL vector keeps an all-'0' one.

    With ``bucket_cap``, any (band, bucket)
    holding more than ``bucket_cap`` vectors is refined by ``split_planes``
    extra hyperplanes — a 2^split_planes-way split bounding within-bucket
    pair generation — and the census/split repeats for up to
    ``split_rounds`` rounds, so a pathological bucket (a near-duplicate
    blob larger than cap·2^split_planes) keeps splitting instead of
    staying quadratic. Round ``r`` uses plane indices
    ``bands*planes + r*split_planes ..``; refined bucket strings can never
    collide with unrefined ones because every base bucket is exactly
    ``planes`` chars and refinement only appends. Each round's
    oversized-bucket census aggregates the tiny (id, band, bucket) table —
    broadcast back, never a corpus shuffle — and the loop exits early via
    a driver-side emptiness check on that aggregate the moment every
    bucket fits. A genuinely indivisible bucket (identical vectors, every
    extra plane projects them together) stops growing new splits and the
    early-exit cannot fire — the rounds bound caps the work; SCALE.md
    documents the residual cap·2^(split_planes·split_rounds) bound.
    """
    # the ±1 plane components depend only on (plane, dim): build each
    # plane's sign array ONCE per distinct vector length and
    # broadcast-join, instead of re-deriving `planes * dim` md5 digests
    # for every row inside the fold
    n_extra = split_planes * split_rounds if bucket_cap is not None else 0
    n_planes = planes * bands + n_extra
    lengths = embeddings.select(F.size(F.col(vec_col)).alias("__len")).distinct()
    # NOTE: the lambda must take exactly ONE parameter. PySpark sizes the
    # lambda variable count from the Python signature, so the classic
    # `lambda d, p=p:` late-binding idiom silently turns this into an
    # (element, index) BINARY lambda — `p` receives the INDEX COLUMN and
    # the f-string in _plane_component stringifies it, collapsing every
    # plane onto an arbitrary repr-keyed hash seed. A plain closure is
    # correct here because F.transform invokes the lambda eagerly at
    # expression-construction time, inside this comprehension iteration.
    def _plane_array(p: int) -> Column:
        dims = F.when(
            F.col("__len") > 0, F.sequence(F.lit(0), F.col("__len") - 1)
        ).otherwise(F.array().cast("array<int>"))
        return F.transform(dims, lambda d: _plane_component(p, d)).alias(
            f"__pa{p}"
        )

    plane_arrays = lengths.select(
        "__len", *[_plane_array(p) for p in range(n_planes)]
    )
    # array folds are interpreted (not codegen'd): spread the corpus across
    # cores when the scan arrives in fewer partitions than parallelism (the
    # small-file regime; a no-op at cluster scale where the scan already
    # has more partitions than cores)
    embeddings = spread(embeddings)
    # LEFT join: a NULL vector has NULL size, which matches no length row
    # — the row must still survive, with NULL projections giving it the
    # all-'0' bucket the DuckDB twin gives it
    e = embeddings.join(
        F.broadcast(plane_arrays),
        on=F.size(F.col(vec_col)) == F.col("__len"),
        how="left",
    )
    vecd = _as_double(F.col(vec_col))

    def bit(p: int) -> Column:
        return F.when(dot(vecd, F.col(f"__pa{p}")) >= 0, F.lit("1")).otherwise(
            F.lit("0")
        )

    band_buckets = F.array(
        *[
            F.concat(*[bit(b * planes + i) for i in range(planes)])
            for b in range(bands)
        ]
    )
    # Materialize the BASE signature table ONCE: it is tiny (one short row
    # per (id, band)) but its plan carries `planes*bands` dot-product folds
    # per row, and downstream it feeds the oversized-bucket census PLUS
    # both sides of the candidate self-join — without this the fold
    # pipeline executes up to 4x (AQE exchange reuse covers the symmetric
    # join sides but not the census branch). Refinement bits are NOT
    # computed here: each extra plane is another interpreted fold over the
    # whole corpus, and the common case (every bucket under cap) never
    # needs them — they are derived lazily below, only for ids that sit in
    # an oversized bucket (eagerly computing split_planes*split_rounds
    # extra folds per row was the r6 dedup_embedding_fast regression:
    # 20 folds/row instead of 8 for refinements that never fired).
    sig = e.select(
        F.col(id_col), F.posexplode(band_buckets).alias("band", "bucket")
    ).transform(materialize)
    if bucket_cap is not None:
        extra_names = [f"__extra{r}" for r in range(split_rounds)]
        extras = None
        for r in range(split_rounds):
            oversized = (
                sig.groupBy("band", "bucket")
                .count()
                .where(F.col("count") > bucket_cap)
                .select("band", "bucket", F.lit(True).alias("__over"))
            )
            # driver-side emptiness probe on the tiny census aggregate —
            # the common case (no bucket over cap) costs one cheap round
            # and ZERO refinement folds
            if oversized.isEmpty():
                break
            if extras is None:
                # ids needing refinement at any later round are a subset
                # of the ids oversized NOW (refinement only ever splits
                # already-oversized buckets), so one fold pass over this
                # subset serves every round. The join back to the corpus
                # is id-keyed equi (one shuffle of the affected subset at
                # worst; AQE broadcasts it when small) — never all rows.
                over_ids = (
                    sig.join(
                        F.broadcast(oversized.drop("__over")),
                        on=["band", "bucket"],
                    )
                    .select(id_col)
                    .distinct()
                )
                extras = (
                    e.join(over_ids, on=id_col, how="leftsemi")
                    .select(
                        F.col(id_col),
                        *[
                            F.concat(
                                *[
                                    bit(bands * planes + rr * split_planes + i)
                                    for i in range(split_planes)
                                ]
                            ).alias(extra_names[rr])
                            for rr in range(split_rounds)
                        ],
                    )
                    .transform(materialize)
                )
            sig = (
                sig.join(F.broadcast(oversized), on=["band", "bucket"], how="left")
                .join(extras, on=id_col, how="left")
                .withColumn(
                    "bucket",
                    F.when(
                        F.col("__over"),
                        F.concat(F.col("bucket"), F.col(f"__extra{r}")),
                    ).otherwise(F.col("bucket")),
                )
                .drop("__over", *extra_names)
                # keep each round's census scanning a materialized table,
                # not a growing join chain
                .transform(materialize)
            )
    return sig


def cosine_pairs_bucketed(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    bands: int = 1,
    bucket_cap: int | None = None,
    split_planes: int = 4,
    split_rounds: int = 3,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: hyperplane-bucket candidates,
    exact verification within buckets.

    The scale fix for ``cosine_pairs_exact``'s all-pairs O(n²·d) join:
    candidates come from self-equi-joins on per-band bucket strings
    (shuffle on the bucket key only — no cross product), then the exact
    cosine runs on the candidate pairs alone.

    **Banding (OR-construction)**: ``bands`` independent signatures of
    ``planes`` bits each; a pair is a candidate if it collides in ANY band
    — the same OR-construction as the text MinHash LSH (``dedup.py``).
    Recall for angle θ is 1-(1-(1-θ/π)^planes)^bands: shorter bands catch
    more true neighbors, multiple bands keep the false-positive rate of a
    longer signature. ``bands=1`` is the plain single-signature bucketing.

    **Bucket-size cap**: real corpora cluster, so one bucket (e.g. the
    all-positive orthant) can hold a large corpus fraction, making the
    within-bucket self-join quadratic. ``bucket_cap=N`` splits every
    bucket holding more than N vectors by ``split_planes`` extra
    hyperplanes (a 2^split_planes-way refinement), bounding per-task pair
    generation; near-duplicates (θ→0) still collide in the refined bucket
    with probability ≈(1-θ/π)^split_planes. The bucket-size census is an
    agg over the tiny signature table — broadcast, never a shuffle of the
    corpus — and refinement iterates up to ``split_rounds`` times with an
    early exit once every bucket fits (see ``banded_buckets``).

    Signatures and the verify cosine are strict left-to-right double
    folds (``banded_buckets``, ``dot``/``norm``), so the pairs replay bit
    for bit in the DuckDB ``list_reduce`` twin, the cap refinement
    included. Output: (id_a, id_b, cosine) with cosine ≥ threshold.
    """
    sig = banded_buckets(
        embeddings,
        id_col=id_col,
        vec_col=vec_col,
        planes=planes,
        bands=bands,
        bucket_cap=bucket_cap,
        split_planes=split_planes,
        split_rounds=split_rounds,
    )
    a = sig.select(F.col(id_col).alias("id_a"), "band", "bucket")
    b = sig.select(F.col(id_col).alias("id_b"), "band", "bucket")
    pairs = (
        a.join(b, on=["band", "bucket"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # Array folds (zip_with/aggregate) are interpreted per-row, not
    # whole-stage-codegen'd: they dominate the verify step. Two
    # mitigations: (1) norms are per-VECTOR, so fold them once on the
    # corpus and join the scalar — 3 folds/pair becomes 1; (2) AQE
    # coalesces the small distinct-candidates exchange to one task,
    # serializing the fold work (a runtime decision, so a static
    # partition-count guard can't see it) — repartition on id_a to
    # spread the fold work across cores. The cost is one shuffle of
    # bare (id_a, id_b) pairs — tiny rows — and the partitioning
    # doubles as the pre-shuffle of the first verify join when the
    # vector side is too big to broadcast.
    target = embeddings.sparkSession.sparkContext.defaultParallelism
    # left-semi prune to candidate ids BEFORE the per-vector norm
    # fold: with selective buckets the candidates touch a small
    # corpus fraction, and the interpreted folds must not run over
    # every vector twice (pairs re-derives from the checkpointed
    # signature table, so the extra consumer is one cheap join)
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    pairs = pairs.repartition(target, "id_a")
    vecs = _vectors(
        embeddings.join(cand_ids, id_col, "left_semi"), id_col, vec_col
    ).transform(materialize_lazy)  # norm folds once, not once per join side
    cos = dot("va", "vb") / (F.col("na") * F.col("nb"))
    return (
        pairs.join(
            vecs.select(
                F.col(id_col).alias("id_a"),
                F.col("__v").alias("va"),
                F.col("__n").alias("na"),
            ),
            on="id_a",
        )
        .join(
            vecs.select(
                F.col(id_col).alias("id_b"),
                F.col("__v").alias("vb"),
                F.col("__n").alias("nb"),
            ),
            on="id_b",
        )
        .select("id_a", "id_b", (F.round(cos, 6) + 0.0).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def lsh_bucket_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    planes: int = 12,
    probes: int = 0,
) -> DataFrame:
    """Approximate cosine top-k: candidates share the LSH bucket signature.

    One signature computation per side, equi-join on the bucket string, then
    exact cosine within buckets. Recall trades off with ``planes``;
    ``probes`` adds multi-probe: each query ALSO probes the buckets at
    Hamming distance 1 in its first ``probes`` signature bits (the probe
    expansion happens on the broadcast query side only — the corpus is
    still scanned once and joined on a single bucket key).

    Measured recall@10 at 8 planes, 4 probes (``ann_recall_report``'s
    setting): 0.06 (sf0.01) / 0.08 (sf0.1) — on these unclustered test
    vectors a true neighbor rarely shares a bucket with its query.
    """
    # fold the per-vector quantities ONCE per side: the double cast, the
    # signature, and the norm are all per-vector, while the candidate join
    # multiplies rows — computing norms inside the scored select would run
    # two extra interpreted array folds per (query, neighbor) candidate
    # (the exact pattern already fixed in cosine_topk / the bucketed
    # verifier). With wide buckets the fold count dominates the query.
    embeddings = spread(embeddings)
    vd = sqlx.as_double_s(sqlx.qcol(vec_col))
    sig = _lsh_signature_s(vd, planes)
    e = embeddings.selectExpr(
        f"{sqlx.qcol(id_col)} AS neighbor_id",
        f"{vd} AS cv",
        f"{sqlx.norm_s(vd)} AS cn",
        f"{sig} AS bucket",
    ).where(F.col("cn") > 0)  # zero-norm: never a neighbor
    q = queries.selectExpr(
        f"{sqlx.qcol(id_col)} AS query_id",
        f"{vd} AS qv",
        f"{sqlx.norm_s(vd)} AS qn",
        f"{sig} AS __sig",
    ).where(F.col("qn") > 0)  # zero-norm: no defined cosine
    if probes:
        def flip(s, i: int):
            bit = F.substring(s, i + 1, 1)
            flipped = F.when(bit == "1", F.lit("0")).otherwise(F.lit("1"))
            return F.concat(F.substring(s, 1, i), flipped, F.substring(s, i + 2, planes))

        probe_sigs = F.array(
            F.col("__sig"), *[flip(F.col("__sig"), i) for i in range(min(probes, planes))]
        )
        q = q.select(
            "query_id", "qv", "qn", F.explode(probe_sigs).alias("bucket")
        )
    else:
        q = q.withColumnRenamed("__sig", "bucket")
    sim = (
        e.join(F.broadcast(q), on="bucket")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"{sqlx.dot_s('qv', 'cv')} / (qn * cn) AS cosine",
        )
        # a neighbor can collide through several probe buckets; cosine is
        # identical per pair, so dedup on the scored 3-column rows
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _top_k(sim, k)


# ---------------------------------------------------------------------------
# IVF: the xxhash64 tier, and the md5 tier whose one assignment rule and
# one probe serve its in-memory form and the persisted index
# ---------------------------------------------------------------------------

def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF-style approximate cosine top-k: coarse quantizer + probed lists.

    The scale shape of FAISS-style IVF re-expressed declaratively:
    1. coarse centroids — deterministic xxhash64-spread sample of the
       nonzero corpus vectors (a production index would k-means; the
       partition/probe mechanics are identical), broadcast everywhere;
    2. every corpus vector is assigned to its nearest centroid (one scan,
       argmax over the broadcast centroids — the inverted lists are just a
       ``centroid_id`` column, co-partitioning the corpus by list);
    3. each query probes its ``nprobe`` nearest centroids and brute-forces
       only those lists via an equi-join on ``centroid_id`` — the corpus
       side shuffles once on the list key, never all-pairs.

    Recall trades off with ``n_centroids``/``nprobe``; ``nprobe ==
    n_centroids`` degenerates to exact brute force. Measured recall@10 at
    (16, 4): 0.46 (sf0.01) / 0.53 (sf0.1). The xxhash64 sample has no
    DuckDB twin, so its quality is pinned by floors instead of an oracle
    replay; ``ivf_topk_exact``'s md5 sample does not dominate it (it
    misses ``test_ivf_topk_recall``'s top-1 floor at sf0.001).
    Output: (query_id, neighbor_id, cosine, rank).
    """
    embeddings = spread(embeddings)
    corpus = _vectors(embeddings, id_col, vec_col, ("neighbor_id", "cv", "cn"))
    # 1. deterministic centroid sample: smallest xxhash64 ranks -> stable
    #    across partitionings, no RNG. Drawn from the norm-filtered corpus:
    #    a zero-norm centroid has no defined cosine (its score divides by
    #    zero, which raises under ANSI mode)
    cent = (
        corpus.select(
            F.col("neighbor_id").alias("centroid_id"),
            F.col("cv").alias("cev"),
            F.xxhash64(F.col("neighbor_id")).alias("__h"),
        )
        .orderBy("__h")
        .limit(n_centroids)
        .drop("__h")
    )

    # collapse the centroid table to ONE broadcast row holding an
    # array<struct<centroid_id, cev>> — assignment is then a per-row argmax
    # over that array (sort_array + slice), shuffling NOTHING: no n×C row
    # blow-up, no Window over the corpus. At 100 TB this keeps list
    # assignment embarrassingly parallel inside the scan stage.
    # centroid norms fold once into the broadcast row; each side's vector
    # norm folds once into a column — the per-(row, centroid) score is then
    # a single dot fold, not three (array folds are interpreted, so fold
    # count per row is the constant that matters)
    cent_arr = cent.agg(
        F.collect_list(
            F.struct(F.col("centroid_id"), F.col("cev"), norm(F.col("cev")).alias("cn"))
        ).alias("__cents")
    )

    def assign(side: DataFrame, idname: str, vecname: str, top: int) -> DataFrame:
        normname = vecname[:-1] + "n"  # cv -> cn, qv -> qn
        # struct ordering = (cosine desc, centroid_id asc) via negated id
        scored = F.transform(
            F.col("__cents"),
            lambda c: F.struct(
                (
                    dot(F.col(vecname), c["cev"]) / (F.col(normname) * c["cn"])
                ).alias("cs"),
                (-c["centroid_id"]).alias("negid"),
            ),
        )
        nearest = F.slice(F.sort_array(scored, asc=False), 1, top)
        return (
            side.crossJoin(F.broadcast(cent_arr))
            .select(F.col(idname), vecname, normname, F.explode(nearest).alias("__t"))
            .select(
                idname, vecname, normname, (-F.col("__t.negid")).alias("centroid_id")
            )
        )

    lists = assign(corpus, "neighbor_id", "cv", 1)
    probes_df = assign(
        _query_vectors(queries, id_col, vec_col), "query_id", "qv", nprobe
    )
    sim = (
        lists.join(F.broadcast(probes_df), on="centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot("qv", "cv") / (F.col("qn") * F.col("cn"))).alias(
                "cosine"
            ),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    return _top_k(sim, k)


def _ivf_structures(
    embeddings: DataFrame,
    n_centroids: int | None,
    id_col: str,
    vec_col: str,
    cvecs: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(cvecs, lists): the coarse quantizer and the inverted lists behind
    ``ivf_topk_exact``, ``knn_label_eval_ivf`` and the IVF / IVF×PQ
    index builders and appends.

    ``cvecs`` is (centroid_id, cv, cn): the ``n_centroids`` smallest
    ``md5(cast(id as string))`` hex ranks (lexicographic — identical in
    any engine, unlike xxhash64), or a prebuilt table passed in (a
    k-means-trained or stored quantizer). ``lists`` is (id, centroid_id,
    v, n): every nonzero vector under its nearest centroid by (ccos DESC,
    centroid_id ASC), the stored list table's layout."""
    embeddings = spread(embeddings)
    vecs = _vectors(embeddings, id_col, vec_col)
    if cvecs is None:
        cent = (
            embeddings.select(
                F.col(id_col).alias("centroid_id"),
                F.md5(F.col(id_col).cast("string")).alias("__h"),
            )
            .orderBy("__h")
            .limit(n_centroids)
            .drop("__h")
        )
        cvecs = vecs.join(
            F.broadcast(cent), vecs[id_col] == cent["centroid_id"]
        ).select(
            "centroid_id", F.col("__v").alias("cv"), F.col("__n").alias("cn")
        )
    ccos = dot("__v", "cv") / (F.col("__n") * F.col("cn"))
    w = Window.partitionBy(id_col).orderBy(F.desc("ccos"), F.asc("centroid_id"))
    nearest = (
        vecs.crossJoin(F.broadcast(cvecs))
        .select(id_col, "centroid_id", ccos.alias("ccos"))
        .withColumn("crk", F.row_number().over(w))
        .where(F.col("crk") == 1)
        .select(id_col, "centroid_id")
    )
    lists = nearest.join(vecs, id_col).select(
        F.col(id_col), "centroid_id", F.col("__v").alias("v"), F.col("__n").alias("n")
    )
    return cvecs, lists


def _nearest_lists(queries: DataFrame, cvecs: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, qv, qn, centroid_id): each query's ``nprobe`` nearest
    centroids by (ccos DESC, centroid_id ASC) — the probe choice of every
    md5/stored IVF tier, the same rule the lists were assigned by."""
    ccos = dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    wq = Window.partitionBy("query_id").orderBy(F.desc("ccos"), F.asc("centroid_id"))
    return (
        queries.crossJoin(F.broadcast(cvecs))
        .select("query_id", "qv", "qn", "centroid_id", ccos.alias("ccos"))
        .withColumn("crk", F.row_number().over(wq))
        .where(F.col("crk") <= nprobe)
        .select("query_id", "qv", "qn", "centroid_id")
    )


def _ivf_probe(
    cvecs: DataFrame,
    lists: DataFrame,
    queries: DataFrame,
    k: int,
    nprobe: int,
    id_col: str,
) -> DataFrame:
    """The one IVF probe, in memory and stored: each query (query_id, qv,
    qn) scores the lists of its ``nprobe`` nearest centroids exactly on
    their doubles; top-k. With a partitioned stored ``lists`` the
    centroid_id equi-join prunes the list files at the scan."""
    sim = (
        lists.join(F.broadcast(_nearest_lists(queries, cvecs, nprobe)), "centroid_id")
        .where(F.col(id_col) != F.col("query_id"))
        .selectExpr(
            "query_id",
            f"{sqlx.qcol(id_col)} AS neighbor_id",
            f"{sqlx.dot_s('qv', 'v')} / (qn * n) AS cosine",
        )
    )
    return _top_k(sim, k)


def ivf_topk_exact(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Oracle-deterministic IVF ANN tier: ``ivf_topk``'s probe/list
    mechanics with every engine-specific choice replaced by a
    bit-reproducible one, so DuckDB reaches the identical answer — the
    md5-rank centroid sample instead of xxhash64, and list assignment,
    probe selection and candidate scores as strict-fold cosines ranked
    by (cosine DESC, id ASC).

    Measured recall@10 at (16, 4): 0.49 (sf0.01) / 0.54 (sf0.1). Its
    sample does not dominate ``ivf_topk``'s either: with xxhash64,
    ``test_similarity_ivf_quality_floor``'s 0.75 floor fails at sf0.01.
    ``ivf_topk_stored`` over ``build_ivf_index`` runs the same probe.
    Output: (query_id, neighbor_id, cosine, rank).
    """
    cvecs, lists = _ivf_structures(embeddings, n_centroids, id_col, vec_col)
    queries = _query_vectors(
        embeddings.where(F.col(id_col).isin(list(query_ids))), id_col, vec_col
    )
    return _ivf_probe(cvecs, lists, queries, k, nprobe, id_col)


def build_ivf_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: str = "sample",
    n_iter: int = 1,
) -> None:
    """Persist an IVF index: build once, query many — the index-store
    face of the ANN family. Writes three parquet tables under ``path``:

    - ``{path}/centroids``: (centroid_id, cv, cn) — n_centroids rows,
      broadcast at query time;
    - ``{path}/lists``: (id, centroid_id, v, n) — the inverted lists,
      PARTITIONED BY centroid_id so a probe reads only its lists'
      files (partition pruning at the scan — at 100 TB a 4-probe query
      touches 4/n_centroids of the index bytes, not all of them);
    - ``{path}/meta``: one row pinning (quantizer, n_centroids, n_iter,
      dim) — the store records HOW its coarse quantizer was derived.

    Two coarse quantizers (``centroids=``), identical assignment rule
    ((ccos DESC, centroid_id ASC) argmax, strict-fold cosines) and
    identical probe/append semantics — the quantizer only decides the
    centroid TABLE, which is frozen into the store either way:

    - ``"sample"`` — deterministic md5-rank sample of corpus vectors
      (the ``ivf_topk_exact`` construction; stored-index queries
      reproduce the in-memory tier bit-for-bit, pinned by test);
    - ``"kmeans"`` — centroids TRAINED by ``cluster.kmeans_centroids``
      (md5-seeded, ``n_iter`` exact-integer Lloyd rounds) — how FAISS
      trains its coarse quantizer; data-fitted lists raise recall at
      equal nprobe on clustered corpora (pinned by test). Zero-norm
      trained centroids (possible on degenerate data) are dropped —
      cosine ranking against them is undefined.
    """
    if centroids not in ("sample", "kmeans"):
        raise ValueError(
            f"centroids must be 'sample' or 'kmeans', got {centroids!r}"
        )
    refuse_known_ids("ivf index", path, embeddings, id_col)
    spark = embeddings.sparkSession
    cvecs_in = None
    if centroids == "kmeans":
        from .cluster import kmeans_centroids

        cents = kmeans_centroids(
            embeddings, k=n_centroids, n_iter=n_iter,
            id_col=id_col, vec_col=vec_col,
        )
        if not cents:
            raise ValueError(
                "cannot build an IVF index from an empty corpus"
            )
        cvecs_in = (
            literal_df(
                spark,
                [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
                "centroid_id int, cv array<double>",
            )
            .select("centroid_id", "cv", norm(F.col("cv")).alias("cn"))
            .where(F.col("cn") > 0)
        )
    cvecs, lists = _ivf_structures(
        embeddings, n_centroids, id_col, vec_col, cvecs=cvecs_in
    )
    cvecs.write.mode("overwrite").parquet(f"{path}/centroids")
    dim_row = (
        spark.read.parquet(f"{path}/centroids")
        .select(F.size("cv").alias("d"))
        .first()
    )
    write_meta(path, dict(
        quantizer=centroids, n_centroids=int(n_centroids), n_iter=int(n_iter),
        dim=int(dim_row["d"]) if dim_row else 0,
    ))
    _write_lists(lists, path, "overwrite")


def _write_lists(lists: DataFrame, path: str, mode: str) -> None:
    """Write an inverted-list table under ``{path}/lists``, partitioned by
    centroid_id with one task/file per centroid dir (the postings-write
    lesson)."""
    (
        lists.repartition(F.col("centroid_id"))
        .write.mode(mode)
        .partitionBy("centroid_id")
        .parquet(f"{path}/lists")
    )


def append_ivf_index(
    spark,
    path: str,
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to a persisted IVF index — the FAISS ``add``
    shape: centroids stay FROZEN (the coarse quantizer is a versioned
    artifact; re-deriving it would re-bucket every stored vector), new
    vectors rank against the stored centroid table with the exact
    builder rule ((ccos DESC, centroid_id ASC) argmax) and their rows
    parquet-append inside the existing centroid_id partitions.

    With frozen centroids every probe semantics is preserved:
    nprobe=all over build(A)+append(B) is bit-identical to brute-force
    cosine over A∪B (pinned by test), and pruned probes read the
    appended vectors through the same partition filters. A batch
    holding an id already in the index, or a vector of another width
    than the pinned ``dim``, is refused before anything is written.
    """
    refuse_known_ids(
        "ivf index", path, embeddings, id_col,
        spark.read.parquet(f"{path}/lists").select(F.col(id_col).alias("id")),
        vec_col, read_meta(path, "ivf index")["dim"],
    )
    cvecs = spark.read.parquet(f"{path}/centroids")
    _, lists = _ivf_structures(embeddings, None, id_col, vec_col, cvecs=cvecs)
    _write_lists(lists, path, "append")


def ivf_topk_stored(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF index (``build_ivf_index``) with a NEW
    query set — no assignment recomputation, no scan of the raw corpus.

    ``queries`` is (id, vector); the query side is broadcast. The probe
    is ``ivf_topk_exact``'s: each query ranks the broadcast centroid
    table, and the centroid_id equi-join prunes the partitioned list
    files; candidate scoring is exact on the stored doubles, so over a
    sampled store this returns ``ivf_topk_exact``'s rows. Self-matches
    (query id present in the index) are excluded.
    Output: (query_id, neighbor_id, cosine, rank).
    """
    return _ivf_probe(
        spark.read.parquet(f"{path}/centroids"),
        spark.read.parquet(f"{path}/lists"),
        _query_vectors(queries, id_col, vec_col),
        k,
        nprobe,
        id_col,
    )


# ---------------------------------------------------------------------------
# k-NN label evaluation: one vote over a top-k table
# ---------------------------------------------------------------------------

def _label_vote(
    topk: DataFrame, embeddings: DataFrame, id_col: str, label_col: str
) -> DataFrame:
    """Majority label of each query's top-k neighbors (query_id,
    neighbor_id, rank): votes tie-break on (count desc, best neighbor
    rank asc, label asc) — fully deterministic. Neighbor and query
    labels attach by id equi-joins; the vote and argmax are two bounded
    aggregations keyed by query_id (≤ k rows each).
    Output: (query_id, true_label, pred_label, n_votes, correct)."""
    labels = embeddings.select(F.col(id_col), F.col(label_col))
    votes = (
        topk.join(
            labels.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(label_col).alias("nbr_label"),
            ),
            "neighbor_id",
        )
        .join(
            labels.select(
                F.col(id_col).alias("query_id"),
                F.col(label_col).alias("true_label"),
            ),
            "query_id",
        )
        .groupBy("query_id", "true_label", "nbr_label")
        .agg(
            F.count(F.lit(1)).alias("n_votes"),
            F.min("rank").alias("__best_rank"),
        )
    )
    wv = Window.partitionBy("query_id").orderBy(
        F.desc("n_votes"), F.asc("__best_rank"), F.asc("nbr_label")
    )
    return (
        votes.withColumn("__vr", F.row_number().over(wv))
        .where(F.col("__vr") == 1)
        .select(
            F.col("query_id"),
            F.col("true_label"),
            F.col("nbr_label").alias("pred_label"),
            F.col("n_votes").cast("long").alias("n_votes"),
            (F.col("nbr_label") == F.col("true_label")).alias("correct"),
        )
    )


def knn_label_eval(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Leave-one-out k-NN label evaluation — the similarity index used
    for something: predict each query vector's label by majority vote of
    its k cosine neighbors (self excluded) and compare to the true
    label. The standard embedding-quality probe a training pipeline runs
    after re-embedding a corpus.

    ``query_pred`` selects the evaluation slice (must be broadcastable —
    an eval set, not the corpus). The neighbors are ``cosine_topk``'s
    brute-force top-k; the vote is ``_label_vote``'s, so the whole eval
    is DuckDB-oracle-checkable.

    Output, one row per query vector: (query_id, true_label, pred_label,
    n_votes, correct).
    """
    topk = cosine_topk(embeddings, embeddings.where(query_pred), id_col, vec_col, k)
    return _label_vote(topk, embeddings, id_col, label_col)


def knn_label_eval_ivf(
    embeddings: DataFrame,
    query_pred: Column,
    k: int = 5,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """The web-scale tier of :func:`knn_label_eval`: the neighbors come
    from ``ivf_topk_exact``'s probe (nprobe lists per query) instead of
    the full corpus, so the eval cost is O(queries × probed-list sizes)
    — the brute-force tier stays the accuracy oracle. Same vote and
    output schema: (query_id, true_label, pred_label, n_votes, correct).
    """
    cvecs, lists = _ivf_structures(embeddings, n_centroids, id_col, vec_col)
    queries = _query_vectors(embeddings.where(query_pred), id_col, vec_col)
    topk = _ivf_probe(cvecs, lists, queries, k, nprobe, id_col)
    return _label_vote(topk, embeddings, id_col, label_col)


# ---------------------------------------------------------------------------
# product quantization: one codebook sample, one encoder, one ADC rerank
# ---------------------------------------------------------------------------

def _pq_codebooks(
    vecs: DataFrame,
    m: int,
    codebook_k: int,
    id_col: str,
    codebooks: list[list[list[float]]] | None = None,
) -> tuple[list[list[list[float]]], int] | None:
    """(codebooks, dim) for a prepared (id, v, ...) corpus, or None when
    it is empty. Sampled codebooks are the ``m`` slices of the
    ``codebook_k`` md5-rank-smallest vectors — the IVF tier's
    deterministic sample; passed ``codebooks`` (e.g.
    ``pq_train_codebooks`` output) must cover the data's dim."""
    seeds = (
        vecs.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(codebook_k)
        .collect()
    )
    if not seeds:
        return None
    dim = len(seeds[0]["v"])
    if codebooks is not None:
        covered = len(codebooks) * len(codebooks[0][0])
        if covered != dim:
            raise ValueError(f"codebooks cover {covered} dims, data has {dim}")
        return codebooks, dim
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    return [
        [[float(x) for x in s["v"][j * sub : (j + 1) * sub]] for s in seeds]
        for j in range(m)
    ], dim


def _pq_codes_s(codebooks: list[list[list[float]]], sub: int) -> list[str]:
    """``code_j`` select items over the vector column ``v``: per subspace,
    the index of the nearest codeword by strict-fold squared L2, ties to
    the lowest code. The one PQ encoder — ``pq_topk``,
    ``build_ivfpq_index`` and ``append_ivfpq_index`` all encode with it.
    SQL text: the codebook literals and argmin folds through the Column
    API cost ~4.5 s of py4j chatter per build (m·codebook_k·sub
    ``F.lit`` calls); one parser call per column yields the identical
    tree (sqlexpr.py)."""
    items = []
    for j, cb in enumerate(codebooks):
        sl = f"slice(v, {j * sub + 1}, {sub})"
        dists = "array(" + ",".join(sqlx.sq_l2_s(sl, c) for c in cb) + ")"
        pairs = (
            f"zip_with({dists}, sequence(0, {len(cb) - 1}), "
            f"(d, i) -> named_struct('d', d, 'i', i))"
        )
        best = (
            f"aggregate({pairs}, named_struct('d', CAST('Infinity' AS "
            f"DOUBLE), 'i', -1), (acc, x) -> IF(x.d < acc.d, x, acc))"
        )
        items.append(f"({best}).i AS code_{j}")
    return items


def _pq_tables_s(codebooks: list[list[list[float]]], sub: int) -> list[str]:
    """``dt_j`` select items over the query vector ``qv``: the per-query
    ADC lookup tables, the query slice's strict-fold dot with every
    codeword of subspace j."""
    return [
        "array("
        + ",".join(
            sqlx.dot_s(f"slice(qv, {j * sub + 1}, {sub})", sqlx.darr(c)) for c in cb
        )
        + f") AS dt_{j}"
        for j, cb in enumerate(codebooks)
    ]


def _pq_adc_s(codebooks: list[list[list[float]]]) -> str:
    """The 6dp-rounded asymmetric cosine of a query (qn, dt_j) against a
    coded row (code_j): summed table lookups over qn times the
    reconstruction's norm — m lookups per row, no vector math. NULL when
    the reconstruction is zero."""
    rn2 = [[sum((x * x for x in c), 0.0) for c in cb] for cb in codebooks]
    score = " + ".join(
        f"element_at(dt_{j}, code_{j} + 1)" for j in range(len(codebooks))
    )
    rn2_s = " + ".join(
        f"element_at({sqlx.darr(r)}, code_{j} + 1)" for j, r in enumerate(rn2)
    )
    return f"round(try_divide({score}, qn * sqrt({rn2_s})), 6) + 0.0D"


def _adc_refine(
    cand: DataFrame, vectors: DataFrame, on: str | list[str], rerank: int, k: int
) -> DataFrame:
    """Keep each query's ``rerank`` best candidates (query_id,
    neighbor_id, __adc, qv, qn) by ADC score (NULL last, ties to the
    lower id), re-score the survivors exactly on their doubles
    (``vectors``: neighbor_id, nv, nn and the ``on`` keys); top-k by the
    exact cosine."""
    wr = Window.partitionBy("query_id").orderBy(
        F.desc_nulls_last("__adc"), F.asc("neighbor_id")
    )
    survivors = cand.withColumn("__rr", F.row_number().over(wr)).where(
        F.col("__rr") <= rerank
    )
    refined = survivors.join(vectors, on).selectExpr(
        "query_id", "neighbor_id", f"{sqlx.dot_s('qv', 'nv')} / (qn * nn) AS cosine"
    )
    return _top_k(refined, k)


def pq_train_codebooks(
    embeddings: DataFrame,
    m: int = 4,
    codebook_k: int = 16,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Lloyd-trained PQ codebooks: per-subspace deterministic k-means
    (`cluster.kmeans_centroids`) over the sliced sub-vectors — the
    recall upgrade over `pq_topk`'s sampled codebooks when the corpus
    has real cluster structure. Returns [m][codebook_k][dim/m] floats,
    drop-in for ``pq_topk(codebooks=...)``.

    Cost: m independent k-means runs, each over its own checkpointed
    slice projection of one corpus scan."""
    from .cluster import kmeans_centroids

    first = embeddings.select(vec_col).where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0)
    ).first()
    if first is None:
        return []
    dim = len(first[0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    out = []
    for j in range(m):
        sliced = embeddings.select(
            F.col(id_col),
            F.slice(
                F.transform(F.col(vec_col), lambda x: x.cast("double")),
                j * sub + 1,
                sub,
            ).alias("__sv"),
        )
        out.append(
            kmeans_centroids(
                sliced, k=codebook_k, n_iter=n_iter,
                id_col=id_col, vec_col="__sv",
            )
        )
    return out


def pq_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    m: int = 4,
    codebook_k: int = 16,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011) — the flat-PQ
    memory tier: dims split into ``m`` subspaces, each sub-vector coded
    as the nearest of ``codebook_k`` sampled sub-centroids, so a row
    costs m small ints instead of D doubles; queries score the WHOLE
    corpus by asymmetric distance (per-subspace dot-product lookup
    tables, no per-row float math beyond m table lookups) and only the
    ``rerank`` best survivors are re-scored exactly on doubles.

    Codebooks are the md5-rank-smallest ``codebook_k`` vectors' slices —
    the same deterministic sampled-centroid construction the IVF tier
    uses (`ivf_topk_exact`); Lloyd-trained ones
    (``pq_train_codebooks``) drop in via ``codebooks`` when recall
    demands it, at the cost of the oracle replay. Everything is
    engine-deterministic: strict-fold distances, argmin ties to the
    lowest code, (rounded ADC DESC, id) rerank cut, exact-refine final
    ranking — fully DuckDB-checkable.

    Measured recall@10 at (m, codebook_k, rerank) = (4, 16, 30): 0.31
    (sf0.01) / 0.155 (sf0.1) — the fixed 30-deep rerank cut covers a
    smaller share of the larger corpus.

    Output: (query_id, neighbor_id, cosine, rank) — cosine is the EXACT
    double cosine of survivors.

    Scale shape: the code table is the only corpus-wide intermediate
    (m bytes + a norm per row — the 100 TB index fits where doubles
    never could); encoding is one scan with m·codebook_k literal folds;
    ADC is a crossJoin against the BROADCAST query side whose per-row
    work is m element_at lookups; exact refine touches O(queries ×
    rerank) rows via an id equi-join.
    """
    if rerank is None:
        rerank = 3 * k
    # three consumers (codebook sample, encode scan, exact refine):
    # materialize the prepared vectors once
    vecs = materialize(_vectors(spread(embeddings), id_col, vec_col, (id_col, "v", "n")))
    found = _pq_codebooks(vecs, m, codebook_k, id_col, codebooks)
    if found is None:
        return vecs.select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0.0).alias("cosine"),
            F.lit(0).alias("rank"),
        ).where(F.lit(False))
    codebooks, dim = found
    sub = dim // len(codebooks)
    coded = vecs.selectExpr(sqlx.qcol(id_col), *_pq_codes_s(codebooks, sub))
    q = (
        vecs.where(F.col(id_col).isin(list(query_ids)))
        .selectExpr(f"{sqlx.qcol(id_col)} AS query_id", "v AS qv", "n AS qn")
        .selectExpr("*", *_pq_tables_s(codebooks, sub))
    )
    cand = (
        coded.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col("query_id"))
        .selectExpr(
            "query_id",
            f"{sqlx.qcol(id_col)} AS neighbor_id",
            f"{_pq_adc_s(codebooks)} AS __adc",
            "qv",
            "qn",
        )
    )
    return _adc_refine(
        cand,
        vecs.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("v").alias("nv"),
            F.col("n").alias("nn"),
        ),
        "neighbor_id",
        rerank,
        k,
    )


def build_ivfpq_index(
    embeddings: DataFrame,
    path: str,
    n_centroids: int = 16,
    m: int = 4,
    codebook_k: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks: list[list[list[float]]] | None = None,
) -> None:
    """Persist an IVF×PQ index — the FAISS-production shape of the ANN
    ladder: coarse IVF routing (probe a few lists, partition pruning at
    the scan) × product-quantized codes inside the lists (m small ints
    + a norm per row is all the ADC scan reads).

    Tables under ``path``:

    - ``{path}/centroids``: (centroid_id, cv, cn) — broadcast at query
      time (same md5-rank deterministic sample as ``build_ivf_index``);
    - ``{path}/codebooks``: (subspace, code, cvec) — m × codebook_k
      rows, collected driver-side at query time (KBs);
    - ``{path}/lists``: (id, n, code_0..code_{m-1}, v) PARTITIONED BY
      centroid_id. ``v`` (the raw doubles) lives in the SAME table but
      parquet is columnar: the ADC scan projects only id/n/codes —
      column pruning keeps it at the PQ memory footprint — and the
      exact-refine stage reads ``v`` for the id-joined survivors only;
    - ``{path}/meta``: (n_centroids, m, codebook_k, dim).

    Deterministic end to end (md5 centroid + codebook samples,
    floor-exact argmin codes, strict folds), so two builds of the same
    corpus probe identically (pinned by test). Pass ``codebooks`` (e.g.
    ``pq_train_codebooks`` output) to trade oracle replay for recall.
    """
    refuse_known_ids("ivfpq index", path, embeddings, id_col)
    cvecs, lists = _ivf_structures(embeddings, n_centroids, id_col, vec_col)
    # two consumers (codebook sample, encode scan): materialize once
    lists = lists.transform(materialize)
    found = _pq_codebooks(lists, m, codebook_k, id_col, codebooks)
    if found is None:
        release(lists)
        raise ValueError("empty corpus: nothing to index")
    codebooks, dim = found
    m, codebook_k = len(codebooks), len(codebooks[0])
    spark = embeddings.sparkSession
    cvecs.write.mode("overwrite").parquet(f"{path}/centroids")
    cb_rows = [
        (j, c, [float(x) for x in codebooks[j][c]])
        for j in range(m)
        for c in range(codebook_k)
    ]
    literal_df(
        spark, cb_rows, "subspace int, code int, cvec array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/codebooks")
    _write_pq_lists(lists, codebooks, dim // m, id_col, path, "overwrite")
    release(lists)
    write_meta(path, dict(n_centroids=n_centroids, m=m, codebook_k=codebook_k, dim=dim))


def _write_pq_lists(
    lists: DataFrame,
    codebooks: list[list[list[float]]],
    sub: int,
    id_col: str,
    path: str,
    mode: str,
) -> None:
    """Encode (id, centroid_id, v, n) list rows with ``codebooks`` and
    write them as the IVF×PQ list table (id, centroid_id, n, code_j.., v)."""
    _write_lists(
        lists.selectExpr(
            f"{sqlx.qcol(id_col)} AS id",
            "centroid_id",
            "n",
            *_pq_codes_s(codebooks, sub),
            "v",
        ),
        path,
        mode,
    )


def _stored_codebooks(spark, path: str):
    """(meta, codebooks[m][codebook_k]) of a persisted IVF×PQ index."""
    meta = read_meta(path, "ivfpq index")
    m, codebook_k = meta["m"], meta["codebook_k"]
    codebooks = [[None] * codebook_k for _ in range(m)]
    for r in spark.read.parquet(f"{path}/codebooks").collect():
        codebooks[r["subspace"]][r["code"]] = [float(x) for x in r["cvec"]]
    return meta, codebooks


def append_ivfpq_index(
    spark,
    path: str,
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append new vectors to a persisted IVF×PQ index — the FAISS
    ``add`` shape with BOTH quantizers frozen: coarse centroids and PQ
    codebooks come from the store (re-deriving either would re-bucket /
    re-encode every stored row), new vectors rank against the stored
    centroid table (builder's (ccos DESC, centroid_id ASC) rule), get
    encoded with the stored codebooks (the builder's encoder), and
    parquet-append inside the existing centroid_id partitions. With
    frozen quantizers, nprobe=all + rerank=corpus probes over
    build(A)+append(B) exactly refine to brute-force cosine over A∪B
    (pinned by test). A batch holding an id already in the index, or a
    vector of another width than the pinned ``dim``, is refused before
    anything is written."""
    meta, codebooks = _stored_codebooks(spark, path)
    dim = meta["dim"]
    refuse_known_ids(
        "ivfpq index", path, embeddings, id_col,
        spark.read.parquet(f"{path}/lists").select("id"), vec_col, dim,
    )
    _, lists = _ivf_structures(
        embeddings, None, id_col, vec_col,
        cvecs=spark.read.parquet(f"{path}/centroids"),
    )
    _write_pq_lists(lists, codebooks, dim // len(codebooks), id_col, path, "append")


def ivfpq_topk_stored(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 4,
    rerank: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Query a persisted IVF×PQ index (``build_ivfpq_index``): probe the
    ``nprobe`` nearest lists (the IVF probe choice; partition-pruned
    scan), rank candidates by ``pq_topk``'s asymmetric PQ distance over
    the stored codes — the scan projects only id/n/code columns — then
    exact-refine the ``rerank`` best per query on the stored doubles.
    Survivors carry their centroid_id, so the refine joins on
    (centroid_id, neighbor_id) — centroid_id is the store's partition
    column, so the `v`-column read is limited to the probed lists
    (dynamic partition pruning / partition-key equi-join) rather than a
    full-store scan.

    ``nprobe == n_centroids`` with a corpus-sized ``rerank`` degenerates
    to exact brute force (pinned by test). Output: (query_id,
    neighbor_id, cosine, rank) — cosine is the exact double cosine of
    survivors, same contract as every other tier.
    """
    meta, codebooks = _stored_codebooks(spark, path)
    sub = meta["dim"] // len(codebooks)
    if rerank is None:
        rerank = 3 * k
    probes = _nearest_lists(
        _query_vectors(queries, id_col, vec_col),
        spark.read.parquet(f"{path}/centroids"),
        nprobe,
    ).selectExpr("*", *_pq_tables_s(codebooks, sub))
    lists = spark.read.parquet(f"{path}/lists")
    codes = lists.select(
        "id", "centroid_id", "n", *[f"code_{j}" for j in range(len(codebooks))]
    )
    cand = (
        codes.join(F.broadcast(probes), "centroid_id")
        .where(F.col("id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "id AS neighbor_id",
            "centroid_id",
            f"{_pq_adc_s(codebooks)} AS __adc",
            "qv",
            "qn",
        )
    )
    return _adc_refine(
        cand,
        lists.select(
            F.col("id").alias("neighbor_id"),
            "centroid_id",
            F.col("v").alias("nv"),
            F.col("n").alias("nn"),
        ),
        ["centroid_id", "neighbor_id"],
        rerank,
        k,
    )


def ann_recall_report(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    probes: int = 4,
    n_centroids: int = 16,
    nprobe: int = 4,
    rerank: int = 30,
    pq_m: int = 4,
    pq_codebook_k: int = 16,
    rp_out_dim: int = 16,
    rp_dim: int | None = None,
) -> DataFrame:
    """ANN recall dashboard: one row per approximate tier with its
    recall@k and mean rank displacement against the brute-force exact
    top-k on a fixed query set — the table a pipeline reads to tune
    nprobe / planes / m before committing to an index layout.

    Tiers are the ORACLE-DETERMINISTIC family (md5 sampling + strict
    left-to-right double folds): lsh (`lsh_bucket_topk`), ivf_md5
    (`ivf_topk_exact`), pq (`pq_topk`), rp (`rp_topk`, JL compression)
    — so the whole report, recall numbers included, replays in SQL and
    is hash-checkable end to end (the production xxhash64 tier has its
    own quality-floor query, `similarity_ivf`).

    recall = |tier top-k ∩ exact top-k| / |exact top-k rows|;
    mean_rank_disp = mean |tier rank - exact rank| over the
    intersection (NULL when empty). Output: (tier, k, n_queries,
    n_exact, n_tier, hits, recall, mean_rank_disp).

    Scale: every tier is the already-bounded operator (broadcast query
    side, probed/bucketed candidates); the exact side is one
    brute-force pass over the corpus for |query_ids| queries — the
    dashboard is meant for a sampled query set, not the full corpus.
    The metric joins and aggregates are all candidate-sized.
    """
    ids = list(query_ids)
    # ONE corpus scan for the whole dashboard (guide §2.4): every tier
    # build re-reads (id, vec) from storage otherwise — five parquet
    # scans for one report. Materialized EAGERLY (not lazily) because
    # the tier builds run concurrently below and each would otherwise
    # race to compute the shared subtree's partitions. Values are
    # unchanged — the tiers' own casts/norms apply on top — so every
    # tier's output is bit-identical to its standalone form.
    embeddings = materialize(embeddings.select(id_col, vec_col))
    # the tier builds are independent until the metric joins, and
    # several run EAGER driver actions during construction (the exact
    # side's checkpoint, the pq/rp materializes, sample collects):
    # construct them from a small thread pool so those jobs overlap and
    # back-fill each other's straggler tails (optimization guide §2.6)
    # instead of running strictly one after another
    from concurrent.futures import ThreadPoolExecutor

    builders = {
        "__exact": lambda: materialize(
            cosine_topk(embeddings, ids, id_col, vec_col, k)
        ),
        "ivf_md5": lambda: ivf_topk_exact(
            embeddings, ids, k=k, n_centroids=n_centroids, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col,
        ),
        "lsh": lambda: lsh_bucket_topk(
            embeddings, embeddings.where(F.col(id_col).isin(ids)),
            id_col=id_col, vec_col=vec_col, k=k, planes=planes, probes=probes,
        ),
        "pq": lambda: pq_topk(
            embeddings, ids, k=k, m=pq_m, codebook_k=pq_codebook_k,
            rerank=rerank, id_col=id_col, vec_col=vec_col,
        ),
        "rp": lambda: rp_topk(
            embeddings, ids, k=k, out_dim=rp_out_dim, rerank=rerank,
            id_col=id_col, vec_col=vec_col, dim=rp_dim,
        ),
    }
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = {name: pool.submit(fn) for name, fn in builders.items()}
        tiers = {name: f.result() for name, f in futs.items()}
    return _recall_rows(tiers.pop("__exact"), tiers, k)


def _recall_rows(exact: DataFrame, tiers: dict, k: int) -> DataFrame:
    """Shared reduction for the recall dashboards: per-tier left join
    against the exact top-k, candidate-sized aggregation to (tier, k,
    n_queries, n_exact, n_tier, hits, recall, mean_rank_disp)."""
    ex = exact.select(
        "query_id", "neighbor_id", F.col("rank").alias("rank_e")
    )
    ex_stats = exact.agg(
        F.count_distinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_exact"),
    )
    rows = None
    for name in sorted(tiers):
        t = tiers[name].select(
            "query_id", "neighbor_id", F.col("rank").alias("rank_t")
        )
        m = (
            t.join(ex, on=["query_id", "neighbor_id"], how="left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_tier"),
                F.count("rank_e").cast("long").alias("hits"),
                F.sum(F.abs(F.col("rank_t") - F.col("rank_e")))
                .cast("long")
                .alias("__sum_disp"),
            )
            .select(F.lit(name).alias("tier"), "n_tier", "hits", "__sum_disp")
        )
        rows = m if rows is None else rows.unionByName(m)
    return rows.crossJoin(F.broadcast(ex_stats)).select(
        "tier",
        F.lit(k).cast("long").alias("k"),
        "n_queries",
        "n_exact",
        "n_tier",
        "hits",
        (F.round(F.col("hits") / F.col("n_exact"), 6) + 0.0).alias("recall"),
        F.when(
            F.col("hits") > 0,
            F.round(F.col("__sum_disp") / F.col("hits"), 6) + 0.0,
        ).alias("mean_rank_disp"),
    )


def ann_recall_stored_report(
    spark,
    embeddings: DataFrame,
    query_ids: list[int],
    stores: dict,
    k: int = 10,
    nprobe: int = 4,
    rerank: int = 30,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN recall dashboard over PERSISTED indexes — the tuning loop a
    real pipeline runs: build the stores once, then sweep nprobe/rerank
    against the exact top-k without paying an index rebuild per probe.
    ``stores`` maps tier name -> store path for any subset of
    {'ivf': build_ivf_index, 'ivfpq': build_ivfpq_index,
    'rp': build_rp_index}; tiers appear in the report as
    ``<name>_stored``.

    Every stored tier runs its in-memory twin's probe (bit-identical
    rows, pinned by pytest), so the recall NUMBERS replay in DuckDB like
    ``ann_recall_report``'s. The exact side is one brute-force pass for
    the sampled query set; each stored probe reads only its pruned
    partitions (centroid_id for ivf/ivfpq; the RP store is a narrow
    projected table refined via the stored doubles).
    """
    ids = list(query_ids)
    qdf = embeddings.where(F.col(id_col).isin(ids))
    exact = materialize(cosine_topk(embeddings, ids, id_col, vec_col, k))
    tiers = {}
    if "ivf" in stores:
        tiers["ivf_stored"] = ivf_topk_stored(
            spark, stores["ivf"], qdf, k=k, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col,
        )
    if "ivf_kmeans" in stores:
        # same probe machinery — the store's frozen centroid table IS
        # the quantizer, so a kmeans-built store needs no special read
        tiers["ivf_kmeans_stored"] = ivf_topk_stored(
            spark, stores["ivf_kmeans"], qdf, k=k, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col,
        )
    if "ivfpq" in stores:
        tiers["ivfpq_stored"] = ivfpq_topk_stored(
            spark, stores["ivfpq"], qdf, k=k, nprobe=nprobe, rerank=rerank,
            id_col=id_col, vec_col=vec_col,
        )
    if "rp" in stores:
        tiers["rp_stored"] = rp_topk_stored(
            spark, stores["rp"], ids, k=k, rerank=rerank
        )
    if not tiers:
        raise ValueError(
            "stores must name at least one of ivf/ivf_kmeans/ivfpq/rp"
        )
    return _recall_rows(exact, tiers, k)


# ---------------------------------------------------------------------------
# random projection (Johnson-Lindenstrauss embedding compression)
# ---------------------------------------------------------------------------

def _rp_sign_value(j: int, i: int) -> float:
    """Deterministic ±1 from md5(rp{j}|i) parity — the sign-matrix entry
    s_{j,i} of the Achlioptas (2001) database-friendly random projection.
    Distinct salt family from the LSH planes ("p{n}|"), so projections
    and bucket signatures stay independent. Python twin of
    ``rp_project``'s SQL md5 sign (true md5 both sides), for literal
    constant-folding when the input dimension is known."""
    import hashlib

    h = hashlib.md5(f"rp{j}|{i}".encode()).hexdigest()
    return 1.0 if int(h[0], 16) % 2 == 0 else -1.0


def rp_project(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_dim: int = 16,
    keep_cols: tuple[str, ...] = (),
    dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss sign random projection: compress an
    embedding column to ``out_dim`` dimensions with y_j = <x, s_j> /
    sqrt(out_dim), where s_j is a deterministic md5-derived ±1 sign
    vector — no stored model, reproducible on every engine (Achlioptas
    2001: the sign matrix satisfies the JL lemma like Gaussian planes,
    at integer-multiply cost). The pipeline use is embedding
    COMPRESSION: 64 -> 16 dims cuts ANN/storage cost 4x while
    approximately preserving cosine geometry; the projected vectors
    feed the existing ANN ladder unchanged (they are just another
    vector column).

    Output: (id, *keep_cols, rp_0 .. rp_{out_dim-1}) — one DOUBLE
    column per output dimension, rounded to 6 dp (fold products
    evaluate strictly left-to-right, so the values replay bit-for-bit
    in the DuckDB list_reduce twin).

    Scale shape: a pure scan-side projection — out_dim fold expressions
    per row, no shuffle, no UDF, no model broadcast (the signs are
    arithmetic over md5). Column count is the config-sized out_dim, so
    whole-stage codegen holds (the engine raises codegen.maxFields).
    """
    import math

    inv = 1.0 / math.sqrt(float(out_dim))
    # SQL-text projection columns: the literal sign arrays + fold
    # lambdas cost ~50 ms of py4j chatter PER OUTPUT DIM via the Column
    # API (out_dim x dim F.lit calls); one parse per column is <1 ms
    # and yields the identical tree (sqlexpr.py)
    vec_s = sqlx.as_double_s(sqlx.qcol(vec_col))
    cols = []
    for j in range(out_dim):
        if dim is not None:
            # constant-folded literal sign vector (the
            # dedup_embedding_stream trick): zero per-row md5 work —
            # pass ``dim`` whenever the embedding width is known
            signs_s = sqlx.darr(_rp_sign_value(j, i) for i in range(dim))
        else:
            signs_s = (
                f"transform({_dims_seq_s(vec_s)}, i -> CASE WHEN "
                f"CAST(conv(substring(md5(concat('rp{j}|', "
                f"CAST(i AS STRING))), 1, 1), 16, 10) AS INT) % 2 = 0 "
                f"THEN 1.0D ELSE -1.0D END)"
            )
        proj_s = sqlx.dot_s(vec_s, signs_s)
        cols.append(
            f"round({proj_s} * {sqlx.dlit(inv)}, 6) + 0.0D AS rp_{j}"
        )
    return df.selectExpr(
        sqlx.qcol(id_col), *[sqlx.qcol(c) for c in keep_cols], *cols
    )


def _rp_tables(
    proj: DataFrame, embeddings: DataFrame, id_col: str, vec_col: str, out_dim: int
) -> tuple[DataFrame, DataFrame]:
    """(pvec, full) of the RP tier: pvec = (id, pv, pn), the
    ``rp_project``-ed vector and its norm (candidate ranking); full =
    (id, v, n), the exact doubles and their norm (refine)."""
    pv_s = "array(" + ",".join(f"rp_{j}" for j in range(out_dim)) + ")"
    pvec = proj.selectExpr(
        f"{sqlx.qcol(id_col)} AS id", f"{pv_s} AS pv", f"{sqlx.norm_s(pv_s)} AS pn"
    )
    vd = sqlx.as_double_s(sqlx.qcol(vec_col))
    full = embeddings.selectExpr(
        f"{sqlx.qcol(id_col)} AS id", f"{vd} AS v", f"{sqlx.norm_s(vd)} AS n"
    )
    return pvec, full


def _rp_rank_refine(
    pvec: DataFrame, full: DataFrame, query_ids: list[int], k: int, rerank: int
) -> DataFrame:
    """The RP probe, in memory and stored: rank every candidate by the
    6dp-rounded cosine of the projections (pvec: id, pv, pn), refine each
    query's ``rerank`` best with the 6dp-rounded exact cosine of the
    doubles (full: id, v, n), final top-``k``. Zero-norm rows on either
    side are dropped. Output: (query_id, neighbor_id, cosine, rank)."""
    ids = list(query_ids)
    pvec = pvec.where(F.col("pn") > 0)
    q = pvec.where(F.col("id").isin(ids)).select(
        F.col("id").alias("query_id"),
        F.col("pv").alias("qpv"),
        F.col("pn").alias("qpn"),
    )
    cand = pvec.join(F.broadcast(q), F.col("id") != F.col("query_id")).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        (
            F.round(dot("pv", "qpv") / (F.col("pn") * F.col("qpn")), 6) + 0.0
        ).alias("rp_cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rp_cosine"), F.asc("neighbor_id")
    )
    cut = cand.withColumn("rp_rank", F.row_number().over(w)).where(
        F.col("rp_rank") <= rerank
    )
    full = full.where(F.col("n") > 0)
    qf = full.where(F.col("id").isin(ids)).select(
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("n").alias("qn"),
    )
    ref = (
        cut.join(full.withColumnRenamed("id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(qf), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                F.round(dot("v", "qv") / (F.col("n") * F.col("qn")), 6) + 0.0
            ).alias("cosine"),
        )
    )
    w2 = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        ref.withColumn("rank", F.row_number().over(w2))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def rp_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    out_dim: int = 16,
    rerank: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """ANN over JL-compressed vectors: candidate ranking by cosine in
    ``rp_project``-ed space (``out_dim`` dims — 4x fewer multiplies per
    candidate at 64->16), top-``rerank`` survivors refined with the
    EXACT full-dimension cosine, final top-``k``. The compression tier
    of the ANN ladder: cheaper than brute force by the dim ratio,
    model-free (md5 sign planes), and fully oracle-deterministic —
    projected values round to 6 dp BEFORE ranking so the candidate cut
    replays bit-for-bit in DuckDB.

    Measured recall@10 at (out_dim, rerank) = (16, 30): 0.355 (sf0.01) /
    0.16 (sf0.1) — like ``pq_topk``'s, the fixed rerank cut covers a
    smaller share of the larger corpus.

    Scale shape: the projected table is the only corpus-wide
    intermediate (out_dim doubles + a norm per row); the candidate join
    broadcasts the query side; the refine joins full vectors for
    O(queries x rerank) rows only.

    Output: (query_id, neighbor_id, cosine, rank) — exact cosines.
    """
    # materialize the NARROW projected table first (out_dim doubles per
    # row — the PQ-codes pattern). Building array/norm over the raw
    # rp_project expressions instead would re-nest all out_dim fold
    # trees into one giant projection (array + norm + filter each
    # duplicate the trees) — measured 19.7 s of codegen at sf0.001 vs
    # 0.3 s this way — and the candidate join would then recompute the
    # folds per candidate pair on both sides.
    proj = materialize(rp_project(embeddings, id_col, vec_col, out_dim, dim=dim))
    pvec, full = _rp_tables(proj, embeddings, id_col, vec_col, out_dim)
    return _rp_rank_refine(pvec, full, query_ids, k, rerank)


def _write_rp_vectors(
    embeddings: DataFrame,
    path: str,
    out_dim: int,
    id_col: str,
    vec_col: str,
    dim: int | None,
    mode: str,
) -> None:
    """Write the RP table ``{path}/vectors`` = (id, pv, pn, v, n)."""
    proj = rp_project(embeddings, id_col, vec_col, out_dim, dim=dim)
    pvec, full = _rp_tables(proj, embeddings, id_col, vec_col, out_dim)
    pvec.join(full, "id").write.mode(mode).parquet(f"{path}/vectors")


def build_rp_index(
    embeddings: DataFrame,
    path: str,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> None:
    """Persist the RP (JL-compression) tier: one narrow parquet table
    ``{path}/vectors`` = (id, pv, pn, v, n) — the 6dp-rounded projected
    vector + its norm (the candidate-ranking side; out_dim doubles per
    row) alongside the exact doubles + norm (the refine side), plus
    ``{path}/meta`` = (out_dim, …). Building once amortizes the
    projection folds across every probe/tuning sweep; the probe reads
    pv/pn for ranking and only the survivors' v/n for refine (parquet
    column pruning keeps the wide column out of the scan until the
    rerank cut).

    Same deterministic construction as ``rp_topk`` (md5 sign planes,
    strict folds, 6dp rounding BEFORE ranking) and the same probe, so
    stored probes are bit-identical to the in-memory tier (pinned by
    test).
    """
    refuse_known_ids("rp index", path, embeddings, id_col)
    _write_rp_vectors(embeddings, path, out_dim, id_col, vec_col, dim, "overwrite")
    write_meta(path, dict(out_dim=int(out_dim)))


def append_rp_index(
    spark,
    path: str,
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> None:
    """Append new vectors to a persisted RP (JL) index. The projection
    is STATELESS by construction (md5 sign planes are pure functions of
    (plane, dimension) — no fitted model), so appending is exactly the
    builder's projection over the new batch parquet-appended to the
    vectors table: stored probes over build(A)+append(B) are
    bit-identical to build(A∪B) (pinned by test — the strongest append
    contract in the store family, holding for ANY split). out_dim comes
    from ``{path}/meta``. A batch holding an id already in the index,
    or a vector of another width than the stored ones, is refused
    before anything is written."""
    out_dim = read_meta(path, "rp index")["out_dim"]
    # the RP meta predates an input-dim field, so pin the input width
    # from a stored exact vector: the md5 sign planes are position
    # functions, so a narrower batch would silently project into a
    # DIFFERENT geometry (a prefix of the planes) and corrupt rankings
    vectors = spark.read.parquet(f"{path}/vectors")
    stored = vectors.select(F.size("v").alias("d")).first()
    refuse_known_ids(
        "rp index", path, embeddings, id_col, vectors.select("id"),
        vec_col, stored["d"] if stored is not None else None,
    )
    _write_rp_vectors(embeddings, path, out_dim, id_col, vec_col, dim, "append")


def rp_topk_stored(
    spark,
    path: str,
    query_ids: list[int],
    k: int = 10,
    rerank: int = 32,
    out_dim: int | None = None,
) -> DataFrame:
    """Query a persisted RP index (``build_rp_index``): candidate
    ranking by cosine over the STORED projections (no projection folds
    at query time), top-``rerank`` survivors refined with the exact
    cosine from the stored doubles. ``rp_topk``'s probe, so bit-identical
    to it with the same out_dim/rerank (pinned by test); the ranking scan
    reads only (id, pv, pn) — column pruning keeps the wide ``v`` out of
    the corpus-wide pass.

    Pass ``out_dim`` to VALIDATE against the store's pinned meta (same
    loud-refusal convention as ``read_winnow_store``): the stored pv is
    self-describing, but a caller expecting a different projection width
    (e.g. recall dashboards comparing stores) should fail here, not read
    a mismatched index.

    Output: (query_id, neighbor_id, cosine, rank) — exact cosines.
    """
    read_meta(path, "rp index", out_dim=out_dim)
    vecs = spark.read.parquet(f"{path}/vectors")
    return _rp_rank_refine(
        vecs.select("id", "pv", "pn"), vecs.select("id", "v", "n"), query_ids, k, rerank
    )
