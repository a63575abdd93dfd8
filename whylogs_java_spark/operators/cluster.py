"""Deterministic Lloyd's k-means over an embedding column — the
cluster step of cluster-based corpus curation (SemDeDup-style semantic
dedup, cluster-balanced sampling, per-cluster quality triage).

Engine-deterministic by construction, so the full assignment table is
DuckDB-oracle-checkable (the same determinism toolkit as the rest of
the embedding family):

- **seeding**: the k vectors with the smallest ``md5(id)`` (a
  deterministic uniform draw — no RNG), centroid ids 0..k-1 in that
  order;
- **distances**: squared L2 via a strict left-to-right fold over the
  dims (``F.aggregate`` ≙ DuckDB ``list_reduce`` — bit-identical IEEE
  sums);
- **argmin**: chained strictly-less comparisons, ties to the LOWEST
  centroid id;
- **centroid update**: per-dim means from EXACT integer sums
  (``floor(x·1e6 + 0.5)`` BIGINT, the corpus_report convention) so the
  new centroids are shuffle-order-independent, then two IEEE double
  divisions applied identically in both engines.

Scale shape: two assignment strategies, bit-identical results.
``literal`` (coarse k ≤ LITERAL_K_MAX): ONE scan with k plan-literal
centroid folds. ``join`` (large k, SemDeDup's k in the thousands):
emb × broadcast centroid TABLE → per-pair fold distance → min-struct
argmin — plan size constant in k, n×k narrow intermediate rows with
map-side partial-min combine. Either way one (k × dim)-key
exact-integer aggregate per iteration whose result (k·dim rows)
collects to the driver — the same tiny-collect loop shape as the
reference's own ``estimate_segments`` driver greedy. ``n_iter`` scans
total; an empty cluster keeps its previous centroid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ckpt import literal_df, materialize, materialize_lazy, release, spread
from ..functions import sqlexpr as sqlx
from ..stores import read_meta, write_meta

INT_SCALE = 1_000_000


def _sq_l2(vec_col, centroid: list[float]):
    """Strict left-to-right fold of (v[i] - c[i])^2 — order-pinned."""
    diffs = F.zip_with(
        vec_col,
        F.array(*[F.lit(float(c)) for c in centroid]),
        lambda x, y: (x - y) * (x - y),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, d: acc + d)


#: past this k the assignment switches from k plan-literal distance folds
#: to a broadcast centroid-table join — the literal plan grows k*dim
#: literals per scan and chokes Catalyst analysis in the thousands, while
#: the join path's plan size is constant in k (SemDeDup wants k ~ 50k)
LITERAL_K_MAX = 32


def _assign_join(emb: DataFrame, centroids: list[list[float]]) -> DataFrame:
    """(__id, __cid, __d) via emb x broadcast(centroid TABLE) -> per-pair
    fold distance -> min-struct argmin. Bit-identical to the literal
    path: the same left-to-right ``F.aggregate`` fold over ``zip_with``
    squared diffs (the centroid components are the same doubles, rows
    instead of literals), and ``F.min(struct(d, cid))`` replays the
    strictly-less tie rule (exact tie -> lowest cid) — also exactly the
    DuckDB twin's ``MIN([dist, cid])``. Plan shape: one
    BroadcastNestedLoopJoin fan-out (n x k narrow rows: id, int, double),
    partial-agg min combines map-side before the single shuffle on id.
    """
    spark = emb.sparkSession
    cent = literal_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cluster int, __c array<double>",
    )
    # one SQL-text parse instead of 3 py4j-built lambdas (~20 ms/call;
    # identical tree — functions/sqlexpr.py)
    d = F.expr(
        "aggregate(zip_with(__v, __c, (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, dd) -> acc + dd)"
    )
    scored = emb.join(F.broadcast(cent), how="cross").select(
        "__id", "cluster", d.alias("__d")
    )
    best = scored.groupBy("__id").agg(
        F.min(
            F.struct(F.col("__d").alias("d"), F.col("cluster").alias("i"))
        ).alias("__b")
    )
    return best.select(
        "__id", F.col("__b.i").alias("__cid"), F.col("__b.d").alias("__d")
    )


def _prepare_emb(embeddings: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The (__id, __v double[]) table — the shared prep for the
    assignment and codebook-training entry points. The training callers
    materialize it (several Lloyd passes read it); a fixed-centroid
    assignment reads it once, so it stays lazy there."""
    emb = embeddings.select(
        F.col(id_col).alias("__id"), F.col(vec_col).alias("__v")
    ).where(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
    emb = emb.selectExpr("__id", f"{sqlx.as_double_s('__v')} AS __v")
    return spread(emb)


def _assign_literal(centroids: list[list[float]]):
    """(cid, d) literal-path argmin columns over ``__v`` — ONE fold over
    a (dist, idx) struct array; strictly-less keeps the lowest centroid
    id on ties (the DuckDB MIN([dist, cid]) rule)."""
    # SQL-text twin of the k-literal-fold argmin: the Column API costs
    # k*dim F.lit calls + k fold lambdas (~2-3 s of py4j chatter at
    # k=32, dim=64, re-paid per Lloyd round); one parser call yields
    # the identical tree (functions/sqlexpr.py)
    darr_s = (
        "array(" + ",".join(sqlx.sq_l2_s("__v", c) for c in centroids) + ")"
    )
    pairs = (
        f"zip_with({darr_s}, sequence(0, {len(centroids) - 1}), "
        f"(d, i) -> named_struct('d', d, 'i', i))"
    )
    best = (
        f"aggregate({pairs}, named_struct('d', CAST('Infinity' AS DOUBLE), "
        f"'i', -1), (acc, x) -> IF(x.d < acc.d, x, acc))"
    )
    return F.expr(f"({best}).i"), F.expr(f"({best}).d")


def _lloyd_iterations(
    emb: DataFrame,
    k: int,
    n_iter: int,
    use_join: bool,
) -> list[list[float]]:
    """``k`` md5-ranked seeds, then ``n_iter`` Lloyd rounds over a
    prepared table; returns the final centroids (exact-integer per-dim
    means, empty clusters keep their previous centroid), ``[]`` for an
    empty table."""
    seeds = (
        emb.orderBy(F.md5(F.col("__id").cast("string")), F.col("__id"))
        .limit(k)
        .collect()
    )
    if not seeds:
        return []
    centroids = [[float(x) for x in r["__v"]] for r in seeds]
    dim = len(centroids[0])
    for _ in range(n_iter):
        if use_join:
            best = _assign_join(emb, centroids)
            assigned = emb.join(best.select("__id", "__cid"), on="__id")
        else:
            cid, _d = _assign_literal(centroids)
            assigned = emb.select("__id", "__v", cid.alias("__cid"))
        # exact-integer per-dim sums: shuffle-order-independent means
        dims = assigned.select(
            "__cid",
            F.posexplode(
                F.expr(
                    f"transform(__v, x -> CAST(floor(x * {INT_SCALE} "
                    f"+ 0.5D) AS BIGINT))"
                )
            ).alias("__pos", "__iv"),
        )
        stats = (
            dims.groupBy("__cid", "__pos")
            .agg(F.sum("__iv").alias("__s"), F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        by_cluster: dict[int, dict[int, tuple[int, int]]] = {}
        for r in stats:
            by_cluster.setdefault(r["__cid"], {})[r["__pos"]] = (r["__s"], r["__n"])
        new_centroids = []
        for ci in range(len(centroids)):
            comp = by_cluster.get(ci)
            if not comp:
                new_centroids.append(centroids[ci])  # empty cluster: keep
                continue
            new_centroids.append(
                [(comp[p][0] / comp[p][1]) / INT_SCALE for p in range(dim)]
            )
        centroids = new_centroids
    return centroids


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "auto",
) -> list[list[float]]:
    """Train and return the final centroids only — the codebook-training
    entry point (PQ sub-quantizers, IVF coarse quantizers). Identical
    seeding/iteration machinery to :func:`kmeans_assign`, minus the
    final assignment pass."""
    if assign not in ("auto", "literal", "join"):
        raise ValueError(f"unknown assign mode {assign!r}")
    use_join = (k > LITERAL_K_MAX) if assign == "auto" else (assign == "join")
    emb = _prepare_emb(embeddings, id_col, vec_col).transform(materialize)
    try:
        return _lloyd_iterations(emb, k, n_iter, use_join)
    finally:
        release(emb)


def kmeans_assign(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "auto",
) -> DataFrame:
    """(id, cluster, dist) after ``n_iter`` deterministic Lloyd rounds.

    ``dist`` is the squared L2 to the final assigned centroid, rounded
    to 6 decimals. Rows with NULL/empty vectors are dropped (they have
    no geometry). All vectors must share one dimensionality.

    ``assign``: "literal" embeds the k centroids as plan literals (one
    scan, no join — fastest for coarse k), "join" fans out against a
    broadcast centroid table (plan size constant in k — required for
    SemDeDup-scale k in the thousands), "auto" picks by
    ``LITERAL_K_MAX``. Both paths produce bit-identical assignments.
    """
    if assign not in ("auto", "literal", "join"):
        raise ValueError(f"unknown assign mode {assign!r}")
    use_join = (k > LITERAL_K_MAX) if assign == "auto" else (assign == "join")
    # prepared table materialized ONCE (seeding, each Lloyd round, and
    # the final assignment are separate jobs that would otherwise re-run
    # the scan + cast + spread per pass)
    emb = _prepare_emb(embeddings, id_col, vec_col).transform(materialize)
    centroids = _lloyd_iterations(emb, k, n_iter, use_join)
    if not centroids:
        # empty result must carry the input's actual id type (string ids
        # are legal) or downstream unions/joins break on the empty case
        import pyspark.sql.types as T

        id_type = embeddings.schema[id_col].dataType
        return embeddings.sparkSession.createDataFrame(
            [],
            T.StructType(
                [
                    T.StructField(id_col, id_type),
                    T.StructField("cluster", T.IntegerType()),
                    T.StructField("dist", T.DoubleType()),
                ]
            ),
        )
    return _final_assign(emb, centroids, id_col, use_join)


def _final_assign(
    emb: DataFrame, centroids: list[list[float]], id_col: str, use_join: bool
) -> DataFrame:
    """(id, cluster, dist) for a prepared table against FIXED centroids
    — the shared assignment tail of the training and stored-model
    paths (identical expressions, so stored == trained is structural)."""
    if use_join:
        return _assign_join(emb, centroids).select(
            F.col("__id").alias(id_col),
            F.col("__cid").alias("cluster"),
            (F.round("__d", 6) + F.lit(0.0)).alias("dist"),
        )
    cid, d = _assign_literal(centroids)
    return emb.select(
        F.col("__id").alias(id_col),
        cid.alias("cluster"),
        (F.round(d, 6) + F.lit(0.0)).alias("dist"),
    )


def kmeans_assign_with(
    embeddings: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "auto",
) -> DataFrame:
    """Assign every vector to the nearest of FIXED centroids (no Lloyd
    rounds) — the inference face of :func:`kmeans_assign`, for frozen
    codebooks: a persisted model (``kmeans_assign_stored``), a
    quantizer trained on a sample, or centroids shipped from another
    pipeline stage. Same argmin/tie/rounding rules as training."""
    if assign not in ("auto", "literal", "join"):
        raise ValueError(f"unknown assign mode {assign!r}")
    if not centroids:
        raise ValueError("centroids must be non-empty")
    use_join = (
        (len(centroids) > LITERAL_K_MAX) if assign == "auto" else (assign == "join")
    )
    emb = _prepare_emb(embeddings, id_col, vec_col)
    return _final_assign(
        emb, [[float(x) for x in c] for c in centroids], id_col, use_join
    )


def build_kmeans_model(
    embeddings: DataFrame,
    path: str,
    k: int = 8,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "auto",
) -> None:
    """Persist a trained k-means model: train once, assign many — the
    centroid twin of the minhash/gram/winnow/IVF stores. Training is
    the expensive leg (``n_iter`` corpus scans + the seeding sort);
    clustering every future batch against the SAME partition of
    embedding space (incremental SemDeDup, stable cluster-balanced
    sampling, drift-comparable cluster censuses) should pay it exactly
    once.

    Two parquet tables under ``path``:

    - ``{path}/centroids``: (cluster int, centroid double[]) — k rows.
    - ``{path}/meta``: one row pinning (k, n_iter, dim); readers
      validate a requested k instead of trusting caller arguments.
    """
    centroids = kmeans_centroids(
        embeddings, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        assign=assign,
    )
    if not centroids:
        raise ValueError("cannot build a k-means model from an empty corpus")
    spark = embeddings.sparkSession
    literal_df(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cluster int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/centroids")
    # meta pins the model's ACTUAL arity (seed collect can return fewer
    # than the requested k on tiny corpora) — validating against the
    # requested k would pass exactly when arity silently diverged
    write_meta(path, dict(k=len(centroids), n_iter=int(n_iter), dim=len(centroids[0])))


def read_kmeans_model(spark, path: str, k: int | None = None) -> list[list[float]]:
    """Load a persisted k-means model's centroids (cluster-id order).

    Validates a requested ``k`` against the store's meta — assigning
    against a model of unexpected arity is a silent-corruption hazard
    (cluster ids mean different things), so mismatches refuse loudly.
    """
    read_meta(path, "k-means model", k=k)
    rows = (
        spark.read.parquet(f"{path}/centroids").orderBy("cluster").collect()
    )
    return [[float(x) for x in r["centroid"]] for r in rows]


def kmeans_assign_stored(
    spark,
    path: str,
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "auto",
    k: int | None = None,
) -> DataFrame:
    """Assign a batch against a persisted k-means model
    (``build_kmeans_model``): the centroid store is k rows (driver-side
    by construction — the same bounded collect as every literal/broadcast
    centroid path), so the probe plan is identical to
    :func:`kmeans_assign_with` and bit-identical to training-time
    assignment with the same parameters (pinned by test)."""
    return kmeans_assign_with(
        embeddings,
        read_kmeans_model(spark, path, k=k),
        id_col=id_col,
        vec_col=vec_col,
        assign=assign,
    )


def semantic_dedup_pairs(
    embeddings: DataFrame,
    threshold: float,
    k: int = 8,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "auto",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): near-duplicate pairs by cosine,
    with candidate generation pruned to k-means clusters — pairs are
    only scored WITHIN a cluster, so the quadratic term is bounded by
    the largest cluster, not the corpus (vs the corpus-wide LSH bands
    of ``similarity.cosine_pairs_bucketed`` — use that when clusters
    are themselves huge; the two candidate generators compose).

    Deterministic end to end (seeded k-means + fold cosine), so the
    pair set is oracle-checkable. Output: (id_a, id_b, cluster, cosine)
    with cosine ≥ threshold, id_a < id_b.

    Plan: the assignment join keys the corpus on id once; candidates
    come from a self equi-join on the cluster id; norms fold once per
    vector before the pair join. No cross product at any scale.
    """
    from .similarity import _as_double, dot

    assignments = kmeans_assign(
        embeddings, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        assign=assign,
    ).select(F.col(id_col), "cluster")
    emb = embeddings.selectExpr(
        sqlx.qcol(id_col),
        f"{sqlx.as_double_s(sqlx.qcol(vec_col))} AS __v",
    ).where(F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0))
    vecs = emb.join(assignments, on=id_col).selectExpr(
        sqlx.qcol(id_col),
        "cluster",
        "__v",
        f"{sqlx.norm_s('__v')} AS __n",
    )
    # an all-zero embedding has no direction: 0.0/0.0 = NaN, and Spark
    # orders NaN ABOVE every number, so `cosine >= threshold` would flag
    # it as a near-dup of every cluster-mate — drop it like NULL/empty
    vecs = vecs.where(F.col("__n") > 0)
    # materialize ONCE: both sides of the cluster self-join would
    # otherwise re-execute the k assignment folds + the norm fold over
    # the whole corpus (AQE exchange reuse does not cover a join whose
    # sides differ only in aliases)
    vecs = vecs.transform(materialize_lazy)
    a = vecs.select(
        F.col(id_col).alias("id_a"),
        "cluster",
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = vecs.select(
        F.col(id_col).alias("id_b"),
        "cluster",
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    pairs = a.join(b, on="cluster").where(F.col("id_a") < F.col("id_b"))
    # the join partitioning has only k distinct keys, so the interpreted
    # cosine folds would run on at most k cores — spread the pair table
    # across the cluster before scoring (tiny rows: two vectors + norms).
    # The repartition alone is NOT enough: Catalyst pushes the cosine
    # projection back below RepartitionByExpression, and AQE coalesces
    # the byte-tiny k-key join shuffle to ONE partition, so the folds
    # ran on a single task (traced: one 3 s task scoring every pair
    # while 31 cores idled). The lazy checkpoint is the barrier the
    # pushdown cannot cross — the cheap pair ROWS materialize on the
    # coalesced join, the checkpoint pins the 32-way spread, and the
    # folds run above it at full width. Zero added actions (guide §5).
    target = embeddings.sparkSession.sparkContext.defaultParallelism
    pairs = materialize_lazy(pairs.repartition(target, "id_a", "id_b"))
    cosine = F.round(
        dot("__va", "__vb") / (F.col("__na") * F.col("__nb")), 6
    ) + F.lit(0.0)
    return pairs.select(
        "id_a", "id_b", "cluster", cosine.alias("cosine")
    ).where(F.col("cosine") >= F.lit(float(threshold)))


def semantic_dedup(
    embeddings: DataFrame,
    threshold: float,
    k: int = 8,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iters: int = 20,
    assign: str = "auto",
) -> DataFrame:
    """End-to-end SemDeDup: cosine pairs within k-means clusters →
    connected components → (id, cluster_id, is_survivor). Keeping only
    ``is_survivor`` rows is the dedup pass; the components engine is
    the text family's (``dedup.resolve_clusters``)."""
    from .dedup import resolve_clusters

    pairs = semantic_dedup_pairs(
        embeddings, threshold, k=k, n_iter=n_iter,
        id_col=id_col, vec_col=vec_col, assign=assign,
    ).select("id_a", "id_b")
    return resolve_clusters(pairs, embeddings.select(id_col), id_col, max_iters)


def cluster_sizes(assignments: DataFrame) -> DataFrame:
    """(cluster, n, mean_dist) — the curation triage view."""
    return assignments.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        (F.round(F.avg("dist"), 6) + F.lit(0.0)).alias("mean_dist"),
    )


def cluster_prototype_prune(
    embeddings: DataFrame,
    k: int = 8,
    n_iter: int = 1,
    prune_frac: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "auto",
) -> DataFrame:
    """SSL-prototypes-style data pruning (Sorscher et al. 2022, "Beyond
    neural scaling laws"): rank every vector by its distance to its
    k-means cluster centroid; the ``prune_frac`` CLOSEST members of each
    cluster (the most prototypical, most redundant examples) are flagged
    for removal — when data is abundant, dropping easy/prototypical
    examples beats random pruning.

    Output, one row per vector: (id, cluster, dist, cluster_size,
    rank_close, is_pruned) where ``rank_close`` is the 1-based
    closest-first rank within the cluster (ties on distance break on
    id — deterministic) and ``is_pruned`` flags the first
    ``floor(cluster_size · prune_frac)`` ranks.

    Deterministic end to end (seeded k-means + rounded distances), so
    the full table is DuckDB-oracle-checkable. Scale: the assignment is
    kmeans_assign's (literal or broadcast-join path); ranking is one
    window over the assignment table partitioned by cluster —
    O(vectors) state, no pairwise term at all (the cheap companion to
    SemDeDup's within-cluster pair scan).
    """
    from pyspark.sql import Window

    if not 0 <= prune_frac < 1:
        raise ValueError(f"prune_frac must be in [0, 1), got {prune_frac}")
    assigned = kmeans_assign(
        embeddings, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        assign=assign,
    )
    w = Window.partitionBy("cluster").orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    sz = Window.partitionBy("cluster")
    return assigned.select(
        F.col(id_col),
        "cluster",
        "dist",
        F.count(F.lit(1)).over(sz).alias("cluster_size"),
        F.row_number().over(w).alias("rank_close"),
    ).withColumn(
        "is_pruned",
        F.col("rank_close")
        <= F.floor(F.col("cluster_size") * F.lit(float(prune_frac))).cast("long"),
    )


def cluster_balanced_sample(
    embeddings: DataFrame,
    k: int = 8,
    per_cluster: int = 10,
    n_iter: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign: str = "auto",
    salt: str = "",
) -> DataFrame:
    """Cluster-balanced sampling: exactly ``min(per_cluster, |cluster|)``
    rows per k-means cluster, chosen by the deterministic md5 hash rank
    (the diversity-preserving sample a curation pipeline draws before
    expensive human/LLM review — uniform over SEMANTIC regions instead
    of over rows, so small clusters are not drowned out).

    Output: (id, cluster, dist, pick_rank). Deterministic end to end
    (seeded k-means + md5 rank, ties on id) — oracle-checkable. Scale:
    the assignment is kmeans_assign's; the pick is one window per
    cluster that Spark plans as WindowGroupLimit (top-k retained
    map-side, O(per_cluster) state per task).
    """
    from pyspark.sql import Window

    from .sampling import sample_key

    if per_cluster <= 0:
        raise ValueError(f"per_cluster must be > 0, got {per_cluster}")
    assigned = kmeans_assign(
        embeddings, k=k, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        assign=assign,
    )
    key = sample_key(F.col(id_col), salt)
    w = Window.partitionBy("cluster").orderBy(key.asc(), F.col(id_col).asc())
    return (
        assigned.withColumn("pick_rank", F.row_number().over(w))
        .where(F.col("pick_rank") <= per_cluster)
        .withColumn("pick_rank", F.col("pick_rank").cast("long"))
    )
