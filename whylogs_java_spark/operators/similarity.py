"""Embedding similarity search (ANN) over array<float> columns.

Scale design:
- ``cosine_topk``: brute-force baseline. Queries are broadcast (small
  side); the dot product is a JVM ``zip_with``/``aggregate`` fold — no
  Python, no explode; top-k via window over the per-query candidate rows.
  At 100 TB this is one scan of the corpus per query batch.
- ``cosine_topk_exact``: oracle-checkable variant — the dot product is an
  exact DECIMAL sum over exploded (query, dim) rows, bit-reproducible in
  DuckDB; used by the correctness gate, not the bench.
- ``lsh_bucket_topk``: the scale path — random-hyperplane LSH buckets
  (deterministic md5-derived planes), equi-join on bucket signature, then
  brute-force only within buckets (multi-probe by hamming-adjacent buckets
  left as a roadmap knob).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..ckpt import literal_df, materialize, materialize_lazy, spread
from ..functions import sqlexpr as sqlx


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


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
) -> DataFrame:
    """Brute-force cosine top-k: (query_id, neighbor_id, cosine, rank).

    ``queries`` must be small (it is broadcast). Self-matches excluded.
    """
    from pyspark.sql import Window

    # norms are per-vector: fold them once per side before the crossJoin
    # (3 interpreted folds per candidate row becomes 1), and spread the
    # corpus when the scan arrives in fewer partitions than cores (no-op
    # at cluster scale)
    embeddings = spread(embeddings)
    # SQL-text selects: one parse call instead of ~10 py4j-built lambdas
    # per side (identical trees — sqlexpr.py)
    vd = sqlx.as_double_s(sqlx.qcol(vec_col))
    q = queries.selectExpr(
        f"{sqlx.qcol(id_col)} AS query_id", f"{vd} AS qv", f"{sqlx.norm_s(vd)} AS qn"
    ).where(F.col("qn") > 0)  # zero-norm: no defined cosine
    c = embeddings.selectExpr(
        f"{sqlx.qcol(id_col)} AS neighbor_id", f"{vd} AS cv", f"{sqlx.norm_s(vd)} AS cn"
    ).where(F.col("cn") > 0)  # zero-norm: never a neighbor
    sim = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"{sqlx.dot_s('qv', 'cv')} / (qn * cn) AS cosine",
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", (F.round("cosine", 6) + 0.0).alias("cosine"), "rank")
    )


def cosine_topk_exact(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Oracle-deterministic brute-force cosine top-k.

    Determinism via fold ORDER: dot products and norms are strict
    left-to-right double array folds, bit-identical to the DuckDB
    oracle's ``list_reduce`` over the same sequence (see
    ``hyperplane_buckets_exact`` — the DECIMAL exploded-sum formulation
    this replaces existed only because shuffled sums are
    order-nondeterministic).
    """
    from pyspark.sql import Window

    embeddings = spread(embeddings)
    vd = sqlx.as_double_s(sqlx.qcol(vec_col))
    vecs = embeddings.selectExpr(
        sqlx.qcol(id_col), f"{vd} AS __v", f"{sqlx.norm_s(vd)} AS __n"
    ).where(F.col("__n") > 0)  # zero-norm: no defined cosine, never a neighbor
    q = vecs.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("qv"),
        F.col("__n").alias("qn"),
    )
    sim = (
        vecs.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (dot("__v", "qv") / (F.col("__n") * F.col("qn"))).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", (F.round("cosine", 6) + 0.0).alias("cosine"), "rank")
    )


def cosine_pairs_exact(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding near-duplicate pairs: all (id_a < id_b) with cosine ≥ τ.

    Oracle-deterministic brute force — the correctness baseline for
    embedding dedup; the scale path is the bucketed variant. Determinism
    comes from fold ORDER (strict left-to-right array aggregate, matched
    by DuckDB ``list_reduce``), not DECIMAL: see
    ``hyperplane_buckets_exact``. The all-pairs id_a < id_b join is a
    deliberate O(n²) — oracle tier only.
    Output: (id_a, id_b, cosine).
    """
    embeddings = spread(embeddings)
    vd = sqlx.as_double_s(sqlx.qcol(vec_col))
    vecs = embeddings.selectExpr(
        sqlx.qcol(id_col), f"{vd} AS __v", f"{sqlx.norm_s(vd)} AS __n"
    ).where(F.col("__n") > 0)  # zero-norm: no defined cosine, never a neighbor
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

def _dims_seq(vec: Column) -> Column:
    """[0 .. len(vec)-1]; EMPTY for an empty array. A bare
    ``F.sequence(0, size-1)`` DESCENDS to [0, -1] when size == 0, which
    would zip_with null-padding into null projections and engine-divergent
    sign bits (the DuckDB twin's generate_series(1, 0) is empty)."""
    return F.when(
        F.size(vec) > 0, F.sequence(F.lit(0), F.size(vec) - 1)
    ).otherwise(F.array().cast("array<int>"))


def _plane_component(plane: int, dim: Column) -> Column:
    """Deterministic pseudo-random ±1 from md5(plane|dim) parity."""
    h = F.md5(F.concat(F.lit(f"p{plane}|"), dim.cast("string")))
    nibble = F.conv(F.substring(h, 1, 1), 16, 10).cast("int")
    return F.when(nibble % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))


def _dims_seq_s(vec_s: str) -> str:
    """SQL-text twin of ``_dims_seq``."""
    return (
        f"CASE WHEN size({vec_s}) > 0 THEN sequence(0, size({vec_s}) - 1) "
        f"ELSE CAST(array() AS ARRAY<INT>) END"
    )


def _hyperplane_signature_s(vec_s: str, planes: int) -> str:
    """SQL-text twin of ``hyperplane_signature`` — identical md5-parity
    plane components, fold order and sign rule, built in ONE parser call
    instead of ~planes x 4 py4j lambda constructions (guide §4 applied
    to plan construction; sqlexpr.py has the 20 ms -> 0.5 ms numbers)."""
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


def hyperplane_signature(vec: Column, planes: int = 16) -> Column:
    """Bit-string LSH bucket signature: sign of <v, r_p> per plane.

    The ±1 hyperplanes are md5-derived from (plane, dim) — no stored model,
    reproducible everywhere.
    """
    sig_bits = []
    for p in range(planes):
        proj = F.aggregate(
            F.zip_with(
                vec,
                F.transform(_dims_seq(vec), lambda i: _plane_component(p, i)),
                lambda x, r: x * r,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        sig_bits.append(F.when(proj >= 0, F.lit("1")).otherwise(F.lit("0")))
    return F.concat(*sig_bits)


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
    1. coarse centroids — deterministic hash-spread sample of the corpus
       (a production index would k-means; the partition/probe mechanics
       are identical), broadcast everywhere;
    2. every corpus vector is assigned to its nearest centroid (one scan,
       argmax over the broadcast centroids — the inverted lists are just a
       ``centroid_id`` column, co-partitioning the corpus by list);
    3. each query probes its ``nprobe`` nearest centroids and brute-forces
       only those lists via an equi-join on ``centroid_id`` — the corpus
       side shuffles once on the list key, never all-pairs.

    Recall trades off with ``n_centroids``/``nprobe``; ``nprobe ==
    n_centroids`` degenerates to exact brute force.
    Output: (query_id, neighbor_id, cosine, rank).
    """
    from pyspark.sql import Window

    # 1. deterministic centroid sample: smallest xxhash64 ranks -> stable
    #    across partitionings, no RNG
    cent = (
        embeddings.select(
            F.col(id_col).alias("centroid_id"),
            _as_double(F.col(vec_col)).alias("cev"),
            F.xxhash64(F.col(id_col)).alias("__h"),
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

    embeddings = spread(embeddings)
    cvd = _as_double(F.col(vec_col))
    corpus = embeddings.select(
        F.col(id_col).alias("neighbor_id"), cvd.alias("cv"), norm(cvd).alias("cn")
    ).where(F.col("cn") > 0)  # zero-norm: never a neighbor
    lists = assign(corpus, "neighbor_id", "cv", 1)
    probes_df = assign(
        queries.select(
            F.col(id_col).alias("query_id"), cvd.alias("qv"), norm(cvd).alias("qn")
        ).where(F.col("qn") > 0),  # zero-norm: no defined cosine
        "query_id",
        "qv",
        nprobe,
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
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", (F.round("cosine", 6) + 0.0).alias("cosine"), "rank")
    )


def ivf_topk_exact(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Oracle-deterministic IVF ANN tier (the ``dedup_simhash`` playbook
    applied to ``ivf_topk``): every engine-specific choice is replaced by a
    bit-reproducible one so DuckDB reaches the identical answer.

    - centroid sample: the ``n_centroids`` smallest ``md5(cast(id as
      string))`` hex ranks (lexicographic — identical in any engine),
      instead of xxhash64 which has no DuckDB twin;
    - list assignment, probe selection, and candidate scoring: cosines
      via strict left-to-right double array folds — bit-identical to the
      DuckDB oracle's ``list_reduce`` over the same sequence (see
      ``hyperplane_buckets_exact``; the DECIMAL exploded-sum formulation
      this replaces existed only because shuffled sums are
      order-nondeterministic) — ranked by (cosine DESC, id ASC).

    Same probe/list mechanics as ``ivf_topk`` (the production tier keeps
    the shuffle-free broadcast-argmax assignment).
    Output: (query_id, neighbor_id, cosine, rank).
    """
    from pyspark.sql import Window

    vecs, cvecs, ranked = _ivf_structures(
        embeddings, n_centroids, id_col, vec_col
    )
    lists = ranked.where(F.col("crk") == 1).select(
        F.col(id_col).alias("neighbor_id"), "centroid_id"
    )
    probes = ranked.where(
        F.col(id_col).isin(query_ids) & (F.col("crk") <= nprobe)
    ).select(F.col(id_col).alias("query_id"), "centroid_id")
    cand = (
        lists.join(F.broadcast(probes), on="centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = vecs.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("qv"),
        F.col("__n").alias("qn"),
    )
    sim = (
        cand.join(F.broadcast(q), "query_id")
        .join(
            vecs.select(
                F.col(id_col).alias("neighbor_id"),
                F.col("__v").alias("nv"),
                F.col("__n").alias("nn"),
            ),
            "neighbor_id",
        )
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"{sqlx.dot_s('qv', 'nv')} / (qn * nn) AS cosine",
        )
    )
    wk = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", (F.round("cosine", 6) + 0.0).alias("cosine"), "rank")
    )


def ivf_topk_quantized(
    embeddings: DataFrame,
    query_ids: list[int],
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    rerank: int | None = None,
    bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF × int8 affine quantization (PQ-lite) — the memory story for
    100 TB-scale ANN: the inverted lists store only ``bits``-bit codes
    (8 bits/dim vs 64 for doubles), candidates are scored on the
    RECONSTRUCTED vectors, and only the ``rerank`` best survivors per
    query are re-scored exactly on doubles (the asymmetric-distance +
    exact-refine pattern; composition of ``ivf_topk_exact``'s probe
    mechanics with ``quantize.quantize_stats``'s floor-exact affine).

    Deterministic end to end (md5 centroid ranks, floor-exact codes,
    strict fold cosines, (score DESC, id ASC) ranks), so the full
    output is DuckDB-oracle-checkable. Output: (query_id, neighbor_id,
    cosine, rank) — cosine is the EXACT double cosine of survivors.

    Scale shape: the per-dim census is a dim-key aggregate (dim keys,
    nothing else shuffles); codes/reconstruction are one ``zip_with``
    against a single broadcast census row inside the scan; list probe =
    equi-join on centroid_id; exact refine touches only
    O(queries × rerank) rows.
    """
    from pyspark.sql import Window

    if rerank is None:
        rerank = 3 * k
    levels = (1 << bits) - 1

    embeddings = spread(embeddings)
    vd = sqlx.as_double_s(sqlx.qcol(vec_col))
    # zero-norm vectors have no defined cosine: excluded from the index
    # outright, else their 0/0=NaN exact-refine score sorts ABOVE all
    # numbers under DESC and surfaces at rank 1 (the same hazard
    # semantic_dedup_pairs guards against)
    vecs = embeddings.selectExpr(
        sqlx.qcol(id_col), f"{vd} AS __v", f"{sqlx.norm_s(vd)} AS __n"
    ).where(F.col("__n") > 0)

    # per-dim affine census -> ONE broadcast row: array<struct<vmin,scale>>
    # ordered by dim (floor-exact in both engines; scale==0 = constant dim)
    census = (
        vecs.select(F.posexplode("__v").alias("dim", "x"))
        .groupBy("dim")
        .agg(F.min("x").alias("vmin"), F.max("x").alias("vmax"))
        .select(
            "dim",
            "vmin",
            ((F.col("vmax") - F.col("vmin")) / F.lit(float(levels))).alias(
                "scale"
            ),
        )
    )
    carr = census.agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct("dim", "vmin", "scale"))
            ),
            lambda s: F.struct(s["vmin"].alias("vmin"), s["scale"].alias("scale")),
        ).alias("__carr")
    )

    # code = clamp(floor((x - vmin)/scale + 0.5), 0, levels); recon =
    # vmin + code*scale — floor is IEEE-exact, round()'s half rule isn't.
    # One SQL-text parse instead of the ~15 py4j-built lambda nodes.
    recon_s = (
        f"zip_with(__v, __carr, (x, c) -> CASE WHEN c.scale = 0.0D "
        f"THEN c.vmin ELSE c.vmin + least({sqlx.dlit(float(levels))}, "
        f"greatest(0.0D, CAST(floor((x - c.vmin) / c.scale + 0.5D) AS DOUBLE)))"
        f" * c.scale END)"
    )
    rvecs = (
        vecs.crossJoin(F.broadcast(carr))
        .selectExpr(sqlx.qcol(id_col), "__v", "__n", f"{recon_s} AS __rv")
        .selectExpr(
            sqlx.qcol(id_col), "__v", "__n", "__rv",
            f"{sqlx.norm_s('__rv')} AS __rn",
        )
    )

    # the census row feeds every corpus partition and rvecs feeds list
    # assignment + candidate scoring + the exact refine: materialize once
    rvecs = rvecs.transform(materialize)

    # --- identical probe mechanics to ivf_topk_exact (md5 ranks) ---
    cent = (
        rvecs.select(
            F.col(id_col).alias("centroid_id"),
            F.md5(F.col(id_col).cast("string")).alias("__h"),
        )
        .orderBy("__h")
        .limit(n_centroids)
        .drop("__h")
    )
    cvecs = rvecs.join(
        F.broadcast(cent), rvecs[id_col] == cent["centroid_id"]
    ).select("centroid_id", F.col("__v").alias("cv"), F.col("__n").alias("cn"))
    ccos = dot("__v", "cv") / (F.col("__n") * F.col("cn"))
    w = Window.partitionBy(id_col).orderBy(F.desc("ccos"), F.asc("centroid_id"))
    ranked = (
        rvecs.crossJoin(F.broadcast(cvecs))
        .select(id_col, "centroid_id", ccos.alias("ccos"))
        .withColumn("crk", F.row_number().over(w))
    )
    lists = ranked.where(F.col("crk") == 1).select(
        F.col(id_col).alias("neighbor_id"), "centroid_id"
    )
    probes = ranked.where(
        F.col(id_col).isin(query_ids) & (F.col("crk") <= nprobe)
    ).select(F.col(id_col).alias("query_id"), "centroid_id")
    cand = (
        lists.join(F.broadcast(probes), on="centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )

    # --- quantized scoring: query side EXACT (asymmetric), corpus side
    # reconstructed from codes ---
    q = rvecs.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("qv"),
        F.col("__n").alias("qn"),
    )
    qsim = (
        cand.join(F.broadcast(q), "query_id")
        .join(
            rvecs.select(
                F.col(id_col).alias("neighbor_id"),
                F.col("__rv").alias("rv"),
                F.col("__rn").alias("rn"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.try_divide(dot("qv", "rv"), F.col("qn") * F.col("rn")).alias(
                "qcos"
            ),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.desc_nulls_last("qcos"), F.asc("neighbor_id")
    )
    survivors = (
        qsim.withColumn("qrk", F.row_number().over(wq))
        .where(F.col("qrk") <= rerank)
        .select("query_id", "neighbor_id")
    )

    # --- exact refine on doubles, only O(queries x rerank) rows ---
    sim = (
        survivors.join(F.broadcast(q), "query_id")
        .join(
            rvecs.select(
                F.col(id_col).alias("neighbor_id"),
                F.col("__v").alias("nv"),
                F.col("__n").alias("nn"),
            ),
            "neighbor_id",
        )
        .selectExpr(
            "query_id",
            "neighbor_id",
            f"{sqlx.dot_s('qv', 'nv')} / (qn * nn) AS cosine",
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        sim.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            (F.round("cosine", 6) + 0.0).alias("cosine"),
            "rank",
        )
    )


def _plane_sign(plane: int, dim: Column) -> Column:
    """Deterministic pseudo-random ±1 from md5(plane|dim) first-nibble parity
    (integer-valued twin of ``_plane_component`` for exact-DECIMAL math)."""
    h = F.md5(F.concat(F.lit(f"p{plane}|"), dim.cast("string")))
    nibble = F.conv(F.substring(h, 1, 1), 16, 10).cast("int")
    return F.when(nibble % 2 == 0, F.lit(1)).otherwise(F.lit(-1))


def hyperplane_buckets_exact(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes: int = 8,
    bands: int = 1,
) -> DataFrame:
    """Per-vector LSH bucket string(s) via ORDER-DETERMINISTIC hyperplane
    projections, oracle-checkable in DuckDB.

    Determinism comes from fold ORDER, not decimal arithmetic: an array
    ``aggregate`` evaluates strictly left-to-right, so the IEEE-754
    double sum sequence is identical in every engine that folds the same
    order (DuckDB ``list_reduce`` does) — bit-reproducible projections,
    hence bit-reproducible sign bits, with none of the interpreted
    DECIMAL cost of the previous exploded-sum formulation (an exploded
    groupBy sum is shuffle-order-dependent, which is WHY it needed
    DECIMAL; a per-row fold is not). Signs are the same md5(plane|dim)
    first-nibble parity the DuckDB twin computes.

    ``bands`` independent signatures of ``planes`` bits each form an
    OR-construction (band ``j`` uses planes ``j*planes .. (j+1)*planes-1``).
    Output: ``bands == 1`` -> (id, bucket); else (id, band, bucket).
    """
    total = planes * bands
    embeddings = spread(embeddings)

    # sign components depend only on (plane, dim): build each plane's
    # ±1 array ONCE per distinct vector length and broadcast-join, the
    # same shape as banded_buckets — NOT per row, which re-derives
    # planes × dim interpreted md5 digests for every vector. The fold
    # order and values are unchanged, so the DuckDB twin still matches.
    lengths = embeddings.select(F.size(F.col(vec_col)).alias("__len")).distinct()

    def _sign_array(p: int) -> Column:
        dims = F.when(
            F.col("__len") > 0, F.sequence(F.lit(0), F.col("__len") - 1)
        ).otherwise(F.array().cast("array<int>"))
        # one-parameter lambda on purpose — see the banded_buckets NOTE
        return F.transform(dims, lambda d: _plane_sign(p, d).cast("double")).alias(
            f"__sa{p}"
        )

    sign_arrays = lengths.select("__len", *[_sign_array(p) for p in range(total)])
    # LEFT join: a NULL vector has NULL size, which matches no length row
    # — the row must still survive (NULL projections -> all-'0' bucket,
    # the same output the per-row formulation and the DuckDB twin give it)
    joined = embeddings.join(
        F.broadcast(sign_arrays),
        on=F.size(F.col(vec_col)) == F.col("__len"),
        how="left",
    )
    vecd = _as_double(F.col(vec_col))

    def proj(p: int) -> Column:
        return dot(vecd, F.col(f"__sa{p}"))

    projs = joined.select(
        F.col(id_col), *[proj(p).alias(f"proj{p}") for p in range(total)]
    )

    def bucket_expr(band: int) -> Column:
        bits = [
            F.when(F.col(f"proj{band * planes + i}") >= 0, F.lit("1")).otherwise(
                F.lit("0")
            )
            for i in range(planes)
        ]
        return F.concat(*bits)

    if bands == 1:
        return projs.select(F.col(id_col), bucket_expr(0).alias("bucket"))
    return projs.select(
        F.col(id_col),
        F.posexplode(F.array(*[bucket_expr(b) for b in range(bands)])).alias(
            "band", "bucket"
        ),
    )


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
    """Per-band hyperplane bucket table (id, band, bucket) — production tier.

    JVM double-fold signatures (no dim explode): band ``b`` uses planes
    ``b*planes .. (b+1)*planes-1``. With ``bucket_cap``, any (band, bucket)
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
    e = embeddings.join(
        F.broadcast(plane_arrays),
        on=F.size(F.col(vec_col)) == F.col("__len"),
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
    arithmetic: str = "decimal",
    bands: int = 1,
    bucket_cap: int | None = None,
    split_planes: int = 4,
    split_rounds: int = 3,
) -> DataFrame:
    """Embedding near-duplicate pairs at scale: hyperplane-bucket candidates,
    exact verification within buckets.

    The scale fix for ``cosine_pairs_exact``'s all-pairs O(n²·d) dim-join:
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
    early exit once every bucket fits (see ``banded_buckets``). Only
    available with ``arithmetic="double"``
    (the cap is a plan property, not an answer property, and would make
    the DuckDB oracle unreadable).

    ``arithmetic="decimal"`` (default) is the oracle-deterministic tier:
    DECIMAL(38,12) projections and dot products over exploded dims,
    bit-reproducible in DuckDB. ``arithmetic="double"`` is the production
    tier: bucket signatures via JVM double folds and ``zip_with`` dots —
    no dim explode anywhere, several times faster, last-ulp
    engine-specific.
    Output: (id_a, id_b, cosine) with cosine ≥ threshold.
    """
    if bucket_cap is not None and arithmetic != "double":
        raise ValueError("bucket_cap requires arithmetic='double'")
    if arithmetic == "double":
        vecd = _as_double(F.col(vec_col))
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
        vecs = embeddings.join(cand_ids, id_col, "left_semi").select(
            F.col(id_col), vecd.alias("__v"), norm(vecd).alias("__n")
        ).where(F.col("__n") > 0).transform(
            materialize_lazy  # norm folds once, not once per join side
        )  # zero-norm: no defined cosine
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

    # LAZY checkpoint (guide §5/§3.3): the signature table feeds SIX
    # consumers (both self-join sides, both cand_ids branches through
    # pairs, and the verify prune) — statically that replicated the
    # whole signature subtree (sign-array broadcast join + interpreted
    # fold per plane) into a ~3000-line plan whose Catalyst analysis and
    # repeated execution both cost real time. The lazy localCheckpoint
    # adds NO extra driver action (the caller's first action computes
    # and persists it once) while every consumer reads the materialized
    # rows.
    sig = hyperplane_buckets_exact(
        embeddings, id_col, vec_col, planes, bands=bands
    ).transform(materialize_lazy)
    join_keys = ["bucket"] if bands == 1 else ["band", "bucket"]
    a = sig.select(F.col(id_col).alias("id_a"), *join_keys)
    b = sig.select(F.col(id_col).alias("id_b"), *join_keys)
    pairs = a.join(b, on=join_keys).where(F.col("id_a") < F.col("id_b")).select(
        "id_a", "id_b"
    )
    if bands > 1:
        # a pair colliding in several bands must count once (the dot-product
        # fold below runs once per pair row)
        pairs = pairs.distinct()
    # same treatment: pairs feeds three consumers (two cand_ids
    # branches + the verify join)
    pairs = pairs.transform(materialize_lazy)
    # Order-deterministic verify WITHOUT a dim explode: ``dot``/``norm``
    # are strict left-to-right array folds, so the IEEE double sums are
    # bit-identical in any engine folding the same order (the DuckDB
    # oracle uses list_reduce) — the previous exploded DECIMAL groupBy
    # sums existed only because SHUFFLED sums are order-nondeterministic.
    # Candidate rows carry two vector arrays briefly instead of 64
    # exploded join rows each (measured 33.6 s -> ~2 s at sf0.1 for the
    # bucketed dedup query). Norms fold once per vector; the candidate
    # list is repartitioned so AQE's one-task coalesce cannot serialize
    # the fold work.
    target = embeddings.sparkSession.sparkContext.defaultParallelism
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    pairs = pairs.repartition(target, "id_a")
    vecd = _as_double(F.col(vec_col))
    # same left-semi candidate prune as the double tier: norm folds only
    # for vectors that actually appear in a candidate pair
    vecs = embeddings.join(cand_ids, id_col, "left_semi").select(
        F.col(id_col), vecd.alias("__v"), norm(vecd).alias("__n")
    ).where(F.col("__n") > 0).transform(
        materialize_lazy  # norm folds once, not once per join side
    )  # zero-norm: no defined cosine, never a neighbor
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
    """
    from pyspark.sql import Window

    # fold the per-vector quantities ONCE per side: the double cast, the
    # signature, and the norm are all per-vector, while the candidate join
    # multiplies rows — computing norms inside the scored select would run
    # two extra interpreted array folds per (query, neighbor) candidate
    # (the exact pattern already fixed in cosine_topk / the bucketed
    # verifier). With wide buckets the fold count dominates the query.
    embeddings = spread(embeddings)
    vd = sqlx.as_double_s(sqlx.qcol(vec_col))
    sig = _hyperplane_signature_s(vd, planes)
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
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", (F.round("cosine", 6) + 0.0).alias("cosine"), "rank")
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
    an eval set, not the corpus). Votes tie-break on (count desc, best
    neighbor rank asc, label asc) — fully deterministic, so the whole
    eval is DuckDB-oracle-checkable.

    Output, one row per query vector: (query_id, true_label, pred_label,
    n_votes, correct).

    Scale shape: the eval side broadcasts against the corpus scan (the
    same brute-force tier as ``cosine_topk_exact``; swap in the IVF/LSH
    candidates for web-scale eval sets); neighbor labels attach via an
    id equi-join; the vote and argmax are two bounded aggregations keyed
    by query_id (≤ k rows each after WindowGroupLimit).
    """
    from pyspark.sql import Window

    embeddings = spread(embeddings)
    vecd = _as_double(F.col(vec_col))
    vecs = embeddings.select(
        F.col(id_col), F.col(label_col), vecd.alias("__v"), norm(vecd).alias("__n")
    ).where(F.col("__n") > 0)
    q = vecs.where(query_pred).select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("true_label"),
        F.col("__v").alias("qv"),
        F.col("__n").alias("qn"),
    )
    sim = (
        vecs.join(F.broadcast(q), F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            F.col(id_col).alias("neighbor_id"),
            F.col(label_col).alias("nbr_label"),
            (dot("__v", "qv") / (F.col("__n") * F.col("qn"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    topk = sim.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )
    votes = topk.groupBy("query_id", "true_label", "nbr_label").agg(
        F.count(F.lit(1)).alias("n_votes"),
        F.min("rank").alias("__best_rank"),
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


def _ivf_structures(
    embeddings: DataFrame,
    n_centroids: int,
    id_col: str,
    vec_col: str,
    cvecs: DataFrame | None = None,
):
    """(vecs, cvecs, ranked) — the shared md5-rank centroid selection and
    centroid-rank fan-out behind ``ivf_topk_exact`` and the persisted
    index builder. ``ranked`` carries (id, centroid_id, ccos, crk).
    Pass a prebuilt ``cvecs`` (centroid_id, cv, cn) to swap the coarse
    quantizer (e.g. k-means-trained) while keeping the assignment rule
    identical."""
    from pyspark.sql import Window

    embeddings = spread(embeddings)
    vd = sqlx.as_double_s(sqlx.qcol(vec_col))
    vecs = embeddings.selectExpr(
        sqlx.qcol(id_col), f"{vd} AS __v", f"{sqlx.norm_s(vd)} AS __n"
    ).where(F.col("__n") > 0)
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
    ranked = (
        vecs.crossJoin(F.broadcast(cvecs))
        .select(id_col, "centroid_id", ccos.alias("ccos"))
        .withColumn("crk", F.row_number().over(w))
    )
    return vecs, cvecs, ranked


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
    vecs, cvecs, ranked = _ivf_structures(
        embeddings, n_centroids, id_col, vec_col, cvecs=cvecs_in
    )
    lists = ranked.where(F.col("crk") == 1).select(id_col, "centroid_id").join(
        vecs, id_col
    )
    cvecs.write.mode("overwrite").parquet(f"{path}/centroids")
    dim_row = (
        spark.read.parquet(f"{path}/centroids")
        .select(F.size("cv").alias("d"))
        .first()
    )
    literal_df(
        spark,
        [(centroids, int(n_centroids), int(n_iter),
          int(dim_row["d"]) if dim_row else 0)],
        "quantizer string, n_centroids int, n_iter int, dim int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")
    (
        lists.select(
            F.col(id_col),
            F.col("centroid_id"),
            F.col("__v").alias("v"),
            F.col("__n").alias("n"),
        )
        # one task/file per centroid dir (the postings-write lesson)
        .repartition(F.col("centroid_id"))
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/lists")
    )


def _validate_append_dim(
    embeddings: DataFrame, vec_col: str, dim: int, store_desc: str
) -> None:
    """Refuse an append batch whose vectors don't match the store's
    pinned dimensionality (r12 advice: the builders/readers validate,
    the append legs silently corrupted — zip_with over mismatched
    lengths yields NULL cosines yet row_number still assigns the vector
    to an arbitrary list). One limit(1) probe over the batch — O(batch),
    the read_gram_store/read_kmeans_model loud-refusal convention.
    NULL vectors stay the builders' concern (they drop them)."""
    bad = (
        embeddings.where(
            F.col(vec_col).isNotNull() & (F.size(vec_col) != dim)
        )
        .select(F.size(vec_col).alias("got"))
        .limit(1)
        .collect()
    )
    if bad:
        raise ValueError(
            f"append batch has a {bad[0]['got']}-dim vector in "
            f"{vec_col!r} but {store_desc} was built with dim={dim} — "
            "refusing the append (a mismatched vector would corrupt "
            "the index)"
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
    appended vectors through the same partition filters. Caller
    contract: ids must be new to the index.
    """
    from pyspark.sql import Window

    cvecs = spark.read.parquet(f"{path}/centroids")
    dim_row = cvecs.select(F.size("cv").alias("d")).first()
    if dim_row is not None:
        _validate_append_dim(
            embeddings, vec_col, int(dim_row["d"]), f"ivf index at {path}"
        )
    embeddings = spread(embeddings)
    vecd = _as_double(F.col(vec_col))
    vecs = embeddings.select(
        F.col(id_col), vecd.alias("__v"), norm(vecd).alias("__n")
    ).where(F.col("__n") > 0)
    ccos = dot("__v", "cv") / (F.col("__n") * F.col("cn"))
    w = Window.partitionBy(id_col).orderBy(
        F.desc("ccos"), F.asc("centroid_id")
    )
    assigned = (
        vecs.crossJoin(F.broadcast(cvecs))
        .select(id_col, "centroid_id", ccos.alias("ccos"), "__v", "__n")
        .withColumn("crk", F.row_number().over(w))
        .where(F.col("crk") == 1)
    )
    (
        assigned.select(
            F.col(id_col),
            F.col("centroid_id"),
            F.col("__v").alias("v"),
            F.col("__n").alias("n"),
        )
        .repartition(F.col("centroid_id"))
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(f"{path}/lists")
    )


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
    filter is a centroid_id IN-list shape after ranking against the
    broadcast centroid table, so Spark prunes the partitioned list
    files; candidate scoring is exact on the stored doubles. Self-matches
    (query id present in the index) are excluded.
    Output: (query_id, neighbor_id, cosine, rank).
    """
    from pyspark.sql import Window

    cvecs = spark.read.parquet(f"{path}/centroids")
    lists = spark.read.parquet(f"{path}/lists")
    qd = _as_double(F.col(vec_col))
    q = queries.select(
        F.col(id_col).alias("query_id"), qd.alias("qv"), norm(qd).alias("qn")
    ).where(F.col("qn") > 0)
    ccos = dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("ccos"), F.asc("centroid_id")
    )
    probes = (
        q.crossJoin(F.broadcast(cvecs))
        .select("query_id", "qv", "qn", "centroid_id", ccos.alias("ccos"))
        .withColumn("crk", F.row_number().over(wq))
        .where(F.col("crk") <= nprobe)
        .select("query_id", "qv", "qn", "centroid_id")
    )
    sim = (
        lists.join(F.broadcast(probes), "centroid_id")
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (dot("qv", "v") / (F.col("qn") * F.col("n"))).alias(
                "cosine"
            ),
        )
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        sim.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            (F.round("cosine", 6) + 0.0).alias("cosine"),
            "rank",
        )
    )


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
    uses (`ivf_topk_exact`; trained Lloyd codebooks drop in via
    `cluster.kmeans_assign` when recall demands it, at the cost of the
    oracle replay). Everything is engine-deterministic: strict-fold
    distances, argmin ties to the lowest code, (rounded ADC DESC, id)
    rerank cut, exact-refine final ranking — fully DuckDB-checkable.

    Output: (query_id, neighbor_id, cosine, rank) — cosine is the EXACT
    double cosine of survivors.

    Scale shape: the code table is the only corpus-wide intermediate
    (m bytes + a norm per row — the 100 TB index fits where doubles
    never could); encoding is one scan with m·codebook_k literal folds;
    ADC is a crossJoin against the BROADCAST query side whose per-row
    work is m element_at lookups; exact refine touches O(queries ×
    rerank) rows via an id equi-join.
    """
    from pyspark.sql import Window

    from .cluster import _sq_l2

    if rerank is None:
        rerank = 3 * k
    embeddings = spread(embeddings)
    vecd = _as_double(F.col(vec_col))
    vecs = embeddings.select(
        F.col(id_col), vecd.alias("__v"), norm(vecd).alias("__n")
    ).where(F.col("__n") > 0)
    # three consumers (codebook sample, encode scan, exact refine):
    # materialize the prepared vectors once
    vecs = vecs.transform(materialize)
    seeds = (
        vecs.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(codebook_k)
        .collect()
    )
    if not seeds:
        return vecs.select(
            F.col(id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            F.lit(0.0).alias("cosine"),
            F.lit(0).alias("rank"),
        ).where(F.lit(False))
    dim = len(seeds[0]["__v"])
    if codebooks is not None:
        # externally trained codebooks (pq_train_codebooks) drop in;
        # geometry is taken from them
        m = len(codebooks)
        codebook_k = len(codebooks[0])
        if m * len(codebooks[0][0]) != dim:
            raise ValueError(
                f"codebooks cover {m * len(codebooks[0][0])} dims, data has {dim}"
            )
        sub = dim // m
    else:
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        sub = dim // m
        codebooks = [
            [[float(x) for x in s["__v"][j * sub : (j + 1) * sub]] for s in seeds]
            for j in range(m)
        ]
    # python left-to-right sums mirror the engines' strict folds exactly
    rn2 = [[sum((x * x for x in c), 0.0) for c in cb] for cb in codebooks]

    # SQL-text encode/lookup expressions: the codebook literals and the
    # argmin fold were the single biggest plan-construction cost in the
    # bench (m*codebook_k*sub F.lit calls + m*codebook_k fold lambdas
    # ~ 4.5 s of py4j chatter per build); one parser call per column
    # yields the identical tree (sqlexpr.py)
    def code_expr_s(j: int) -> str:
        sl = f"slice(__v, {j * sub + 1}, {sub})"
        darr_s = (
            "array("
            + ",".join(sqlx.sq_l2_s(sl, c) for c in codebooks[j])
            + ")"
        )
        pairs = (
            f"zip_with({darr_s}, sequence(0, {codebook_k - 1}), "
            f"(d, i) -> named_struct('d', d, 'i', i))"
        )
        best = (
            f"aggregate({pairs}, named_struct('d', CAST('Infinity' AS "
            f"DOUBLE), 'i', -1), (acc, x) -> IF(x.d < acc.d, x, acc))"
        )
        return f"({best}).i"

    coded = vecs.selectExpr(
        sqlx.qcol(id_col),
        *[f"{code_expr_s(j)} AS code_{j}" for j in range(m)],
    )

    def dt_expr_s(j: int) -> str:
        sl = f"slice(__v, {j * sub + 1}, {sub})"
        return (
            "array("
            + ",".join(sqlx.dot_s(sl, sqlx.darr(c)) for c in codebooks[j])
            + ")"
        )

    q = vecs.where(F.col(id_col).isin(query_ids)).selectExpr(
        f"{sqlx.qcol(id_col)} AS query_id",
        "__v AS qv",
        "__n AS qn",
        *[f"{dt_expr_s(j)} AS dt_{j}" for j in range(m)],
    )
    score_s = " + ".join(
        f"element_at(dt_{j}, code_{j} + 1)" for j in range(m)
    )
    rn2_s = " + ".join(
        f"element_at({sqlx.darr(rn2[j])}, code_{j} + 1)" for j in range(m)
    )
    adc = F.expr(f"try_divide({score_s}, qn * sqrt({rn2_s}))")
    cand = (
        coded.crossJoin(F.broadcast(q))
        .where(F.col(id_col) != F.col("query_id"))
        .select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            (F.round(adc, 6) + F.lit(0.0)).alias("__adc"),
            "qv",
            "qn",
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc_nulls_last("__adc"), F.asc("neighbor_id")
    )
    survivors = cand.withColumn("__rr", F.row_number().over(wr)).where(
        F.col("__rr") <= rerank
    )
    refined = survivors.join(
        vecs.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("__v").alias("nv"),
            F.col("__n").alias("nn"),
        ),
        "neighbor_id",
    ).select(
        "query_id",
        "neighbor_id",
        (dot("qv", "nv") / (F.col("qn") * F.col("nn"))).alias(
            "cosine"
        ),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        refined.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            (F.round("cosine", 6) + 0.0).alias("cosine"),
            "rank",
        )
    )


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
    """The web-scale tier of :func:`knn_label_eval`: candidates come
    from the IVF probe (nprobe lists per query) instead of the full
    corpus, so the eval cost is O(queries × probed-list sizes) — the
    brute-force tier stays the accuracy oracle. Same deterministic vote
    and output schema: (query_id, true_label, pred_label, n_votes,
    correct).
    """
    from pyspark.sql import Window

    vecs, cvecs, ranked = _ivf_structures(
        embeddings, n_centroids, id_col, vec_col
    )
    labels = embeddings.select(F.col(id_col), F.col(label_col))
    qids = embeddings.where(query_pred).select(id_col)
    lists = ranked.where(F.col("crk") == 1).select(
        F.col(id_col).alias("neighbor_id"), "centroid_id"
    )
    probes = (
        ranked.join(F.broadcast(qids), id_col)
        .where(F.col("crk") <= nprobe)
        .select(F.col(id_col).alias("query_id"), "centroid_id")
    )
    cand = (
        lists.join(F.broadcast(probes), "centroid_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = vecs.join(F.broadcast(qids), id_col).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("qv"),
        F.col("__n").alias("qn"),
    )
    sim = (
        cand.join(F.broadcast(q), "query_id")
        .join(
            vecs.select(
                F.col(id_col).alias("neighbor_id"),
                F.col("__v").alias("nv"),
                F.col("__n").alias("nn"),
            ),
            "neighbor_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            (dot("qv", "nv") / (F.col("qn") * F.col("nn"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    topk = (
        sim.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .join(
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
    )
    votes = topk.groupBy("query_id", "true_label", "nbr_label").agg(
        F.count(F.lit(1)).alias("n_votes"),
        F.min("rank").alias("__best_rank"),
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
    (`ivf_topk_exact`), ivf_int8 (`ivf_topk_quantized`), pq (`pq_topk`),
    rp (`rp_topk`, JL compression)
    — so the whole report, recall numbers included, replays in SQL and
    is hash-checkable end to end (the production xxhash64 tiers have
    their own quality-floor query, `similarity_ivf`).

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
    # build re-reads (id, vec) from storage otherwise — six parquet
    # scans for one report. Materialized EAGERLY (not lazily) because
    # the tier builds run concurrently below and each would otherwise
    # race to compute the shared subtree's partitions. Values are
    # unchanged — the tiers' own casts/norms apply on top — so every
    # tier's output is bit-identical to its standalone form.
    prep = materialize(embeddings.select(id_col, vec_col))
    embeddings = prep
    qdf = embeddings.where(F.col(id_col).isin(ids))
    # the six tier builds are independent until the metric joins, and
    # several run EAGER driver actions during construction (the exact
    # side's checkpoint, pq/ivf_int8 materializes, sample collects):
    # construct them from a small thread pool so those jobs overlap and
    # back-fill each other's straggler tails (optimization guide §2.6)
    # instead of running strictly one after another
    from concurrent.futures import ThreadPoolExecutor

    builders = {
        "__exact": lambda: materialize(
            cosine_topk(embeddings, qdf, id_col, vec_col, k)
        ),
        "ivf_int8": lambda: ivf_topk_quantized(
            embeddings, ids, k=k, n_centroids=n_centroids, nprobe=nprobe,
            rerank=rerank, id_col=id_col, vec_col=vec_col,
        ),
        "ivf_md5": lambda: ivf_topk_exact(
            embeddings, ids, k=k, n_centroids=n_centroids, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col,
        ),
        "lsh": lambda: lsh_bucket_topk(
            embeddings, qdf, id_col=id_col, vec_col=vec_col, k=k,
            planes=planes, probes=probes,
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
        built = {name: f.result() for name, f in futs.items()}
    exact = built.pop("__exact")
    tiers = built
    ex = exact.select(
        "query_id", "neighbor_id", F.col("rank").alias("rank_e")
    )
    ex_stats = exact.agg(
        F.count_distinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_exact"),
    )
    return _recall_rows(ex, ex_stats, tiers, k)


def _recall_rows(ex, ex_stats, tiers: dict, k: int) -> DataFrame:
    """Shared reduction for the recall dashboards: per-tier left join
    against the exact top-k, candidate-sized aggregation to (tier, k,
    n_queries, n_exact, n_tier, hits, recall, mean_rank_disp)."""
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

    Every stored tier is bit-identical to its in-memory twin (pinned by
    pytest), so the recall NUMBERS replay in DuckDB exactly like
    ``ann_recall_report``'s. The exact side is one brute-force pass for
    the sampled query set; each stored probe reads only its pruned
    partitions (centroid_id for ivf/ivfpq; the RP store is a narrow
    projected table refined via the stored doubles).
    """
    ids = list(query_ids)
    qdf = embeddings.where(F.col(id_col).isin(ids))
    exact = materialize(cosine_topk(embeddings, qdf, id_col, vec_col, k))
    ex = exact.select(
        "query_id", "neighbor_id", F.col("rank").alias("rank_e")
    )
    ex_stats = exact.agg(
        F.count_distinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("n_exact"),
    )
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
    return _recall_rows(ex, ex_stats, tiers, k)


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
    vecs, cvecs, ranked = _ivf_structures(
        embeddings, n_centroids, id_col, vec_col
    )
    vecs = vecs.transform(materialize)
    seeds = (
        vecs.orderBy(F.md5(F.col(id_col).cast("string")), F.col(id_col))
        .limit(codebook_k)
        .collect()
    )
    if not seeds:
        raise ValueError("empty corpus: nothing to index")
    dim = len(seeds[0]["__v"])
    if codebooks is not None:
        m = len(codebooks)
        codebook_k = len(codebooks[0])
        if m * len(codebooks[0][0]) != dim:
            raise ValueError(
                f"codebooks cover {m * len(codebooks[0][0])} dims, data has {dim}"
            )
        sub = dim // m
    else:
        if dim % m != 0:
            raise ValueError(f"dim {dim} not divisible by m={m}")
        sub = dim // m
        codebooks = [
            [[float(x) for x in s["__v"][j * sub : (j + 1) * sub]] for s in seeds]
            for j in range(m)
        ]
    from .cluster import _sq_l2

    def code_expr(j):
        sl = F.slice(F.col("__v"), j * sub + 1, sub)
        darr = F.array(*[_sq_l2(sl, c) for c in codebooks[j]])
        pairs = F.zip_with(
            darr,
            F.sequence(F.lit(0), F.lit(codebook_k - 1)),
            lambda d, i: F.struct(d.alias("d"), i.alias("i")),
        )
        best = F.aggregate(
            pairs,
            F.struct(F.lit(float("inf")).alias("d"), F.lit(-1).alias("i")),
            lambda acc, x: F.when(x["d"] < acc["d"], x).otherwise(acc),
        )
        return best["i"]

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
    assigned = ranked.where(F.col("crk") == 1).select(id_col, "centroid_id")
    (
        vecs.join(assigned, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.col("centroid_id"),
            F.col("__n").alias("n"),
            *[code_expr(j).alias(f"code_{j}") for j in range(m)],
            F.col("__v").alias("v"),
        )
        # one task/file per centroid dir (the postings-write lesson)
        .repartition(F.col("centroid_id"))
        .write.mode("overwrite")
        .partitionBy("centroid_id")
        .parquet(f"{path}/lists")
    )
    literal_df(
        spark,
        [(n_centroids, m, codebook_k, dim)],
        "n_centroids int, m int, codebook_k int, dim int",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


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
    encoded with the stored codebooks (floor-exact argmin, the
    builder's code_expr), and parquet-append inside the existing
    centroid_id partitions. With frozen quantizers, nprobe=all +
    rerank=corpus probes over build(A)+append(B) exactly refine to
    brute-force cosine over A∪B (pinned by test). Caller contract: ids
    must be new."""
    from pyspark.sql import Window

    from .cluster import _sq_l2

    meta = spark.read.parquet(f"{path}/meta").first()
    m, codebook_k = int(meta["m"]), int(meta["codebook_k"])
    sub = int(meta["dim"]) // m
    _validate_append_dim(
        embeddings, vec_col, int(meta["dim"]), f"ivfpq index at {path}"
    )
    cb_rows = spark.read.parquet(f"{path}/codebooks").collect()
    codebooks = [[None] * codebook_k for _ in range(m)]
    for r in cb_rows:
        codebooks[r["subspace"]][r["code"]] = [float(x) for x in r["cvec"]]
    cvecs = spark.read.parquet(f"{path}/centroids")

    embeddings = spread(embeddings)
    vecd = _as_double(F.col(vec_col))
    vecs = embeddings.select(
        F.col(id_col), vecd.alias("__v"), norm(vecd).alias("__n")
    ).where(F.col("__n") > 0)
    ccos = dot("__v", "cv") / (F.col("__n") * F.col("cn"))
    w = Window.partitionBy(id_col).orderBy(
        F.desc("ccos"), F.asc("centroid_id")
    )
    assigned = (
        vecs.crossJoin(F.broadcast(cvecs))
        .select(id_col, "centroid_id", ccos.alias("ccos"), "__v", "__n")
        .withColumn("crk", F.row_number().over(w))
        .where(F.col("crk") == 1)
    )

    def code_expr(j):
        sl = F.slice(F.col("__v"), j * sub + 1, sub)
        darr = F.array(*[_sq_l2(sl, c) for c in codebooks[j]])
        pairs = F.zip_with(
            darr,
            F.sequence(F.lit(0), F.lit(codebook_k - 1)),
            lambda d, i: F.struct(d.alias("d"), i.alias("i")),
        )
        best = F.aggregate(
            pairs,
            F.struct(F.lit(float("inf")).alias("d"), F.lit(-1).alias("i")),
            lambda acc, x: F.when(x["d"] < acc["d"], x).otherwise(acc),
        )
        return best["i"]

    (
        assigned.select(
            F.col(id_col).alias("id"),
            F.col("centroid_id"),
            F.col("__n").alias("n"),
            *[code_expr(j).alias(f"code_{j}") for j in range(m)],
            F.col("__v").alias("v"),
        )
        .repartition(F.col("centroid_id"))
        .write.mode("append")
        .partitionBy("centroid_id")
        .parquet(f"{path}/lists")
    )


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
    ``nprobe`` nearest lists (partition-pruned scan), rank candidates by
    ASYMMETRIC PQ distance — per-query dot-product lookup tables over
    the stored codes; the scan projects only id/n/code columns — then
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
    from pyspark.sql import Window

    meta = spark.read.parquet(f"{path}/meta").first()
    m, codebook_k = meta["m"], meta["codebook_k"]
    sub = meta["dim"] // m
    if rerank is None:
        rerank = 3 * k
    cvecs = spark.read.parquet(f"{path}/centroids")
    cb = spark.read.parquet(f"{path}/codebooks").collect()
    codebooks = [[None] * codebook_k for _ in range(m)]
    for r in cb:
        codebooks[r["subspace"]][r["code"]] = [float(x) for x in r["cvec"]]
    rn2 = [[sum((x * x for x in c), 0.0) for c in cb_j] for cb_j in codebooks]
    qd = _as_double(F.col(vec_col))
    q = queries.select(
        F.col(id_col).alias("query_id"), qd.alias("qv"), norm(qd).alias("qn")
    ).where(F.col("qn") > 0)
    ccos = dot("qv", "cv") / (F.col("qn") * F.col("cn"))
    wq = Window.partitionBy("query_id").orderBy(
        F.desc("ccos"), F.asc("centroid_id")
    )
    probes = (
        q.crossJoin(F.broadcast(cvecs))
        .select("query_id", "qv", "qn", "centroid_id", ccos.alias("ccos"))
        .withColumn("crk", F.row_number().over(wq))
        .where(F.col("crk") <= nprobe)
        .select(
            "query_id",
            "qv",
            "qn",
            "centroid_id",
            *[
                F.array(
                    *[
                        dot(
                            F.slice(F.col("qv"), j * sub + 1, sub),
                            F.array(*[F.lit(x) for x in c]),
                        )
                        for c in codebooks[j]
                    ]
                ).alias(f"dt_{j}")
                for j in range(m)
            ],
        )
    )
    lists = spark.read.parquet(f"{path}/lists")
    codes = lists.select(
        "id", "centroid_id", "n", *[f"code_{j}" for j in range(m)]
    )
    score = F.element_at(F.col("dt_0"), F.col("code_0") + 1)
    rn2_e = F.element_at(
        F.array(*[F.lit(x) for x in rn2[0]]), F.col("code_0") + 1
    )
    for j in range(1, m):
        score = score + F.element_at(F.col(f"dt_{j}"), F.col(f"code_{j}") + 1)
        rn2_e = rn2_e + F.element_at(
            F.array(*[F.lit(x) for x in rn2[j]]), F.col(f"code_{j}") + 1
        )
    adc = F.try_divide(score, F.col("qn") * F.sqrt(rn2_e))
    cand = (
        codes.join(F.broadcast(probes), "centroid_id")
        .where(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            "centroid_id",
            (F.round(adc, 6) + F.lit(0.0)).alias("__adc"),
            "qv",
            "qn",
        )
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.desc_nulls_last("__adc"), F.asc("neighbor_id")
    )
    survivors = cand.withColumn("__rr", F.row_number().over(wr)).where(
        F.col("__rr") <= rerank
    )
    # survivors carry centroid_id so the exact-refine read joins on
    # (centroid_id, neighbor_id): centroid_id is the lists store's
    # partition column, so dynamic partition pruning limits the full
    # `v`-column read to the probed lists instead of the whole store
    refined = survivors.join(
        lists.select(
            F.col("id").alias("neighbor_id"),
            "centroid_id",
            F.col("v").alias("nv"),
            F.col("n").alias("nn"),
        ),
        ["centroid_id", "neighbor_id"],
    ).select(
        "query_id",
        "neighbor_id",
        (dot("qv", "nv") / (F.col("qn") * F.col("nn"))).alias(
            "cosine"
        ),
    )
    wk = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        refined.withColumn("rank", F.row_number().over(wk))
        .where(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            (F.round("cosine", 6) + 0.0).alias("cosine"),
            "rank",
        )
    )


# ---------------------------------------------------------------------------
# random projection (Johnson-Lindenstrauss embedding compression)
# ---------------------------------------------------------------------------

def _rp_sign(j: int, dim: Column) -> Column:
    """Deterministic ±1 from md5(rp{j}|dim) parity — the sign-matrix
    entry s_{j,i} of the Achlioptas (2001) database-friendly random
    projection. Distinct salt family from the LSH planes ("p{n}|"), so
    projections and bucket signatures stay independent."""
    h = F.md5(F.concat(F.lit(f"rp{j}|"), dim.cast("string")))
    nibble = F.conv(F.substring(h, 1, 1), 16, 10).cast("int")
    return F.when(nibble % 2 == 0, F.lit(1.0)).otherwise(F.lit(-1.0))


def _rp_sign_value(j: int, i: int) -> float:
    """Python twin of _rp_sign (true md5 both sides) for literal
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

    Scale shape: the projected table is the only corpus-wide
    intermediate (out_dim doubles + a norm per row); the candidate join
    broadcasts the query side; the refine joins full vectors for
    O(queries x rerank) rows only.

    Output: (query_id, neighbor_id, cosine, rank) — exact cosines.
    """
    from pyspark.sql import Window

    ids = list(query_ids)
    # materialize the NARROW projected table first (out_dim doubles per
    # row — the PQ-codes pattern). Building array/norm over the raw
    # rp_project expressions instead would re-nest all out_dim fold
    # trees into one giant projection (array + norm + filter each
    # duplicate the trees) — measured 19.7 s of codegen at sf0.001 vs
    # 0.3 s this way — and the candidate join would then recompute the
    # folds per candidate pair on both sides.
    proj = materialize(rp_project(embeddings, id_col, vec_col, out_dim, dim=dim))
    pv_s = "array(" + ",".join(f"rp_{j}" for j in range(out_dim)) + ")"
    pvec = proj.selectExpr(
        sqlx.qcol(id_col), f"{pv_s} AS __pv", f"{sqlx.norm_s(pv_s)} AS __pn"
    ).where(F.col("__pn") > 0)
    q = pvec.where(F.col(id_col).isin(ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("__pv").alias("qpv"),
        F.col("__pn").alias("qpn"),
    )
    cand = pvec.join(F.broadcast(q), F.col(id_col) != F.col("query_id")).select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        (
            F.round(
                dot("__pv", "qpv")
                / (F.col("__pn") * F.col("qpn")),
                6,
            )
            + 0.0
        ).alias("rp_cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rp_cosine"), F.asc("neighbor_id")
    )
    cut = cand.withColumn("rp_rank", F.row_number().over(w)).where(
        F.col("rp_rank") <= rerank
    )
    vd = sqlx.as_double_s(sqlx.qcol(vec_col))
    full = embeddings.selectExpr(
        sqlx.qcol(id_col), f"{vd} AS __v", f"{sqlx.norm_s(vd)} AS __n"
    ).where(F.col("__n") > 0)
    qf = full.where(F.col(id_col).isin(ids)).select(
        F.col(id_col).alias("query_id"),
        F.col("__v").alias("qv"),
        F.col("__n").alias("qn"),
    )
    ref = (
        cut.join(full.withColumnRenamed(id_col, "neighbor_id"), "neighbor_id")
        .join(F.broadcast(qf), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            (
                F.round(
                    dot("__v", "qv")
                    / (F.col("__n") * F.col("qn")),
                    6,
                )
                + 0.0
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
    strict folds, 6dp rounding BEFORE ranking), so stored probes are
    bit-identical to the in-memory tier (pinned by test).
    """
    proj = rp_project(embeddings, id_col, vec_col, out_dim, dim=dim)
    pv = F.array(*[F.col(f"rp_{j}") for j in range(out_dim)])
    vecd = _as_double(F.col(vec_col))
    full = embeddings.select(
        F.col(id_col).alias("id"), vecd.alias("v"), norm(vecd).alias("n")
    )
    (
        proj.select(
            F.col(id_col).alias("id"), pv.alias("pv"), norm(pv).alias("pn")
        )
        .join(full, "id")
        .write.mode("overwrite")
        .parquet(f"{path}/vectors")
    )
    spark = embeddings.sparkSession
    literal_df(
        spark, [(out_dim,)], "out_dim int"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/meta")


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
    from ``{path}/meta``. Caller contract: ids must be new."""
    meta = spark.read.parquet(f"{path}/meta").first()
    out_dim = int(meta["out_dim"])
    # the RP meta predates an input-dim field, so pin the input width
    # from a stored exact vector: the md5 sign planes are position
    # functions, so a narrower batch would silently project into a
    # DIFFERENT geometry (a prefix of the planes) and corrupt rankings
    stored = spark.read.parquet(f"{path}/vectors").select(
        F.size("v").alias("d")
    ).first()
    if stored is not None:
        _validate_append_dim(
            embeddings, vec_col, int(stored["d"]), f"rp index at {path}"
        )
    proj = rp_project(embeddings, id_col, vec_col, out_dim, dim=dim)
    pv = F.array(*[F.col(f"rp_{j}") for j in range(out_dim)])
    vecd = _as_double(F.col(vec_col))
    full = embeddings.select(
        F.col(id_col).alias("id"), vecd.alias("v"), norm(vecd).alias("n")
    )
    (
        proj.select(
            F.col(id_col).alias("id"), pv.alias("pv"), norm(pv).alias("pn")
        )
        .join(full, "id")
        .write.mode("append")
        .parquet(f"{path}/vectors")
    )


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
    cosine from the stored doubles. Bit-identical to ``rp_topk`` with
    the same out_dim/rerank (pinned by test); the ranking scan reads
    only (id, pv, pn) — column pruning keeps the wide ``v`` out of the
    corpus-wide pass.

    Pass ``out_dim`` to VALIDATE against the store's pinned meta (same
    loud-refusal convention as ``read_winnow_store``): the stored pv is
    self-describing, but a caller expecting a different projection width
    (e.g. recall dashboards comparing stores) should fail here, not read
    a mismatched index.

    Output: (query_id, neighbor_id, cosine, rank) — exact cosines.
    """
    from pyspark.sql import Window

    if out_dim is not None:
        meta = spark.read.parquet(f"{path}/meta").first()
        if int(meta["out_dim"]) != int(out_dim):
            raise ValueError(
                f"rp index at {path} was built with out_dim="
                f"{meta['out_dim']}, requested out_dim={out_dim}"
            )
    ids = list(query_ids)
    vecs = spark.read.parquet(f"{path}/vectors")
    pvec = vecs.select("id", "pv", "pn").where(F.col("pn") > 0)
    q = pvec.where(F.col("id").isin(ids)).select(
        F.col("id").alias("query_id"),
        F.col("pv").alias("qpv"),
        F.col("pn").alias("qpn"),
    )
    cand = pvec.join(F.broadcast(q), F.col("id") != F.col("query_id")).select(
        "query_id",
        F.col("id").alias("neighbor_id"),
        (
            F.round(
                dot("pv", "qpv")
                / (F.col("pn") * F.col("qpn")),
                6,
            )
            + 0.0
        ).alias("rp_cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rp_cosine"), F.asc("neighbor_id")
    )
    cut = cand.withColumn("rp_rank", F.row_number().over(w)).where(
        F.col("rp_rank") <= rerank
    )
    full = vecs.select("id", "v", "n").where(F.col("n") > 0)
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
                F.round(
                    dot("v", "qv")
                    / (F.col("n") * F.col("qn")),
                    6,
                )
                + 0.0
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
