"""Lineage materialization seam — local vs reliable checkpoints.

Operators sever lineage at reuse boundaries (CC iteration edges, print
tables, feature tables, multi-consumer intermediates) with
``df.transform(materialize)``. The default is ``localCheckpoint(eager)``:
executor-block storage, no configuration, the right call on local[*] and
the fast path on a cluster — but local checkpoints do NOT survive
executor loss (SCALE.md "what changes on a real cluster", item 1).

For long jobs on preemptible fleets, flip to RELIABLE checkpoints —
written to ``sparkContext.setCheckpointDir`` (HDFS/object store), which
survive executor loss:

    spark.sparkContext.setCheckpointDir("hdfs://.../ckpt")
    set_reliable_checkpoints(True)          # or WHYLOGS_SPARK_RELIABLE_CKPT=1

Every operator that materializes goes through this one seam, so the flag
flips the whole engine at once; the chaos test in
tests/test_scale_paths.py proves both modes produce identical results.
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import DataFrame

_RELIABLE = False
_FALLBACK_WARNED = False


def set_reliable_checkpoints(enabled: bool) -> None:
    """Process-wide switch: reliable (checkpoint-dir) materialization
    instead of local checkpoints. Requires ``setCheckpointDir`` first."""
    global _RELIABLE
    _RELIABLE = bool(enabled)


def reliable_checkpoints_enabled() -> bool:
    return _RELIABLE or os.environ.get(
        "WHYLOGS_SPARK_RELIABLE_CKPT", ""
    ) not in ("", "0", "false", "False")


def spread(df: DataFrame) -> DataFrame:
    """Repartition up to defaultParallelism when the input arrives in fewer
    partitions than cores (the small-file regime: a few-MB parquet scans as
    1-2 partitions, so a CPU-heavy explode would use 2 of 32 cores). At
    cluster scale the scan already has more partitions than cores and this
    is a no-op — the guard ensures the full-corpus reshuffle only happens
    exactly when it is cheap. Only ever grows the partition count.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly materialize ``df`` and sever its lineage.

    Local mode (default): ``localCheckpoint(eager=True)``. Reliable
    mode: ``checkpoint(eager=True)`` against the session's checkpoint
    dir — raises a clear error if no dir is configured rather than the
    opaque Py4J failure Spark would throw mid-job.
    """
    if reliable_checkpoints_enabled():
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise RuntimeError(
                "reliable checkpoints enabled but no checkpoint dir is set; "
                "call spark.sparkContext.setCheckpointDir(<fault-tolerant "
                "path>) first"
            )
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def release(df: DataFrame) -> None:
    """Free the checkpoints ``df`` reads (the RDD-backed leaves of its
    plan) once every consumer has run; otherwise they stay held until
    the context cleaner collects them. Call it only on frames whose
    RDD-backed leaves the caller created."""
    leaves = df._jdf.queryExecution().analyzed().collectLeaves()
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRDD":
            leaf.rdd().unpersist(True)


def materialize_lazy(df: DataFrame) -> DataFrame:
    """Checkpoint ``df`` WITHOUT spending a driver action now: the
    materialization (and lineage truncation) happens as a side effect of
    the caller's NEXT action instead of an extra eager job.

    Two uses, both action-count wins (guide §5):

    - checkpoint-then-action fusion: a following ``count()``/collect
      materializes the pipeline and reads the answer in ONE job instead
      of an eager-checkpoint job plus an action job (iterative loops
      halve their per-round jobs);
    - zero-action plan dedup: a subtree consumed by several branches of
      one final plan is computed and persisted once at the first action
      instead of being replicated per consumer (and the plan Catalyst
      must analyze shrinks accordingly).

    Cheapest when the first action computes every partition (any full
    aggregate, write, or shuffle-consuming join — every call site in
    this package). A PARTIAL first action (``take``/``isEmpty``) is
    still CORRECT: local checkpointing computes any missing partitions
    in a fill-in job before truncating lineage — it just costs that
    extra job, which eager materialization would have paid anyway.
    """
    if reliable_checkpoints_enabled():
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            raise RuntimeError(
                "reliable checkpoints enabled but no checkpoint dir is set; "
                "call spark.sparkContext.setCheckpointDir(<fault-tolerant "
                "path>) first"
            )
        return df.checkpoint(eager=False)
    return df.localCheckpoint(eager=False)


def literal_df(spark, rows, schema: str) -> DataFrame:
    """Small literal table as a JVM-side ``LocalRelation``.

    ``spark.createDataFrame(list, schema)`` materializes a
    ``LogicalRDD`` whose EVERY action re-evaluates the rows through a
    Python runner — measured ~5-15 s per action under local[32], so a
    store builder that writes a literal centroid table plus reads it
    back pays tens of seconds of pure interpreter spin-up. Routing
    the same rows through a pandas frame (Arrow conversion, names and
    types assigned positionally by ``schema``) yields a
    ``LocalRelation`` that every consumer evaluates entirely JVM-side.

    For CURATED literal tables only (centroid codebooks, merge tables): exact floats/ints/strings/arrays round-trip through Arrow
    bit-identically, but pandas coerces None in NUMERIC columns to NaN
    — callers with nullable numeric literals keep the plain path. Rows
    the pandas/Arrow route refuses fall back to the plain path too, with
    a ``RuntimeWarning`` the first time in a process: that path is the
    slow one above, so it is never taken silently.
    """
    global _FALLBACK_WARNED
    if not rows:
        return spark.createDataFrame([], schema)
    try:
        import pandas as pd

        return spark.createDataFrame(
            pd.DataFrame([tuple(r) for r in rows]), schema=schema
        )
    except Exception as e:
        if not _FALLBACK_WARNED:
            _FALLBACK_WARNED = True
            warnings.warn(
                f"literal_df: Arrow refused the rows ({type(e).__name__}: {e}); "
                "they take the Python-runner path, which re-evaluates them on "
                "every action (warned once per process)",
                RuntimeWarning,
                stacklevel=2,
            )
        return spark.createDataFrame(rows, schema)
