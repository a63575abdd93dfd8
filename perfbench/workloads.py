"""The benchmark's workloads. Each drives only the library's public API.

A workload generates the inputs of op ``i`` (untimed; ``prepare`` returns
the input files' paths first), runs op ``i`` (timed, split into per-batch
``write`` steps and one ``merge`` step, each as (wall, CPU) seconds of
the process tree) and checks the op's output against
the generator's ground truth (untimed).
"""

from __future__ import annotations

import os
import statistics
import time

from perfbench import checks, gen
from perfbench.proctree import since, stamp
from perfbench.tracing import Tracer

THRESHOLD = 0.5


class StoreLog:
    """Many small per-batch profiles on the wire format, merged as they land.

    Op ``i``: ``write_profile_bin`` appends each of the op's
    ``BATCHES_PER_OP`` batches to the log (profile, sketch and
    frequent-items passes, written as protobuf), then
    ``merge_profile_bins`` merges the new files into the running merged
    profile and ``read_profile_bin`` reads the result back. The merged
    profile keeps one message per tag, so warmed ops do equal work.
    """

    name = "store_log"
    # one batch per op: with two, a run took 60-70 s on a quiet 4-vCPU host
    # and 75-105 s while other tenants took 5-18% of its CPU, past the
    # share of the time budget a run has. Every end-to-end timing is a
    # median over the measured ops, so the per-call variation (about 7% of
    # CPU) is averaged across ops rather than inside one
    BATCHES_PER_OP = 1
    # process-tree CPU per op fell from 50-61 s (first op) through 14-21
    # and 11-15 s to 10-12 s and 8.4-11.4 s at the fourth and fifth ops
    # (5,000-row batches, 4 vCPUs, ten seeds). The first op and two
    # warm-up ops cover the steep part of the slope; the measured ops
    # still fall by about a tenth from one to the next, in every run alike
    WARMUP_OPS = 2
    # measured ops: two, so that a run on a loaded host stays inside its
    # share of the time budget
    MIN_OPS = 2

    def __init__(self, spark, work: str, seed: int, tiny: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.batch_rows = 500 if tiny else 5_000
        self.rows_per_op = self.batch_rows * self.BATCHES_PER_OP
        self.truth: dict[str, gen.TagTruth] = {}
        self.merged: str | None = None
        self.last_bin_bytes: list[int] = []

    def layout(self) -> str:
        return (
            f"one parquet file, one row group of {self.batch_rows} rows x 12 columns "
            f"per batch, {self.BATCHES_PER_OP} batches per op"
        )

    def prepare(self, i: int):
        paths, truths = [], []
        for k in range(self.BATCHES_PER_OP):
            b = i * self.BATCHES_PER_OP + k
            path = os.path.join(self.work, "batches", f"b{b}.parquet")
            truths.append(gen.table_batch(self.seed, b, self.batch_rows, path))
            paths.append(path)
        return paths, truths

    def run(self, i: int, prepared, tracer: Tracer) -> tuple[dict[str, list], dict]:
        from whylogs_java_spark.sources.protobuf import (
            merge_profile_bins,
            read_profile_bin,
            write_profile_bin,
        )

        paths, truths = prepared
        bins, writes = [], []
        for path in paths:
            bin_path = os.path.join(self.work, "log", os.path.basename(path) + ".bin")
            t0 = stamp()
            with tracer.span("sources.write_profile_bin", i, tag_jobs=True):
                write_profile_bin(
                    self.spark.read.parquet(path), bin_path, group_by=["tag"],
                    null_strings=gen.NULL_STRINGS,
                )
            writes.append(since(t0))
            bins.append(bin_path)
        out = os.path.join(self.work, "merged", f"m{i}.bin")
        t1 = stamp()
        with tracer.span("sources.merge_profile_bins", i, tag_jobs=True):
            merge_profile_bins(self.spark, bins + ([self.merged] if self.merged else []), out)
        with tracer.span("sources.read_profile_bin", i, tag_jobs=True):
            rows = [r.asDict() for r in read_profile_bin(self.spark, out).collect()]
        merge = since(t1)
        self.last_bin_bytes = [os.path.getsize(b) for b in bins]
        for b in bins + ([self.merged] if self.merged else []):
            os.remove(b)
        self.merged = out
        for truth in truths:
            for tag, tt in truth.items():
                self.truth.setdefault(tag, gen.TagTruth()).add(tt)
        return {"write": writes, "merge": [merge]}, {"merged": rows}

    def check(self, prepared, out) -> list[str]:
        return checks.check_store_log(out["merged"], self.truth)

    def layer_counts(self, prepared, out) -> dict[str, float]:
        """Traced-mode counts measured outside the op: the lazy plan build
        of a batch's profile and the size of the generated SQL."""
        from whylogs_java_spark import profile
        from whylogs_java_spark.plans.spark_sql import build_atoms_sql

        df = self.spark.read.parquet(prepared[0][0])
        t0 = time.perf_counter()
        profile(df, group_by=["tag"], null_strings=gen.NULL_STRINGS)
        build_s = time.perf_counter() - t0
        schema = {f.name: f.dataType for f in df.schema.fields}
        sql, _ = build_atoms_sql("{src}", schema, ["tag"], None, "day", None, gen.NULL_STRINGS)
        return {
            "plans.build_s": build_s,
            "plans.sql_kb": len(sql.encode()) / 1024,
            "sources.bin_kb_per_batch": statistics.mean(self.last_bin_bytes) / 1024,
        }


class DedupNear:
    """Near-duplicate pairs, then clusters, over a fresh document slice per op.

    Op ``i``: ``near_dup_pairs(text, id, threshold=0.5)`` over slice ``i``,
    fully materialized by ``collect`` (``write``: the step over the
    batch), then ``resolve_clusters`` merges the pairs into clusters of
    near-duplicates (``merge``). The pairs are cached between the two, as
    a dedup pipeline that keeps them would, so the second step does not
    recompute them.
    """

    name = "dedup_near"
    # process-tree CPU per op fell from 39-52 s (first op) through 13-17 s
    # to 10-13 s at the third and fourth ops and 8-10.7 s after them
    # (10,000 documents, 4 vCPUs, ten seeds). The first op and two warm-up
    # ops cover the steep part of the slope
    WARMUP_OPS = 2
    # measured ops: resolve_clusters propagates labels for as many rounds
    # as its slice's graph needs, so its CPU varied from 0.7 to 1.4 s
    # between the ops of one run, and a median over three ops moved by
    # about a fifth from run to run. Five ops at 3-5 s each outlast
    # --seconds 6
    MIN_OPS = 5

    def __init__(self, spark, work: str, seed: int, tiny: bool):
        self.spark, self.work, self.seed = spark, work, seed
        self.rows_per_op = 1_000 if tiny else 10_000

    def layout(self) -> str:
        return f"one parquet file, one row group of {self.rows_per_op} documents per slice"

    def prepare(self, i: int):
        path = os.path.join(self.work, "corpus", f"c{i}.parquet")
        return [path], gen.corpus(self.seed, i, self.rows_per_op, path)

    def run(self, i: int, prepared, tracer: Tracer) -> tuple[dict[str, list], dict]:
        from whylogs_java_spark.operators.dedup import near_dup_pairs, resolve_clusters

        df = self.spark.read.parquet(prepared[0][0])
        pairs = None
        t0 = stamp()
        try:
            with tracer.span("operators.near_dup_pairs", i, tag_jobs=True):
                pairs = near_dup_pairs(df, "text", "id", threshold=THRESHOLD).cache()
                pair_rows = [r.asDict() for r in pairs.collect()]
            write = since(t0)
            t1 = stamp()
            with tracer.span("operators.resolve_clusters", i, tag_jobs=True):
                clusters = [
                    r.asDict()
                    for r in resolve_clusters(
                        pairs.select("id_a", "id_b"), df.select("id"), "id"
                    ).collect()
                ]
            merge = since(t1)
        finally:
            if pairs is not None:
                pairs.unpersist()
        return {"write": [write], "merge": [merge]}, {"pairs": pair_rows, "clusters": clusters}

    def check(self, prepared, out) -> list[str]:
        return checks.check_dedup(out["pairs"], prepared[1], THRESHOLD) + checks.check_clusters(
            out["clusters"], out["pairs"], prepared[1]
        )

    def layer_counts(self, prepared, out) -> dict[str, float]:
        """Traced-mode counts measured outside the op: LSH candidate pairs
        from the public signature functions, and the share of them (and of
        the planted pairs) that ``near_dup_pairs`` returned."""
        from pyspark.sql import functions as F

        from whylogs_java_spark.operators.dedup import (
            lsh_band_signatures,
            minhash_signatures,
        )

        df = self.spark.read.parquet(prepared[0][0])
        bands = lsh_band_signatures(minhash_signatures(df, "text", "id"), "id")
        a = bands.select(F.col("id").alias("id_a"), "band", "band_sig")
        b = bands.select(F.col("id").alias("id_b"), "band", "band_sig")
        candidates = (
            a.join(b, ["band", "band_sig"]).where("id_a < id_b")
            .select("id_a", "id_b").distinct().count()
        )
        pairs = out["pairs"]
        return {
            "operators.dedup_candidates": float(candidates),
            "operators.dedup_yield": len(pairs) / candidates if candidates else 0.0,
            "operators.dedup_recall": checks.dedup_recall(pairs, prepared[1], THRESHOLD),
        }


WORKLOADS = {w.name: w for w in (StoreLog, DedupNear)}
