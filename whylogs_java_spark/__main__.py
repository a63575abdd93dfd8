"""CLI entry point — the engine's equivalent of the reference's picocli
``Profiler`` command (cli/src/main/java/com/whylogs/cli/Profiler.java:
read CSV with optional datetime parsing and row limit, profile, emit
profiles). Output formats:

- ``parquet``: mergeable atom rows (the durable second-phase-merge form)
- ``json``: finalized per-(group, column) summary, one JSON object per row
  (Profiler.java:150-168 / ProfileViewer.java:78-97 shape)
- ``bin``: wire-compatible delimited DatasetProfileMessage stream readable
  by any whylogs client (DatasetProfile.java:302-368)

Usage:
  python -m whylogs_java_spark INPUT -o OUT [--format parquet|json|bin]
      [--input-format csv|parquet] [--group-by col[,col]]
      [--time-column col --granularity day] [--datetime-col col
      --datetime-format fmt] [--limit N] [--null-strings NA,null]
      [--coerce-strings] [--session-id ID]
"""

from __future__ import annotations

import argparse
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m whylogs_java_spark",
        description="Profile a CSV/parquet dataset (whylogs-style).",
    )
    p.add_argument("input", help="input file or glob")
    p.add_argument("-o", "--output", required=True, help="output path")
    p.add_argument("--format", choices=["parquet", "json", "bin"], default="parquet")
    p.add_argument("--input-format", choices=["csv", "parquet"], default=None)
    p.add_argument("--group-by", default="", help="comma-separated group columns")
    p.add_argument("--time-column", default=None)
    p.add_argument("--granularity", default="day")
    p.add_argument("--datetime-col", default=None, help="CSV column to parse as datetime")
    p.add_argument("--datetime-format", default=None, help="Java datetime pattern")
    p.add_argument("--limit", type=int, default=None, help="row limit (Profiler -limit)")
    p.add_argument("--delimiter", default=",")
    p.add_argument("--null-strings", default="", help="comma-separated null strings")
    p.add_argument("--coerce-strings", action="store_true",
                   help="enable TypedDataConverter string matching")
    p.add_argument("--session-id", default="whylogs-java-spark-cli")
    p.add_argument(
        "--chunk-bytes", type=int, default=None,
        help="with --format bin: emit <=N-byte column chunks per group "
             "(the reference's ~1MB segment stream; merge-to-whole on read)",
    )
    return p


SUBCOMMANDS = (
    "dedup", "drift", "constraints", "monitor", "view", "redact", "shards",
    "blocklist", "split", "pack", "novelty", "project", "winnow", "search",
    "quota", "decontam", "tokenize", "clean", "tier", "score",
)


def _read_input(spark, path: str, limit: int | None = None):
    if path.endswith(".csv"):
        from .sources.csv import read_csv

        return read_csv(spark, path, limit=limit)
    df = spark.read.parquet(path)
    return df.limit(limit) if limit is not None else df


def _run_dedup(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark dedup")
    p.add_argument("input")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--id-col", required=True)
    p.add_argument("--text-col", default=None, help="for text methods")
    p.add_argument("--vec-col", default=None, help="for semantic")
    p.add_argument(
        "--method",
        choices=["exact", "minhash", "simhash", "semantic", "winnow"],
        default="minhash",
    )
    p.add_argument("--threshold", type=float, default=0.5,
                   help="jaccard (minhash) / cosine (semantic) / "
                        "print-overlap (winnow)")
    p.add_argument("--max-hamming", type=int, default=3, help="simhash")
    p.add_argument("--winnow-k", type=int, default=5,
                   help="winnow: k-gram size")
    p.add_argument("--winnow-window", type=int, default=4,
                   help="winnow: selection window")
    p.add_argument("--min-shared", type=int, default=2,
                   help="winnow: min shared prints per pair")
    p.add_argument("--pairs", action="store_true",
                   help="emit the pair list instead of survivor rows")
    p.add_argument("--build-store", metavar="PATH", default=None,
                   help="minhash only: persist a signature store at PATH "
                        "(bands + shingle arrays + meta) instead of "
                        "deduplicating; probe later with --probe-store")
    p.add_argument("--probe-store", metavar="PATH", default=None,
                   help="minhash only: screen the input batch against a "
                        "persisted signature store (incremental ingest; "
                        "emits cross pairs, never recomputes ref "
                        "signatures)")
    a = p.parse_args(argv)
    # fail at the argparse layer, not deep inside the operator with an
    # opaque py4j error: text methods need --text-col, semantic --vec-col
    if a.method in ("exact", "minhash", "simhash", "winnow") and not a.text_col:
        p.error(f"--text-col is required for --method {a.method}")
    if a.method == "semantic" and not a.vec_col:
        p.error("--vec-col is required for --method semantic")
    if (a.build_store or a.probe_store) and a.method != "minhash":
        p.error("--build-store/--probe-store require --method minhash")
    if a.build_store and a.probe_store:
        p.error("pass only one of --build-store / --probe-store")
    from .session import get_spark

    spark = get_spark("whylogs-cli-dedup")
    try:
        df = _read_input(spark, a.input)
        if a.method == "minhash" and a.build_store:
            from .operators.dedup import build_minhash_store

            build_minhash_store(df, a.build_store, a.text_col, a.id_col)
            print(f"wrote minhash signature store to {a.build_store}")
            return 0
        if a.method == "minhash" and a.probe_store:
            from .operators.dedup import cross_dedup_stored

            out = cross_dedup_stored(
                spark, a.probe_store, df, a.text_col, a.id_col,
                threshold=a.threshold,
            )
            out.write.mode("overwrite").parquet(a.output)
            print(f"wrote stored-probe cross pairs to {a.output}")
            return 0
        if a.method == "exact":
            from .operators.dedup import exact_dedup

            out = exact_dedup(df, a.text_col, a.id_col)
        elif a.method == "minhash":
            from .operators.dedup import near_dup_clusters, near_dup_pairs

            out = (
                near_dup_pairs(df, a.text_col, a.id_col, threshold=a.threshold)
                if a.pairs
                else near_dup_clusters(
                    df, a.text_col, a.id_col, threshold=a.threshold
                )
            )
        elif a.method == "simhash":
            from .operators.dedup import resolve_clusters, simhash_pairs

            out = simhash_pairs(
                df, a.text_col, a.id_col, max_hamming=a.max_hamming
            )
            if not a.pairs:
                out = resolve_clusters(
                    out.select("id_a", "id_b"), df.select(a.id_col), a.id_col
                )
        elif a.method == "winnow":
            from .operators.dedup import resolve_clusters, winnow_pairs

            out = winnow_pairs(
                df, a.text_col, a.id_col, k=a.winnow_k,
                window=a.winnow_window, min_shared=a.min_shared,
                min_overlap=a.threshold,
            )
            if not a.pairs:
                out = resolve_clusters(
                    out.select("id_a", "id_b"), df.select(a.id_col), a.id_col
                )
        else:
            from .operators.cluster import semantic_dedup, semantic_dedup_pairs

            fn = semantic_dedup_pairs if a.pairs else semantic_dedup
            out = fn(df, a.threshold, id_col=a.id_col, vec_col=a.vec_col)
        out.write.mode("overwrite").parquet(a.output)
        print(f"wrote {a.method} dedup output to {a.output}")
        return 0
    finally:
        spark.stop()


def _run_drift(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark drift")
    p.add_argument("input_a")
    p.add_argument("input_b")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--column", required=True)
    p.add_argument("--group-by", default="")
    p.add_argument("--bins", type=int, default=10)
    p.add_argument("--categorical", action="store_true")
    p.add_argument("--embedding", action="store_true",
                   help="COLUMN is an array vector column: embedding-"
                        "space drift (cosine/L2 of means, per-dim shift)")
    a = p.parse_args(argv)
    if a.categorical and a.embedding:
        p.error("pass only one of --categorical / --embedding")
    from .session import get_spark

    spark = get_spark("whylogs-cli-drift")
    try:
        da, db = _read_input(spark, a.input_a), _read_input(spark, a.input_b)
        keys = [c for c in a.group_by.split(",") if c]
        if a.embedding:
            from .operators.drift import embedding_drift

            if keys:
                p.error("--group-by is not supported with --embedding")
            out = embedding_drift(da, db, a.column)
        elif a.categorical:
            from .operators.drift import categorical_drift

            out = categorical_drift(da, db, a.column, group_by=keys)
        else:
            from .operators.drift import numeric_drift, quantile_splits

            splits = quantile_splits(da, db, a.column, bins=a.bins)
            out = numeric_drift(da, db, a.column, splits=splits, group_by=keys)
        out.write.mode("overwrite").parquet(a.output)
        print(f"wrote drift report to {a.output}")
        return 0
    finally:
        spark.stop()


def _run_constraints(argv: list[str]) -> int:
    """CI-gate semantics: exit 1 when any expectation fails."""
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark constraints")
    p.add_argument("input")
    p.add_argument("--rules", required=True,
                   help="JSON file: [[column, metric, op, threshold], ...]")
    p.add_argument("-o", "--output", default=None,
                   help="optional parquet report path")
    p.add_argument("--group-by", default="")
    a = p.parse_args(argv)
    import json as _json

    from .session import get_spark

    with open(a.rules) as fh:
        rules = [tuple(r) for r in _json.load(fh)]
    spark = get_spark("whylogs-cli-constraints")
    try:
        df = _read_input(spark, a.input)
        keys = [c for c in a.group_by.split(",") if c]
        from .operators.constraints import check_constraints
        from .operators.profile import profile

        checked = check_constraints(
            profile(df, group_by=keys), rules, keys=keys
        )
        rows = checked.collect()
        if a.output:
            checked.write.mode("overwrite").parquet(a.output)
        failed = [r for r in rows if not r["passed"]]
        for r in sorted(rows, key=lambda r: r["rule_id"]):
            state = "PASS" if r["passed"] else "FAIL"
            obs = r["observed_str"] if r["observed_str"] is not None else r["observed_num"]
            print(
                f"[{state}] {r['column_name']} {r['metric']} {r['op']} "
                f"{r['threshold']} (observed: {obs})"
            )
        print(f"{len(rows) - len(failed)}/{len(rows)} expectations passed")
        return 1 if failed else 0
    finally:
        spark.stop()


def _run_monitor(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark monitor")
    p.add_argument("store", help="profile-store parquet (long format)")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--metric", default="mean")
    p.add_argument("--time-col", default="dataset_timestamp")
    p.add_argument("--window", type=int, default=7)
    p.add_argument("--z", type=float, default=3.0)
    a = p.parse_args(argv)
    from .session import get_spark

    spark = get_spark("whylogs-cli-monitor")
    try:
        store = spark.read.parquet(a.store)
        from .operators.monitor import metric_anomalies

        out = metric_anomalies(
            store, a.metric, a.time_col, window=a.window, z=a.z
        )
        out.write.mode("overwrite").parquet(a.output)
        n = out.where("is_anomaly").count()
        print(f"wrote monitor report to {a.output} ({n} anomalies)")
        return 0
    finally:
        spark.stop()


def _run_view(argv: list[str]) -> int:
    """Serialized whylogs binary profile -> JSON summaries + stdout table
    (ProfileViewer.java:78-97: parse each delimited DatasetProfileMessage,
    key the summaries by the session timestamp's ISO date, write JSON;
    default output path = <input-basename>.json beside the input, refuse
    to overwrite an existing file)."""
    import json as _json
    import os as _os

    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark view")
    p.add_argument("-i", "--input", required=True,
                   help="binary output of the profiler (delimited messages)")
    p.add_argument("-o", "--output", default=None,
                   help="output JSON file; default <input-basename>.json "
                        "next to the input")
    p.add_argument("--force", action="store_true",
                   help="overwrite an existing output file")
    a = p.parse_args(argv)
    if not _os.path.exists(a.input):
        print(f"ABORTING! Input file does not exist at: {a.input}",
              file=sys.stderr)
        return 1
    out = a.output or _os.path.join(
        _os.path.dirname(_os.path.abspath(a.input)),
        _os.path.splitext(_os.path.basename(a.input))[0] + ".json",
    )
    if _os.path.exists(out) and not a.force:
        print(f"ABORTING! Output file already exists at: {out}",
              file=sys.stderr)
        return 1
    from .session import get_spark

    spark = get_spark("whylogs-cli-view")
    try:
        from .sources.protobuf import read_profile_bin

        # profiles are O(columns x sketch constants) small by construction
        # — the reference viewer likewise builds the whole summary in
        # memory; only the PARSE is distributed
        rows = (
            read_profile_bin(spark, a.input)
            .drop("kll", "theta", "hll", "items")
            .collect()
        )
        summaries: dict[str, dict] = {}
        for r in sorted(rows, key=lambda r: (r["msg_index"], r["column_name"])):
            d = r.asDict(recursive=True)
            ts_ms = d.pop("session_timestamp") or 0
            day = time.strftime("%Y-%m-%d", time.gmtime(ts_ms / 1000.0))
            prof = summaries.setdefault(
                day,
                {
                    "session_id": d["session_id"],
                    "session_timestamp": ts_ms,
                    "tags": d["tags"],
                    "metadata": d["metadata"],
                    "columns": {},
                },
            )
            for k in ("path", "msg_index", "session_id", "tags", "metadata"):
                d.pop(k, None)
            prof["columns"][d.pop("column_name")] = d
        with open(out, "w") as f:
            _json.dump({"profiles": summaries}, f, indent=2, sort_keys=True)
        for day, prof in sorted(summaries.items()):
            print(f"profile {day} ({len(prof['columns'])} columns)")
            for name, c in sorted(prof["columns"].items()):
                print(
                    f"  {name}: count={c['count']} null={c['null_count']} "
                    f"n={c['n']} min={c['min']} max={c['max']} "
                    f"mean={c['mean']}"
                )
        print(f"wrote JSON summary to {out}")
        return 0
    finally:
        spark.stop()


def _run_redact(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark redact")
    p.add_argument("input")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--id-col", required=True)
    p.add_argument("--text-col", required=True)
    p.add_argument(
        "--kinds", default="email,ipv4,phone",
        help="comma-separated PII kinds, applied in order",
    )
    a = p.parse_args(argv)
    from .operators.text import PII_PATTERNS

    kinds = tuple(k for k in a.kinds.split(",") if k)
    bad = [k for k in kinds if k not in PII_PATTERNS]
    if bad:
        p.error(f"unknown PII kinds {bad}; choose from {sorted(PII_PATTERNS)}")
    from .session import get_spark

    spark = get_spark("whylogs-cli-redact")
    try:
        from .operators.text import pii_redact

        df = _read_input(spark, a.input)
        out = pii_redact(df, a.text_col, a.id_col, kinds=kinds)
        out.write.mode("overwrite").parquet(a.output)
        n = out.where(out.n_redactions > 0).count()
        print(f"wrote redacted corpus to {a.output} ({n} docs touched)")
        return 0
    finally:
        spark.stop()


def _run_shards(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark shards")
    p.add_argument("input")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--id-col", required=True)
    p.add_argument("--token-col", required=True)
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--n-shards", type=int, default=None)
    g.add_argument("--target-tokens", type=int, default=None)
    p.add_argument("--salt", default="")
    a = p.parse_args(argv)
    from .session import get_spark

    spark = get_spark("whylogs-cli-shards")
    try:
        from .sources.shards import export_training_shards

        df = _read_input(spark, a.input)
        manifest = export_training_shards(
            df, a.output, a.id_col, a.token_col,
            n_shards=a.n_shards, target_tokens_per_shard=a.target_tokens,
            salt=a.salt,
        )
        rows = manifest.orderBy("shard").collect()
        for r in rows:
            print(f"shard={r['shard']} docs={r['n_docs']} tokens={r['n_tokens']}")
        print(f"wrote {len(rows)} shard(s) to {a.output}")
        return 0
    finally:
        spark.stop()


def _run_blocklist(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark blocklist")
    p.add_argument("input")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--terms", help="comma-separated blocked terms/phrases")
    g.add_argument("--terms-file", help="one term per line")
    p.add_argument(
        "--drop", action="store_true",
        help="write surviving source rows instead of the per-doc report",
    )
    a = p.parse_args(argv)
    if a.terms is not None:
        terms = tuple(t.strip() for t in a.terms.split(",") if t.strip())
    else:
        with open(a.terms_file) as fh:
            terms = tuple(ln.strip() for ln in fh if ln.strip())
    from .session import get_spark

    spark = get_spark("whylogs-cli-blocklist")
    try:
        from pyspark.sql import functions as F

        from .operators.text import blocklist_filter

        df = _read_input(spark, a.input)
        report = blocklist_filter(df, a.text_col, a.id_col, terms)
        if a.drop:
            keep = report.where(~F.col("blocked")).select(a.id_col)
            out = df.join(keep, a.id_col, "left_semi")
            out.write.mode("overwrite").parquet(a.output)
            n_in = df.count()
            n_out = spark.read.parquet(a.output).count()
            print(f"kept {n_out}/{n_in} docs -> {a.output}")
        else:
            report.write.mode("overwrite").parquet(a.output)
            n = report.where(F.col("blocked")).count()
            print(f"flagged {n} doc(s); report -> {a.output}")
        return 0
    finally:
        spark.stop()


def _parse_fractions(spec: str):
    out = []
    for part in spec.split(","):
        label, _, frac = part.partition("=")
        out.append((label.strip(), float(frac)))
    return tuple(out)


def _run_split(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark split")
    p.add_argument("input")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument(
        "--fractions", default="train=0.8,val=0.1,test=0.1",
        help="label=frac[,label=frac...] summing to 1",
    )
    p.add_argument("--salt", default="")
    p.add_argument(
        "--leakage-safe", action="store_true",
        help="split at near-dup-cluster granularity (MinHash-LSH + CC) "
        "so near-copies never straddle splits; plain per-id hash split "
        "otherwise",
    )
    p.add_argument("--threshold", type=float, default=0.5)
    p.add_argument("--shingle-size", type=int, default=3)
    a = p.parse_args(argv)
    splits = _parse_fractions(a.fractions)
    from .session import get_spark

    spark = get_spark("whylogs-cli-split")
    try:
        from pyspark.sql import functions as F

        df = _read_input(spark, a.input)
        if a.leakage_safe:
            from .operators.pipeline import leakage_safe_splits

            out = leakage_safe_splits(
                df, a.text_col, a.id_col, splits, threshold=a.threshold,
                shingle_size=a.shingle_size, salt=a.salt,
            )
        else:
            from .operators.sampling import assign_splits

            out = assign_splits(df.select(a.id_col), a.id_col, splits, salt=a.salt)
        out.write.mode("overwrite").parquet(a.output)
        counts = {
            r["split"]: r["n"]
            for r in out.groupBy("split").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        print(
            "split sizes: "
            + ", ".join(f"{k}={v}" for k, v in sorted(counts.items()))
            + f" -> {a.output}"
        )
        return 0
    finally:
        spark.stop()


def _run_pack(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark pack")
    p.add_argument("input")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--context-len", type=int, default=512)
    p.add_argument("--sep-tokens", type=int, default=0)
    p.add_argument("--strata", default="", help="comma-separated stratum cols")
    a = p.parse_args(argv)
    from .session import get_spark

    spark = get_spark("whylogs-cli-pack")
    try:
        from pyspark.sql import functions as F

        from .operators.text import pack_assign

        df = _read_input(spark, a.input)
        strata = [c for c in a.strata.split(",") if c]
        out = pack_assign(
            df, a.text_col, a.id_col, context_len=a.context_len,
            strata=strata or None, sep_tokens=a.sep_tokens,
        )
        out.write.mode("overwrite").parquet(a.output)
        stats = out.agg(
            F.sum("n_tokens").alias("tokens"),
            (F.max("last_context") + 1).alias("contexts"),
        ).first()
        print(
            f"packed {stats['tokens']} tokens into <= {stats['contexts']} "
            f"contexts of {a.context_len} -> {a.output}"
        )
        return 0
    finally:
        spark.stop()


def _run_novelty(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark novelty")
    p.add_argument("input", help="incoming batch (or the reference "
                                 "corpus with --build-store)")
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--ref", help="existing-corpus path (grams derived "
                                 "per run)")
    g.add_argument("--ref-store", help="persisted gram store path "
                                       "(build once with --build-store)")
    g.add_argument("--build-store", metavar="PATH",
                   help="reduce INPUT to a persisted gram store at PATH "
                        "and exit (screen later with --ref-store)")
    p.add_argument("-o", "--output", default=None)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("-n", "--ngram", type=int, default=5)
    p.add_argument("--broadcast-ref", action="store_true")
    a = p.parse_args(argv)
    if a.build_store is None and a.output is None:
        p.error("-o/--output is required unless --build-store")
    from .session import get_spark

    spark = get_spark("whylogs-cli-novelty")
    try:
        from pyspark.sql import functions as F

        from .operators.decontam import (
            build_gram_store,
            ngram_novelty,
            read_gram_store,
        )

        if a.build_store:
            ref = _read_input(spark, a.input)
            build_gram_store(ref, a.build_store, a.text_col, n=a.ngram)
            print(f"wrote gram store (n={a.ngram}) to {a.build_store}")
            return 0
        cur = _read_input(spark, a.input)
        if a.ref_store:
            out = ngram_novelty(
                cur, a.text_col, a.id_col, n=a.ngram,
                broadcast_ref=a.broadcast_ref,
                ref_grams=read_gram_store(spark, a.ref_store, n=a.ngram),
            )
        else:
            ref = _read_input(spark, a.ref)
            out = ngram_novelty(
                cur, a.text_col, a.id_col, ref, n=a.ngram,
                broadcast_ref=a.broadcast_ref,
            )
        out.write.mode("overwrite").parquet(a.output)
        m = out.agg(F.round(F.avg("novelty"), 4).alias("m")).first()["m"]
        print(f"mean novelty {m} -> {a.output}")
        return 0
    finally:
        spark.stop()


def _run_tier(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark tier")
    p.add_argument("input", help="scored corpus (e.g. lm_score output "
                                 "joined with metadata)")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--score-col", default="perplexity")
    p.add_argument("--stratum-col", default=None,
                   help="per-stratum cutoffs (CCNet: the language "
                        "column); global when omitted")
    p.add_argument("--cuts", default="0.3333333333333333,0.6666666666666666",
                   help="comma-separated ascending quantiles in (0,1)")
    p.add_argument("--labels", default="head,middle,tail",
                   help="comma-separated labels (len(cuts)+1, "
                        "low-score-first)")
    p.add_argument("--keep", default=None,
                   help="write only rows in these tiers (comma list) "
                        "instead of the full report")
    p.add_argument("--approx", action="store_true",
                   help="percentile_approx cutoffs (corpus-scale "
                        "continuous score domains)")
    a = p.parse_args(argv)
    from .session import get_spark

    spark = get_spark("whylogs-cli-tier")
    try:
        from pyspark.sql import functions as F

        from .operators.sampling import score_buckets

        df = _read_input(spark, a.input)
        out = score_buckets(
            df, a.id_col, a.score_col,
            stratum_col=a.stratum_col,
            cuts=tuple(float(c) for c in a.cuts.split(",") if c),
            labels=tuple(t for t in a.labels.split(",") if t),
            approx=a.approx,
        )
        if a.keep:
            out = out.where(
                F.col("bucket").isin(*[t for t in a.keep.split(",") if t])
            )
        out.write.mode("overwrite").parquet(a.output)
        # count from the WRITTEN parquet (the _run_tokenize precedent):
        # out.count() would re-run the whole plan, incl. its corpus aggs
        n = spark.read.parquet(a.output).count()
        print(f"wrote {n} row(s) -> {a.output}")
        return 0
    finally:
        spark.stop()


def _run_tokenize(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark tokenize")
    p.add_argument("input", help="corpus")
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--train", action="store_true",
                   help="learn BPE merges from INPUT and write the "
                        "merge table to -o")
    g.add_argument("--merges", metavar="PATH",
                   help="tokenize INPUT with a stored merge table "
                        "(written by --train)")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("-m", "--n-merges", type=int, default=64)
    a = p.parse_args(argv)
    from .session import get_spark

    spark = get_spark("whylogs-cli-tokenize")
    try:
        from pyspark.sql import functions as F

        from .operators.tokenizer import bpe_apply, bpe_train

        df = _read_input(spark, a.input)
        if a.train:
            merges = bpe_train(df, a.text_col, n_merges=a.n_merges)
            merges.coalesce(1).write.mode("overwrite").parquet(a.output)
            print(f"learned {merges.count()} merge(s) -> {a.output}")
            return 0
        merges = spark.read.parquet(a.merges)
        out = bpe_apply(df, a.text_col, a.id_col, merges)
        out.write.mode("overwrite").parquet(a.output)
        # count from the WRITTEN table — re-aggregating `out` would
        # re-run the whole chained-replace encode pass over the corpus
        n = (
            spark.read.parquet(a.output)
            .agg(F.sum("n_tokens"))
            .first()[0]
        )
        print(f"tokenized to {n} subword token(s) -> {a.output}")
        return 0
    finally:
        spark.stop()


def _run_clean(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark clean")
    p.add_argument("input", help="corpus")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--min-words", type=int, default=5,
                   help="minimum words per surviving line")
    p.add_argument("--min-lines", type=int, default=3,
                   help="minimum surviving lines per kept page")
    p.add_argument("--ban", default="lorem ipsum,javascript",
                   help="comma-separated banned line substrings")
    p.add_argument("--keep-braces", action="store_true",
                   help="disable the curly-brace page veto")
    p.add_argument("--drop", action="store_true",
                   help="write only kept pages (id + cleaned text) "
                        "instead of the per-doc report")
    a = p.parse_args(argv)
    from .session import get_spark

    spark = get_spark("whylogs-cli-clean")
    try:
        from pyspark.sql import functions as F

        from .operators.text import c4_filter

        df = _read_input(spark, a.input)
        banned = tuple(t for t in a.ban.split(",") if t)
        out = c4_filter(
            df, a.text_col, a.id_col,
            min_words_per_line=a.min_words, min_lines=a.min_lines,
            banned_substrings=banned, drop_braces=not a.keep_braces,
        )
        if a.drop:
            out = out.where(F.col("keep")).select(a.id_col, "clean_text")
        out.write.mode("overwrite").parquet(a.output)
        # count from the WRITTEN parquet (the _run_tokenize precedent):
        # out.count() would re-run the whole plan, incl. its corpus aggs
        n = spark.read.parquet(a.output).count()
        print(f"wrote {n} row(s) -> {a.output}")
        return 0
    finally:
        spark.stop()


def _run_decontam(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark decontam")
    p.add_argument("input", help="training corpus")
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--eval", dest="eval_path",
                   help="evaluation corpus (gram set derived per run)")
    g.add_argument("--ref-store",
                   help="persisted gram store (build with "
                        "`novelty --build-store`; n validated loudly)")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--text-col", default="text")
    p.add_argument("--eval-text-col", default=None)
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("-n", "--ngram", type=int, default=5)
    m = p.add_mutually_exclusive_group()
    m.add_argument("--drop", action="store_true",
                   help="write the surviving (uncontaminated) corpus "
                        "rows instead of the report")
    m.add_argument("--spans", action="store_true",
                   help="surgical mode: excise the contaminated spans "
                        "and write cleaned text instead of the report")
    a = p.parse_args(argv)
    from .session import get_spark

    spark = get_spark("whylogs-cli-decontam")
    try:
        from pyspark.sql import functions as F

        from .operators.decontam import (
            decontaminate,
            decontaminate_spans,
            read_gram_store,
        )

        cur = _read_input(spark, a.input)
        kw = dict(n=a.ngram)
        if a.ref_store:
            kw["eval_df"] = None
            kw["eval_grams"] = read_gram_store(spark, a.ref_store, n=a.ngram)
        else:
            kw["eval_df"] = _read_input(spark, a.eval_path)
            kw["eval_text_col"] = a.eval_text_col
        if a.spans:
            out = decontaminate_spans(cur, a.text_col, a.id_col, **kw)
            out.write.mode("overwrite").parquet(a.output)
            ncut = (
                spark.read.parquet(a.output)
                .where(F.col("n_spans") > 0).count()
            )
            print(f"cleaned {ncut} contaminated doc(s) -> {a.output}")
            return 0
        rep = decontaminate(cur, a.text_col, a.id_col, **kw)
        if a.drop:
            out = cur.join(
                rep.where(~F.col("contaminated")).select(a.id_col), a.id_col
            )
            out.write.mode("overwrite").parquet(a.output)
            n = spark.read.parquet(a.output).count()
            print(f"kept {n} clean doc(s) -> {a.output}")
            return 0
        rep.write.mode("overwrite").parquet(a.output)
        nc = rep.where(F.col("contaminated")).count()
        print(f"flagged {nc} contaminated doc(s) -> {a.output}")
        return 0
    finally:
        spark.stop()


def _run_quota(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark quota")
    p.add_argument("input")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--id-col", default="doc_id")
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--cap", type=int,
                   help="keep at most CAP rows per --source-col, best "
                        "--prefer-col first")
    g.add_argument("--token-budget", type=int,
                   help="keep the best---prefer-col prefix whose "
                        "--tokens-col total fits the budget")
    p.add_argument("--source-col", default="source")
    p.add_argument("--tokens-col", default="n_tokens")
    p.add_argument("--prefer-col", default=None,
                   help="ordering column (required for --token-budget; "
                        "optional for --cap: id-ordered when omitted)")
    p.add_argument("--quantize", type=int, default=None, metavar="DECIMALS",
                   help="round --prefer-col to DECIMALS before the "
                        "token-budget ladder (bounds its distinct "
                        "scores; ties order id-asc)")
    a = p.parse_args(argv)
    if a.token_budget is not None and a.prefer_col is None:
        p.error("--token-budget requires --prefer-col")
    from .session import get_spark

    spark = get_spark("whylogs-cli-quota")
    try:
        from .operators.sampling import source_cap, token_budget_select

        df = _read_input(spark, a.input)
        if a.cap is not None:
            out = source_cap(df, a.id_col, a.source_col, a.cap, a.prefer_col)
        else:
            out = token_budget_select(
                df, a.id_col, a.tokens_col, a.prefer_col, a.token_budget,
                quantize=a.quantize,
            )
        out.write.mode("overwrite").parquet(a.output)
        n = spark.read.parquet(a.output).count()
        print(f"kept {n} row(s) -> {a.output}")
        return 0
    finally:
        spark.stop()


def _run_search(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark search")
    p.add_argument("input", help="corpus (or, with --index, ignored "
                                 "unless --build-index)")
    p.add_argument("phrase", nargs="?", default=None,
                   help="exact token-adjacent phrase to search")
    p.add_argument("--build-index", metavar="PATH",
                   help="build a persisted positional inverted index at "
                        "PATH from INPUT and exit")
    p.add_argument("--index", metavar="PATH",
                   help="search against a persisted index instead of "
                        "scanning INPUT")
    p.add_argument("-o", "--output", default=None)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--buckets", type=int, default=None,
                   help="term-hash partitions for --build-index "
                        "(default 64); with --index, an expectation "
                        "validated loudly against the store meta")
    a = p.parse_args(argv)
    if a.build_index is None and a.phrase is None:
        p.error("a PHRASE is required unless --build-index")
    if a.build_index is None and a.output is None:
        p.error("-o/--output is required unless --build-index")
    from .session import get_spark

    spark = get_spark("whylogs-cli-search")
    try:
        from .operators.retrieval import (
            build_text_index,
            phrase_search,
            phrase_search_stored,
        )

        if a.build_index:
            docs = _read_input(spark, a.input)
            nb = a.buckets if a.buckets is not None else 64
            build_text_index(
                docs, a.build_index, a.text_col, a.id_col, n_buckets=nb
            )
            print(f"wrote text index (buckets={nb}) to {a.build_index}")
            return 0
        if a.index:
            # None = no expectation; a given --buckets (any spelling —
            # the raw-sentinel idiom, not an argv scan) validates
            # loudly against the store meta, in ONE meta read
            out = phrase_search_stored(
                spark, a.index, a.phrase, id_out=a.id_col,
                n_buckets=a.buckets,
            )
        else:
            docs = _read_input(spark, a.input)
            out = phrase_search(docs, a.text_col, a.id_col, a.phrase)
        out.write.mode("overwrite").parquet(a.output)
        n = spark.read.parquet(a.output).count()
        print(f"{n} matching doc(s) -> {a.output}")
        return 0
    finally:
        spark.stop()


def _run_winnow(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark winnow")
    p.add_argument("input", help="incoming batch (or the accepted "
                                 "corpus with --build-store)")
    g = p.add_mutually_exclusive_group(required=True)
    g.add_argument("--ref", help="accepted-corpus path (fingerprinted "
                                 "per run)")
    g.add_argument("--ref-store", help="persisted winnow print store "
                                       "(build once with --build-store)")
    g.add_argument("--build-store", metavar="PATH",
                   help="fingerprint INPUT into a persisted print store "
                        "at PATH and exit (screen later with "
                        "--ref-store; k/window are pinned in the store)")
    p.add_argument("-o", "--output", default=None)
    p.add_argument("--text-col", default="text")
    p.add_argument("--id-col", default="doc_id")
    # default=None so the --ref-store path can tell "user typed -k 7"
    # (validated loudly against the store's pinned meta) from "defaulted"
    p.add_argument("-k", "--kgram", type=int, default=None)
    p.add_argument("-w", "--window", type=int, default=None)
    p.add_argument("--min-shared", type=int, default=2)
    a = p.parse_args(argv)
    kgram = a.kgram if a.kgram is not None else 5
    window = a.window if a.window is not None else 4
    if a.build_store is None and a.output is None:
        p.error("-o/--output is required unless --build-store")
    from .session import get_spark

    spark = get_spark("whylogs-cli-winnow")
    try:
        from pyspark.sql import functions as F

        from .operators.dedup import (
            build_winnow_store,
            winnow_screen,
            winnow_screen_stored,
        )

        if a.build_store:
            ref = _read_input(spark, a.input)
            build_winnow_store(
                ref, a.build_store, a.text_col, a.id_col,
                k=kgram, window=window,
            )
            print(
                f"wrote winnow print store (k={kgram}, "
                f"window={window}) to {a.build_store}"
            )
            return 0
        cur = _read_input(spark, a.input)
        if a.ref_store:
            # forward the RAW user values (None when not given): a store
            # built with k=5 must refuse an explicit -k 7 loudly instead
            # of silently screening at k=5
            out = winnow_screen_stored(
                spark, a.ref_store, cur, a.text_col, a.id_col,
                min_shared=a.min_shared, k=a.kgram, window=a.window,
            )
        else:
            from .streaming.winnow_stream import build_print_store

            ref = _read_input(spark, a.ref)
            out = winnow_screen(
                cur,
                build_print_store(
                    ref, a.text_col, a.id_col, kgram, window
                ),
                a.text_col, a.id_col, kgram, window, a.min_shared,
            )
        out.write.mode("overwrite").parquet(a.output)
        written = spark.read.parquet(a.output)
        n = written.count()
        fl = written.where(F.col("flagged")).count()
        print(f"screened {n} docs, {fl} flagged -> {a.output}")
        return 0
    finally:
        spark.stop()


def _run_project(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark project")
    p.add_argument("input")
    p.add_argument("-o", "--output", required=True)
    p.add_argument("--id-col", default="vec_id")
    p.add_argument("--vec-col", default="embedding")
    p.add_argument("--out-dim", type=int, default=16)
    p.add_argument("--dim", type=int, default=None,
                   help="input dimension, if known: constant-folds the "
                        "sign vectors (zero per-row hash work)")
    a = p.parse_args(argv)
    from .session import get_spark

    spark = get_spark("whylogs-cli-project")
    try:
        from .operators.similarity import rp_project

        df = _read_input(spark, a.input)
        out = rp_project(
            df, a.id_col, a.vec_col, out_dim=a.out_dim, dim=a.dim
        )
        out.write.mode("overwrite").parquet(a.output)
        n = spark.read.parquet(a.output).count()
        print(
            f"projected {n} vectors to {a.out_dim} dims -> {a.output}"
        )
        return 0
    finally:
        spark.stop()


def _run_score(argv: list[str]) -> int:
    p = argparse.ArgumentParser(prog="python -m whylogs_java_spark score")
    p.add_argument("input", help="corpus to score")
    p.add_argument("-o", "--output", default=None,
                   help="scored parquet (required unless "
                        "--build-lm-store)")
    p.add_argument("--id-col", default="doc_id")
    p.add_argument("--text-col", default="text")
    p.add_argument("--order", type=int, choices=[2, 3], default=2,
                   help="2 = smoothed bigram (default), 3 = "
                        "JM-interpolated trigram (closer to the "
                        "published CCNet shape)")
    p.add_argument("--lm-corpus", default=None,
                   help="train the LM on THIS corpus instead of the "
                        "input (the CCNet deployment shape: a trusted "
                        "reference corpus scores the crawl)")
    p.add_argument("--vocab-size", type=int, default=512)
    p.add_argument("--top-bigrams", type=int, default=4096)
    p.add_argument("--top-trigrams", type=int, default=16384)
    p.add_argument("--smoothing", choices=["jm", "kn"], default="jm",
                   help="order=3 smoothing: 'jm' (interpolated "
                        "Jelinek-Mercer) or 'kn' (interpolated "
                        "Kneser-Ney — the KenLM/CCNet family)")
    p.add_argument("--discount", type=float, default=0.75,
                   help="KN absolute discount D")
    p.add_argument("--build-lm-store", metavar="PATH",
                   help="train the LM from INPUT (or --lm-corpus) and "
                        "persist it at PATH, then exit — train once, "
                        "score many")
    p.add_argument("--lm-store", metavar="PATH",
                   help="score against a persisted LM "
                        "(--build-lm-store); training knobs are read "
                        "from the store's meta")
    a = p.parse_args(argv)
    if a.build_lm_store and a.lm_store:
        p.error("--build-lm-store and --lm-store are exclusive")
    if not a.output and not a.build_lm_store:
        p.error("-o/--output is required when scoring")
    from .session import get_spark

    spark = get_spark("whylogs-cli-score")
    try:
        from .operators.text import (
            build_lm_store,
            lm_score,
            lm_score_stored,
        )
        from .stores import read_meta

        df = _read_input(spark, a.input)
        if a.build_lm_store:
            src = _read_input(spark, a.lm_corpus) if a.lm_corpus else df
            build_lm_store(
                src, a.build_lm_store, a.text_col,
                vocab_size=a.vocab_size, top_bigrams=a.top_bigrams,
                order=a.order, top_trigrams=a.top_trigrams,
                smoothing=a.smoothing, discount=a.discount,
            )
            print(f"built lm store (order={a.order}, "
                  f"smoothing={a.smoothing}) -> {a.build_lm_store}")
            return 0
        if a.lm_store:
            out = lm_score_stored(spark, a.lm_store, df, a.text_col, a.id_col)
            order = read_meta(a.lm_store, "lm store")["order"]
        else:
            lm_df = _read_input(spark, a.lm_corpus) if a.lm_corpus else None
            out = lm_score(
                df, a.text_col, a.id_col,
                vocab_size=a.vocab_size, top_bigrams=a.top_bigrams,
                lm_df=lm_df, order=a.order, top_trigrams=a.top_trigrams,
                smoothing=a.smoothing, discount=a.discount,
            )
            order = a.order
        out.write.mode("overwrite").parquet(a.output)
        n = spark.read.parquet(a.output).count()
        print(f"scored {n} doc(s) (order={order}) -> {a.output}")
        return 0
    finally:
        spark.stop()


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    # subcommand dispatch; bare invocation keeps the reference Profiler
    # shape (profile a dataset) for backward compatibility
    if argv and argv[0] in SUBCOMMANDS:
        return {
            "dedup": _run_dedup,
            "drift": _run_drift,
            "constraints": _run_constraints,
            "monitor": _run_monitor,
            "view": _run_view,
            "redact": _run_redact,
            "shards": _run_shards,
            "blocklist": _run_blocklist,
            "split": _run_split,
            "pack": _run_pack,
            "novelty": _run_novelty,
            "project": _run_project,
            "winnow": _run_winnow,
            "search": _run_search,
            "quota": _run_quota,
            "decontam": _run_decontam,
            "tokenize": _run_tokenize,
            "clean": _run_clean,
            "tier": _run_tier,
            "score": _run_score,
        }[argv[0]](argv[1:])
    args = build_parser().parse_args(argv)
    from .operators.profile import profile_atoms
    from .session import get_spark
    from .sources.csv import read_csv
    from .sources.protobuf import write_profile_bin
    from .sources.sinks import write_profile_atoms, write_profile_summary_json

    in_fmt = args.input_format or (
        "parquet" if args.input.endswith(".parquet") else "csv"
    )
    group_by = [c for c in args.group_by.split(",") if c]
    null_strings = [s for s in args.null_strings.split(",") if s]

    spark = get_spark("whylogs-cli")
    try:
        if in_fmt == "csv":
            df = read_csv(
                spark, args.input, delimiter=args.delimiter,
                datetime_column=args.datetime_col,
                datetime_format=args.datetime_format, limit=args.limit,
            )
        else:
            df = spark.read.parquet(args.input)
            if args.limit is not None:
                df = df.limit(args.limit)

        if args.format == "bin":
            n = write_profile_bin(
                df, args.output, group_by=group_by, session_id=args.session_id,
                session_timestamp=int(time.time() * 1000),
                null_strings=null_strings, chunk_bytes=args.chunk_bytes,
            )
            print(f"wrote {n} profile message(s) to {args.output}")
            return 0

        atoms = profile_atoms(
            df, group_by=group_by, time_column=args.time_column,
            time_granularity=args.granularity, null_strings=null_strings,
            coerce_strings=args.coerce_strings,
        )
        key_names = list(group_by) + (["dataset_timestamp"] if args.time_column else [])
        if args.format == "parquet":
            write_profile_atoms(atoms, args.output)
        else:
            write_profile_summary_json(atoms, key_names, args.output)
        print(f"wrote {args.format} profile to {args.output}")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
