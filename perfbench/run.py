"""Run one benchmark workload against the library in this checkout.

    python3 perfbench/run.py --workload store_log --seed 1 --seconds 6 --trace 0

Prints an ``{"env": ...}`` line, then, as the last line of stdout, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` is a separate run that
reports the per-layer metrics and writes its spans, Spark jobs and stages
to ``.perfbench_out/``. Exits 1 when an output check fails and 2 when the
library is not next to this directory. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_SEED = 1
# measured ops a traced run makes at least (an untraced run: the
# workload's MIN_OPS); traced and untraced ones alternate
MIN_TRACED_OPS = 2
# past this many seconds from process start, stop as soon as two measured
# ops have run. A run normally ends before it (near 55 s on a quiet host);
# on a loaded host it keeps the 4 + 22 x 2 runs of BENCHMARK.json inside
# their 3,420 s
HARD_STOP_S = 60.0
# pause after the garbage collection between ops, for Spark's cleaner
SETTLE_S = 0.5
# the JVM heap, set whatever the caller's environment says, and committed
# at start (-Xms = -Xmx). get_spark defaults to a growable heap of up to
# 8g, sized for large inputs. A growing heap follows the garbage
# collector's timing, not the workload: with it, the JVM's peak RSS over
# three seeds of the same store_log ops ranged from 1.4 to 1.9 GB (2g cap)
# and 2.1 to 2.9 GB (8g). Committed at 2g it read 2.35-2.45 GB
HEAP = "2g"

END_TO_END = {
    "setup_s": "s",
    "first_op_cpu_s": "s",
    "cpu_s_per_op": "s",
    "write_batch_cpu_s": "s",
    "merge_cpu_s": "s",
    "peak_rss_mb": "MB",
    "ok_rate": "ratio",
}
PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.build_s": "s",
    "plans.sql_kb": "KB",
    "functions.agg_cpu_s": "s",
    "functions.cpu_ns_per_value": "ns",
    "operators.profile_s": "s",
    "operators.frequent_items_s": "s",
    "operators.sketch_s": "s",
    "operators.dedup_s": "s",
    "operators.resolve_clusters_s": "s",
    "operators.dedup_candidates": "pairs",
    "operators.dedup_yield": "ratio",
    "operators.dedup_recall": "ratio",
    "sources.scan_mb": "MB",
    "sources.write_bin_py_s": "s",
    "sources.bin_kb_per_batch": "KB",
    "sources.merge_bin_s": "s",
    "sources.read_bin_s": "s",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.core_busy": "ratio",
    "spark.job_gap_s": "s",
    "driver.cpu_s_per_op": "s",
    "trace.overhead_s": "s",
}


@dataclass
class Op:
    idx: int
    kind: str  # first | warmup | measured
    traced: bool
    wall: float = 0.0
    # (wall, CPU) seconds of each step of the op, by step name
    phases: dict[str, list[tuple[float, float]]] = field(default_factory=dict)
    cpu: float = 0.0
    driver_cpu: float = 0.0
    errors: list[str] = field(default_factory=list)
    span: int | None = None
    counts: dict[str, float] = field(default_factory=dict)


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["store_log", "dedup_near"])
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=6.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument(
        "--size", choices=["full", "tiny"], default="full",
        help="tiny: 1/10 inputs, no warm-up, fewest ops (smoke tests only)",
    )
    return p.parse_args(argv)


def _set_env(work: str) -> None:
    """Keep every file the run writes inside the checkout, run Spark on all
    cores, and let executor-side Python workers import the library."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    # options of the driver JVM only (JAVA_TOOL_OPTIONS would reach
    # spark-submit's small launcher JVM too, which cannot start with them)
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Xms{HEAP}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable


def _stop(spark, pid: int) -> None:
    """Stop Spark, end the JVM and wait until no descendant is left."""
    from pyspark import SparkContext

    from perfbench.proctree import descendants

    gateway = SparkContext._gateway
    spark.stop()
    gc.collect()  # release py4j proxies while the JVM can still answer
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    while True:
        left = [p for p in descendants(pid) if p != pid]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


def _failure(e: Exception) -> list[str]:
    traceback.print_exc(file=sys.stderr)
    return [f"{type(e).__name__}: {e}"]


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _end_to_end(ops: list[Op], setup_s: float, peak_rss: float) -> dict[str, float]:
    measured = [o for o in ops if o.kind == "measured" and not o.errors]
    failed = sum(1 for o in ops if o.errors)
    return {
        "setup_s": setup_s,
        "first_op_cpu_s": ops[0].cpu,
        "cpu_s_per_op": _median([o.cpu for o in measured]),
        "write_batch_cpu_s": _median([c for o in measured for _, c in o.phases["write"]]),
        "merge_cpu_s": _median([c for o in measured for _, c in o.phases["merge"]]),
        "peak_rss_mb": peak_rss,
        "ok_rate": 1.0 - failed / len(ops),
    }


def _walls(ops: list[Op]) -> dict[str, float]:
    """Wall-time counterparts of the end-to-end timings, for the env line."""
    measured = [o for o in ops if o.kind == "measured" and not o.errors]
    return {
        "first_op": round(ops[0].wall, 4),
        "op": round(_median([o.wall for o in measured]), 4),
        "write_batch": round(_median([w for o in measured for w, _ in o.phases["write"]]), 4),
        "merge": round(_median([w for o in measured for w, _ in o.phases["merge"]]), 4),
    }


def _per_layer(ops, tracer, jobs, stages, wl, cores, get_spark_s) -> tuple[dict, list, list]:
    """Per-layer metrics (medians over the traced ops), each traced op's
    values, and the Python call sites of write_profile_bin jobs that matched
    no pass, from the spans and the Spark jobs and stages attributed to them.
    The write_profile_bin figures are per call, i.e. per batch."""
    from perfbench.gen import PROFILED_COLUMNS
    from perfbench.tracing import pass_of, py_call_site, self_times, union_s

    spans = {s.id: s for s in tracer.spans}
    selfs = self_times(tracer.spans, jobs)
    traced = [o for o in ops if o.traced and not o.errors]
    rows: list[dict[str, float]] = []
    unattributed: list[str] = []
    for o in traced:
        op_span = spans[o.span]
        calls: dict[str, list] = {}
        for s in tracer.spans:
            if s.parent == o.span:
                calls.setdefault(s.name, []).append(s)
        ojobs = [j for j in jobs if j.span is not None and spans[j.span].op == o.idx]
        run = [
            stages[s]
            for s in {s for j in ojobs for s in j.stages}
            if s in stages and stages[s].status == "COMPLETE"
        ]
        m = {k: 0.0 for k in PER_LAYER}

        def wall(call: str) -> float:
            return sum(s.end - s.start for s in calls.get(call, ()))

        writes = calls.get("sources.write_profile_bin", [])
        if writes:
            ids = {s.id for s in writes}
            by_pass: dict[str | None, list] = {}
            for j in ojobs:
                if j.span in ids:
                    by_pass.setdefault(pass_of(j.call_site), []).append(j)
            unattributed += [j.call_site for j in by_pass.get(None, []) if py_call_site(j.call_site)]
            for p, key in (
                ("profile", "operators.profile_s"),
                ("frequent_items", "operators.frequent_items_s"),
                ("sketch", "operators.sketch_s"),
            ):
                m[key] = sum(j.end - j.start for j in by_pass.get(p, [])) / len(writes)
            agg_stages = {s for j in by_pass.get("profile", []) for s in j.stages}
            m["functions.agg_cpu_s"] = (
                sum(st.cpu_s for st in run if st.id in agg_stages) / len(writes)
            )
            m["functions.cpu_ns_per_value"] = m["functions.agg_cpu_s"] * 1e9 / (
                wl.rows_per_op / len(writes) * len(PROFILED_COLUMNS)
            )
            m["sources.write_bin_py_s"] = sum(selfs[s.id] for s in writes) / len(writes)
        m["sources.merge_bin_s"] = wall("sources.merge_profile_bins")
        m["sources.read_bin_s"] = wall("sources.read_profile_bin")
        m["operators.dedup_s"] = wall("operators.near_dup_pairs")
        m["operators.resolve_clusters_s"] = wall("operators.resolve_clusters")
        op_wall = op_span.end - op_span.start
        run_s = sum(st.run_s for st in run)
        m.update(
            {
                "spark.jobs_per_op": float(len(ojobs)),
                "spark.stages_per_op": float(len(run)),
                "spark.tasks_per_op": float(sum(st.tasks for st in run)),
                "spark.executor_run_s": run_s,
                "spark.executor_cpu_s": sum(st.cpu_s for st in run),
                "spark.gc_s": sum(st.gc_s for st in run),
                "spark.shuffle_write_mb": sum(st.shuffle_write_mb for st in run),
                "spark.spill_mb": sum(st.spill_mb for st in run),
                "sources.scan_mb": sum(st.input_mb for st in run),
                "spark.core_busy": run_s / (op_wall * cores),
                "spark.job_gap_s": op_wall
                - union_s([(j.start, j.end) for j in ojobs], op_span.start, op_span.end),
                "driver.cpu_s_per_op": o.driver_cpu,
            }
        )
        rows.append(m)
    out = {k: _median([r[k] for r in rows]) for k in PER_LAYER}
    for o in traced:
        out.update(o.counts)
    out["session.get_spark_s"] = get_spark_s
    untraced = [o.wall for o in ops if o.kind == "measured" and not o.traced and not o.errors]
    out["trace.overhead_s"] = _median([o.wall for o in traced]) - _median(untraced)
    return out, rows, sorted(set(unattributed))


def run(args) -> int:
    from perfbench.proctree import (
        cpu_ticks,
        descendants,
        peak_rss_mb,
        seconds_since_start,
        self_cpu_s,
        since,
        stamp,
    )
    from perfbench.tracing import Tracer, dump, read_spark
    from perfbench.workloads import WORKLOADS

    pid = os.getpid()
    load_start, ticks_start = os.getloadavg(), cpu_ticks()
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{pid}")
    _set_env(work)
    from whylogs_java_spark import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    get_spark_s = time.perf_counter() - t0
    boot_s = seconds_since_start()
    tiny = args.size == "tiny"
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, tiny)
        gen_s = []
        for _ in range(3):
            t0 = time.perf_counter()
            prepared0 = wl.prepare(0)
            gen_s.append(time.perf_counter() - t0)
        setup_s = boot_s + _median(gen_s)

        tracer = Tracer(spark.sparkContext, False)
        ops: list[Op] = []
        peak_rss = 0.0

        def do(i: int, kind: str, traced: bool, prepared=None) -> None:
            nonlocal peak_rss
            o = Op(i, kind, traced)
            prepared = prepared if prepared is not None else wl.prepare(i)
            tracer.enabled = traced
            t0, d0 = stamp(), self_cpu_s()
            out = None
            with tracer.span("op", i) as sid:
                try:
                    o.phases, out = wl.run(i, prepared, tracer)
                except Exception as e:  # an op that raises counts as failed
                    o.errors = _failure(e)
            (o.wall, o.cpu), o.driver_cpu = since(t0), self_cpu_s() - d0
            o.span = sid
            tracer.enabled = False
            peak_rss = max(peak_rss, peak_rss_mb(descendants(pid)))
            if out is not None:
                try:
                    if traced and not any(op.counts for op in ops):
                        o.counts = wl.layer_counts(prepared, out)
                    o.errors = wl.check(prepared, out)
                except Exception as e:
                    o.errors = _failure(e)
            for path in prepared[0]:
                os.remove(path)
            # start every op from the same heap: collect what earlier ops
            # left behind, then let Spark's cleaner drop their shuffles.
            # Without it, a short step's CPU took in whatever collection
            # and cleanup fell into it: resolve_clusters read 0.8-1.6 s of
            # CPU over the measured ops of one run
            spark.sparkContext._jvm.System.gc()
            time.sleep(SETTLE_S)
            for e in o.errors[:5]:
                print(f"perfbench: op {i} ({kind}): {e}", file=sys.stderr)
            ops.append(o)

        do(0, "first", False, prepared0)
        warmup = 0 if tiny else wl.WARMUP_OPS
        for i in range(1, 1 + warmup):
            do(i, "warmup", False)
        min_ops = (2 if tiny else MIN_TRACED_OPS) if args.trace else (1 if tiny else wl.MIN_OPS)
        start, n = time.perf_counter(), 0
        while True:
            do(1 + warmup + n, "measured", bool(args.trace) and n % 2 == 0)
            n += 1
            if seconds_since_start() > HARD_STOP_S and n >= 2:
                break
            if time.perf_counter() - start >= args.seconds and n >= min_ops:
                break

        cores = int(os.environ["SPARK_GRAFT_CPUS"])
        env = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": cores,
            "loadavg_start": load_start,
            "python": platform.python_version(),
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "input_layout": wl.layout(),
            "rows_per_op": wl.rows_per_op,
            "setup_parts_s": {"boot": boot_s, "generate": [round(t, 4) for t in gen_s]},
            "ops": {k: sum(1 for o in ops if o.kind == k) for k in ("first", "warmup", "measured")},
            "op_walls_s": [round(o.wall, 4) for o in ops],
            "op_cpu_s": [round(o.cpu, 3) for o in ops],
            "step_cpu_s": {
                k: [[round(c, 3) for _, c in o.phases.get(k, ())] for o in ops]
                for k in ("write", "merge")
            },
            "rss_parts_mb": [round(peak_rss_mb([p])) for p in descendants(pid)],
        }
        if args.trace:
            jobs, stages = read_spark(spark.sparkContext)
            metrics, per_op, unattributed = _per_layer(
                ops, tracer, jobs, stages, wl, cores, get_spark_s
            )
            # a pass whose jobs moved to a call site pass_of does not know
            # would otherwise read 0 as if it had disappeared
            for site in unattributed:
                print(f"perfbench: write_profile_bin job matches no pass: {site}", file=sys.stderr)
            env["unattributed_write_jobs"] = unattributed
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            trace_path = os.path.join(out_dir, f"trace-{args.workload}-seed{args.seed}.json")
            with open(trace_path, "w") as f:
                json.dump(
                    {"env": env, "per_op": per_op, **dump(tracer.spans, jobs, stages)}, f
                )
            env["trace_file"] = os.path.relpath(trace_path, ROOT)
            units = PER_LAYER
        else:
            metrics = _end_to_end(ops, setup_s, peak_rss)
            env["wall_s"] = _walls(ops)
            units = END_TO_END
    finally:
        _stop(spark, pid)
        shutil.rmtree(work, ignore_errors=True)
    env["loadavg_end"] = os.getloadavg()
    steal, total = (b - a for a, b in zip(ticks_start, cpu_ticks()))
    env["steal_pct"] = round(100.0 * steal / total, 2) if total else 0.0
    failed = sum(1 for o in ops if o.errors)
    print(json.dumps({"env": env}))
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(ops),
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    args = _parse(argv)
    # SIGTERM unwinds like an exception, so Spark is stopped and the work
    # directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "whylogs_java_spark", "__init__.py")):
        print(
            f"perfbench: no whylogs_java_spark package in {ROOT}; "
            "run from the root of a repository checkout",
            file=sys.stderr,
        )
        return 2
    sys.path.insert(0, ROOT)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
