"""Per-stage trace for named queries: task width, executor run time, and
wall duration of every stage, via the Spark UI REST API.

Usage: python tools/stage_trace.py [--sf SF_DIR] <query> [query ...]

Once a query is known to be exec-bound (few jobs, runtime = compute), this shows WHICH stage burns
the time and at what parallelism — the direct detector for the
AQE-coalesced narrow-stage pathology (a compute-heavy stage whose
shuffle input is byte-tiny runs on 1-8 tasks while the rest of the
cluster idles; guide §2.5's blind spot).
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from whylogs_java_spark import get_spark  # noqa: E402


def main() -> None:
    args = list(sys.argv[1:])
    sf_dir = "/root/testdata/sf0.1"
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        del args[i : i + 2]
    names = args
    spark = get_spark(
        "stage-trace", extra_conf={"spark.ui.enabled": "true"}
    )
    sc = spark.sparkContext
    ui = sc.uiWebUrl
    app_id = sc.applicationId
    qs = entry_mod.queries()
    for name in names:
        before = {
            s["stageId"]
            for s in json.load(
                urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages")
            )
        }
        sc.setJobDescription(f"trace:{name}")
        t0 = time.perf_counter()
        df = qs[name](spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        stages = json.load(
            urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages")
        )
        fresh = [s for s in stages if s["stageId"] not in before]
        fresh.sort(key=lambda s: -s.get("executorRunTime", 0))
        print(
            f"== {name}: construct {t1-t0:.2f}s exec {t2-t1:.2f}s "
            f"total {t2-t0:.2f}s, {len(fresh)} stages"
        )
        for s in fresh[:14]:
            run = s.get("executorRunTime", 0) / 1000.0
            cpu = s.get("executorCpuTime", 0) / 1e9
            rows_in = s.get("inputRecords", 0) + s.get("shuffleReadRecords", 0)
            print(
                f"  stage {s['stageId']:>5} tasks={s['numCompleteTasks']:>3} "
                f"run={run:7.2f}s cpu={cpu:7.2f}s in_rows={rows_in:>9} "
                f"{(s.get('description') or s['name'])[:70]}"
            )


if __name__ == "__main__":
    main()
