#!/usr/bin/env python
"""Per-query stage-level profile for the optimization round (guide §1):
run each bench query once warm into the noop sink under its own job
group, then attribute jobs/stages via the UI REST API and print a
per-query breakdown — job count, stage count, task count, executor run
time, shuffle bytes, and the slowest stages with their call sites.

Usage: python scripts/opt_profile.py <out_dir> <sf_dir> [query ...]
  out_dir: directory under plans/ that receives profile.json (e.g. r14)
  query:   defaults to the 12 headline + 7 extension entries
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from twitter_social_triangle_mapreduce_spark.session import get_spark  # noqa: E402

import bench  # noqa: E402  (HEADLINE/EXTENSION lists + capstone entries)


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}") as r:
        return json.load(r)


def main() -> None:
    if len(sys.argv) < 3:
        sys.exit(__doc__)
    out_dir, sf_dir = sys.argv[1], sys.argv[2]
    names = sys.argv[3:] or (bench.HEADLINE + bench.EXTENSION)

    spark = get_spark(
        app_name="tstm-opt-profile",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "100000",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    queries = bench.bench_queries()

    base = sc.uiWebUrl
    app_id = _get(base, "/api/v1/applications")[0]["id"]

    report = {}
    for name in names:
        fn = queries[name]
        # warm-up (codegen + any persists get exercised once)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
        group = f"prof-{name}"
        sc.setJobGroup(group, name)
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        sc.setJobGroup(None, None)
        spark.catalog.clearCache()

        jobs = [
            j
            for j in _get(base, f"/api/v1/applications/{app_id}/jobs")
            if j.get("jobGroup") == group
        ]
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        stages = []
        for sid in stage_ids:
            try:
                for att in _get(
                    base, f"/api/v1/applications/{app_id}/stages/{sid}"
                ):
                    stages.append(att)
            except Exception:
                pass
        tot_run_ms = sum(s.get("executorRunTime", 0) for s in stages)
        tot_cpu_ns = sum(s.get("executorCpuTime", 0) for s in stages)
        tot_tasks = sum(s.get("numCompleteTasks", 0) for s in stages)
        sw = sum(s.get("shuffleWriteBytes", 0) for s in stages)
        sr = sum(s.get("shuffleReadBytes", 0) for s in stages)
        slowest = sorted(
            stages,
            key=lambda s: -(s.get("executorRunTime", 0)),
        )[:6]
        report[name] = {
            "wall_s": round(wall, 3),
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": tot_tasks,
            "executor_run_s": round(tot_run_ms / 1000.0, 3),
            # actual CPU (ns counter) — immune to host steal/contention,
            # the comparable scale metric on this noisy-neighbor sandbox
            "executor_cpu_s": round(tot_cpu_ns / 1e9, 3),
            "shuffle_write_mb": round(sw / 1e6, 3),
            "shuffle_read_mb": round(sr / 1e6, 3),
            "slowest_stages": [
                {
                    "id": s["stageId"],
                    "run_ms": s.get("executorRunTime", 0),
                    "tasks": s.get("numCompleteTasks", 0),
                    "name": (s.get("name") or "")[:90],
                }
                for s in slowest
            ],
        }
        print(
            f"{name:36s} wall={wall:7.3f}s jobs={len(jobs):3d} "
            f"stages={len(stages):3d} tasks={tot_tasks:5d} "
            f"exec={tot_run_ms/1000.0:8.2f}s "
            f"cpu={tot_cpu_ns/1e9:8.2f}s "
            f"shW={sw/1e6:8.2f}MB",
            flush=True,
        )

    out = os.path.join(REPO, "plans", out_dir, "profile.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")
    print(f"written: {out}")


if __name__ == "__main__":
    main()
