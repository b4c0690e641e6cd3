"""Per-query job-level profiler (optimization round instrumentation).

Runs the bench queries once (after an untimed warm-up pass, same
session confs as bench.py) and attributes each query's wall time to
its Spark jobs via the UI REST API:

- per job: duration (submission -> completion), stage count, task
  count, executor run/CPU time, shuffle bytes;
- per query: wall clock, sum of job durations, and the DRIVER GAP
  (wall - job time) — plan build / analysis / Python-side overhead
  that no stage metric shows.

This tells you whether a slow query is slow in tasks (optimize the
plan / per-task work) or slow between jobs (optimize plan size, eager
actions, driver work).

Usage: python scripts/profile_queries.py [sf_dir] [query ...]
Writes /tmp/profile_queries.json and prints a sorted table.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def iso_ms(s: str) -> float:
    # REST timestamps: "2026-08-17T12:34:56.789GMT"
    from datetime import datetime, timezone

    s = s.replace("GMT", "+0000")
    return datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp() * 1000.0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    only = set(sys.argv[2:])
    import bench
    from sales_analytics_etl_sql_powerbi_spark.session import get_spark

    spark = get_spark(app_name="spark-graft-profile", extra_conf=bench.COST_CONF)
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up (untimed) then profiled pass
    t0 = time.perf_counter()
    bench.run_pass(spark, sf_dir, tag="w:")
    warm = time.perf_counter() - t0
    timings, _ = bench.run_pass(spark, sf_dir, tag="x:")

    sc = spark.sparkContext
    base = sc.uiWebUrl

    def _get(path):
        with urllib.request.urlopen(
            f"{base}/api/v1/applications/{sc.applicationId}/{path}"
        ) as r:
            return json.load(r)

    jobs = _get("jobs")
    stages = _get("stages")
    stage_by_id: dict[int, dict] = {}
    for s in stages:
        if s.get("status") != "COMPLETE":
            continue
        sid = s["stageId"]
        prev = stage_by_id.get(sid)
        if prev is None or s.get("attemptId", 0) > prev.get("attemptId", 0):
            stage_by_id[sid] = s

    per_query: dict[str, dict] = {}
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        group = j.get("jobGroup") or ""
        if not group.startswith("x:"):
            continue
        name = group[2:]
        if only and name not in only:
            continue
        q = per_query.setdefault(
            name, {"jobs": [], "job_ms": 0.0, "run_ms": 0, "cpu_ms": 0}
        )
        dur = None
        if j.get("submissionTime") and j.get("completionTime"):
            dur = iso_ms(j["completionTime"]) - iso_ms(j["submissionTime"])
        ntasks = 0
        nstages = 0
        run_ms = 0
        cpu_ms = 0
        for sid in j.get("stageIds", ()):
            s = stage_by_id.get(sid)
            if s is None:
                continue
            nstages += 1
            ntasks += s.get("numTasks", 0)
            run_ms += s.get("executorRunTime", 0)
            cpu_ms += s.get("executorCpuTime", 0) // 1_000_000
        q["jobs"].append(
            {
                "jobId": j["jobId"],
                "ms": round(dur or 0, 1),
                "stages": nstages,
                "tasks": ntasks,
                "run_ms": run_ms,
                "desc": (j.get("description") or j.get("name", ""))[:90],
            }
        )
        q["job_ms"] += dur or 0
        q["run_ms"] += run_ms
        q["cpu_ms"] += cpu_ms

    out = []
    for name, q in per_query.items():
        wall = timings.get(name)
        wall_ms = (wall or 0) * 1000
        out.append(
            {
                "query": name,
                "wall_s": wall,
                "n_jobs": len(q["jobs"]),
                "job_ms": round(q["job_ms"], 1),
                "gap_ms": round(wall_ms - q["job_ms"], 1),
                "exec_run_ms": q["run_ms"],
                "exec_cpu_ms": q["cpu_ms"],
                "jobs": sorted(q["jobs"], key=lambda j: -j["ms"])[:8],
            }
        )
    out.sort(key=lambda r: -(r["wall_s"] or 0))
    with open("/tmp/profile_queries.json", "w") as f:
        json.dump({"warmup_total_s": warm, "timings": timings, "profile": out}, f, indent=1)

    print(
        f"{'query':28s} {'wall':>7s} {'jobs':>5s} {'job_ms':>8s} "
        f"{'gap_ms':>8s} {'run_ms':>8s} {'cpu_ms':>8s}"
    )
    for r in out:
        print(
            f"{r['query']:28s} {r['wall_s'] or 0:7.2f} {r['n_jobs']:5d} "
            f"{r['job_ms']:8.0f} {r['gap_ms']:8.0f} {r['exec_run_ms']:8.0f} "
            f"{r['exec_cpu_ms']:8.0f}"
        )
    spark.stop()


if __name__ == "__main__":
    main()
