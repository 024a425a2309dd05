"""Per-stage profiler for declared queries (optimization round tooling).

Runs queries through the same noop-sink protocol as bench.py but with
the Spark event log enabled, then parses the log into a per-stage
table: wall time between stage submission and completion, summed task
time, shuffle read/write bytes and records, and the first line of the
stage's callsite — enough to attribute a query's seconds to operators
without the (disabled) UI.

Usage:
    python tools/profile_query.py q_text_quality [q_...] [--reps 2]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    import tempfile

    evdir = tempfile.mkdtemp(prefix="spark_events_")
    import pyspark
    from pyspark.find_spark_home import _find_spark_home
    from pyspark.sql import SparkSession

    from snapflow_spark.registry import all_queries
    from snapflow_spark.session import python_worker_confs, spark_pyspark_version, tune

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.appName("profile")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{evdir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        # the Python worker path build_session gives: no zip rescans
        .config(map=python_worker_confs(
            pyspark.__version__, spark_pyspark_version(_find_spark_home())
        ))
        .getOrCreate()
    )
    tune(spark)
    spark.sparkContext.setLogLevel("ERROR")
    queries = all_queries()

    # bench.py warm-up equivalents
    for warm in ("q_agg_basic", "q_dedup_simhash"):
        queries[warm](spark, "/root/testdata/sf0.001").write.format("noop").mode("overwrite").save()
    with tempfile.TemporaryDirectory() as td:
        spark.range(2).write.mode("overwrite").parquet(f"{td}/warm")

    walls: dict[str, list[float]] = {}
    for rep in range(args.reps):
        for name in args.names:
            spark.sparkContext.setJobDescription(f"{name}#rep{rep}")
            t0 = time.perf_counter()
            queries[name](spark, args.sf).write.format("noop").mode("overwrite").save()
            walls.setdefault(name, []).append(time.perf_counter() - t0)
            spark.catalog.clearCache()
    spark.sparkContext.setJobDescription(None)
    spark.stop()

    # ---- parse the event log ----
    # Spark 4 event logs can be single files or eventlog_v2 dirs
    files = [
        f for f in glob.glob(f"{evdir}/**", recursive=True)
        if os.path.isfile(f) and "appstatus" not in os.path.basename(f)
    ]
    stages: dict[int, dict] = {}
    job_desc: dict[int, str] = {}
    stage_job: dict[int, int] = {}
    for f in files:
        for line in open(f):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                jid = ev["Job ID"]
                job_desc[jid] = ev.get("Properties", {}).get("spark.job.description", "")
                for sinfo in ev.get("Stage Infos", []):
                    stage_job[sinfo["Stage ID"]] = jid
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                sub, comp = si.get("Submission Time"), si.get("Completion Time")
                st = stages.setdefault(sid, {
                    "wall_ms": 0, "task_ms": 0, "tasks": si.get("Number of Tasks", 0),
                    "sh_r_mb": 0.0, "sh_w_mb": 0.0, "in_mb": 0.0, "recs_out": 0,
                    "name": si.get("Stage Name", ""), "desc": job_desc.get(stage_job.get(sid, -1), ""),
                })
                if sub and comp:
                    st["wall_ms"] = comp - sub
            elif e == "SparkListenerTaskEnd":
                sid = ev["Stage ID"]
                st = stages.setdefault(sid, {
                    "wall_ms": 0, "task_ms": 0, "tasks": 0, "sh_r_mb": 0.0,
                    "sh_w_mb": 0.0, "in_mb": 0.0, "recs_out": 0, "name": "",
                    "desc": job_desc.get(stage_job.get(sid, -1), ""),
                })
                ti = ev.get("Task Info", {})
                tm = ev.get("Task Metrics") or {}
                st["task_ms"] += (ti.get("Finish Time", 0) - ti.get("Launch Time", 0))
                sr = tm.get("Shuffle Read Metrics") or {}
                sw = tm.get("Shuffle Write Metrics") or {}
                im = tm.get("Input Metrics") or {}
                st["sh_r_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / 1e6
                st["sh_w_mb"] += sw.get("Shuffle Bytes Written", 0) / 1e6
                st["in_mb"] += im.get("Bytes Read", 0) / 1e6

    for name in args.names:
        print(f"\n=== {name}: walls {[round(w, 3) for w in walls[name]]} ===")
        rows = [
            (sid, st) for sid, st in sorted(stages.items())
            if st["desc"].startswith(name + "#")
        ]
        for sid, st in rows:
            nm = st["name"].split("\n")[0][:80]
            print(
                f"  s{sid:<4} {st['desc'].split('#')[1]:<5} wall={st['wall_ms']:>6}ms "
                f"task={st['task_ms']:>7}ms n={st['tasks']:<3} "
                f"shR={st['sh_r_mb']:>7.1f}M shW={st['sh_w_mb']:>7.1f}M in={st['in_mb']:>6.1f}M  {nm}"
            )
    print(f"\nevent log dir: {evdir}")


if __name__ == "__main__":
    main()
