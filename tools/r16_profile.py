"""Per-stage profile of one registry query: run it with the event log
enabled (bench action + sf), then parse the log into a stage table —
wall time, task count, input/shuffle bytes, and the top accumulated
task time. The empirical half of guide §1.1.

    python tools/r16_profile.py <key> [--sf DIR] [--reps 2]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("key", help="comma-separated registry keys")
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=2)
    args = ap.parse_args()

    # the engine's own session (session.get_spark) plus an uncompressed
    # event log, passed as launch confs
    evdir = tempfile.mkdtemp(prefix="r16ev_")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.eventLog.enabled=true "
        "--conf spark.eventLog.compress=false "
        f"--conf spark.eventLog.dir={evdir} pyspark-shell")
    from tripgogo_vector_search_spark.session import get_spark
    spark = get_spark("r16-profile")
    spark.sparkContext.setLogLevel("ERROR")

    import bench as benchmod
    from tripgogo_vector_search_spark.plans.registry import QUERIES
    actions = benchmod.ACTIONS
    benchmod.warmup(spark, args.sf)

    marks = []
    for key in args.key.split(","):
        action = actions.get(key, "noop")
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"PROFILE:{key}:rep{rep}")
            t0 = time.perf_counter()
            df = QUERIES[key](spark, args.sf)
            t_build = time.perf_counter() - t0
            if action == "collect":
                df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            marks.append((key, rep, round(t_build, 3), round(dt, 3)))
            print(f"{key} rep{rep}: build={t_build:.3f}s total={dt:.3f}s",
                  file=sys.stderr)
    spark.stop()

    # parse the event log
    logs = sorted(
        (p for p in glob.glob(os.path.join(evdir, "*", "*"))
         + glob.glob(os.path.join(evdir, "*"))
         if os.path.isfile(p) and "appstatus" not in os.path.basename(p)),
        key=os.path.getmtime)
    stages = {}   # (stageId) -> dict
    jobs = {}     # jobId -> (desc, [stageIds], t_start, t_end)
    with open(logs[-1]) as fh:
        for line in fh:
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            e = ev.get("Event")
            if e == "SparkListenerJobStart":
                desc = ev.get("Properties", {}).get(
                    "spark.job.description", "")
                jobs[ev["Job ID"]] = {
                    "desc": desc,
                    "stages": [s["Stage ID"]
                               for s in ev.get("Stage Infos", [])],
                    "t0": ev.get("Submission Time", 0)}
            elif e == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev.get("Completion Time", 0)
            elif e == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                sid = si["Stage ID"]
                acc = {a["Name"]: a.get("Value", 0)
                       for a in si.get("Accumulables", [])}
                stages[sid] = {
                    "name": si.get("Stage Name", "")[:60],
                    "tasks": si.get("Number of Tasks", 0),
                    "ms": (si.get("Completion Time", 0)
                           - si.get("Submission Time", 0)),
                    "input": acc.get("internal.metrics.input.bytesRead", 0),
                    "sh_r": acc.get(
                        "internal.metrics.shuffle.read.remoteBytesRead", 0)
                    + acc.get(
                        "internal.metrics.shuffle.read.localBytesRead", 0),
                    "sh_w": acc.get(
                        "internal.metrics.shuffle.write.bytesWritten", 0),
                    "task_ms": acc.get("internal.metrics.executorRunTime", 0),
                    "py_ms": 0,
                }
                for k, v in acc.items():
                    if "pythonNumRowsReceived" in k:
                        stages[sid]["py_rows"] = v

    for jid in sorted(jobs):
        j = jobs[jid]
        if not j["desc"].startswith("PROFILE:"):
            continue
        wall = (j.get("t1", 0) - j["t0"]) / 1000.0
        print(f"\njob {jid} [{j['desc']}] wall={wall:.3f}s")
        for sid in sorted(j["stages"]):
            s = stages.get(sid)
            if not s:
                continue
            print(f"  stage {sid:4d} {s['ms']/1000:7.3f}s "
                  f"tasks={s['tasks']:4d} taskSum={s['task_ms']/1000:8.2f}s "
                  f"in={s['input']/1e6:8.1f}MB shR={s['sh_r']/1e6:7.1f}MB "
                  f"shW={s['sh_w']/1e6:7.1f}MB  {s['name']}")
    print("\nreps:")
    for m in marks:
        print("  ", m)


if __name__ == "__main__":
    main()
