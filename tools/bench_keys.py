"""Key measurement harness: time a subset of bench keys (min-of-N,
same actions as bench.py) and/or capture formatted plans to
plans/<round>/.

    python tools/bench_keys.py --round r18 --keys a,b,c [--n 3] [--sf DIR]
                               [--plans before]
    python tools/bench_keys.py --round r18 --all [--n 3]  # every bench.py key

Prints one JSON line {key: floor_sec} so runs can be diffed, then one
{"build": {key: floor_sec}} line: the builder call alone (the build
layer, before any action) of the same reps. Plans land
at plans/<round>/<key>_<tag>.txt when --plans <tag> is given.

Unless SPARK_GRAFT_CPUS is set, the session gets vbench's executor core
count (the usable cores minus one for the driver), so the Python-UDF
keys do not oversubscribe a small host at the package's local[32]
default.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--round", required=True,
                    help="round tag, e.g. r18: plans go to plans/<round>/")
    ap.add_argument("--keys", default="")
    ap.add_argument("--all", action="store_true")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--plans", default="",
                    help="tag: capture explain('formatted') per key")
    ap.add_argument("--no-time", action="store_true",
                    help="plans only, skip timing")
    args = ap.parse_args()

    from vbench.run import default_cpus
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(default_cpus()))

    import bench as benchmod
    from tripgogo_vector_search_spark.plans.registry import QUERIES
    from tripgogo_vector_search_spark.session import get_spark

    actions = benchmod.ACTIONS
    if args.all:
        keys = list(actions)
    else:
        keys = [k for k in args.keys.split(",") if k]
    for k in keys:
        if k not in QUERIES:
            raise SystemExit(f"unknown query {k!r}")

    spark = get_spark(f"{args.round}-bench")
    spark.sparkContext.setLogLevel("ERROR")
    benchmod.warmup(spark, args.sf)

    if args.plans:
        plan_dir = os.path.join("plans", args.round)
        os.makedirs(plan_dir, exist_ok=True)
        for k in keys:
            df = QUERIES[k](spark, args.sf)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            dest = os.path.join(plan_dir, f"{k}_{args.plans}.txt")
            with open(dest, "w") as fh:
                fh.write(buf.getvalue())
            print(f"plan -> {dest}", file=sys.stderr)

    if args.no_time:
        return

    floors: dict[str, float] = {}
    builds: dict[str, float] = {}
    for rep in range(args.n):
        for k in keys:
            action = actions.get(k, "noop")
            spark.sparkContext.setJobDescription(
                f"{args.round} {k} rep{rep}")
            t0 = time.perf_counter()
            df = QUERIES[k](spark, args.sf)
            built = time.perf_counter() - t0
            if action == "collect":
                df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            floors[k] = round(min(floors.get(k, 1e9), dt), 3)
            builds[k] = round(min(builds.get(k, 1e9), built), 3)
            print(f"rep{rep} {k} {dt:.3f} build {built:.3f}",
                  file=sys.stderr, flush=True)
    print(json.dumps(floors))
    print(json.dumps({"build": builds}))


if __name__ == "__main__":
    main()
