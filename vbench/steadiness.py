#!/usr/bin/env python3
"""Run one workload over several seeds and summarize each end-to-end
metric as median, quartiles and spread (IQR / median, the figure the
bounds in BENCHMARK.json are checked against).

With ``--pairs`` it measures tracing overhead instead: for every seed an
untraced run and then a traced run of the same seed, and the overhead is
the traced pass time (``trace.pass_s``) minus the untraced one
(``batch_pass_s``).

From the repository root:

    python3 vbench/steadiness.py --workload search_online --seeds 1-10 \
        --out vbench/steadiness/search_online.json
    python3 vbench/steadiness.py --workload search_online --seeds 1-3 --pairs \
        --out vbench/steadiness/trace_overhead_search_online.json
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "n": len(values)}


def run(workload: str, seed: int, seconds: str, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", seconds, "--trace", str(trace)],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=False)
    out = {"seed": seed, "trace": trace, "exit": proc.returncode,
           "wall_s": round(time.time() - t0, 1),
           "result": json.loads(proc.stdout.strip().splitlines()[-1])}
    print(f"seed {seed} trace {trace}: exit {proc.returncode}, {out['wall_s']} s",
          file=sys.stderr)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", default="10")
    p.add_argument("--pairs", action="store_true",
                   help="untraced + traced run per seed; report tracing overhead")
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    runs = []
    for seed in seeds(args.seeds):
        for trace in ((0, 1) if args.pairs else (0,)):
            runs.append(run(args.workload, seed, args.seconds, trace))

    def value(r, name):
        return r["result"]["metrics"][name]["value"]

    if args.pairs:
        pairs = [{"seed": u["seed"], "untraced_pass_s": value(u, "batch_pass_s"),
                  "traced_pass_s": value(t, "trace.pass_s")}
                 for u, t in zip(runs[::2], runs[1::2])]
        for q in pairs:
            q["overhead_s"] = q["traced_pass_s"] - q["untraced_pass_s"]
            q["overhead_frac"] = q["overhead_s"] / q["untraced_pass_s"]
        summary = {k: statistics.median(q[k] for q in pairs)
                   for k in ("overhead_s", "overhead_frac")}
        summary["pairs"] = pairs
        summary["span_bookkeeping_ms"] = statistics.median(
            value(t, "trace.overhead_ms") for t in runs[1::2])
        for q in pairs:
            print(f"seed {q['seed']}: untraced {q['untraced_pass_s']:.4f} s, traced "
                  f"{q['traced_pass_s']:.4f} s, overhead {q['overhead_frac']:+.3f}")
        print(f"median overhead {summary['overhead_s']:+.4f} s "
              f"({summary['overhead_frac']:+.3f} of the untraced pass)")
    else:
        names = runs[0]["result"]["metrics"]
        summary = {k: summarize([value(r, k) for r in runs]) for k in names}
        for k, v in summary.items():
            print(f"{k:16s} median {v['median']:12.4f}  q1 {v['q1']:12.4f}  "
                  f"q3 {v['q3']:12.4f}  spread {v['spread']:.4f}")
    with open(args.out, "w") as f:
        json.dump({"workload": args.workload, "pairs": args.pairs,
                   "summary": summary, "runs": runs}, f, indent=1)
    return 0 if all(r["exit"] == 0 for r in runs) else 1


if __name__ == "__main__":
    sys.exit(main())
