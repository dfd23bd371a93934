#!/usr/bin/env python3
"""Benchmark of the vector engine: one workload, one seed, one process.

Run from the repository root:

    python3 vbench/run.py --workload search_online --seed 1 --seconds 10 --trace 0

Workloads (``workloads.py``): ``search_online`` and ``batch_corpus``.
The run builds a Spark session through
``session.get_spark`` + ``session.prepare``, generates its inputs from the
seed under a fresh directory inside ``.vbench/`` (removed at exit), sets
up SETUP_ROUNDS times (once when traced), warms up, then runs its closed
loop for ``--seconds``. Every output is checked against an independent
truth.

Stdout ends with one JSON line ``{"correct", "attempted", "failed",
"metrics"}``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1`` (spans, job groups and the Spark event log
switched on). A table above it lists every metric with its unit and
sample count. The exit code is 1 when any output check failed, 2 when
the engine package is not importable from the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shlex
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
PKG = "tripgogo_vector_search_spark"

END_TO_END = {
    "setup_s": "s",
    "batch_pass_s": "s",
    "search_p50_ms": "ms",
    "recall_at_10": "1",
    "driver_rss_mb": "MB",
    "ops_ok_frac": "1",
}

# name -> unit; every traced run reports all of them (0 where the
# workload does not exercise the layer).
PER_LAYER = {
    "session.get_spark.s": "s",
    "ann.materialize_ivf.s": "s",
    "sources.load_table.ms": "ms",
    "sources.load_table.jobs": "count",
    "knn.build_ms": "ms",
    "knn.plan_ms": "ms",
    "knn.action_ms": "ms",
    "knn.jobs_before_action": "count",
    "knn.tail_ms": "ms",
    "rag.generate_summary.ms": "ms",
    "rag.attempts": "count",
    "ann.ivf_search.ms": "ms",
    "ann.ivf_search.tail_ms": "ms",
    "ann.ivf_search.build_ms": "ms",
    "ann.ivf_search.plan_ms": "ms",
    "ann.ivf_search.action_ms": "ms",
    "ann.ivf_search.jobs_before_action": "count",
    "ann.ivf_search.files_read": "count",
    "simjoin.gemm.s": "s",
    "simjoin.gemm.jobs": "count",
    "simjoin.gemm.python_ms": "ms",
    "simjoin.gemm.executor_cpu_ms": "ms",
    "ann.ivf_knn_join.s": "s",
    "ann.ivf_knn_join.jobs": "count",
    "ann.ivf_knn_join.shuffle_mb": "MB",
    "dedup.embedding_near_dup.s": "s",
    "dedup.embedding_near_dup.jobs": "count",
    "dedup.embedding_near_dup.shuffle_mb": "MB",
    "dedup.ngram_jaccard.s": "s",
    "dedup.ngram_jaccard.shuffle_mb": "MB",
    "dedup.ngram_jaccard.spill_mb": "MB",
    "dedup.minhash_components.s": "s",
    "dedup.minhash_components.jobs": "count",
    "quantile.quantiles_cont.s": "s",
    "quantile.quantiles_cont.scans": "count",
    "streaming.run_stream_to_table.s": "s",
    "streaming.sink_tables_left": "count",
    "cached_rdds_left": "count",
    "ingest.ingest_hotels.s": "s",
    "ingest.ingest_hotels.jobs": "count",
    "ingest.ingest_hotels.rows_per_s": "1/s",
    "index_maintenance.refresh.s": "s",
    "index_maintenance.refresh.jobs": "count",
    "index_maintenance.refresh.upserted_partitions": "count",
    "index_maintenance.refresh.evicted_rows": "count",
    "index_maintenance.refresh.removed_partitions": "count",
    "index_maintenance.refresh.rows_rewritten": "count",
    "index_maintenance.refresh.write_amp": "1",
    "knn.store_search.build_ms": "ms",
    "knn.store_search.jobs_before_action": "count",
    "knn.store_search.action_ms": "ms",
    "spark.build_ms": "ms",
    "spark.plan_ms": "ms",
    "spark.action_ms": "ms",
    "spark.jobs": "count",
    "spark.jobs_before_action": "count",
    "trace.overhead_ms": "ms",
    "trace.pass_s": "s",
    "trace.spans": "count",
}


def default_cpus() -> int:
    """Executor cores for local mode: the cores this process may use,
    minus one left to the Python driver (see STEADINESS.md)."""
    return max(1, len(os.sched_getaffinity(0)) - 1)


def parse_args(argv):
    from workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full",
                   help="input sizes; 'smoke' is for the benchmark's own tests")
    p.add_argument("--spans", default=None,
                   help="trace runs: span file (JSON lines); default "
                        ".vbench/spans-<workload>-s<seed>.jsonl")
    return p.parse_args(argv)


def tail(values):
    """(value, percentile): the highest percentile with at least ten
    samples beyond it, or (None, None) below 11 samples."""
    n = len(values)
    if n < 11:
        return None, None
    return sorted(values)[n - 11], 100.0 * (n - 10) / n


def configure_env(run_dir: str, trace: bool) -> None:
    """Keep every file the run writes inside ``run_dir`` and pass the
    session-launch confs (event log for traced runs) as submit args."""
    dirs = {k: os.path.join(run_dir, k)
            for k in ("tmp", "local", "warehouse", "stream-ckpt", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_GRAFT_CPUS"] = str(default_cpus())
    os.environ["SPARK_DRIVER_MEM"] = "2g"
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.sql.streaming.checkpointLocation": dirs["stream-ckpt"],
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        shlex.quote(a) for a in args + ["pyspark-shell"])


def stop_session(spark) -> None:
    """Stop the session, shut the py4j gateway and wait for the JVM (its
    Python workers exit with it)."""
    from pyspark import SparkContext
    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def measure(args, run_dir: str) -> dict:
    import tracing
    import workloads
    from tripgogo_vector_search_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark(f"vbench-{args.workload}")
    session.prepare(spark)
    session_s = time.perf_counter() - t0
    print(f"vbench: session started in {session_s:.2f} s", file=sys.stderr)
    try:
        tr = tracing.Tracer(spark.sparkContext, enabled=bool(args.trace))
        wl = workloads.WORKLOADS[args.workload](spark, tr, args.seed, args.size,
                                      os.path.join(run_dir, "data"))
        # a traced run reports no setup_s, so it sets up once
        setup = wl.setup(rounds=1 if args.trace else workloads.SETUP_ROUNDS)
        wl.timed(args.seconds, min_passes=wl.cfg["min_passes"])
        sinks_left = sum(1 for t in spark.catalog.listTables()
                         if t.name.startswith("stream_out_"))
        cached_left = spark.sparkContext._jsc.getPersistentRDDs().size()
    finally:
        t1 = time.perf_counter()
        stop_session(spark)
        print(f"vbench: session stopped in {time.perf_counter() - t1:.2f} s",
              file=sys.stderr)
    out = {"wl": wl, "setup": setup, "session_s": session_s,
           "sinks_left": sinks_left, "cached_left": cached_left,
           "rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024}
    if args.trace:
        out["events"] = tracing.read_event_log(os.path.join(run_dir, "eventlog"))
        spans = args.spans or os.path.join(
            os.path.dirname(run_dir), f"spans-{args.workload}-s{args.seed}.jsonl")
        tr.dump(spans)
        print(f"vbench: spans written to {spans}", file=sys.stderr)
    return out


def end_to_end(m: dict) -> tuple[dict, dict]:
    """(metrics, sample counts) for the untraced run."""
    wl, s = m["wl"], m["wl"].samples
    setup_s = (m["session_s"] + statistics.median(m["setup"]["round_s"])
               + m["setup"]["warm_s"])
    ops = wl.ops
    vals = {
        "setup_s": (setup_s, len(m["setup"]["round_s"])),
        "batch_pass_s": (statistics.median(s["pass_s"]), len(s["pass_s"])),
        "search_p50_ms": (statistics.median(s["search_ms"]), len(s["search_ms"])),
        "recall_at_10": (statistics.fmean(s["recall"]), len(s["recall"])),
        "driver_rss_mb": (m["rss_mb"], 1),
        "ops_ok_frac": ((ops.attempted - ops.failed) / ops.attempted, ops.attempted),
    }
    return ({k: v for k, (v, _n) in vals.items()},
            {k: n for k, (_v, n) in vals.items()})


def extras(m: dict) -> dict:
    """Workload-specific figures printed in the table (not gated)."""
    s = m["wl"].samples
    out = {}
    if s.get("ann_ms"):
        out["ann_p50_ms"] = (statistics.median(s["ann_ms"]), "ms", len(s["ann_ms"]))
    for key, label in (("search_ms", "search"), ("ann_ms", "ann")):
        if s.get(key):
            v, pct = tail(s[key])
            if v is not None:
                out[f"{label}_tail_ms (p{pct:.0f})"] = (v, "ms", len(s[key]))
    if s.get("extra_pass_s"):
        out["extra_pass_s"] = (statistics.median(s["extra_pass_s"]), "s",
                               len(s["extra_pass_s"]))
    if s.get("ingest_rows_per_s"):
        out["ingest_rows_per_s"] = (statistics.median(s["ingest_rows_per_s"]), "1/s",
                                    len(s["ingest_rows_per_s"]))
    if s.get("refresh_ms"):
        out["refresh_p50_ms"] = (statistics.median(s["refresh_ms"]), "ms",
                                 len(s["refresh_ms"]))
        out["refresh_write_amp"] = (sum(s["write_amp_rows"]) / sum(s["write_amp_delta"]),
                                    "1", len(s["refresh_ms"]))
    return out


def per_layer(m: dict) -> dict:
    """Per-layer metrics of a traced run (timed phase unless noted).
    Phase times are self times: a build phase's nested spans (e.g.
    ``sources.load_table`` inside the exact request's build) are
    reported under their own names."""
    import tracing
    wl, tr_spans, ev = m["wl"], m["wl"].tr.spans, m["events"]
    kids: dict[int, list[int]] = {}
    for sp in tr_spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append(sp["id"])

    def subtree(i):
        stack, out = [i], []
        while stack:
            j = stack.pop()
            out.append(j)
            stack.extend(kids.get(j, []))
        return out

    def ev_sum(ids, key):
        return sum(ev.get(i, {}).get(key, 0.0) for i in ids)

    self_t = tracing.self_times(tr_spans)

    def dur(sp):
        return sp["end"] - sp["start"]

    timed = [sp for sp in tr_spans if sp["phase"] == "timed"]
    by_name: dict[str, list[dict]] = {}
    for sp in timed:
        by_name.setdefault(sp["name"], []).append(sp)

    def child(sp, suffix):
        return next((tr_spans[c] for c in kids.get(sp["id"], [])
                     if tr_spans[c]["name"] == sp["name"] + suffix), None)

    def med(values):
        values = list(values)
        return statistics.median(values) if values else 0.0

    out = {k: 0.0 for k in PER_LAYER}

    def op_metrics(name, prefix):
        ops = by_name.get(name, [])
        if not ops:
            return
        out[f"{prefix}.s"] = med(dur(o) for o in ops)
        out[f"{prefix}.ms"] = out[f"{prefix}.s"] * 1e3
        out[f"{prefix}.jobs"] = med(ev_sum(subtree(o["id"]), "jobs") for o in ops)
        for phase in ("build", "plan", "action"):
            out[f"{prefix}.{phase}_ms"] = med(self_t[child(o, "." + phase)["id"]] * 1e3
                                              for o in ops)
        out[f"{prefix}.jobs_before_action"] = med(
            ev_sum(subtree(child(o, ".build")["id"]) + subtree(child(o, ".plan")["id"]),
                   "jobs") for o in ops)
        out[f"{prefix}.shuffle_mb"] = med(
            ev_sum(subtree(o["id"]), "shuffle_write") / 1e6 for o in ops)
        out[f"{prefix}.spill_mb"] = med(ev_sum(subtree(o["id"]), "spill") / 1e6
                                        for o in ops)
        out[f"{prefix}.python_ms"] = med(ev_sum(subtree(o["id"]), "python_ms")
                                         for o in ops)
        out[f"{prefix}.executor_cpu_ms"] = med(ev_sum(subtree(o["id"]), "cpu_ns") / 1e6
                                               for o in ops)
        out[f"{prefix}.files_read"] = med(child(o, ".action").get("files_read", 0)
                                          for o in ops)
        out[f"{prefix}.scans"] = med(child(o, ".plan").get("scans", 0) for o in ops)
        lat = [dur(o) * 1e3 for o in ops]
        v, _pct = tail(lat)
        out[f"{prefix}.tail_ms"] = v or 0.0

    staged_ops = {
        "knn": "knn", "ann.ivf_search": "ann.ivf_search", "simjoin.gemm": "simjoin.gemm",
        "ann.ivf_knn_join": "ann.ivf_knn_join",
        "dedup.embedding_near_dup": "dedup.embedding_near_dup",
        "dedup.ngram_jaccard": "dedup.ngram_jaccard",
        "dedup.minhash_components": "dedup.minhash_components",
        "quantile.quantiles_cont": "quantile.quantiles_cont",
        "streaming.run_stream_to_table": "streaming.run_stream_to_table",
        "knn.store_search": "knn.store_search",
    }
    for name, prefix in staged_ops.items():
        op_metrics(name, prefix)
    if by_name.get("knn.builder"):
        out["knn.build_ms"] = med(dur(sp) * 1e3 for sp in by_name["knn.builder"])
    for name in ("sources.load_table", "rag.generate_summary"):
        spans = by_name.get(name, [])
        out[f"{name}.ms"] = med(dur(sp) * 1e3 for sp in spans)
    out["sources.load_table.jobs"] = med(ev_sum([sp["id"]], "jobs")
                                         for sp in by_name.get("sources.load_table", []))
    out["rag.attempts"] = med(sp.get("attempts", 0)
                              for sp in by_name.get("rag.generate_summary", []))
    for name in ("ingest.ingest_hotels", "index_maintenance.refresh"):
        spans = by_name.get(name, [])
        out[f"{name}.s"] = med(dur(sp) for sp in spans)
        out[f"{name}.jobs"] = med(ev_sum(subtree(sp["id"]), "jobs") for sp in spans)
    refresh = by_name.get("index_maintenance.refresh", [])
    for key in ("upserted_partitions", "evicted_rows", "removed_partitions",
                "rows_rewritten"):
        out[f"index_maintenance.refresh.{key}"] = med(sp.get(key, 0) for sp in refresh)
    s = wl.samples
    if s.get("write_amp_delta"):
        out["index_maintenance.refresh.write_amp"] = (
            sum(s["write_amp_rows"]) / sum(s["write_amp_delta"]))
    if s.get("ingest_rows_per_s"):
        out["ingest.ingest_hotels.rows_per_s"] = med(s["ingest_rows_per_s"])
    out["session.get_spark.s"] = m["session_s"]
    out["ann.materialize_ivf.s"] = med(
        dur(sp) for sp in tr_spans if sp["name"] == "ann.materialize_ivf")
    out["streaming.sink_tables_left"] = m["sinks_left"]
    out["cached_rdds_left"] = m["cached_left"]

    # per-pass rollups over the build / plan / action phases
    passes = by_name.get("pass", [])
    rolls = {"build": [], "plan": [], "action": [], "jobs": [], "jobs_before": []}
    for p in passes:
        ids = subtree(p["id"])
        phase_ms = {"build": 0.0, "plan": 0.0, "action": 0.0}
        before = 0.0
        for i in ids:
            sp = tr_spans[i]
            for phase in phase_ms:
                if sp["name"].endswith("." + phase):
                    phase_ms[phase] += dur(sp) * 1e3
                    if phase != "action":
                        before += ev_sum(subtree(i), "jobs")
            if sp["name"] in ("ingest.ingest_hotels", "index_maintenance.refresh"):
                phase_ms["action"] += dur(sp) * 1e3
        for phase, v in phase_ms.items():
            rolls[phase].append(v)
        rolls["jobs"].append(ev_sum(ids, "jobs"))
        rolls["jobs_before"].append(before)
    for phase in ("build", "plan", "action"):
        out[f"spark.{phase}_ms"] = med(rolls[phase])
    out["spark.jobs"] = med(rolls["jobs"])
    out["spark.jobs_before_action"] = med(rolls["jobs_before"])
    out["trace.overhead_ms"] = med(s["trace_cost_s"]) * 1e3
    out["trace.pass_s"] = med(s["pass_s"])
    out["trace.spans"] = len(tr_spans)
    return {k: out[k] for k in PER_LAYER}


def main(argv=None) -> int:
    sys.path[:0] = [HERE]
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PKG, "__init__.py")):
        print(f"vbench: package {PKG} not found under {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    run_dir = os.path.join(root, ".vbench", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    configure_env(run_dir, bool(args.trace))
    try:
        m = measure(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass  # another run still owns .vbench
    wl = m["wl"]
    correct = wl.ops.failed == 0
    print(f"vbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"{len(wl.samples.get('pass_s', []))} timed passes, "
          f"{wl.ops.attempted} operations, {wl.ops.failed} failed")
    if args.trace:
        metrics = per_layer(m)
        units = PER_LAYER
        for k, v in metrics.items():
            print(f"  {k:48s} {v:14.4f} {units[k]}")
    else:
        metrics, counts = end_to_end(m)
        units = END_TO_END
        for k, v in metrics.items():
            print(f"  {k:32s} {v:14.4f} {units[k]:6s} n={counts[k]}")
        for k, (v, unit, n) in extras(m).items():
            print(f"  {k:32s} {v:14.4f} {unit:6s} n={n}  (not gated)")
    print(json.dumps({
        "correct": correct,
        "attempted": wl.ops.attempted,
        "failed": wl.ops.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
