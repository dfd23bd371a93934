"""Smoke-size runs of the benchmark: every workload prints every named
end-to-end metric with its unit, a traced run prints every per-layer
metric and writes its span file, and a directory without the engine
package makes the command fail fast.

Run from the repository root (each run starts a Spark session, ~40 s):

    python3 -m pytest vbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
VBENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(VBENCH)
sys.path.insert(0, VBENCH)

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)

# per-layer names that README.md maps to end-to-end metrics
MAPPED_LAYERS = [
    "sources.load_table.ms", "sources.load_table.jobs", "knn.build_ms", "knn.plan_ms",
    "knn.jobs_before_action", "ann.ivf_search.build_ms",
    "ann.ivf_search.jobs_before_action", "ann.ivf_search.plan_ms",
    "ann.ivf_search.action_ms", "ann.ivf_search.files_read", "knn.action_ms",
    "rag.generate_summary.ms", "rag.attempts", "simjoin.gemm.s", "simjoin.gemm.jobs",
    "simjoin.gemm.python_ms", "simjoin.gemm.executor_cpu_ms", "ann.ivf_knn_join.s",
    "ann.ivf_knn_join.jobs", "ann.ivf_knn_join.shuffle_mb", "dedup.embedding_near_dup.s",
    "dedup.embedding_near_dup.jobs", "dedup.embedding_near_dup.shuffle_mb",
    "dedup.ngram_jaccard.s", "dedup.ngram_jaccard.shuffle_mb",
    "dedup.ngram_jaccard.spill_mb", "dedup.minhash_components.s",
    "dedup.minhash_components.jobs", "quantile.quantiles_cont.s",
    "quantile.quantiles_cont.scans", "streaming.run_stream_to_table.s",
    "streaming.sink_tables_left", "ingest.ingest_hotels.s", "ingest.ingest_hotels.jobs",
    "index_maintenance.refresh.s", "index_maintenance.refresh.jobs",
    "index_maintenance.refresh.upserted_partitions",
    "index_maintenance.refresh.evicted_rows",
    "index_maintenance.refresh.removed_partitions",
    "index_maintenance.refresh.rows_rewritten", "knn.store_search.build_ms",
    "knn.store_search.jobs_before_action", "knn.store_search.action_ms",
    "session.get_spark.s", "ann.materialize_ivf.s", "spark.build_ms", "spark.plan_ms",
    "spark.action_ms", "spark.jobs", "spark.jobs_before_action", "cached_rdds_left",
    "trace.overhead_ms",
]


def bench(cwd, *args):
    return subprocess.run([sys.executable, os.path.join(VBENCH, "run.py"), *args],
                          cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True, timeout=300, check=False)


def result(proc):
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_spec_matches_code():
    assert sorted(w["name"] for w in SPEC["workloads"]) == sorted(WORKLOADS)
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == run.PER_LAYER
    assert set(MAPPED_LAYERS) <= set(run.PER_LAYER)


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_end_to_end_metrics(workload):
    out = result(bench(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
                       "--trace", "0", "--size", "smoke"))
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.END_TO_END
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_traced_run(workload, tmp_path):
    spans = tmp_path / "spans.jsonl"
    out = result(bench(ROOT, "--workload", workload, "--seed", "1", "--seconds", "1",
                       "--trace", "1", "--size", "smoke", "--spans", str(spans)))
    assert {k: v["unit"] for k, v in out["metrics"].items()} == run.PER_LAYER
    recs = [json.loads(line) for line in spans.read_text().splitlines()]
    names = {r["name"] for r in recs}
    assert "pass" in names and all(r["end"] >= r["start"] for r in recs)
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["session.get_spark.s"] > 0 and m["spark.jobs"] > 0
    if workload == "search_online":
        assert m["knn.jobs_before_action"] >= 1 and m["ann.ivf_search.files_read"] >= 1
    else:
        assert m["dedup.minhash_components.jobs"] > 0 and m["index_maintenance.refresh.s"] > 0


def test_fails_without_package(tmp_path):
    proc = bench(tmp_path, "--workload", "search_online", "--seed", "1", "--seconds", "1",
                 "--trace", "0")
    assert proc.returncode != 0 and proc.stdout.strip() == ""
