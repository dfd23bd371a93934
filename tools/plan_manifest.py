"""Plan-fingerprint manifest: the structural guard for the evidence
workflow (VERDICT r5/r6 "What's wrong #1").

The driver's correctness gate checks a bounded prefix of
``__spark_entry__.queries()`` per round, ordered by ``_CHECK_FIRST``. A
key whose physical plan changes AFTER its last driver row silently
carries stale green evidence unless it is re-queued. This module makes
that drift a test failure:

* ``fingerprint_all(spark)`` computes, for every registry key, a sha256
  over the NORMALIZED optimized logical plan at the sf0.001 fixture
  (expression ids ``#N``, filesystem paths, cache-generation hashes and
  session-derived round-robin widths stripped — everything else,
  operator tree included, is significant).
  ``stream_*`` keys would execute a real micro-batch stream just to
  build their plan, so they are fingerprinted at source level instead:
  the transitive module-level source closure reachable from the
  registry function (tripgogo_vector_search_spark/introspect.py) — per-key, so an edit
  flags exactly the stream keys whose behavior it can touch, and
  cross-module, so behavior hosted outside ingest.py (e.g.
  operators/dedup.py's probe) is covered too.
* Plans only NAME a Python UDF — a kernel body edit changes results
  without changing the plan string — so any key whose plan contains a
  Python stage (EvalPython / *InPandas / UDTF) additionally mixes in
  its transitive source closure (tripgogo_vector_search_spark/introspect.py): a kernel
  edit flags exactly the keys whose closure reaches that kernel.
* ``tests/plan_manifest.json`` records the fingerprints as of the last
  time the manifest was regenerated — the workflow regenerates it in
  the same commit that queues changed keys in ``_CHECK_FIRST``, so the
  manifest always describes the plans the NEXT driver window will
  verify, and ``tests/test_plan_manifest.py`` fails if a plan drifts
  from it without its key being queued.

Regenerate (after intentionally changing a plan AND queueing the key):

    python tools/plan_manifest.py --update
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MANIFEST = os.path.join(REPO, "tests", "plan_manifest.json")
SF_SMOKE = "/root/testdata/sf0.001"

# Normalization: strip every volatile token so the hash moves only when
# the plan's STRUCTURE (operators, expressions, literals) moves.
_NORMALIZERS = [
    (re.compile(r"#\d+"), "#"),                      # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id="),        # session-global ctr
    # higher-order-function lambda variables are numbered by a
    # session-global counter (x_1 in a fresh session, x_9 after other
    # queries ran) — the suffix is part of the NAME, not the #exprId
    (re.compile(r"(lambda +\w+?)_\d+"), r"\1_"),
    (re.compile(r"file:[^\s,\)\]]+"), "file:<p>"),   # fs paths
    (re.compile(r"/[\w./-]*/(\.cache|testdata)/[^\s,\)\]]*"), "<p>"),
    # cache-gen hashes: require at least one a-f so pure-decimal
    # literals (big constants, micros timestamps, limits) stay
    # significant — ADVICE r7: \b[0-9a-f]{8,}\b also ate those,
    # letting a literal-only plan change slip past the drift gate
    (re.compile(r"\b(?=[0-9a-f]*[a-f])[0-9a-f]{8,}\b"), "<hex>"),
]


# Round-robin widths that follow the session: partitioning.widen and
# the fuzzy probe side write sparkContext.defaultParallelism (the host's
# core count), a shuffle_width pin writes spark.sql.shuffle.partitions
# (8 in the gate's session). Where the two are equal the plan text
# cannot say which one a repartition used, so both print as one token
# on every host; any other width stays significant.
_RR_WIDTH = re.compile(r"\bRepartition (\d+), true")


def session_widths(spark) -> frozenset[int]:
    from tripgogo_vector_search_spark.partitioning import shuffle_width
    return frozenset({spark.sparkContext.defaultParallelism,
                      shuffle_width(spark)})


def _normalize(plan: str, widths: frozenset[int] = frozenset()) -> str:
    for rx, repl in _NORMALIZERS:
        plan = rx.sub(repl, plan)
    plan = _RR_WIDTH.sub(lambda m: "Repartition <width>, true"
                         if int(m.group(1)) in widths else m.group(0), plan)
    out = []
    for ln in plan.splitlines():
        # RewriteDistinctAggregates numbers its gid groups (and orders
        # the Expand/Aggregate column lists) by expression-set hash
        # order, which varies with the session's exprId history. The
        # two variants are permutations of the same tokens, so a
        # character-sort canonicalizes the line while staying
        # sensitive to any real content change.
        if "gid#" in ln:
            ln = "".join(sorted(ln.strip()))
        out.append(ln)
    return "\n".join(out)


def _unwrap(fn):
    """Original registry function behind the ``query`` decorator.
    The decorator applies functools.wraps, so ``__wrapped__`` is
    authoritative (ADVICE r7: the closure-cell scan returned the
    FIRST function-valued cell, which could silently become the wrong
    object); the scan stays as a fallback for undecorated callables."""
    if hasattr(fn, "__wrapped__"):
        return fn.__wrapped__
    for cell in fn.__closure__ or ():
        try:
            if inspect.isfunction(cell.cell_contents):
                return cell.cell_contents
        except ValueError:  # empty cell
            pass
    return fn


def _source_fingerprint(name: str, fn) -> str:
    """Per-key source fingerprint for ``stream_*`` keys: sha256 of the
    transitive module-level source closure reachable from the registry
    function (tripgogo_vector_search_spark/introspect.py) — the key's own source
    (decorator + oracle SQL included), every package definition it
    statically references, and everything those reach, across ALL
    package modules. Replaces the r7 whole-``ingest.py`` hash, which
    failed both ways: any ingest.py edit re-flagged all ten stream
    keys (10 of r8's 50 driver slots went to exactly that), while a
    result-changing edit in ANOTHER module was invisible
    (``stream_minhash_probe``'s probe logic lives in
    operators/dedup.py — a green fingerprint over changed behavior,
    the precise hole this gate exists to close). Kernel modules no
    longer need the global ``_KERNEL_HASH`` mix-in here: a kernel a
    stream key uses is IN its closure (e.g. kernels.py's
    minhash_signature_udf via dedup.minhash_bands)."""
    from tripgogo_vector_search_spark.introspect import package_graph
    return package_graph().digest_for_function(_unwrap(fn))


_PLAN_PY_MARKERS = ("EvalPython", "InPandas", "pythonUDF", "PythonUDTF",
                    "MapInArrow",
                    # r9: a LogicalRDD leaf means part of the key's
                    # computation ran EAGERLY at build time (the
                    # connected-components loop returns a checkpoint
                    # projection) — the plan text cannot witness the
                    # loop's code at all, the same blindness as a
                    # named-only UDF. Found when the r9 pointer-jumping
                    # rewrite of the CC loop moved NO fingerprint: the
                    # earlier fail-loud change was only flagged because
                    # it happened to alter the returned plan's shape.
                    "LogicalRDD")


def plan_text(spark, name: str, sf_dir: str = SF_SMOKE) -> str | None:
    """Normalized optimized-plan text for a batch key; None for
    ``stream_*`` keys (building their plan would run a live stream).

    Keys that read a MATERIALIZED index get an extra ``INDEXES`` line
    naming the source-versioned leaves their construction touched
    (registry._TOUCHED_INDEXES — the optimized logical plan prints
    ``Relation [...] parquet`` with the location elided, so the leaf
    digest appears nowhere in the plan text itself). The leaf digest
    is the builder's source-closure digest, so an edit to an index
    builder or its kernels moves every reader key's fingerprint —
    without this, the index would silently REBUILD (new leaf) and the
    readers' results would change while their evidence stayed green:
    the same stale-evidence class the stream-closure fix removed."""
    from tripgogo_vector_search_spark.plans import registry
    if name.startswith("stream_"):
        return None
    registry._TOUCHED_INDEXES.clear()
    df = registry.QUERIES[name](spark, sf_dir)
    text = _normalize(df._jdf.queryExecution().optimizedPlan().toString(),
                      session_widths(spark))
    if registry._TOUCHED_INDEXES:
        text += "\nINDEXES " + " ".join(sorted(registry._TOUCHED_INDEXES))
    return text


def collect_plans(spark, sf_dir: str = SF_SMOKE) -> dict[str, str | None]:
    from tripgogo_vector_search_spark.plans import registry
    return {name: plan_text(spark, name, sf_dir)
            for name in sorted(registry.QUERIES)}


def fingerprint_one(spark, name: str, sf_dir: str = SF_SMOKE,
                    plan: str | None = None) -> str:
    from tripgogo_vector_search_spark.plans import registry
    fn = registry.QUERIES[name]
    if name.startswith("stream_"):
        return _source_fingerprint(name, fn)
    if plan is None:
        plan = plan_text(spark, name, sf_dir)
    if any(m in plan for m in _PLAN_PY_MARKERS):
        # Plans only NAME a Python UDF — a kernel body edit changes
        # results without changing the plan string — so python-path
        # keys mix in the key's transitive source closure (own
        # function source — covers inline registry kernels and the
        # @query oracle — plus every package definition it reaches,
        # kernels included). Per-key: a kernel edit flags exactly the
        # keys whose closure contains it, not every python-path key
        # (the r8 global-_KERNEL_HASH scheme did the latter, spending
        # driver-window slots on keys the edit could not affect).
        # tests/test_source_closure.py pins that every python-path
        # key's closure actually reaches its kernel definitions.
        from tripgogo_vector_search_spark.introspect import package_graph
        plan = ("PYSRC " + package_graph().digest_for_function(_unwrap(fn))
                + "\n" + plan)
    return hashlib.sha256(plan.encode()).hexdigest()


def fingerprint_all(spark, sf_dir: str = SF_SMOKE,
                    plans: dict[str, str | None] | None = None
                    ) -> dict[str, str]:
    from tripgogo_vector_search_spark.plans import registry
    plans = plans if plans is not None else collect_plans(spark, sf_dir)
    return {name: fingerprint_one(spark, name, sf_dir, plans.get(name))
            for name in sorted(registry.QUERIES)}


def load_manifest() -> dict[str, str]:
    with open(MANIFEST) as f:
        return json.load(f)["fingerprints"]


def _session():
    # Pin the exact shape conftest uses: manifest generation and the
    # test must agree on the session config.
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from tripgogo_vector_search_spark.session import get_spark
    return get_spark("plan-manifest", shuffle_partitions=8)


def main(argv: list[str]) -> int:
    update = "--update" in argv
    spark = _session()
    got = fingerprint_all(spark)
    if update:
        with open(MANIFEST, "w") as f:
            json.dump({"sf_dir": SF_SMOKE, "session": "local[8]/shuffle=8",
                       "fingerprints": got}, f, indent=1, sort_keys=True)
            f.write("\n")
        print(f"wrote {len(got)} fingerprints to {MANIFEST}")
        return 0
    want = load_manifest()
    drift = sorted(k for k in got if want.get(k) != got[k])
    gone = sorted(k for k in want if k not in got)
    for k in drift:
        print(f"DRIFT {k}")
    for k in gone:
        print(f"REMOVED {k}")
    print(f"{len(got)} keys, {len(drift)} drifted, {len(gone)} removed")
    return 1 if (drift or gone) else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
