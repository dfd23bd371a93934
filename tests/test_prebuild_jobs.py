"""No Spark job before the action on the online search path.

1. Building the exact request (``load_table`` -> ``knn_topk``) starts
   no Spark job: tables are read with their declared schemas. An IVF
   request against an opened index starts none at all, from build to
   ``collect``: ``ann.open_ivf`` keeps the centroids and schemas of an
   index in a bounded memo, and the probed cells are scored in the
   driver.
2. The memo never serves a stale index: a rewrite at the same path
   changes the `_centroids` listing token, so the next search answers
   from the new index; the probed cells are listed on every request.
3. The declared schemas equal what Spark infers from every fixture.
   `events` takes its schema from one footer probe, in either `ts`
   form, and its batch and streaming readers start no job.
4. Checkpoint release and the RAG retry loop leave a trace where they
   should and none where they should not.
5. The registry keys that read the corpus's IVF index start, on a warm
   second build, only the jobs an allowlist gives a reason for.
"""

from __future__ import annotations

import inspect
import logging
import shutil
import sys
import threading
import uuid

import numpy as np
import pytest

from tripgogo_vector_search_spark import ckpt as CK
from tripgogo_vector_search_spark.operators import ann as ANN
from tripgogo_vector_search_spark.operators.knn import knn_topk, with_match_score
from tripgogo_vector_search_spark.plans import rag
from tripgogo_vector_search_spark.schemas import TABLES
from tripgogo_vector_search_spark.sources.tables import load_table

SF = "/root/testdata/sf0.001"
FIXTURES = ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
            "/root/testdata/sf0.1"]
N_CELLS = 4


def _build_jobs(spark, build):
    """(what ``build`` returns, number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "build phase")
    try:
        df = build()
    finally:
        sc._jsc.clearJobGroup()
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


def _corpus(seed: int, n: int = 60, dim: int = 8) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n, dim)).astype(np.float32)


def _materialize(spark, vecs: np.ndarray, path: str) -> None:
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        "vec_id bigint, embedding array<float>")
    ANN.materialize_ivf_index(df, path, n_cells=N_CELLS)


def _probed_topk(vecs: np.ndarray, q: list[float], k: int, nprobe: int):
    """Exact top-k of the probed cells, from the materializer's rules:
    cell = nearest of the first N_CELLS vectors, ties to the smaller id."""
    rows = [[float(x) for x in v] for v in vecs]
    cents = rows[:N_CELLS]
    cells = [min(range(N_CELLS), key=lambda c: (ANN._cos_dist(v, cents[c]), c))
             for v in rows]
    probes = sorted(range(N_CELLS),
                    key=lambda c: (ANN._cos_dist(cents[c], q), c))[:nprobe]
    cand = sorted((ANN._cos_dist(v, q), i) for i, v in enumerate(rows)
                  if cells[i] in probes)
    return [(i, round(d, 6), cells[i]) for d, i in cand[:k]]


def test_exact_path_starts_no_job_before_action(spark):
    emb = load_table(spark, SF, "embeddings").limit(1).collect()[0].embedding
    df, jobs = _build_jobs(spark, lambda: with_match_score(knn_topk(
        load_table(spark, SF, "embeddings"), emb, k=10, tiebreak="vec_id")))
    assert jobs == 0
    rows = df.collect()
    assert len(rows) == 10 and abs(rows[0].distance_score) < 1e-6


@pytest.fixture(scope="module")
def ivf(spark, tmp_path_factory):
    """(corpus, path) of one small materialized IVF index."""
    vecs = _corpus(1)
    path = str(tmp_path_factory.mktemp("ivf") / "ivf")
    _materialize(spark, vecs, path)
    return vecs, path


def test_ivf_search_starts_no_job_before_action(spark, ivf):
    """Nor during the plan or the action: the whole request is served
    in the driver."""
    vecs, path = ivf
    ANN.open_ivf(spark, path)  # a memo hit: materializing opened it
    q = [float(x) for x in _corpus(2, n=1)[0]]

    def request():
        df = ANN.ivf_search_materialized(spark, path, q, k=5, nprobe=2)
        df._jdf.queryExecution().executedPlan()
        return df.collect()

    rows, jobs = _build_jobs(spark, request)
    assert jobs == 0
    got = [(r.vec_id, r.distance_score, r.cid) for r in rows]
    assert got == _probed_topk(vecs, q, 5, 2)


def _functions_called(build) -> list[str]:
    """The ``pyspark.sql.functions`` entry points ``build()`` calls."""
    from pyspark.sql import functions as F
    called: list[str] = []

    def counting(name, fn):
        def wrapper(*args, **kwargs):
            called.append(name)
            return fn(*args, **kwargs)
        return wrapper

    with pytest.MonkeyPatch.context() as mp:
        for name in dir(F):
            fn = getattr(F, name)
            if not name.startswith("_") and inspect.isfunction(fn):
                mp.setattr(F, name, counting(name, fn))
        build()
    return called


@pytest.mark.parametrize("request_path", ["exact", "ivf"])
def test_request_build_calls_do_not_grow_with_dimension(spark, ivf,
                                                        request_path):
    """Each vector expression is one SQL text, so building a request
    makes the same PySpark function calls for a 384-dim query (the
    reference's size) as for an 8-dim one — no ``lit`` per element."""
    _, path = ivf
    src = load_table(spark, SF, "embeddings")

    def build(q):
        if request_path == "exact":
            return with_match_score(knn_topk(src, q, k=10, tiebreak="vec_id"))
        return ANN.ivf_search_materialized(spark, path, q, k=5, nprobe=2)

    small, large = (_functions_called(lambda: build([0.5] * dim))
                    for dim in (8, 384))
    assert small == large, (small, large)


def test_ivf_knn_join_builds_without_schema_jobs(spark, ivf):
    vecs, path = ivf
    ANN.open_ivf(spark, path)  # a memo hit: materializing opened it
    q = [float(x) for x in vecs[11]]
    queries = spark.createDataFrame([(0, q)], "qid bigint, qvec array<double>")
    df, jobs = _build_jobs(spark, lambda: ANN.ivf_knn_join_materialized(
        spark, path, queries, k=5, nprobe=2))
    assert jobs == 0
    got = sorted((r.distance_score, r.vec_id, r.cid) for r in df.collect())
    assert [(v, d, c) for d, v, c in got] == _probed_topk(vecs, q, 5, 2)


# Warm pre-action jobs of the registry keys that read an IVF index: the
# index is on disk and its handle memoized, so each job left is one the
# key's plan needs, {key: (count, why)}.
_INDEX_KEY_JOBS = {
    "ann_ivf": (0, "none: probes and cells are read in the driver"),
    "ann_recall_eval": (1, "the eval-sample checkpoint"),
    "ivfpq_topk": (1, "the codebook collect for the driver LUT"),
    "pq_adc_topk": (1, "the codebook collect for the driver LUT"),
    "pq_encode_error": (0, "none: index and codebooks read with their schemas"),
    "semdedup": (4, "the centroid count and the occupancy-guard histogram, "
                    "a shuffle-stage and a result job each"),
    "ivfpq_recall_eval": (1, "the eval-sample checkpoint"),
}


@pytest.mark.parametrize("key", sorted(_INDEX_KEY_JOBS))
def test_index_key_build_jobs(spark, key):
    """Building a registry key a second time starts only the jobs its
    allowlist entry gives a reason for: no schema inference, no
    centroid read of its own."""
    from tripgogo_vector_search_spark.plans.registry import QUERIES
    QUERIES[key](spark, SF)  # builds the index and opens its handle
    _, jobs = _build_jobs(spark, lambda: QUERIES[key](spark, SF))
    count, why = _INDEX_KEY_JOBS[key]
    assert jobs == count, f"{key}: {jobs} jobs, allowed {count} ({why})"


def test_rewritten_index_is_never_served_stale(spark, ivf, tmp_path):
    """An index replaced at the same path without going through
    `open_ivf` (here: by another corpus's index files) changes the
    listing token, so the next search probes the new centroids and
    reads the new cells."""
    path, other = str(tmp_path / "ivf"), str(tmp_path / "other")
    q = [float(x) for x in _corpus(9, n=1)[0]]
    vecs = _corpus(4)
    _materialize(spark, vecs, other)
    shutil.copytree(ivf[1], path)
    before = ANN.open_ivf(spark, path)
    shutil.rmtree(path)
    shutil.copytree(other, path)
    got = [(r.vec_id, r.distance_score, r.cid) for r in
           ANN.ivf_search_materialized(spark, path, q, k=5, nprobe=2).collect()]
    assert got == _probed_topk(vecs, q, 5, 2)
    after = ANN.open_ivf(spark, path)
    assert after.token != before.token
    assert np.array_equal([v for _, v in sorted(after.centroids)], vecs[:N_CELLS])


def test_ivf_handle_memo_is_bounded(spark, ivf, tmp_path, monkeypatch):
    monkeypatch.setattr(ANN, "_IVF_MEMO_SIZE", 2)
    paths = [str(tmp_path / f"ivf{i}") for i in range(4)]
    for p in paths:
        shutil.copytree(ivf[1], p)
    handles = [ANN.open_ivf(spark, p) for p in paths]
    assert len(ANN._IVF_HANDLES) == 2
    assert all(h.centroids == handles[0].centroids for h in handles)
    # the oldest paths were evicted, the newest is served from the memo
    assert sorted(k[-4:] for k in ANN._IVF_HANDLES) == ["ivf2", "ivf3"]
    assert ANN.open_ivf(spark, paths[-1]) is handles[-1]


def test_ivf_handle_memo_under_concurrent_opens(spark, ivf, tmp_path, monkeypatch):
    """More threads than cores open three indexes through a two-entry
    memo: every caller gets its own path's handle and the memo never
    grows past its bound."""
    monkeypatch.setattr(ANN, "_IVF_MEMO_SIZE", 2)
    paths = [str(tmp_path / f"ivf{i}") for i in range(3)]
    for p in paths:
        shutil.copytree(ivf[1], p)
    errors, sizes = [], []

    def worker(i):
        try:
            for j in range(3):
                p = paths[(i + j) % len(paths)]
                h = ANN.open_ivf(spark, p)
                if p + "/_centroids/" not in h.token:
                    errors.append((p, h.token))
                sizes.append(len(ANN._IVF_HANDLES))
        except Exception as exc:  # noqa: BLE001 - reported below
            errors.append(exc)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors and len(sizes) == 18 and max(sizes) <= 2


@pytest.mark.parametrize("sf_dir", FIXTURES)
def test_declared_schemas_match_fixture_footers(spark, sf_dir):
    from tripgogo_vector_search_spark.sources.tables import _events_source
    for name, schema in TABLES.items():
        if name == "events":  # ts ships as nanos or micros; probed per read
            schema = _events_source(spark, sf_dir)[0]
        assert spark.read.parquet(f"{sf_dir}/{name}.parquet").schema == schema, name


_NANOS = "spark.sql.legacy.parquet.nanosAsLong"


@pytest.mark.parametrize("unit", ["us", "ns"])
@pytest.mark.parametrize("reader", ["batch", "stream"])
def test_events_read_starts_no_job(spark, tmp_path, unit, reader):
    """Either `ts` form of `events` is read with a declared schema from
    one footer probe: building the batch or the streaming reader starts
    no Spark job, and only the NANOS form sets the session-global
    `nanosAsLong`."""
    from tests.test_sources_ts import TS, _write_events
    from tripgogo_vector_search_spark.streaming.ingest import stream_events

    sf_dir = _write_events(str(tmp_path), unit)
    read = {"batch": lambda: load_table(spark, sf_dir, "events"),
            "stream": lambda: stream_events(spark, sf_dir)}[reader]
    old = spark.conf.get(_NANOS, None)
    spark.conf.unset(_NANOS)
    try:
        df, jobs = _build_jobs(spark, read)
        nanos = spark.conf.get(_NANOS, None)
    finally:
        if old is None:
            spark.conf.unset(_NANOS)
        else:
            spark.conf.set(_NANOS, old)
    assert jobs == 0
    assert nanos == ("true" if unit == "ns" else None)
    assert df.schema["ts"].dataType.typeName() == "timestamp"
    if reader == "batch":
        assert [r.ts for r in df.orderBy("event_id").collect()] == TS


def test_released_checkpoint_leaves_persistent_rdds(spark):
    frame = CK.checkpoint(spark.range(50).selectExpr("id * 2 AS x"),
                          scope="release_probe")
    (rid,) = CK._PENDING.pop("release_probe")
    ids = spark.sparkContext._jsc.getPersistentRDDs().keySet()
    assert ids.contains(rid)
    CK.release(frame)
    assert not spark.sparkContext._jsc.getPersistentRDDs().keySet().contains(rid)


def test_rag_failed_attempts_are_logged(caplog):
    rows = [{"vec_id": 1, "match_score": 99.5}]
    calls, sleeps = [], []

    def flaky(payload):
        calls.append(1)
        if len(calls) <= 2:
            raise ConnectionError("refused")
        return rag.stub_transport(payload)

    with caplog.at_level(logging.WARNING, logger=rag.__name__):
        text = rag.generate_summary(rows, "q", transport=flaky,
                                    sleeper=sleeps.append)
    assert text == rag.generate_summary(rows, "q", sleeper=sleeps.append)
    assert sleeps == [1, 2]
    warned = [r.getMessage() for r in caplog.records if r.name == rag.__name__]
    assert len(warned) == 2 and all("ConnectionError" in m for m in warned)

    def down(payload):
        raise ConnectionError("refused")

    caplog.clear()
    with caplog.at_level(logging.WARNING, logger=rag.__name__):
        assert rag.generate_summary(rows, "q", transport=down,
                                    sleeper=lambda s: None) == rag.FALLBACK_MSG
    assert len([r for r in caplog.records if r.name == rag.__name__]) \
        == rag.MAX_RETRIES
