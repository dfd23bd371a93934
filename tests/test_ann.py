"""ANN property tests: determinism, candidate pruning, recall vs exact KNN,
and the IVF search served in the driver against its Spark plan."""

from __future__ import annotations

import os

import numpy as np
import pytest

from tests.conftest import SF_CORRECTNESS, SF_SMOKE
from tripgogo_vector_search_spark.operators import ann as ANN
from tripgogo_vector_search_spark.operators.knn import knn_topk
from tripgogo_vector_search_spark.plans.flagship import QUERY_VEC
from tripgogo_vector_search_spark.sources.tables import load_table


def test_lsh_bucket_pruning_and_determinism(spark, tmp_path):
    emb = load_table(spark, SF_CORRECTNESS, "embeddings")
    path = str(tmp_path / "lsh")
    ANN.materialize_lsh_index(emb, path)
    idx = spark.read.parquet(path)
    total = emb.count()
    bucket = ANN.py_lsh_bucket(QUERY_VEC, ANN.lsh_planes())
    cand = idx.filter(idx.bucket == bucket).count()
    assert 0 < cand < total / 4  # 8 planes => ~total/256 expected
    r1 = [r.vec_id for r in
          ANN.lsh_search_materialized(spark, path, QUERY_VEC, k=3).collect()]
    r2 = [r.vec_id for r in
          ANN.lsh_search_materialized(spark, path, QUERY_VEC, k=3).collect()]
    assert r1 == r2 and len(r1) <= 3


def test_ivf_partition_and_recall(spark, tmp_path):
    emb = load_table(spark, SF_CORRECTNESS, "embeddings")
    path = str(tmp_path / "ivf")
    ANN.materialize_ivf_index(emb, path, n_cells=16)
    idx = spark.read.parquet(path)
    # every vector assigned exactly one cell
    assert idx.count() == emb.count()
    assert idx.select("cid").distinct().count() <= 16
    # recall@10 with wide probing: probe half the cells, expect >= 50%
    exact = {r.vec_id for r in knn_topk(emb, QUERY_VEC, k=10,
                                        tiebreak="vec_id").collect()}
    approx = {r.vec_id for r in ANN.ivf_search_materialized(
        spark, path, QUERY_VEC, k=10, n_cells=16, nprobe=8).collect()}
    assert len(approx & exact) >= 5, (exact, approx)


# A zero-norm vector has no cosine distance: every search gives it NULL
# and ranks it after every real distance, under ANSI as well.
_ZERO_ID = 3
_ROWS = [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.6, 0.8, 0.0, 0.0]),
         (2, [0.0, 1.0, 0.0, 0.0]), (_ZERO_ID, [0.0, 0.0, 0.0, 0.0]),
         (4, [-1.0, 0.5, 0.0, 0.0])]
_Q = [1.0, 0.2, 0.0, 0.0]
_NONZERO_ORDER = [0, 1, 2, 4]  # ascending cosine distance to _Q


def _zero_corpus(spark):
    return spark.createDataFrame(_ROWS, "vec_id bigint, embedding array<double>")


def _check_zero_norm(search):
    """search(query, k) -> rows of (vec_id, distance_score)."""
    full = search(_Q, len(_ROWS))
    assert [r.vec_id for r in full] == _NONZERO_ORDER + [_ZERO_ID]
    assert full[-1].distance_score is None
    assert all(r.distance_score is not None for r in full[:-1])
    short = search(_Q, len(_ROWS) - 1)
    assert [r.vec_id for r in short] == _NONZERO_ORDER
    zero_q = search([0.0] * 4, len(_ROWS))
    assert [r.distance_score for r in zero_q] == [None] * len(_ROWS)


def test_zero_norm_ranks_last_in_knn_topk(spark):
    emb = _zero_corpus(spark)
    _check_zero_norm(lambda q, k: knn_topk(emb, q, k=k, tiebreak="vec_id")
                     .select("vec_id", "distance_score").collect())


def test_zero_norm_ranks_last_in_ivf_search(spark, tmp_path, monkeypatch):
    path = str(tmp_path / "ivf")
    ANN.materialize_ivf_index(_zero_corpus(spark), path, n_cells=2)

    def search(q, k):
        served, planned = _both_paths(monkeypatch, lambda: ANN.ivf_search_materialized(
            spark, path, q, k=k, n_cells=2, nprobe=2))
        assert served == planned
        return served

    _check_zero_norm(search)


def test_zero_norm_ranks_last_in_lsh_search(spark, tmp_path):
    path = str(tmp_path / "lsh")
    planes = [[0.0, 0.0, 0.0, 1.0]]  # every row and query hash to "b1"
    ANN.materialize_lsh_index(_zero_corpus(spark), path, planes=planes)
    _check_zero_norm(lambda q, k: ANN.lsh_search_materialized(
        spark, path, q, k=k, planes=planes).collect())


@pytest.mark.parametrize("key", ["filtered_knn", "kmeans_assign"])
def test_zero_vector_ranks_last_in_registry_keys(spark, tmp_path, key):
    """A stored zero vector (vec_id 0: label 5, so a filtered_knn
    candidate, and kmeans_assign's first centroid) has a NULL cosine
    distance, which both keys rank last, like their DuckDB oracles."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from tests.oracle_harness import TABLE_NAMES, compare, duck_connection
    from tripgogo_vector_search_spark.plans import registry

    for t in TABLE_NAMES:
        if t != "embeddings":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    emb = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    vecs = emb.column("embedding").to_pylist()
    assert emb.column("vec_id")[0].as_py() == 0 and emb.column("label")[0].as_py() == 5
    vecs[0] = [0.0] * len(vecs[0])
    i = emb.schema.get_field_index("embedding")
    pq.write_table(emb.set_column(i, emb.schema.field(i),
                                  pa.array(vecs, emb.schema.field(i).type)),
                   tmp_path / "embeddings.parquet")
    df = registry.QUERIES[key](spark, str(tmp_path))
    ok, msg = compare(df, duck_connection(str(tmp_path)), registry.ORACLES[key])
    assert ok, f"{key}: {msg}"


# The IVF search is served in the driver while its probed files fit the
# byte budget; with the budget at 0 it runs as the Spark plan. Both must
# return the same rows and schema.


def _served_in_driver(df) -> bool:
    plan = df._jdf.queryExecution().optimizedPlan()
    return plan.getClass().getSimpleName() == "LocalRelation"


def _both_paths(monkeypatch, search):
    """The rows of ``search()`` served in the driver and as the Spark
    plan, after checking which path each took and that their schemas
    are equal."""
    served = search()
    with monkeypatch.context() as m:
        m.setattr(ANN, "_DRIVER_SCAN_BYTES", 0)
        planned = search()
    assert _served_in_driver(served) and not _served_in_driver(planned)
    assert served.schema == planned.schema
    return served.collect(), planned.collect()


def _materialize(spark, rows, path, n_cells,
                 schema="vec_id bigint, embedding array<double>"):
    ANN.materialize_ivf_index(spark.createDataFrame(rows, schema), path,
                              n_cells=n_cells)


@pytest.fixture(scope="module")
def clustered_ivf(spark, tmp_path_factory):
    """(vectors, index path): 2,000 x 64 float vectors in 8 clusters,
    indexed in 16 cells."""
    rng = np.random.default_rng(7)
    centers = rng.standard_normal((8, 64))
    vecs = (centers[rng.integers(8, size=2000)]
            + 0.3 * rng.standard_normal((2000, 64))).astype(np.float32)
    path = str(tmp_path_factory.mktemp("clustered") / "ivf")
    _materialize(spark, [(i, v.tolist()) for i, v in enumerate(vecs)], path, 16,
                 "vec_id bigint, embedding array<float>")
    return vecs, path


def test_ivf_driver_search_equals_spark_plan(spark, clustered_ivf, monkeypatch):
    vecs, path = clustered_ivf
    rng = np.random.default_rng(8)
    for i in rng.choice(len(vecs), 40, replace=False):
        q = (vecs[i] + 0.1 * rng.standard_normal(vecs.shape[1])).tolist()
        served, planned = _both_paths(monkeypatch, lambda: ANN.ivf_search_materialized(
            spark, path, q, k=10, n_cells=16, nprobe=2))
        assert served == planned and len(served) == 10


def test_ivf_search_ranks_undefined_distances_last(spark, tmp_path, monkeypatch):
    """A NULL embedding, a NULL element and a length other than the
    query's have no SQL fold, so no distance: both paths give NULL and
    rank them last, by id. A k past the candidate count returns every
    candidate."""
    bad = [(5, None), (6, [1.0, None, 0.0, 0.0]), (7, [1.0, 0.0, 0.0]),
           (8, [1.0, 0.0, 0.0, 0.0, 0.0])]
    path = str(tmp_path / "ivf")
    _materialize(spark, _ROWS + bad, path, 2)
    served, planned = _both_paths(monkeypatch, lambda: ANN.ivf_search_materialized(
        spark, path, _Q, k=len(_ROWS) + len(bad) + 3, n_cells=2, nprobe=2))
    assert served == planned
    assert [r.vec_id for r in served] == _NONZERO_ORDER + [_ZERO_ID, 5, 6, 7, 8]
    assert [r.distance_score for r in served[-5:]] == [None] * 5


def test_ivf_search_with_an_empty_probed_cell(spark, tmp_path, monkeypatch):
    """Centroid 1 points the way centroid 0 does, so every tie for the
    nearest cell goes to cell 0 and cell 1 stays empty; the query
    probes both. Rows 0 and 1 have equal distances and rank by id."""
    rows = [(0, [1.0, 0.0, 0.0]), (1, [2.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0]),
            (3, [0.9, 0.1, 0.0]), (4, [0.1, 0.9, 0.0]), (5, [1.0, 0.5, 0.0])]
    path = str(tmp_path / "ivf")
    _materialize(spark, rows, path, 3)
    assert not os.path.exists(os.path.join(path, "cid=1"))
    served, planned = _both_paths(monkeypatch, lambda: ANN.ivf_search_materialized(
        spark, path, [1.0, 0.2, 0.0], k=10, n_cells=3, nprobe=2))
    assert served == planned
    assert [(r.vec_id, r.cid) for r in served] == [(3, 0), (0, 0), (1, 0), (5, 0)]


def test_ivf_search_breaks_distance_ties_by_id(spark, tmp_path, monkeypatch):
    """Vectors a power-of-two scale apart have bit-equal cosine
    distances to any query; both paths rank them by id, and keep an
    int id column's type."""
    base = [0.3, -0.2, 0.5, 0.1]
    rows = ([(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0]),
             (5, [0.0, 0.0, 1.0, 0.0])]
            + [(i, [s * x for x in base])
               for i, s in [(9, 1.0), (4, 2.0), (7, 0.5), (12, 4.0)]])
    path = str(tmp_path / "ivf")
    _materialize(spark, rows, path, 2, "vec_id int, embedding array<double>")
    served, planned = _both_paths(monkeypatch, lambda: ANN.ivf_search_materialized(
        spark, path, [0.3, -0.1, 0.5, 0.2], k=3, n_cells=2, nprobe=2))
    assert served == planned
    assert [r.vec_id for r in served] == [4, 7, 9]
    assert len({r.distance_score for r in served}) == 1


def test_ivf_search_needs_a_filesystem_pyarrow_resolves():
    """A scheme pyarrow has no filesystem for sends the search to the
    Spark plan."""
    assert ANN._probed_cells("s3a://bucket/ivf", [0, 1]) is None


def test_ivf_index_is_the_corpus_plus_cid(spark, tmp_path):
    """The index keeps every column of the frame it is built from, in
    order, with `cid` last; the `_centroids` sidecar is the (cid, cvec)
    of the ids below n_cells, as before."""
    rows = [(i, f"t{i}", [float(i % 3), 1.0, float(i)], i * 10)
            for i in range(12)]
    corpus = spark.createDataFrame(
        rows, "vec_id bigint, tag string, embedding array<double>, label int")
    path = str(tmp_path / "ivf")
    ANN.materialize_ivf_index(corpus, path, n_cells=4)
    h = ANN.open_ivf(spark, path)
    assert h.schema.names == corpus.columns + ["cid"]
    got = {r.vec_id: (r.tag, list(r.embedding), r.label)
           for r in h.read(spark).collect()}
    assert got == {i: (t, v, lab) for i, t, v, lab in rows}
    cents = h.read_centroids(spark)
    assert cents.schema.simpleString() == "struct<cid:bigint,cvec:array<double>>"
    assert sorted((r.cid, list(r.cvec)) for r in cents.collect()) \
        == [(i, v) for i, _, v, _ in rows[:4]]
    assert sorted(h.centroids) == [(i, v) for i, _, v, _ in rows[:4]]


def test_probe_rules_rank_a_zero_centroid_last(spark, tmp_path):
    """Centroid 0 is the zero vector and the query points away from
    centroids 1 and 2: their cosine distances exceed 1, yet the zero
    centroid has none and ranks last. The single-query and batch probe
    rules pick the same cells at every nprobe."""
    rows = [(0, [0.0, 0.0, 0.0, 0.0]), (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0, 0.0]), (3, [-1.0, 0.2, 0.0, 0.0]),
            (4, [0.5, 0.5, 0.0, 0.0]), (5, [-0.5, 0.1, 0.3, 0.0])]
    q = [-1.0, 0.0, 0.0, 0.0]
    path = str(tmp_path / "ivf")
    _materialize(spark, rows, path, 4)
    h = ANN.open_ivf(spark, path)
    order = ANN.nearest_cells(h, q, 4)
    assert order == [3, 2, 1, 0]
    queries = spark.createDataFrame([(7, q)], "qid bigint, qvec array<double>")
    for nprobe in range(1, 5):
        batch = ANN.nearest_cells_batch(h, queries, nprobe).collect()
        assert {r.qid for r in batch} == {7}
        assert sorted(r.cid for r in batch) == sorted(order[:nprobe])
