"""ANN property tests: determinism, candidate pruning, recall vs exact KNN."""

from __future__ import annotations

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


def test_zero_norm_ranks_last_in_ivf_search(spark, tmp_path):
    path = str(tmp_path / "ivf")
    ANN.materialize_ivf_index(_zero_corpus(spark), path, n_cells=2)
    _check_zero_norm(lambda q, k: ANN.ivf_search_materialized(
        spark, path, q, k=k, n_cells=2, nprobe=2).collect())


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
