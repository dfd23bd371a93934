"""The Arrow pair kernel (functions/kernels.pair_cosine / pair_dot)
against its spec, the SQL fold of functions/vector.py: every result
bit for bit, sign of zero and NULL included, and the batch pair
operators that use it against the same operators built on the SQL
fold."""

from __future__ import annotations

import random
import struct

import pytest

from tripgogo_vector_search_spark.functions import kernels as K
from tripgogo_vector_search_spark.functions import vector as V
from tests.conftest import SF_SMOKE

NAN, INF = float("nan"), float("inf")

# (a, b): a is array<float>, b array<double>; c/d are both double
_EDGE = [
    ([1.0, 2.0], [3.0, -0.0]),
    ([-0.0, -0.0], [-0.0, 1.0]),
    ([5e-324, 1e308], [-5e-324, 1e308]),       # overflow to inf
    ([-5e-324, 1e150], [1.0, 0.0]),            # similarity -0.0
    ([NAN, 1.0], [1.0, 1.0]),
    ([INF, 1.0], [1.0, 1.0]),
    ([-INF, 0.0], [0.0, 1.0]),
    ([INF, 1.0], [INF, 1.0]),
    ([1.0, None], [1.0, 2.0]),                 # NULL element
    (None, [1.0]),                             # NULL list
    ([], []),                                  # empty list
    ([0.0, 0.0, 0.0], [1.0, 2.0, 3.0]),        # zero vector
    ([1.0, 2.0, 3.0], [1.0, 2.0]),             # unequal lengths
    ([], [1.0]),
    ([2.5], [-4.0]),
]


def _rows():
    rng = random.Random(7)
    rows = [(i, a, b, a, b) for i, (a, b) in enumerate(_EDGE)]
    # more rows than one fold block (kernels._pair_folds), lengths
    # differing inside one Arrow batch and one block
    for i in range(len(rows), 2500):
        n = rng.randint(1, 9)
        a = [rng.gauss(0, 1) for _ in range(n)]
        b = [rng.gauss(0, 1) for _ in range(n)]
        if i % 3 == 0:  # NaN rows of every length among valid ones
            b[rng.randrange(n)] = NAN
        rows.append((i, a, b, a, b))
    return rows


def _bits(x):
    return None if x is None else struct.pack(">d", x).hex()


@pytest.mark.parametrize("batch", [None, 4])
def test_pair_kernel_matches_sql_fold_bit_for_bit(spark, batch):
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    if batch:
        spark.conf.set(conf, str(batch))
    try:
        df = spark.createDataFrame(
            _rows(), "id int, a array<float>, b array<double>, "
                     "c array<double>, d array<double>")
        cols = []
        for x, y in (("a", "b"), ("c", "d"), ("b", "a")):
            cols += [V.cosine_distance(x, y), K.pair_cosine(x, y),
                     V.cosine_similarity(x, y),
                     K.pair_cosine(x, y, similarity=True),
                     V.dot(x, y), K.pair_dot(x, y)]
        got = df.select("id", *[c.alias(f"r{i}") for i, c in enumerate(cols)]
                        ).orderBy("id").collect()
    finally:
        spark.conf.set(conf, old)
    assert len(got) == 2500
    kinds = set()
    for r in got:
        for i in range(0, len(cols), 2):
            assert _bits(r[i + 2]) == _bits(r[i + 1]), (r.id, i)
            kinds.add(_bits(r[i + 1]))
    # the edge rows reached every class of result
    assert {None, _bits(NAN), _bits(-0.0), _bits(0.0)} <= kinds


def test_pair_kernel_empty_batch(spark):
    df = spark.createDataFrame([], "a array<double>, b array<double>")
    assert df.select(K.pair_cosine("a", "b"), K.pair_dot("a", "b")).collect() == []


def _sql_fold(monkeypatch):
    """Build the batch pair operators on vector.py's SQL fold."""
    from tripgogo_vector_search_spark.operators import dedup as DD

    def cos(a, b, *, similarity=False):
        return (V.cosine_similarity if similarity else V.cosine_distance)(a, b)

    monkeypatch.setattr(K, "pair_cosine", cos)
    monkeypatch.setattr(DD, "pair_cosine", cos)
    monkeypatch.setattr(DD, "pair_dot", V.dot)


@pytest.mark.parametrize("key", ["ann_knn_join", "embedding_near_dup",
                                 "semdedup"])
def test_pair_operators_match_sql_fold_build(spark, monkeypatch, key):
    from tripgogo_vector_search_spark.plans import registry

    def rows():
        df = registry.QUERIES[key](spark, SF_SMOKE)
        return df.columns, sorted(map(tuple, df.collect()), key=repr)

    cols, kernel = rows()
    assert kernel and "ArrowEvalPython" in _physical(registry, spark, key)
    _sql_fold(monkeypatch)
    assert "ArrowEvalPython" not in _physical(registry, spark, key)
    assert rows() == (cols, kernel)


def _physical(registry, spark, key):
    df = registry.QUERIES[key](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_online_modules_do_not_import_pandas():
    """The online request path never loads pandas into the driver
    (~37 MB of RSS): the pair kernel's module is imported inside the
    batch join that uses it."""
    import subprocess
    import sys
    code = ("import sys\n"
            "import tripgogo_vector_search_spark.operators.ann\n"
            "import tripgogo_vector_search_spark.operators.knn\n"
            "import tripgogo_vector_search_spark.sources.tables\n"
            "import tripgogo_vector_search_spark.plans.rag\n"
            "print('pandas' in sys.modules)\n")
    root = __file__.rsplit("/tests/", 1)[0]
    out = subprocess.run([sys.executable, "-c", code], cwd=root,
                         capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "False"
