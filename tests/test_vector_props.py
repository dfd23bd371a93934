"""Vector-operator property tests (SURVEY.md §5.3): identity, symmetry,
normalized-dot equivalence, knn(k=n) == full sort, to_vector roundtrip.
One deterministic 200-vector batch, one Spark job per property."""

from __future__ import annotations

import math
import random
import struct

import pytest
from pyspark.sql import functions as F

from tripgogo_vector_search_spark.functions import vector as V
from tripgogo_vector_search_spark.operators.knn import knn_topk
from tripgogo_vector_search_spark.sources.tables import load_table
from tests.conftest import SF_CORRECTNESS

DIM = 16
N = 200


def _vecs():
    rng = random.Random(42)
    out = []
    for i in range(N):
        v = [rng.uniform(-1, 1) for _ in range(DIM)]
        out.append((i, v, [rng.uniform(-1, 1) for _ in range(DIM)]))
    return out


def _df(spark):
    return spark.createDataFrame(_vecs(), "id int, a array<double>, b array<double>")


def test_self_distance_zero_and_symmetry(spark):
    rows = (_df(spark).select(
        "id",
        V.cosine_distance("a", "a").alias("d_self"),
        V.cosine_distance("a", "b").alias("d_ab"),
        V.cosine_distance("b", "a").alias("d_ba"),
        V.euclidean_distance("a", "a").alias("e_self"))).collect()
    for r in rows:
        assert abs(r["d_self"]) < 1e-12
        assert abs(r["d_ab"] - r["d_ba"]) < 1e-12
        assert r["e_self"] == 0.0


def test_normalized_vectors_distance_equals_one_minus_dot(spark):
    rows = (_df(spark)
            .select(V.l2_normalize("a").alias("na"), V.l2_normalize("b").alias("nb"))
            .select(V.cosine_distance("na", "nb").alias("d"),
                    (F.lit(1.0) - V.dot("na", "nb")).alias("one_minus_dot"))
            ).collect()
    for r in rows:
        assert abs(r["d"] - r["one_minus_dot"]) < 1e-9


def test_l2_normalize_unit_norm_and_zero_null(spark):
    df = _df(spark).select(V.l2_norm(V.l2_normalize("a")).alias("n"))
    for r in df.collect():
        assert abs(r["n"] - 1.0) < 1e-12
    zero = spark.createDataFrame([([0.0] * DIM,)], "z array<double>")
    out = zero.select(V.l2_normalize("z").alias("nz")).first()
    assert all(x is None for x in out["nz"])


def test_knn_k_equals_n_is_full_sort(spark):
    emb = load_table(spark, SF_CORRECTNESS, "embeddings")
    n = emb.count()
    q = [math.sin(0.1 * (i + 1)) for i in range(64)]
    full = knn_topk(emb, q, k=n, tiebreak="vec_id").select("vec_id").collect()
    srt = (emb.withColumn("d", V.cosine_distance("embedding", q))
           .orderBy(F.col("d").asc(), F.col("vec_id").asc())
           .select("vec_id").collect())
    assert [r.vec_id for r in full] == [r.vec_id for r in srt]


def test_to_vector_roundtrip_and_dim_check(spark):
    df = spark.createDataFrame(
        [("[1.5, -2.0, 3.25]",), ("[]",), ("[1.0,2.0]",)], "s string")
    out = df.select(V.to_vector("s").alias("v"),
                    V.to_vector("s", dim=3).alias("v3")).collect()
    assert out[0]["v"] == [1.5, -2.0, 3.25] and out[0]["v3"] == [1.5, -2.0, 3.25]
    assert out[1]["v"] == [] and out[1]["v3"] is None
    assert out[2]["v"] == [1.0, 2.0] and out[2]["v3"] is None


def test_match_score_contract(spark):
    df = spark.createDataFrame([(0.0,), (0.123456,), (2.0,)], "d double")
    rows = df.select(V.match_score("d").alias("m")).collect()
    assert [r["m"] for r in rows] == [100.0, 87.65, -100.0]


def test_gemm_and_broadcast_simjoin_agree(spark):
    """Two independent physical strategies, one semantics: the BLAS
    GEMM path (round-before-argmin, partition-local top-k) and the
    broadcast+codegen-expression path must emit the SAME neighbor sets,
    ranks, and 6-dp distances on random vectors — the strategy-level
    analogue of the oracle gate, and the guard that the r5
    round-before-top-k change is semantics-preserving.

    The two strategies CAN legitimately diverge when two distances tie
    only at 6 dp (GEMM breaks the rounded tie by id, broadcast ranks
    raw — why sim_join_gemm carries its own rounded-ORDER-BY oracle);
    this test's fixed seed produces no such near-tie, so exact
    equality is the correct expectation here."""
    from tripgogo_vector_search_spark.operators.simjoin import (
        similarity_join, similarity_join_gemm)
    df = (_df(spark).select(F.col("id").cast("long").alias("vec_id"),
                            F.col("a").alias("embedding")))
    q = df.filter(F.col("vec_id") % 7 == 0)
    want = {tuple(r) for r in similarity_join(df, q, k=3).collect()}
    got = {tuple(r) for r in similarity_join_gemm(df, q, k=3).collect()}
    assert got == want
    assert len(got) == 3 * ((N - 1) // 7 + 1)
    # degenerate edges: k > corpus (both emit n-1 rows per query) and a
    # single-row corpus with exclude_self (zero rows, no crash)
    tiny = df.limit(3)
    a = {tuple(r) for r in similarity_join(tiny, tiny, k=5).collect()}
    b = {tuple(r) for r in similarity_join_gemm(tiny, tiny, k=5).collect()}
    assert a == b and len(b) == 6
    one = df.limit(1)
    assert similarity_join_gemm(one, one, k=3).count() == 0


def test_simjoin_zero_norm_vector_ranks_last_both_paths(spark):
    """A zero-norm corpus vector yields a NaN cosine distance (0/0).
    The broadcast path's try_divide turns it into NULL JVM-side (ANSI
    mode would otherwise abort the job on the 0 divisor); on the GEMM
    path the numpy NaN crosses pandas->Arrow as NULL, which plain
    .asc() would rank FIRST — the r5/r6 latent bug. With nulls_last
    windows, both paths must rank every real neighbor above the
    degenerate row, agree with each other exactly, and emit NULL —
    exactly what the DuckDB oracle computes for x/0 and where its
    default NULLS LAST puts it."""
    from tripgogo_vector_search_spark.operators.simjoin import (
        similarity_join, similarity_join_gemm)
    base = _vecs()[:4]
    rows = [(i, v) for i, v, _ in base] + [(99, [0.0] * DIM)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0)
    # k covers the whole corpus, so the zero-norm row MUST appear — at
    # the bottom, with a NaN distance.
    want = similarity_join(df, q, k=10).orderBy("rank").collect()
    got = similarity_join_gemm(df, q, k=10).orderBy("rank").collect()
    assert len(want) == 4 and len(got) == 4
    assert [r["neighbor_id"] for r in want] == [r["neighbor_id"] for r in got]
    assert want[-1]["neighbor_id"] == 99 and got[-1]["neighbor_id"] == 99
    for r in (want[-1], got[-1]):
        assert r["distance_score"] is None
    real_w = [(r["neighbor_id"], r["rank"], r["distance_score"])
              for r in want[:-1]]
    real_g = [(r["neighbor_id"], r["rank"], r["distance_score"])
              for r in got[:-1]]
    assert real_w == real_g
    # k smaller than the real-neighbor count: the zero-norm row must
    # not displace anyone on either path.
    top_w = {r["neighbor_id"] for r in similarity_join(df, q, k=3).collect()}
    top_g = {r["neighbor_id"]
             for r in similarity_join_gemm(df, q, k=3).collect()}
    assert 99 not in top_w and 99 not in top_g and top_w == top_g


def test_knn_label_accuracy_matches_numpy_bruteforce(spark):
    """Third implementation: exact numpy leave-one-out 1-NN over the
    sf fixture — same capped eval set (per-label md5 rank), cosine by
    direct vectorized math rounded to 6 dp like the engine, argmin with
    (distance, vec_id) tie-break. Independent of both Spark and the
    DuckDB oracle."""
    import collections
    import hashlib

    import numpy as np
    import pyarrow.parquet as pq

    from tripgogo_vector_search_spark.plans.registry import (
        KNN_EVAL_PER_LABEL, QUERIES)

    t = pq.read_table(f"{SF_CORRECTNESS}/embeddings.parquet",
                      columns=["vec_id", "label", "embedding"])
    ids = np.array(t.column(0).to_pylist(), dtype=np.int64)
    labels = t.column(1).to_pylist()
    X = np.array(t.column(2).to_pylist(), dtype=np.float64)
    # capped eval set: first N per label by (md5(str(id)), id)
    by_label = collections.defaultdict(list)
    for i, (vid, lbl) in enumerate(zip(ids, labels)):
        by_label[lbl].append(
            (hashlib.md5(str(vid).encode()).hexdigest(), vid, i))
    eval_idx = [i for lbl in by_label
                for _, _, i in sorted(by_label[lbl])[:KNN_EVAL_PER_LABEL]]
    norms = np.sqrt((X * X).sum(axis=1))
    hits = collections.Counter()
    tot = collections.Counter()
    for i in eval_idx:
        d = np.round(1.0 - (X @ X[i]) / (norms * norms[i]), 6)
        order = np.lexsort((ids, d))
        nb = order[0] if ids[order[0]] != ids[i] else order[1]
        tot[labels[i]] += 1
        hits[labels[i]] += labels[nb] == labels[i]
    got = {r.label: (r.n_vecs, r.n_correct, r.knn_accuracy)
           for r in QUERIES["knn_label_accuracy"](
               spark, SF_CORRECTNESS).collect()}
    assert set(got) == set(tot)
    for lbl in tot:
        want = (tot[lbl], hits[lbl], round(hits[lbl] / tot[lbl], 6))
        assert got[lbl] == want, (lbl, got[lbl], want)


def test_approx_count_distinct_within_tolerance(spark):
    """Sketch aggregates are the 100 TB path for distinct counts (HLL++:
    fixed memory, one pass, mergeable across partitions). Exactness is
    oracle-gated elsewhere (count_distinct); here pin the sketch's error
    envelope vs exact."""
    o = load_table(spark, SF_CORRECTNESS, "orders")
    exact = o.select(F.countDistinct("o_custkey")).first()[0]
    approx = o.select(F.approx_count_distinct("o_custkey", rsd=0.02)).first()[0]
    assert abs(approx - exact) / exact < 0.05, (exact, approx)


# ---- renderer parity: every builder against a Python sequential fold ----
#
# The builders compile one SQL text each (functions/vector.py). These
# models restate Spark's semantics in plain Python: zip_with pads the
# shorter array with NULL, NULL poisons the fold, array_max skips NULLs
# and ranks NaN highest (so ``NaN > 0`` holds), floor casts like Java's
# (long). Results must match bit for bit (any NaN matches any NaN).

_EDGE = [
    [-0.0, 0.5, -0.25, 1.0],
    [5e-324, 1.0, -1.0, 0.5],
    [1e308, 1e308, -1.0, 2.0],          # the fold overflows to inf
    [float("nan"), 1.0, 2.0, 3.0],
    [float("inf"), 1.0, 2.0, 3.0],
    [float("-inf"), 1.0, 2.0, 3.0],
    [1.0, None, 2.0, 3.0],              # a NULL element
    None,                               # a NULL array
    [1.0, 2.0, 3.0],                    # length mismatch
    [0.0, 0.0, 0.0, 0.0],               # a zero vector
]
_Q = [0.5, -0.0, 1e-300, 5e-324]


def _fold(a, b, term):
    if a is None or b is None:
        return None
    acc = 0.0
    for i in range(max(len(a), len(b))):
        x = a[i] if i < len(a) else None
        y = b[i] if i < len(b) else None
        if x is None or y is None:
            return None
        acc = acc + term(x, y)
    return acc


def _dot(a, b):
    return _fold(a, b, lambda x, y: x * y)


def _l2_sq(a, b):
    return _fold(a, b, lambda x, y: (x - y) * (x - y))


def _sqrt(x):
    return None if x is None else math.sqrt(x)


def _cos_sim(a, b):
    d, na, nb = _dot(a, b), _sqrt(_dot(a, a)), _sqrt(_dot(b, b))
    if None in (d, na, nb) or na * nb == 0:
        return None
    return d / (na * nb)


def _gt0(x):
    return x is not None and (x > 0 or math.isnan(x))


def _jfloor(x):
    if math.isnan(x):
        return 0
    return max(-2 ** 63, min(2 ** 63 - 1, math.floor(x))) if math.isfinite(x) \
        else (2 ** 63 - 1 if x > 0 else -2 ** 63)


def _arr_max(xs):
    xs = [x for x in xs if x is not None]
    if not xs:
        return None
    return math.nan if any(math.isnan(x) for x in xs) else max(xs)


def _normalize(v):
    if v is None:
        return None
    n = _sqrt(_dot(v, v))
    return [x / n if x is not None and _gt0(n) else None for x in v]


def _scale(v):
    mx = None if v is None else _arr_max([abs(x) if x is not None else None
                                          for x in v])
    return mx / 127.0 if _gt0(mx) else None


def _quantize(v, s):
    if v is None:
        return None
    return [None if x is None else 0 if s is None else _jfloor(x / s + 0.5)
            for x in v]


def _deq_err(v, s):
    if v is None:
        return None
    return _arr_max([None if x is None else 0.0 if s is None
                     else abs(x - float(_jfloor(x / s + 0.5)) * s) for x in v])


def _same(got, want):
    if isinstance(want, list) or isinstance(got, list):
        return (got is None) == (want is None) and (
            want is None or (len(got) == len(want)
                             and all(map(_same, got, want))))
    if got is None or want is None:
        return got is None and want is None
    if isinstance(want, float) and math.isnan(want):
        return isinstance(got, float) and math.isnan(got)
    return struct.pack("<d", got) == struct.pack("<d", want)


def _parity_rows():
    rng = random.Random(7)
    rand = [[rng.uniform(-1, 1) for _ in range(4)] for _ in range(16)]
    b = [rng.uniform(-1, 1) for _ in range(4)]
    return [(i, a, b) for i, a in enumerate(rand + _EDGE)]


def test_renderer_matches_python_fold_bit_for_bit(spark):
    rows = _parity_rows()
    df = spark.createDataFrame(rows, "id int, a array<double>, b array<double>")
    sc = V.quantize_scale("a")
    cases = {
        "dot": (V.dot("a", "b"), lambda a, b: _dot(a, b)),
        "dot_q": (V.dot("a", _Q), lambda a, b: _dot(a, _Q)),
        "dot_cols": (V.dot(F.col("a"), F.col("b")), lambda a, b: _dot(a, b)),
        "l2_sq": (V.l2_sq("a", "b"), lambda a, b: _l2_sq(a, b)),
        "l2_sq_q": (V.l2_sq(_Q, "a"), lambda a, b: _l2_sq(_Q, a)),
        "euclid": (V.euclidean_distance("a", "b"),
                   lambda a, b: _sqrt(_l2_sq(a, b))),
        "euclid_q": (V.euclidean_distance("a", _Q),
                     lambda a, b: _sqrt(_l2_sq(a, _Q))),
        "l2_norm": (V.l2_norm("a"), lambda a, b: _sqrt(_dot(a, a))),
        "l2_normalize": (V.l2_normalize("a"), lambda a, b: _normalize(a)),
        "norm_of_unit": (V.l2_norm(V.l2_normalize("a")),
                         lambda a, b: _sqrt(_dot(_normalize(a), _normalize(a)))),
        "scale": (sc, lambda a, b: _scale(a)),
        "quantize": (V.quantize("a", sc), lambda a, b: _quantize(a, _scale(a))),
        "deq_err": (V.dequantize_error("a", sc),
                    lambda a, b: _deq_err(a, _scale(a))),
    }
    got = df.orderBy("id").select(
        *[c.alias(k) for k, (c, _) in cases.items()]).collect()
    for (i, a, b), r in zip(rows, got):
        for k, (_, model) in cases.items():
            assert _same(r[k], model(a, b)), (k, i, a, r[k], model(a, b))


def test_renderer_cosine_matches_python_fold(spark):
    """Cosine on every row; a zero norm product gives NULL, not an ANSI
    DIVIDE_BY_ZERO, on the column and on the constant (hoisted-norm)
    path alike."""
    rows = _parity_rows()
    df = spark.createDataFrame(rows, "id int, a array<double>, b array<double>")
    got = df.orderBy("id").select(
        V.cosine_similarity("a", "b").alias("s"),
        V.cosine_distance("a", "b").alias("d"),
        V.cosine_distance("a", _Q).alias("dq"),
        V.cosine_distance(_Q, "a").alias("qd")).collect()
    zero_den = [i for i, a, b in rows
                if any(_dot(x, x) == 0 for x in (a, b))]
    assert len(zero_den) == 1  # the zero vector: its cosines are NULL
    for (i, a, b), r in zip(rows, got):
        s, sq = _cos_sim(a, b), _cos_sim(a, _Q)
        assert _same(r["s"], s), (i, a)
        assert _same(r["d"], None if s is None else 1.0 - s), (i, a)
        assert _same(r["dq"], None if sq is None else 1.0 - sq), (i, a)
        assert _same(r["qd"], r["dq"]), (i, a)
    zero = spark.createDataFrame([([1.0, 2.0],)], "a array<double>")
    for c in (V.cosine_distance("a", [0.0, 0.0]),
              V.cosine_distance("a", F.array(F.lit(0.0), F.lit(0.0)))):
        assert zero.select(c).first()[0] is None
    assert zero.select(V.dot("a", [0.0, 0.0])).first()[0] == 0.0


def test_renderer_quotes_names_and_keeps_schemas(spark):
    from pyspark.sql.types import (ArrayType, DoubleType, FloatType,
                                   LongType)
    df = spark.createDataFrame(
        [([3.0, 4.0], [1.0, 0.0], "[1.5, -0.0, nan, -inf]", 0.25)],
        "`my vec` array<double>, `v.1` array<double>, s string, d double")
    out = df.select(
        V.dot("my vec", "`v.1`").alias("dot"),
        V.cosine_distance("my vec", [1.0, 0.0]).alias("cos"),
        V.l2_normalize("my vec").alias("unit"),
        V.quantize("my vec", V.quantize_scale("my vec")).alias("q"),
        V.quantize_scale("my vec").alias("scale"),
        V.dequantize_error("my vec", "d").alias("err"),
        V.to_vector("s").alias("tv"), V.to_vector("s", dim=3).alias("tv3"),
        V.match_score("d").alias("m"))
    types = {f.name: f.dataType for f in out.schema.fields}
    dbl = DoubleType()
    assert types == {"dot": dbl, "cos": dbl, "unit": ArrayType(dbl),
                     "q": ArrayType(LongType()), "scale": dbl, "err": dbl,
                     "tv": ArrayType(FloatType()),
                     "tv3": ArrayType(FloatType()), "m": dbl}
    r = out.first()
    assert r["dot"] == 3.0 and r["cos"] == 1.0 - 3.0 / 5.0
    assert r["unit"] == [0.6, 0.8] and r["q"] == [95, 127]
    assert r["tv"][:2] == [1.5, -0.0] and math.copysign(1, r["tv"][1]) < 0
    assert math.isnan(r["tv"][2]) and r["tv"][3] == -math.inf
    assert r["tv3"] is None and r["m"] == 75.0
    with pytest.raises(ValueError, match="not a column name"):
        V.dot("a..b", "b")
