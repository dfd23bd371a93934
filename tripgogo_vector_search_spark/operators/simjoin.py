"""Batch similarity join: every query row finds its top-k corpus
neighbors (SURVEY.md §2.E `sim_join`).

Three joins share one contract (ascending cosine distance, NULL last,
corpus-id tiebreak) and differ in how they score:

* :func:`similarity_join` — broadcast the (small) query side, score
  every pair with vector.py's JVM-side fold, then a per-query
  row_number window. The corpus is never shuffled. It computes the
  exact ground truth of the recall keys (ann_recall_eval,
  ivfpq_recall_eval).
* :func:`similarity_join_gemm` — each corpus Arrow batch scored against
  the query block with one BLAS matrix multiply, distances rounded to
  6 dp before ranking. vbench's batch join and knn_label_accuracy use
  it.
* :func:`similarity_join_gemm_exact` — the same batch scoring with the
  bit-exact fold (``fold.fold``). It serves ``sim_join``.

The two GEMM joins share one body (:func:`_gemm_join`): query collect,
partition-local top-k and the global rank window. For query sets too
large to collect, switch to the ANN path (operators/ann.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from ..functions.vector import dot, l2_norm


def similarity_join(corpus: DataFrame, queries: DataFrame, k: int = 3,
                    corpus_vec: str = "embedding", corpus_id: str = "vec_id",
                    query_vec: str = "embedding", query_id: str = "vec_id",
                    exclude_self: bool = True) -> DataFrame:
    """Top-k corpus neighbors per query row by ascending cosine distance;
    deterministic corpus-id tiebreak."""
    # Precompute each side's norm once per row (not once per pair): the
    # per-pair work drops from three 64-dim folds to one.
    q = queries.select(F.col(query_id).alias("query_id"),
                       F.col(query_vec).alias("query_vec"),
                       l2_norm(query_vec).alias("query_norm"))
    c = corpus.select(F.col(corpus_id).alias("neighbor_id"),
                      F.col(corpus_vec).alias("neighbor_vec"),
                      l2_norm(corpus_vec).alias("neighbor_norm"))
    joined = c.join(F.broadcast(q),
                    F.col("query_id") != F.col("neighbor_id") if exclude_self else F.lit(True))
    # try_divide: a zero-norm vector makes the divisor 0, which under
    # ANSI mode (Spark 4 default) would abort the whole job; NULL is
    # also exactly what the DuckDB oracle computes for x/0. The
    # nulls_last window then pins the degenerate candidate BELOW every
    # real neighbor, same as the oracle's default NULLS LAST.
    scored = joined.withColumn(
        "distance_score",
        F.lit(1.0) - F.try_divide(
            dot("neighbor_vec", "query_vec"),
            F.col("neighbor_norm") * F.col("query_norm")))
    w = W.partitionBy("query_id").orderBy(
        F.col("distance_score").asc_nulls_last(),
        F.col("neighbor_id").asc())
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("distance_score", 6).alias("distance_score")))


# The two scoring steps of the GEMM joins: ``scorer(Q)`` takes the
# (n_queries, dim) query block and returns ``score(C)``, the
# (n_corpus, n_queries) cosine distances of a corpus batch. A zero norm
# gives 0/0, a deliberate NaN, not an error.

def _blas_scores(Q):
    """One BLAS multiply, rounded to 6 dp BEFORE ranking so the argmin
    is ulp-drift-proof (see :func:`similarity_join_gemm`)."""
    import numpy as np

    qnorm = np.sqrt((Q * Q).sum(axis=1))

    def score(C):
        cnorm = np.sqrt((C * C).sum(axis=1))
        with np.errstate(invalid="ignore", divide="ignore"):
            return np.round(1.0 - (C @ Q.T) / np.outer(cnorm, qnorm), 6)
    return score


def _fold_scores(Q):
    """The bit-exact fold, one vectorized outer-product accumulation
    per dimension (see :func:`similarity_join_gemm_exact`)."""
    import numpy as np

    from ..functions.fold import fold

    Qt = Q.T  # (dim, n): row j holds dimension j of every query
    qnorm = np.sqrt(fold(Qt, Qt))

    def score(C):
        Ct = C.T
        cnorm = np.sqrt(fold(Ct, Ct))
        with np.errstate(invalid="ignore", divide="ignore"):
            return 1.0 - fold(Ct[:, :, None], Qt[:, None, :]) / np.outer(cnorm, qnorm)
    return score


def _gemm_join(corpus: DataFrame, queries: DataFrame, k: int,
               corpus_vec: str, corpus_id: str, query_vec: str,
               query_id: str, exclude_self: bool, scorer) -> DataFrame:
    """The GEMM joins' shared body. The query block is collected and
    shipped to every corpus partition; ``scorer(Q)`` returns the step
    that turns a batch's ``(n_corpus, dim)`` matrix into its distance
    matrix against the block. Each Arrow batch keeps only its
    partition-local top-k per query, so candidate traffic is |Q| x k
    per partition, independent of corpus size; one rank window then
    reduces the candidates."""
    import numpy as np
    import pandas as pd

    qrows = queries.select(query_id, query_vec).collect()
    qids = np.array([r[0] for r in qrows], dtype=np.int64)
    score = scorer(np.array([list(map(float, r[1])) for r in qrows],
                            dtype=np.float64, ndmin=2))

    out_schema = ("query_id bigint, neighbor_id bigint, "
                  "distance_score double")

    def score_partition(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf[corpus_id].to_numpy(dtype=np.int64)
            dist = score(np.array([list(map(float, v)) for v in pdf[corpus_vec]],
                                  dtype=np.float64))
            nq = len(qids)
            kk = min(k, len(ids))
            # self-exclusion by dropping the row INDEX, never by value
            # masking: a genuine NaN distance (zero-norm vector) must
            # stay a candidate that sorts last, exactly like the
            # broadcast path and the oracles' ORDER BY
            self_pos = ({int(v): i for i, v in enumerate(ids)}
                        if exclude_self else {})
            # ONE output frame per Arrow batch (r5 — a frame per QUERY
            # per batch made pandas construction the dominant cost of
            # the whole join at |Q|~10^3)
            out_q = np.empty(nq * kk, dtype=np.int64)
            out_n = np.empty(nq * kk, dtype=np.int64)
            out_d = np.empty(nq * kk, dtype=np.float64)
            pos = 0
            for j in range(nq):
                col = dist[:, j]
                # deterministic partition-local top-k: distance, then id
                # (numpy lexsort places NaN last, matching the engines)
                order = np.lexsort((ids, col))
                sp = self_pos.get(int(qids[j]))
                if sp is not None:
                    order = order[order != sp]
                take = order[:kk]
                t = len(take)
                out_q[pos:pos + t] = qids[j]
                out_n[pos:pos + t] = ids[take]
                out_d[pos:pos + t] = col[take]
                pos += t
            yield pd.DataFrame({
                "query_id": out_q[:pos],
                "neighbor_id": out_n[:pos],
                "distance_score": out_d[:pos],
            })

    partial = corpus.select(corpus_id, corpus_vec).mapInPandas(
        score_partition, out_schema)
    # A NaN distance (zero-norm vector: numpy 0/0) crosses the
    # pandas->Arrow boundary as NULL (NaN is pandas' null sentinel).
    # That NULL is the correct output — the broadcast path's try_divide
    # and the DuckDB oracle's x/0 both yield NULL — but plain .asc()
    # would rank it FIRST, so a zero-norm candidate surviving the
    # partition-local top-k would beat every real neighbor (the r5/r6
    # latent bug). nulls_last matches numpy's lexsort (NaN last) and
    # the oracle's default NULLS LAST.
    w = W.partitionBy("query_id").orderBy(
        F.col("distance_score").asc_nulls_last(),
        F.col("neighbor_id").asc())
    return (partial.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank",
                    F.round("distance_score", 6).alias("distance_score")))


def similarity_join_gemm(corpus: DataFrame, queries: DataFrame, k: int = 3,
                         corpus_vec: str = "embedding",
                         corpus_id: str = "vec_id",
                         query_vec: str = "embedding",
                         query_id: str = "vec_id",
                         exclude_self: bool = True) -> DataFrame:
    """Same semantics as :func:`similarity_join`, different physical
    strategy (:func:`_gemm_join`): each Arrow batch scores against the
    query block with one BLAS matrix multiply (``C @ Q.T``). Per corpus
    row the expression path folds a 64-element loop per query
    (interpreted, ``CodegenFallback``); the GEMM path amortizes it into
    one vectorized multiply per batch — the right trade when |queries| is
    large enough that the per-pair loop dominates. Distances
    use float64 BLAS accumulation, which can differ from the sequential
    fold by ~1 ulp — so distances are rounded to 6 dp BEFORE the
    partition-local top-k and the global rank window, not just on
    output: the neighbor CHOICE (argmin) is then decided on the same
    6-dp value an exact-fold oracle computes, and an ulp-level BLAS
    near-tie cannot flip which neighbor wins (ties at 6 dp break by
    neighbor_id on both sides). Oracles for GEMM-backed queries mirror
    ``round(d, 6)`` in their ORDER BY.
    """
    return _gemm_join(corpus, queries, k, corpus_vec, corpus_id, query_vec,
                      query_id, exclude_self, _blas_scores)


def similarity_join_gemm_exact(corpus: DataFrame, queries: DataFrame,
                               k: int = 3,
                               corpus_vec: str = "embedding",
                               corpus_id: str = "vec_id",
                               query_vec: str = "embedding",
                               query_id: str = "vec_id",
                               exclude_self: bool = True) -> DataFrame:
    """:func:`similarity_join` semantics with :func:`similarity_join_gemm`
    economics (:func:`_gemm_join`), but the per-pair arithmetic is the
    EXACT sequential fold of the expression path, so the UNROUNDED
    distance doubles — and therefore the neighbor ranking on near-ties
    — are bit-identical to ``similarity_join``'s and to the oracle's
    ``list_reduce`` fold. Where the BLAS variant must round to 6 dp
    before ranking (matrix-multiply accumulation order differs by
    ~1 ulp), this kernel accumulates DIMENSION BY DIMENSION in declared
    order (``functions/fold.fold``, likewise the squared norms),
    which is term-for-term the IEEE evaluation order of
    ``aggregate(zip_with(...))`` — numpy's elementwise ufuncs do not
    fuse multiply-add, and neither does Catalyst codegen, so every
    intermediate double matches. A zero-norm vector divides 0.0 by 0.0
    (the dot against an all-zero vector is exactly 0.0) -> NaN ->
    NULL across Arrow, ranked nulls-last with the id tiebreak — the
    same contract as the expression path's try_divide. ~dim vectorized
    passes per batch instead of a per-pair interpreted lambda fold
    (measured 1.84 -> 0.67 s on sim_join at sf0.1)."""
    return _gemm_join(corpus, queries, k, corpus_vec, corpus_id, query_vec,
                      query_id, exclude_self, _fold_scores)
