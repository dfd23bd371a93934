"""Exact KNN / top-k operators.

Reference semantics (streamlit_app.py:55-73): exact brute-force scan +
``ORDER BY distance ASC FETCH FIRST k ROWS ONLY`` — there is no ANN index
anywhere in the reference repo, so exact is the default here too (ANN is
opt-in, operators/ann.py).

Spark physical plan: ``orderBy().limit(k)`` compiles to
``TakeOrderedAndProject`` — each partition keeps a k-row heap and the
driver merges partition heads. O(n log k) per partition, no global sort,
no shuffle of the full table. This is the plan that survives 100 TB: cost
is one scan + k rows per partition over the wire.

The distance is vector.py's SQL fold, not the Arrow pair kernel the batch
joins use: one query pays the Python worker round trip per task, and that
made an exact top-k over 6,000 rows slower (193 -> 265 ms median, 3 cores).
The exact request, the LSH search and the IVF search's Spark plan run
this top-k. The IVF search is otherwise served in the driver
(``ann.ivf_search_materialized``): it scores its probed cells with
``functions/fold.py``, the same fold in numpy, and starts no Spark job.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.vector import cosine_distance, match_score


def with_distance(df: DataFrame, query_vec: Sequence[float] | Column,
                  vec_col: str = "embedding",
                  dist_col: str = "distance_score") -> DataFrame:
    return df.withColumn(dist_col, cosine_distance(vec_col, query_vec))


def knn_topk(df: DataFrame, query_vec: Sequence[float] | Column, k: int = 3,
             vec_col: str = "embedding", dist_col: str = "distance_score",
             tiebreak: str | None = None) -> DataFrame:
    """Exact top-k by ascending cosine distance, NULL (a zero vector) last.

    The reference breaks distance ties arbitrarily (no secondary sort key,
    streamlit_app.py:70-71); pass ``tiebreak=<id col>`` for deterministic
    results (required for oracle comparison).
    """
    order = [F.col(dist_col).asc_nulls_last()] + ([tiebreak] if tiebreak else [])
    return with_distance(df, query_vec, vec_col, dist_col).orderBy(*order).limit(k)


def with_match_score(df: DataFrame, dist_col: str = "distance_score",
                     score_col: str = "match_score") -> DataFrame:
    """Append the reference's client-side derived column
    (streamlit_app.py:221)."""
    return df.withColumn(score_col, match_score(dist_col))
