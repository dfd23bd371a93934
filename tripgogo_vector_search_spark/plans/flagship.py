"""The flagship online-similarity-search plan.

Reference lifecycle (SURVEY.md §3.1, streamlit_app.py:45-101): embed query
text -> one SQL statement computing cosine distance vs every stored vector
-> ORDER BY ASC FETCH FIRST k -> derived match-score column. Here the same
semantics compile to: Parquet scan (column-pruned) -> higher-order-function
distance (interpreted per row, ``CodegenFallback``; the query's norm is a
literal) -> TakeOrderedAndProject(k).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from ..operators.knn import knn_topk, with_match_score
from ..sources.tables import load_table

DIM = 64  # testdata embedding dim (reference pins 384: ingest_hotels.py:6)


def _make_query_vec(dim: int = DIM) -> list[float]:
    """Deterministic L2-normalized query vector, rounded to 6 dp so the
    exact same literal is embeddable in both Spark and oracle SQL."""
    raw = [math.sin(0.37 * (i + 1)) for i in range(dim)]
    n = math.sqrt(sum(x * x for x in raw))
    return [round(x / n, 6) for x in raw]


QUERY_VEC = _make_query_vec()
DEFAULT_TOP_K = 3  # the reference UI default (streamlit_app.py:209)


def flagship_query(spark: SparkSession, sf_dir: str, k: int = DEFAULT_TOP_K) -> DataFrame:
    """Exact cosine KNN over the embeddings corpus with the reference's
    match-score column; deterministic vec_id tiebreak."""
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    top = knn_topk(emb, QUERY_VEC, k=k, tiebreak="vec_id")
    top = with_match_score(top)
    return top.select(
        "vec_id", "label",
        F.round("distance_score", 6).alias("distance_score"),
        F.col("match_score"),
    )
