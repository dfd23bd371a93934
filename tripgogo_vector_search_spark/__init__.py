"""tripgogo_vector_search_spark — a PySpark-native analytics / vector-search engine.

Brand-new engine with the query and data-processing capabilities of the
reference app avp1510/TripGoGo-Vector-Search (embed -> exact cosine KNN ->
top-k -> RAG; see SURVEY.md), re-expressed Spark-first:

* vectors are ``array<float>`` columns; distance math is built from
  Catalyst higher-order functions (``zip_with`` / ``aggregate``) so the hot
  path stays JVM-side (interpreted per row, ``CodegenFallback``) — no
  Python per row;
* KNN is ``orderBy(distance).limit(k)`` -> ``TakeOrderedAndProject``
  (per-partition heap + driver merge; no global sort, no full shuffle);
* embedding is an Arrow-batched pandas UDF (the reference's per-row
  ``model.encode`` loop, vectorized);
* everything beyond the reference's surface (dedup, similarity join, ANN,
  text analysis, streaming) is composed from DataFrame/SQL primitives and
  designed for multi-executor scale (broadcast small sides, partition-pruned
  index joins, salted/AQE-handled skew).
"""

__version__ = "0.1.0"
