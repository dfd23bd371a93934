"""Approximate nearest-neighbor search — the scale path past exact KNN.

The reference has no ANN index (SURVEY.md §0: no CREATE VECTOR INDEX
anywhere), so exact KNN (operators/knn.py) is the semantic default;
these are the opt-in engine patterns a 100 TB corpus needs. Both are
*materialized-index* designs: an index DataFrame is computed once
(one scan), persisted/bucketed by its key, and queries prune to a few
buckets instead of scanning the corpus.

* **LSH (random hyperplanes)** — sign bits of `dot(v, plane_j)` form a
  bucket key; a query searches only its own bucket. Write the indexed
  corpus bucketed/partitioned by `bucket` and a query becomes a
  partition-pruned scan of ~corpus/2^bits rows.
* **IVF (inverted file)** — corpus assigned to nearest of `n_cells`
  centroids; a query probes the `nprobe` nearest cells. The index is
  the corpus plus `cid` (a corpus with PQ codes is one index for IVF
  and IVF-PQ). Centroids are :func:`first_id_centroids`, the one
  function trained centroids (ROADMAP new direction 3) replace.

Each operator has one implementation: one LSH and one IVF build, the
searches over their materialized indexes, and the IVF batch join. IVF
readers open the index with :func:`open_ivf` and probe with
:func:`nearest_cells` (one query) or :func:`nearest_cells_batch`. The
LSH search ends in :func:`knn.knn_topk`'s exact top-k. The IVF search
is served in the driver with no Spark job: it reads the probed cells'
files with pyarrow and scores them with ``functions/fold.py``. It runs
as knn_topk's Spark plan only when pyarrow cannot resolve the index's
filesystem or the probed files exceed ``_DRIVER_SCAN_BYTES``, which
bounds the driver's memory at any index size.

Hyperplanes are generated from a fixed closed-form (sin-based) sequence
rounded to 6 dp, so the exact same literals are embeddable in oracle SQL.
"""

from __future__ import annotations

import math
import os
import re
import threading
from collections import OrderedDict
from collections.abc import Sequence
from typing import NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Window as W, functions as F
from pyspark.sql.types import StructType

from ..functions.fold import fold, matrix
from ..functions.vector import _double, cosine_distance, dot, l2_norm
from .knn import knn_topk

DEFAULT_PLANES = 8


def lsh_planes(n_planes: int = DEFAULT_PLANES, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (closed form, 6-dp rounded
    — reproducible in SQL, independent of any RNG library)."""
    return [
        [round(math.sin(0.731 * (p * dim + i + 1)), 6) for i in range(dim)]
        for p in range(n_planes)
    ]


def py_dot(a: Sequence[float], b: Sequence[float]) -> float:
    return sum(x * y for x, y in zip(a, b))


def _cos_dist(a: Sequence[float], b: Sequence[float]) -> float:
    """Driver-side cosine distance in the SQL expression's float-op order;
    inf where the SQL gives NULL (a zero norm), so it also sorts last."""
    den = math.sqrt(py_dot(a, a)) * math.sqrt(py_dot(b, b))
    return 1.0 - py_dot(a, b) / den if den else math.inf


def lsh_bucket_expr(vec_col: str, planes: list[list[float]]) -> Column:
    """Sign-bit bucket key, e.g. 'b01101001'. The 'b' prefix keeps the
    key a *string* through Hive-partitioned round trips — bare bitstrings
    get type-inferred to integers (leading zeros dropped) when the index
    is written partitionBy(bucket)."""
    bits = [
        F.when(dot(vec_col, p) >= 0, "1").otherwise("0")
        for p in planes
    ]
    return F.concat(F.lit("b"), *bits)


def py_lsh_bucket(vec: Sequence[float], planes: list[list[float]]) -> str:
    return "b" + "".join("1" if py_dot(vec, p) >= 0 else "0" for p in planes)


def build_lsh_index(corpus: DataFrame, vec_col: str = "embedding",
                    planes: list[list[float]] | None = None) -> DataFrame:
    """The materialized LSH index: corpus + bucket key. Persist with
    `.write.partitionBy('bucket')` so queries prune to one partition."""
    planes = planes or lsh_planes()
    return corpus.withColumn("bucket", lsh_bucket_expr(vec_col, planes))


def materialize_lsh_index(corpus: DataFrame, path: str,
                          vec_col: str = "embedding",
                          planes: list[list[float]] | None = None) -> None:
    """Write the LSH index to parquet **partitioned by bucket** — the
    one-scan build step. Queries against the materialized index become
    partition-pruned reads of ~corpus/2^n_planes rows (PartitionFilters
    in the scan node, pinned by tests/test_plan_shape.py)."""
    (build_lsh_index(corpus, vec_col, planes)
     .write.mode("overwrite").partitionBy("bucket").parquet(path))


def lsh_search_materialized(spark, path: str, query_vec: Sequence[float],
                            k: int = 3, vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            planes: list[list[float]] | None = None) -> DataFrame:
    """Single-probe search against a bucket-partitioned on-disk index:
    the bucket equality predicate prunes to one partition directory, so
    the scan reads 1/2^n_planes of the corpus without touching the rest."""
    planes = planes or lsh_planes()
    qbucket = py_lsh_bucket(query_vec, planes)
    cand = spark.read.parquet(path).filter(F.col("bucket") == qbucket)
    return (knn_topk(cand, query_vec, k, vec_col, tiebreak=id_col)
            .select(id_col, F.round("distance_score", 6).alias("distance_score")))


def materialize_ivf_index(corpus: DataFrame, path: str,
                          vec_col: str = "embedding", id_col: str = "vec_id",
                          n_cells: int = 16) -> None:
    """Write the IVF index (:func:`build_ivf_index`: the corpus plus
    its cell) to parquet **partitioned by cid**, plus the (tiny)
    :func:`first_id_centroids` table under `_centroids` inside the index
    dir — underscore-prefixed, so index scans skip it. At query time
    `nprobe` cells are chosen driver-side from the centroids, so the
    candidate read is a statically partition-pruned scan of
    nprobe/n_cells of the data, with no dependence on the corpus. The
    build ends by opening the index's :func:`open_ivf` handle, so its
    first search or join starts no Spark job before the action."""
    (build_ivf_index(corpus, vec_col, id_col, n_cells)
     .write.mode("overwrite").partitionBy("cid").parquet(path))
    (first_id_centroids(corpus, vec_col, id_col, n_cells).coalesce(1)
     .write.mode("overwrite").parquet(os.path.join(path, "_centroids")))
    open_ivf(corpus.sparkSession, path)


class IvfHandle(NamedTuple):
    """A materialized IVF index as its readers see it before their
    action: read once per index version by :func:`open_ivf`."""
    root: str                                 # the qualified index path
    token: str                                # `_centroids` listing
    centroids: list[tuple[int, list[float]]]  # (cid, cvec)
    schema: StructType                        # the index, cid inferred int
    centroid_schema: StructType
    centroid_files: tuple[str, ...]

    def read(self, spark) -> DataFrame:
        """The index, read with its schema: no inference job."""
        return spark.read.schema(self.schema).parquet(self.root)

    def read_centroids(self, spark) -> DataFrame:
        """The `_centroids` files, read with their schema."""
        return spark.read.schema(self.centroid_schema).parquet(*self.centroid_files)


_IVF_MEMO_SIZE = 8
_IVF_HANDLES: OrderedDict[str, IvfHandle] = OrderedDict()
_IVF_LOCK = threading.Lock()
# reading a file may bump its access time (relatime), so it is not part
# of the token
_ATIME = re.compile(r"; access_time=\d+")


def open_ivf(spark, path: str) -> IvfHandle:
    """The handle of the IVF index at ``path``: its centroids, the
    index schema and the `_centroids` schema. Opening one starts three
    Spark jobs (two schema inferences and the centroid collect); the
    handle is then kept in a small LRU memo keyed by the qualified path.

    Every lookup checks the memoized handle against the `_centroids`
    listing (file names, lengths and mtimes), fetched in a fixed number
    of py4j calls whatever the file count. Every overwrite writes part
    files with a fresh UUID in their names, so rewriting an index at
    the same path always changes the token and reopens the handle. The
    token is read before the centroids, so a rewrite racing an open
    leaves a handle newer than its token, which the next lookup reopens.
    """
    jvm = spark._jvm
    wrap = jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray
    hp = jvm.org.apache.hadoop.fs.Path(path)
    fs = hp.getFileSystem(spark._jsc.hadoopConfiguration())
    qual = fs.makeQualified(hp)
    listing = fs.listStatus(jvm.org.apache.hadoop.fs.Path(qual, "_centroids"))
    token = _ATIME.sub("", wrap(listing).mkString("\n"))
    key = qual.toString()
    with _IVF_LOCK:
        h = _IVF_HANDLES.get(key)
        if h is not None and h.token == token:
            _IVF_HANDLES.move_to_end(key)
            return h
    paths = wrap(jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(listing)).mkString("\n")
    files = tuple(f for f in paths.split("\n")
                  if not os.path.basename(f).startswith(("_", ".")))
    cents = spark.read.parquet(*files)
    h = IvfHandle(key, token, [(r.cid, list(r.cvec)) for r in cents.collect()],
                  spark.read.parquet(path).schema, cents.schema, files)
    with _IVF_LOCK:
        _IVF_HANDLES[key] = h
        _IVF_HANDLES.move_to_end(key)
        while len(_IVF_HANDLES) > _IVF_MEMO_SIZE:
            _IVF_HANDLES.popitem(last=False)
    return h


def nearest_cells(h: IvfHandle, query_vec: Sequence[float],
                  nprobe: int) -> list[int]:
    """The ``nprobe`` cells nearest ``query_vec``, ranked in the driver as
    :func:`nearest_cells_batch` ranks: cosine distance (a zero norm
    last), then cid."""
    order = sorted(h.centroids, key=lambda c: (_cos_dist(c[1], query_vec), c[0]))
    return [cid for cid, _ in order[:nprobe]]


def nearest_cells_batch(h: IvfHandle, queries: DataFrame, nprobe: int,
                        q_id: str = "qid", q_vec: str = "qvec") -> DataFrame:
    """``(q_id, q_vec, cid)`` of each query's ``nprobe`` nearest cells:
    the broadcast centroids ranked per query by cosine distance (NULL
    last), then cid."""
    qc = (queries.crossJoin(F.broadcast(h.read_centroids(queries.sparkSession)))
          .withColumn("cdist", cosine_distance(q_vec, "cvec")))
    wq = W.partitionBy(q_id).orderBy(F.col("cdist").asc_nulls_last(), "cid")
    return (qc.withColumn("prn", F.row_number().over(wq))
            .filter(F.col("prn") <= nprobe)
            .select(q_id, q_vec, "cid"))


# The most parquet bytes of probed cells that one search reads into the
# driver; a larger probe runs as the Spark plan, so the driver's memory
# stays bounded whatever the size of the index.
_DRIVER_SCAN_BYTES = 64 << 20


def ivf_search_materialized(spark, path: str,
                            query_vec: Sequence[float], k: int = 3,
                            vec_col: str = "embedding", id_col: str = "vec_id",
                            n_cells: int = 16, nprobe: int = 2) -> DataFrame:
    """Probes come from :func:`nearest_cells`. The probed ``cid=N``
    cells are then listed with ``pyarrow.fs`` on every request, so an index
    rewritten at the same path is read fresh.

    The request is served in the driver, with no Spark job: the probed
    files' id and vector columns are read with ``pyarrow.parquet``,
    scored with the bit-exact fold of ``functions/fold.py`` and ranked
    as :func:`knn.knn_topk` ranks (distance ascending, NaN after +inf,
    NULL last, then id). The top k become one typed ``VALUES`` text
    under Spark's own ``round(distance_score, 6)``, a LocalRelation
    that ``collect`` answers without a job. The request runs as the
    Spark plan instead — a cid ``isin`` filter that prunes the
    partitioned index statically, read with the handle's schema, so no
    job starts before the action — when pyarrow cannot resolve the
    index's filesystem or the probed files add up to more than
    ``_DRIVER_SCAN_BYTES``. Both paths return the same rows and schema.
    """
    h = open_ivf(spark, path)
    probes = nearest_cells(h, query_vec, nprobe)
    cells = _probed_cells(h.root, probes)
    if cells is not None:
        return _driver_topk(spark, cells, query_vec, k, vec_col, id_col,
                            h.schema[id_col].dataType.simpleString())
    cand = h.read(spark).filter(F.col("cid").isin(probes))
    return (knn_topk(cand, query_vec, k, vec_col, tiebreak=id_col)
            # partition-column type inference reads cid back as int;
            # restore the builder's bigint so the result schema is stable
            .selectExpr(f"`{id_col}`", "CAST(cid AS BIGINT) AS cid",
                        "round(distance_score, 6) AS distance_score"))


def _probed_cells(root: str, probes: list[int]):
    """``(filesystem, [(cid, file path)])`` of the probed cells' data
    files, or None when pyarrow cannot resolve the filesystem of
    ``root`` or the files add up to more than ``_DRIVER_SCAN_BYTES``. A
    probed cell that holds no vector has no directory and no file."""
    try:
        fs, base = pafs.FileSystem.from_uri(root)
    except (pa.ArrowException, OSError):
        return None
    files = [(cid, f) for cid in probes
             for f in fs.get_file_info(pafs.FileSelector(
                 f"{base}/cid={cid}", allow_not_found=True))
             if f.is_file and not f.base_name.startswith(("_", "."))]
    if sum(f.size for _, f in files) > _DRIVER_SCAN_BYTES:
        return None
    return fs, [(cid, f.path) for cid, f in files]


def _driver_topk(spark, cells, query_vec: Sequence[float], k: int,
                 vec_col: str, id_col: str, id_type: str) -> DataFrame:
    """The exact top-k of the probed cells' files as a LocalRelation,
    scored in the driver bit for bit as vector.py's ``cosine_distance``
    scores them: NULL for a NULL vector or element, a length other than
    the query's, or a zero norm product."""
    top = _score_files(*cells, query_vec, k, vec_col, id_col)
    rows = "".join(f"({_literal(i)}, {c}, {_literal(d)}), " for i, c, d in top)
    # the trailing NULL row, cut by the LIMIT, makes every column
    # nullable, as the parquet read's columns are
    return spark.sql(
        f"SELECT CAST(i AS {id_type}) AS `{id_col}`, CAST(c AS BIGINT) AS cid, "
        f"round(CAST(d AS DOUBLE), 6) AS distance_score "
        f"FROM VALUES {rows}(NULL, NULL, NULL) AS t(i, c, d) LIMIT {len(top)}")


def _score_files(fs, files, query_vec, k, vec_col, id_col) -> list[tuple]:
    """``(id, cid, distance)`` of the top k rows of ``files``, ordered as
    :func:`knn.knn_topk` orders them."""
    parts = [pq.ParquetFile(f, filesystem=fs).read(columns=[id_col, vec_col])
             for _, f in files]
    if not parts:
        return []
    tbl = pa.concat_tables(parts)
    ids, vecs = (tbl.column(c).combine_chunks() for c in (id_col, vec_col))
    cids = np.repeat([c for c, _ in files], [t.num_rows for t in parts])
    q = np.array([float(x) for x in query_vec])
    width = max(len(q), pc.max(pc.list_value_length(vecs)).as_py() or 0)
    m, lens = matrix(vecs, width)
    x = m[:, :len(q)].T.copy()
    with np.errstate(divide="ignore", invalid="ignore"):
        den = np.sqrt(fold(x, x)) * np.sqrt(fold(q, q))
        dist = 1.0 - fold(x, q[:, None]) / den
    null = (lens != len(q)) | (den == 0)
    id_rank = pc.rank(ids, null_placement="at_start").to_numpy()
    top = np.lexsort((id_rank, np.where(null, 0.0, dist), null))[:k]
    return [(i, c, None if n else d) for i, c, d, n in
            zip(ids.take(top).to_pylist(), cids[top].tolist(),
                dist[top].tolist(), null[top].tolist())]


def _literal(v) -> str:
    """A driver value as SQL text that casts back to its column's type:
    a string as its UTF-8 bytes, a double exactly, else its text."""
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return f"X'{v.encode().hex()}'"
    if isinstance(v, float):
        return _double(v)
    return f"'{v}'"


def ivf_knn_join_materialized(spark, path: str, queries: DataFrame,
                              k: int = 3, vec_col: str = "embedding",
                              id_col: str = "vec_id", q_id: str = "qid",
                              q_vec: str = "qvec",
                              nprobe: int = 2) -> DataFrame:
    """Batch ANN — every query in `queries` (q_id, q_vec) probed through
    the cid-partitioned IVF index in ONE plan (the scale path past
    per-query driver loops and past exact sim_join when the query set is
    large).

    Plan shape: the n_cells-row centroid table broadcast-crossed with the
    query set picks `nprobe` cells per query (tiny window); the probe
    table (n_queries * nprobe rows) then *broadcast*-joins the index on
    cid — with the index partitioned by cid, only probed cells are read.
    Final per-query top-k is one window over candidate rows. No
    driver-side collect: probe selection is part of the distributed plan,
    unlike the single-query `ivf_search_materialized`. Index and
    centroids are read with the :func:`open_ivf` handle's schemas, so
    building the plan starts no job. The probes are scored with
    vector.py's SQL fold, the candidate pairs by the bit-exact Arrow
    pair kernel, the plan's one Python stage.
    """
    # imported here: the kernel module loads pandas. A Spark session has
    # already loaded it, and importing the module after that added about
    # 1 MB of driver RSS on a 4-vCPU host; the online modules still load
    # no pandas on import
    from ..functions.kernels import pair_cosine

    h = open_ivf(spark, path)
    probes = nearest_cells_batch(h, queries, nprobe, q_id, q_vec)
    cand = h.read(spark).join(F.broadcast(probes), "cid")
    scored = cand.withColumn("distance_score", pair_cosine(vec_col, q_vec))
    wk = W.partitionBy(q_id).orderBy(F.col("distance_score").asc_nulls_last(),
                                     id_col)
    return (scored.withColumn("rn", F.row_number().over(wk))
            .filter(F.col("rn") <= k)
            .select(q_id, id_col, F.col("cid").cast("bigint").alias("cid"),
                    F.round("distance_score", 6).alias("distance_score")))


def first_id_centroids(corpus: DataFrame, vec_col: str = "embedding",
                       id_col: str = "vec_id", n_cells: int = 16) -> DataFrame:
    """The IVF centroids ``(cid, cvec)``: the vectors whose id is below
    ``n_cells``. The assignment and the `_centroids` sidecar both read
    these rows."""
    return (corpus.filter(F.col(id_col) < n_cells)
            .select(F.col(id_col).alias("cid"), F.col(vec_col).alias("cvec")))


def build_ivf_index(corpus: DataFrame, vec_col: str = "embedding",
                    id_col: str = "vec_id", n_cells: int = 16) -> DataFrame:
    """The corpus, every column kept, plus ``cid``: its nearest centroid
    of :func:`first_id_centroids` (argmin of distance, a zero norm last,
    then centroid id). Trained centroids replace that function alone."""
    cents = (first_id_centroids(corpus, vec_col, id_col, n_cells)
             .withColumn("cnorm", l2_norm("cvec")))
    scored = (corpus.withColumn("vnorm", l2_norm(vec_col))
              .crossJoin(F.broadcast(cents))
              .withColumn("cdist",
                          F.lit(1.0) - F.try_divide(dot(vec_col, "cvec"),
                                                    F.col("vnorm") * F.col("cnorm"))))
    w = W.partitionBy(id_col).orderBy(F.col("cdist").asc_nulls_last(), "cid")
    return (scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(*corpus.columns, "cid"))
