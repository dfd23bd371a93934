"""The one checkpoint lifecycle: eager checkpoints and their
deterministic release.

Builders and iterative operators materialize intermediates with an
eager checkpoint (the connected-components loop's label frames, the
index-maintenance survivor frames, quality_gate's scored projection,
the quantile family's bounded decision frames). Their blocks live
OUTSIDE the cache manager, so the sweep's cache gate cannot see them,
and without help they are only released when the driver's periodic GC
lets the ContextCleaner's weak references fire.

* ``checkpoint(df, durable=..., scope=...)`` performs the eager
  checkpoint: executor-local blocks by default, a RELIABLE checkpoint
  (files under the context's ``setCheckpointDir`` — HDFS/S3 on a real
  cluster) when ``durable``. Durable mode survives executor loss at
  the price of one extra computation per frame (Spark runs the
  checkpoint-write job after the eager count) plus a filesystem
  round-trip. ``scope`` (builders pass their registry key) records a
  local checkpoint for :func:`adopt`.
* ``release(df, durable=...)`` frees a checkpoint frame that is never
  read again: unpersists its executor blocks, or deletes a durable
  checkpoint's files through the Hadoop ``FileSystem`` API
  (ContextCleaner only removes them when
  ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on AND the
  RDD is GC'd, which is unbounded — an iterative loop would otherwise
  accumulate one file set per round).
* ``adopt(scope, result)`` — called by the registry builder on its
  FINAL DataFrame — claims the scope's pending checkpoints and
  supersedes the scope's previous build: the previous build's
  checkpoints are released iff its result DataFrame has been
  garbage-collected (weakref dead — the caller provably cannot
  recompute through those blocks anymore). If the previous result is
  still alive (a harness holding two builds of one key), release
  defers to the ContextCleaner.

Scoped tracking retains only RDD ids, never py4j object references —
holding those would pin the JVM objects and defeat the ContextCleaner
path for the final build of a session.
Release and tracking are best-effort: a failure is logged as a warning
naming the exception class and never fails the caller.
"""

from __future__ import annotations

import logging
import weakref

from pyspark.sql import DataFrame

_LOG = logging.getLogger(__name__)

# scope -> checkpoint RDD ids created by the build in flight
_PENDING: dict[str, list[int]] = {}
# scope -> (checkpoint RDD ids of the last adopted build, weakref to
# its result DataFrame)
_LIVE: dict[str, tuple[list[int], weakref.ref]] = {}


def _warn(what: str, exc: Exception) -> None:
    _LOG.warning("checkpoint %s failed (%s: %s); left to the "
                 "ContextCleaner", what, type(exc).__name__, exc)


def checkpoint(df: DataFrame, *, durable: bool = False,
               scope: str | None = None) -> DataFrame:
    """Eagerly truncate ``df``'s lineage: an executor-local checkpoint
    by default, a reliable one under ``setCheckpointDir`` when
    ``durable``. ``scope`` registers a local checkpoint for
    :func:`adopt`."""
    if durable:
        if scope is not None:
            raise ValueError("scoped release covers local checkpoints "
                             "only; release a durable one with release()")
        if not df.sparkSession.sparkContext.getCheckpointDir():
            raise RuntimeError(
                "durable=True requires spark.sparkContext.setCheckpointDir "
                "(point it at durable storage — HDFS/S3 — on a cluster)")
        return df.checkpoint(eager=True)
    out = df.localCheckpoint(eager=True)
    if scope is not None:
        try:
            _PENDING.setdefault(scope, []).append(
                out._jdf.queryExecution().analyzed().rdd().id())
        except Exception as exc:  # noqa: BLE001 - tracking is best-effort
            _warn("tracking", exc)
    return out


def _free(spark, rid: int, path: str | None = None) -> None:
    """Delete a durable checkpoint's files at ``path``, else unpersist
    RDD ``rid``'s blocks (repeating a release the ContextCleaner
    already made is harmless)."""
    try:
        if path is not None:
            p = spark._jvm.org.apache.hadoop.fs.Path(path)
            p.getFileSystem(spark._jsc.hadoopConfiguration()).delete(
                p, True)
            return
        # SparkContext.unpersistRDD frees the blocks and the
        # persistent-RDD entry without RDD.unpersist's WARN that a
        # locally checkpointed RDD cannot be recomputed afterwards
        spark.sparkContext._jsc.sc().unpersistRDD(rid, False)
    except Exception as exc:  # noqa: BLE001 - release is best-effort
        _warn("release", exc)


def release(df: DataFrame, *, durable: bool = False) -> None:
    """Free a :func:`checkpoint` frame that is never read again (a
    released checkpoint cannot be recomputed)."""
    try:
        rdd = df._jdf.queryExecution().analyzed().rdd()
        opt = rdd.getCheckpointFile() if durable else None
        path = opt.get() if opt is not None and opt.isDefined() else None
        rid = rdd.id()
    except Exception as exc:  # noqa: BLE001 - release is best-effort
        _warn("release", exc)
        return
    _free(df.sparkSession, rid, path)


def adopt(scope: str, result: DataFrame) -> DataFrame:
    """Attach ``scope``'s pending checkpoints to ``result``'s lifetime:
    the next ``adopt`` of the same scope releases them iff this
    ``result`` has been garbage-collected by then. Builders call this
    on the final frame they return; passing the result through keeps
    the call a one-line wrap of the return expression."""
    ids = _PENDING.pop(scope, [])
    if not ids:
        return result
    prev = _LIVE.pop(scope, None)
    if prev is not None and prev[1]() is None:
        for rid in prev[0]:
            _free(result.sparkSession, rid)
    _LIVE[scope] = (ids, weakref.ref(result))
    return result
