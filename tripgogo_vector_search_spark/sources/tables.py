"""Parquet table sources (the engine's `table_scan`).

Reference analogue: `FROM hotels` full scans (streamlit_app.py:68-69) on a
row-store; here tables are columnar Parquet so Catalyst prunes columns and
pushes predicates into the scan — check `.explain("formatted")` for
`PushedFilters` / `ReadSchema`.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from ..schemas import TABLES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table with its declared schema
    (``schemas.TABLES``), so building the scan reads no parquet footer
    and starts no Spark job. A column the declared schema names but the
    file lacks reads as NULL. `events` is read with the schema of
    :func:`_events_source` and its `ts` normalized there."""
    if name == "events":
        schema, ts = _events_source(spark, sf_dir)
        return (spark.read.schema(schema)
                .parquet(os.path.join(sf_dir, "events.parquet"))
                .withColumn("ts", ts))
    return spark.read.schema(TABLES[name]).parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _events_source(spark: SparkSession, sf_dir: str) -> tuple[T.StructType, Column]:
    """The schema `events.parquet` is read with, and the expression that
    turns its `ts` into the session TIMESTAMP type, for the batch and
    the streaming reader alike. One pyarrow footer probe decides, so no
    Spark job starts.

    `events.ts` has shipped as parquet TIMESTAMP(NANOS), which Spark
    reads only as a long and only with `nanosAsLong` set (set for this
    form alone), floor-converted to microseconds here — the same
    truncation DuckDB applies; and as TIMESTAMP(MICROS), which Spark
    reads as TIMESTAMP_NTZ (TIMESTAMP when the footer carries a zone).
    Both normalize to the session TIMESTAMP type (session TZ is pinned
    UTC, so NTZ->LTZ is wall-clock preserving) so downstream plans and
    the UTC-naive DuckDB oracle agree whichever form the fixture has.
    """
    import pyarrow.parquet as pq

    ts = pq.read_schema(os.path.join(sf_dir, "events.parquet")).field("ts").type
    if getattr(ts, "unit", None) == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw, norm = T.LongType(), F.timestamp_micros(F.expr("ts div 1000"))
    else:
        raw = T.TimestampType() if getattr(ts, "tz", None) else T.TimestampNTZType()
        norm = F.col("ts").cast("timestamp")
    return T.StructType([T.StructField("ts", raw) if f.name == "ts" else f
                         for f in TABLES["events"].fields]), norm


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    for name in names or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
