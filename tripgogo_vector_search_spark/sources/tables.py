"""Parquet table sources (the engine's `table_scan`).

Reference analogue: `FROM hotels` full scans (streamlit_app.py:68-69) on a
row-store; here tables are columnar Parquet so Catalyst prunes columns and
pushes predicates into the scan — check `.explain("formatted")` for
`PushedFilters` / `ReadSchema`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import TABLES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one synthetic table with its declared schema
    (``schemas.TABLES``), so building the scan reads no parquet footer
    and starts no Spark job. A column the declared schema names but the
    file lacks reads as NULL.

    `events` is the one table whose schema is still read from the
    footer: `events.ts` has shipped as both parquet TIMESTAMP(NANOS)
    (which Spark only reads as a long via `nanosAsLong`, floor-converted
    to microseconds here — the same truncation DuckDB applies) and
    TIMESTAMP(MICROS) (which Spark reads as TIMESTAMP_NTZ). Both
    normalize to the session TIMESTAMP type (session TZ is pinned UTC,
    so NTZ->LTZ is wall-clock preserving) so downstream plans and the
    UTC-naive DuckDB oracle agree regardless of which physical type the
    fixture carries.
    """
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        from pyspark.sql import functions as F
        from pyspark.sql import types as T
        df = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
        if isinstance(df.schema["ts"].dataType, T.LongType):
            return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.schema(TABLES[name]).parquet(os.path.join(sf_dir, f"{name}.parquet"))


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    for name in names or TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
