"""Explicit schemas for every table the engine reads.

The reference shares its schema between writer and reader only via a
comment ("Must match ingest_hotels.py", streamlit_app.py:13) and infers
result schemas at runtime from cursor metadata (streamlit_app.py:78).
Here every source is schema-declared (SURVEY.md §1.3), and
`sources.tables.load_table` reads with these schemas, so each must equal
what Spark infers from the fixture files. The fixtures hold dates as
parquet `timestamp[us]` without a time zone, which Spark reads as
TIMESTAMP_NTZ. `EVENTS` describes `load_table`'s output instead: its
`ts` ships in two physical forms, both normalized to the session
TIMESTAMP type there; its other columns are also the read schema.
"""

from __future__ import annotations

from pyspark.sql import types as T

VECTOR_DIM = 64  # testdata dim; the reference pins 384 (ingest_hotels.py:6) — parameterized here.

REGION = T.StructType([
    T.StructField("r_regionkey", T.IntegerType()),
    T.StructField("r_name", T.StringType()),
])

NATION = T.StructType([
    T.StructField("n_nationkey", T.IntegerType()),
    T.StructField("n_name", T.StringType()),
    T.StructField("n_regionkey", T.IntegerType()),
])

CUSTOMER = T.StructType([
    T.StructField("c_custkey", T.LongType()),
    T.StructField("c_name", T.StringType()),
    T.StructField("c_nationkey", T.IntegerType()),
    T.StructField("c_acctbal", T.DoubleType()),
    T.StructField("c_mktsegment", T.StringType()),
])

SUPPLIER = T.StructType([
    T.StructField("s_suppkey", T.LongType()),
    T.StructField("s_name", T.StringType()),
    T.StructField("s_nationkey", T.IntegerType()),
    T.StructField("s_acctbal", T.DoubleType()),
])

PART = T.StructType([
    T.StructField("p_partkey", T.LongType()),
    T.StructField("p_name", T.StringType()),
    T.StructField("p_brand", T.StringType()),
    T.StructField("p_type", T.StringType()),
    T.StructField("p_size", T.IntegerType()),
    T.StructField("p_retailprice", T.DoubleType()),
])

ORDERS = T.StructType([
    T.StructField("o_orderkey", T.LongType()),
    T.StructField("o_custkey", T.LongType()),
    T.StructField("o_orderstatus", T.StringType()),
    T.StructField("o_totalprice", T.DoubleType()),
    T.StructField("o_orderdate", T.TimestampNTZType()),
    T.StructField("o_orderpriority", T.StringType()),
])

LINEITEM = T.StructType([
    T.StructField("l_orderkey", T.LongType()),
    T.StructField("l_partkey", T.LongType()),
    T.StructField("l_suppkey", T.LongType()),
    T.StructField("l_linenumber", T.IntegerType()),
    T.StructField("l_quantity", T.DoubleType()),
    T.StructField("l_extendedprice", T.DoubleType()),
    T.StructField("l_discount", T.DoubleType()),
    T.StructField("l_tax", T.DoubleType()),
    T.StructField("l_returnflag", T.StringType()),
    T.StructField("l_linestatus", T.StringType()),
    T.StructField("l_shipdate", T.TimestampNTZType()),
])

EVENTS = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])

DOCUMENTS = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()),
    T.StructField("source", T.StringType()),
    T.StructField("n_chars", T.LongType()),
])

EMBEDDINGS = T.StructType([
    T.StructField("vec_id", T.LongType()),
    T.StructField("embedding", T.ArrayType(T.FloatType())),
    T.StructField("label", T.IntegerType()),
])

# hotels mirrors the reference corpus: combined.csv:1 header + the schema
# inferred from the INSERT list (ingest_hotels.py:28) and SELECT list
# (streamlit_app.py:56-67); addr_vec is the stored embedding column.
HOTELS = T.StructType([
    T.StructField("name", T.StringType()),
    T.StructField("addr_text", T.StringType()),
    T.StructField("city", T.StringType()),
    T.StructField("lat", T.DoubleType()),
    T.StructField("lon", T.DoubleType()),
    T.StructField("price_usd", T.DoubleType()),
    T.StructField("rating", T.DoubleType()),
    T.StructField("url", T.StringType()),
    T.StructField("addr_vec", T.ArrayType(T.FloatType())),
])

HOTELS_CSV = T.StructType([f for f in HOTELS.fields if f.name != "addr_vec"])

TABLES = {
    "region": REGION,
    "nation": NATION,
    "customer": CUSTOMER,
    "supplier": SUPPLIER,
    "part": PART,
    "orders": ORDERS,
    "lineitem": LINEITEM,
    "events": EVENTS,
    "documents": DOCUMENTS,
    "embeddings": EMBEDDINGS,
}
