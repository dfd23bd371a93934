"""Embedding backends agree; ingest pipeline + golden flagship; RAG
retry/backoff contract; multimodal plumbing."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tripgogo_vector_search_spark.functions.embed import (
    hash_embed_expr, hash_embed_py, hash_embed_udf)
from tripgogo_vector_search_spark.operators.knn import knn_topk, with_match_score
from tripgogo_vector_search_spark.plans import rag
from tripgogo_vector_search_spark.plans.ingest import ingest_hotels
from tripgogo_vector_search_spark.sources.hotels_fixture import write_hotels_csv


def test_embed_expr_udf_py_agree(spark):
    texts = ["hello world foo", "a b a b a", "single", "x y z w v u t"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id int, text string")
    out = (df.withColumn("e_expr", hash_embed_expr("text"))
             .withColumn("e_udf", hash_embed_udf()("text"))
             .collect())
    for row in out:
        py = hash_embed_py(texts[row["id"]])
        assert row["e_expr"] == row["e_udf"] == py, texts[row["id"]]
        n = math.sqrt(sum(x * x for x in row["e_expr"]))
        assert abs(n - 1.0) < 1e-9


def test_ingest_and_golden_flagship(spark, tmp_path):
    csv = write_hotels_csv(str(tmp_path / "hotels.csv"))
    hotels = ingest_hotels(spark, csv, str(tmp_path / "hotels.parquet"))
    assert hotels.count() == 40
    # norms ~1 after float32 storage
    norm = hotels.select(
        F.aggregate(F.transform("addr_vec", lambda x: x.cast("double") * x.cast("double")),
                    F.lit(0.0), lambda a, x: a + x).alias("n2")).collect()
    assert all(abs(r["n2"] - 1.0) < 1e-5 for r in norm)

    # golden flagship: embed a query exactly like the app (streamlit_app.py:52)
    qvec = hash_embed_py("Beach Road near Goa center resort quarter")
    top = with_match_score(knn_topk(hotels, qvec, k=3, vec_col="addr_vec",
                                    tiebreak="name"))
    rows = top.select("name", "city", "match_score").collect()
    assert len(rows) == 3
    assert all(r["city"] == "Goa" for r in rows)
    assert rows[0]["match_score"] >= rows[-1]["match_score"]
    # deterministic across runs
    again = with_match_score(knn_topk(hotels, qvec, k=3, vec_col="addr_vec",
                                      tiebreak="name")).collect()
    assert [r["name"] for r in again] == [r["name"] for r in rows]


def test_ingest_udf_backend_matches_expr(spark, tmp_path):
    csv = write_hotels_csv(str(tmp_path / "h.csv"))
    a = ingest_hotels(spark, csv, str(tmp_path / "pa"), use_udf=False)
    b = ingest_hotels(spark, csv, str(tmp_path / "pb"), use_udf=True)
    ra = {r["name"]: r["addr_vec"] for r in a.collect()}
    rb = {r["name"]: r["addr_vec"] for r in b.collect()}
    assert ra == rb


def test_rag_retry_backoff_contract():
    sleeps = []
    calls = []

    def flaky(payload, fail_times=[2]):
        calls.append(1)
        if len(calls) <= fail_times[0]:
            raise ConnectionError("boom")
        return rag.stub_transport(payload)

    out = rag.generate_summary([{"name": "A", "match_score": 99.0}], "q",
                               transport=flaky, sleeper=sleeps.append)
    assert out.startswith("Summary[")
    assert sleeps == [1, 2]  # 2^0, 2^1 — streamlit_app.py:168

    # exhaustion -> fallback, 4 attempts, backoff 1,2,4 (no sleep after last)
    sleeps2, calls2 = [], []
    def always_fail(payload):
        calls2.append(1)
        raise ConnectionError("down")
    out2 = rag.generate_summary([], "q", transport=always_fail, sleeper=sleeps2.append)
    assert out2 == rag.FALLBACK_MSG
    assert len(calls2) == rag.MAX_RETRIES == 4
    assert sleeps2 == [1, 2, 4]

    # deterministic stub end-to-end
    s1 = rag.generate_summary([{"name": "A"}], "query x", sleeper=lambda s: None)
    s2 = rag.generate_summary([{"name": "A"}], "query x", sleeper=lambda s: None)
    assert s1 == s2


def test_model_embed_mapper_with_fake_backend(monkeypatch):
    """The sentence-transformers slot (reference ingest_hotels.py:6,23),
    exercised via a fake module: the mapper must load the model ONCE per
    partition (the @st.cache_resource analogue), call batch encode with
    normalize_embeddings=True, and append list-valued vectors."""
    import sys
    import types

    import pandas as pd

    from tripgogo_vector_search_spark.functions.embed import model_embed_mapper

    loads, encodes = [], []

    class FakeVec(list):
        def tolist(self):
            return list(self)

    class FakeModel:
        def __init__(self, name):
            loads.append(name)

        def encode(self, texts, batch_size, normalize_embeddings):
            encodes.append((len(texts), batch_size, normalize_embeddings))
            return [FakeVec([float(len(t)), 1.0]) for t in texts]

    fake = types.ModuleType("sentence_transformers")
    fake.SentenceTransformer = FakeModel
    monkeypatch.setitem(sys.modules, "sentence_transformers", fake)

    mapper = model_embed_mapper("text", out_col="vec", batch_size=4)
    batches = [pd.DataFrame({"text": ["ab", "cde"]}),
               pd.DataFrame({"text": ["f"]})]
    out = list(mapper(iter(batches)))

    assert loads == ["sentence-transformers/all-MiniLM-L6-v2"]  # once/partition
    assert encodes == [(2, 4, True), (1, 4, True)]              # per batch
    assert out[0]["vec"].tolist() == [[2.0, 1.0], [3.0, 1.0]]
    assert out[1]["vec"].tolist() == [[1.0, 1.0]]
    assert "vec" not in batches[0].columns  # input batches not mutated


def test_rag_http_transport_retry_on_500():
    """The production transport slot: a fake HTTP layer returns 500 twice
    then 200; generate_summary must retry with 1s,2s backoff and parse the
    JSON body of the eventual success."""
    import io
    import json
    import urllib.error

    attempts, sleeps = [], []
    ok_body = json.dumps(
        {"candidates": [{"content": {"parts": [{"text": "hi there"}]}}]})

    class _Resp:
        def __enter__(self):
            return io.BytesIO(ok_body.encode())
        def __exit__(self, *a):
            return False

    def opener(req, timeout):
        attempts.append((req.full_url, req.get_header("Content-type"),
                         req.get_header("X-goog-api-key")))
        if len(attempts) <= 2:
            raise urllib.error.HTTPError(req.full_url, 500, "boom", {}, None)
        return _Resp()

    transport = lambda payload: rag.http_transport(
        payload, endpoint="https://llm.example/v1:generate",
        api_key="k-123", opener=opener)
    out = rag.generate_summary([{"name": "A"}], "q", transport=transport,
                               sleeper=sleeps.append)
    assert out == "hi there"
    assert sleeps == [1, 2]
    assert len(attempts) == 3
    url, ctype, key = attempts[0]
    assert url == "https://llm.example/v1:generate"
    assert ctype == "application/json" and key == "k-123"
    # the POST body is the reference's payload shape
    # (contents/systemInstruction)
    # no endpoint configured -> transport errors -> stub stays the default
    assert rag.default_transport() is rag.stub_transport


def test_rag_http_transport_requires_endpoint(monkeypatch):
    monkeypatch.delenv(rag.ENDPOINT_ENV, raising=False)
    import pytest as _pytest
    with _pytest.raises(RuntimeError):
        rag.http_transport({"contents": []})
    monkeypatch.setenv(rag.ENDPOINT_ENV, "https://llm.example/gen")
    assert rag.default_transport() is rag.http_transport


def test_multimodal_frame_sample(spark):
    from tripgogo_vector_search_spark.operators.multimodal import (
        MEDIA_SCHEMA, frame_sample)
    rows = [(1, b"\x00\x01", "video/mp4", (None, None, 3500, None)),
            (2, b"\x00", "image/png", (8, 8, None, None))]
    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    frames = frame_sample(media, every_ms=1000).collect()
    assert [(r["media_id"], r["frame_ms"]) for r in frames] == \
        [(1, 0), (1, 1000), (1, 2000), (1, 3000)]


def test_stream_parquet_sink_checkpointed(spark, tmp_path):
    """Durable streaming sink: embed-on-arrival written to parquet with a
    checkpoint (exactly-once file sink). Restarting from the same
    checkpoint reprocesses nothing."""
    from tripgogo_vector_search_spark.streaming.ingest import stream_embed_documents
    from tests.conftest import SF_SMOKE

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        q = (stream_embed_documents(spark, SF_SMOKE)
             .writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ckpt)
             .outputMode("append").start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    n1 = spark.read.parquet(out).count()
    assert n1 > 0
    run_once()  # same checkpoint: no duplicate output
    assert spark.read.parquet(out).count() == n1
