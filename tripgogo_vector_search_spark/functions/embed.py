"""Text embedding (SURVEY.md §2.C `embed_text`).

The reference embeds with sentence-transformers/all-MiniLM-L6-v2, 384-dim,
L2-normalized, one ``model.encode`` call per row (ingest_hotels.py:6,23;
streamlit_app.py:26-28,52). Here:

* the **default backend** is a deterministic signed feature-hashing
  embedder (md5 of each whitespace token -> 6-bit bucket from the high
  bits of the first 6 hex nibbles, sign from the 7th). It exists in two
  exactly-equivalent forms:

  - ``hash_embed_expr`` — a pure Catalyst expression (no Python per row;
    the scale path, and bit-for-bit reproducible in the DuckDB oracle);
  - ``hash_embed_udf`` — an Arrow-batched pandas UDF exercising the same
    executor-side batching a real model needs.

* a **sentence-transformers backend** (``model_embed_mapper``) mirrors the
  reference model via ``mapInPandas`` with one model load per partition —
  the distributed analogue of the reference's ``@st.cache_resource``
  process-level cache (streamlit_app.py:25). Gated behind import-try: the
  library is absent in this environment, so it raises with a clear message
  unless installed.

Raw signatures are integer count vectors (exact, engine-independent);
``normalized=True`` L2-normalizes to float like the reference.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, functions as F, types as T

from .text import words
from .vector import ColumnOrName, _c, l2_normalize

HEX_HIGH = set("89abcdef")
DEFAULT_DIM = 64
BUCKET_BITS = 6  # 2^6 = DEFAULT_DIM


def _py_token_bucket_sign(token: str) -> tuple[int, int]:
    h = hashlib.md5(token.encode("utf-8")).hexdigest()
    bucket = 0
    for i in range(BUCKET_BITS):
        bucket = (bucket << 1) | (1 if h[i] in HEX_HIGH else 0)
    sign = 1 if h[BUCKET_BITS] in HEX_HIGH else -1
    return bucket, sign


def hash_embed_py(text: str, dim: int = DEFAULT_DIM, normalized: bool = True) -> list[float]:
    """Driver/executor-side single-text embed (query-time analogue of
    ``model.encode(query)``, streamlit_app.py:52)."""
    vec = [0] * dim
    # NB: empty tokens hash too — exact parity with the split() semantics
    # of the expression form.
    for t in text.split(" "):
        b, s = _py_token_bucket_sign(t)
        vec[b % dim] += s
    if not normalized:
        return [float(v) for v in vec]
    n = sum(v * v for v in vec) ** 0.5
    if n == 0:
        return [None] * dim  # mirrors l2_normalize's NULL-on-zero
    return [v / n for v in vec]


def hash_embed_expr(col: ColumnOrName, dim: int = DEFAULT_DIM,
                    normalized: bool = True) -> Column:
    """The embedder as a Catalyst expression: md5 per token, signed
    histogram over ``dim`` buckets. JVM-side higher-order functions,
    interpreted per row (``CodegenFallback``); zero Python. The normalized
    form binds the histogram once (functions/vector.l2_normalize)."""
    assert dim == 1 << BUCKET_BITS, "expression form is fixed at 64 buckets"
    hashes = F.transform(words(col), lambda t: F.md5(t))

    def bucket(h: Column) -> Column:
        b = F.lit(0)
        for i in range(BUCKET_BITS):
            bit = F.when(h.substr(i + 1, 1).isin(*HEX_HIGH), 1).otherwise(0)
            b = b * 2 + bit
        return b

    def sign(h: Column) -> Column:
        return F.when(h.substr(BUCKET_BITS + 1, 1).isin(*HEX_HIGH), 1).otherwise(-1)

    # Single pass with an array accumulator: md5 runs once per token.
    # (A per-bucket outer transform would re-evaluate the md5 array once
    # per bucket — dim x the hashing work.)
    pairs = F.transform(hashes, lambda h: F.struct(bucket(h).alias("b"),
                                                   sign(h).alias("s")))
    counts = F.aggregate(
        pairs,
        F.array_repeat(F.lit(0), dim),
        lambda acc, p: F.zip_with(
            acc, F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda a, i: a + F.when(p["b"] == i, p["s"]).otherwise(0)),
    )
    return l2_normalize(counts) if normalized else counts


def hash_embed_udf(dim: int = DEFAULT_DIM, normalized: bool = True):
    """Arrow-batched pandas UDF form — same output as ``hash_embed_expr``;
    the slot where a real model's batch ``encode`` plugs in."""
    ret = T.ArrayType(T.DoubleType()) if normalized else T.ArrayType(T.IntegerType())

    @F.pandas_udf(ret)
    def embed(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: hash_embed_py(t or "", dim, normalized)
                         if normalized else
                         [int(v) for v in hash_embed_py(t or "", dim, False)])

    return embed


def model_embed_mapper(text_col: str, out_col: str = "embedding",
                       model_name: str = "sentence-transformers/all-MiniLM-L6-v2",
                       batch_size: int = 64):
    """``mapInPandas`` mapper embedding with a real sentence-transformers
    model, loaded once per partition (executor-side cache). Use:

        df.mapInPandas(model_embed_mapper("text"), schema=...)

    Raises ImportError at call time when the library is unavailable.
    """
    def mapper(batches):
        try:
            from sentence_transformers import SentenceTransformer
        except ImportError as e:  # pragma: no cover - lib absent in CI image
            raise ImportError(
                "sentence-transformers not installed; use the hash embedder "
                "(hash_embed_expr/hash_embed_udf) or install the model backend"
            ) from e
        model = SentenceTransformer(model_name)
        for pdf in batches:
            vecs = model.encode(list(pdf[text_col]), batch_size=batch_size,
                                normalize_embeddings=True)
            pdf = pdf.copy()
            pdf[out_col] = [v.tolist() for v in vecs]
            yield pdf

    return mapper
