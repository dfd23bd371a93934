"""Seeded input generators for the benchmark.

Every table is a pure function of a ``numpy.random.Generator`` and a few
size arguments, written with pyarrow (no Spark), so the engine only ever
sees generated inputs and the same seed gives byte-identical inputs.
Shapes follow FIXTURES.md: ``embeddings`` (vec_id, 64-dim float
embedding, label), ``documents`` (doc_id, word-salad text, lang, source,
n_chars), ``lineitem`` (the two columns the quantile job reads) and the
hotels CSV header of ``sources/hotels_fixture.py``.
"""

from __future__ import annotations

import csv
import hashlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
VOCAB = ("batch part spark line column order small sort fast value scan a "
         "hash slow group agg filter big query key window row table stream "
         "merge data vector join customer the index shard cache page tree "
         "node edge graph path leaf root").split()
LANGS = ["en", "es", "zh", "de", "fr"]
CITIES = ["Goa", "Manali", "Pune", "Leh"]
STREETS = ["Beach Road", "Hilltop Lane", "Market Street", "Riverside Walk",
           "Palm Avenue", "Cedar Trail", "Sunset Boulevard", "Old Fort Road"]
KINDS = ["Resort", "Inn", "Lodge", "Retreat", "Suites"]


def normalize(x: np.ndarray) -> np.ndarray:
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def clustered_vectors(rng: np.random.Generator, n: int, n_clusters: int,
                      spread: float = 0.35) -> tuple[np.ndarray, np.ndarray]:
    """L2-normalized float32 vectors around ``n_clusters`` random centers,
    plus each vector's cluster label."""
    centers = normalize(rng.standard_normal((n_clusters, DIM)))
    labels = rng.integers(0, n_clusters, n)
    x = centers[labels] + spread * rng.standard_normal((n, DIM)) / np.sqrt(DIM)
    return normalize(x).astype(np.float32), labels.astype(np.int32)


def queries_near(rng: np.random.Generator, corpus: np.ndarray, n: int,
                 noise: float = 0.15) -> np.ndarray:
    """Seeded perturbations of corpus vectors, renormalized (float64)."""
    base = corpus[rng.integers(0, len(corpus), n)].astype(np.float64)
    return normalize(base + noise * rng.standard_normal(base.shape) / np.sqrt(DIM))


def write_embeddings(path: str, vecs: np.ndarray, labels: np.ndarray) -> None:
    n = len(vecs)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), DIM)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(labels),
    }), path)


def doc_texts(rng: np.random.Generator, n: int, dup_frac: float = 0.1) -> list[str]:
    """Word-salad documents; ``dup_frac`` of them are near-copies of an
    earlier document with one word replaced, so the dedup jobs find
    pairs and components."""
    lens = rng.integers(12, 61, n)
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < dup_frac:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = str(vocab[rng.integers(0, len(vocab))])
        else:
            words = list(vocab[rng.integers(0, len(vocab), lens[i])])
        texts.append(" ".join(words))
    return texts


def write_documents(path: str, texts: list[str], rng: np.random.Generator) -> None:
    n = len(texts)
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 4, n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    }), path)


def lineitem_prices(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """(l_returnflag, l_extendedprice) columns; prices are cents-exact."""
    flags = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    price = np.round(rng.uniform(900.0, 105000.0, n), 2)
    return flags, price


def write_lineitem(path: str, flags: np.ndarray, price: np.ndarray) -> None:
    pq.write_table(pa.table({"l_returnflag": pa.array(flags),
                             "l_extendedprice": pa.array(price)}), path)


def hotel_rows(rng: np.random.Generator, n: int, batch: int) -> list[dict]:
    rows = []
    for i in range(n):
        city = CITIES[int(rng.integers(0, len(CITIES)))]
        kind = KINDS[int(rng.integers(0, len(KINDS)))]
        street = STREETS[int(rng.integers(0, len(STREETS)))]
        num = int(rng.integers(1, 400))
        rows.append({
            "name": f"{city} {kind} b{batch}-{i}",
            "addr_text": f"{num} {street} near {city} center {kind.lower()} quarter",
            "city": city,
            "lat": 0.0,
            "lon": 0.0,
            "price_usd": round(float(rng.uniform(20, 400)), 2),
            "rating": round(float(rng.integers(0, 11)) / 2, 1),
            "url": f"https://example.com/{city.lower()}-{kind.lower()}-{batch}-{i}",
        })
    return rows


def write_hotels_csv(path: str, rows: list[dict]) -> None:
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=list(rows[0]))
        w.writeheader()
        w.writerows(rows)


def md5_hex(text: str) -> str:
    return hashlib.md5(text.encode("utf-8")).hexdigest()
