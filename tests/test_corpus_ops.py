"""Invariant tests for the corpus-preparation operators
(operators/corpus.py) and the batch ANN KNN join (operators/ann.py).
Oracle parity is covered by test_driver_parity; these pin the semantic
properties parity alone can't see (reconstruction, recall, bounds)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tripgogo_vector_search_spark.operators import corpus as CP
from tripgogo_vector_search_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark):
    # released at teardown: a cached frame left behind fails later
    # cache-leak checks (test_round17_props) depending on file order
    df = load_table(spark, SF_SMOKE, "documents").cache()
    yield df
    df.unpersist()


def test_chunk_docs_reconstruction(spark, docs):
    """Words at stride offsets of consecutive chunks rebuild the doc:
    chunk i contributes its first `stride` words (all of them for the
    last chunk)."""
    chunks = CP.chunk_documents(docs).collect()
    originals = {r.doc_id: r.text.split(" ") for r in docs.collect()}
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    for doc_id, rows in by_doc.items():
        rows.sort(key=lambda r: r.chunk_id)
        n = len(originals[doc_id])
        assert len(rows) == math.ceil(max(n, 1) / CP.CHUNK_STRIDE)
        rebuilt: list[str] = []
        for r in rows[:-1]:
            assert r.n_words <= CP.CHUNK_WORDS
            rebuilt.extend(r.chunk_text.split(" ")[:CP.CHUNK_STRIDE])
        rebuilt.extend(rows[-1].chunk_text.split(" "))
        assert rebuilt == originals[doc_id], doc_id


def test_chunk_overlap(spark, docs):
    """Consecutive full chunks share exactly size-stride words."""
    overlap = CP.CHUNK_WORDS - CP.CHUNK_STRIDE
    chunks = CP.chunk_documents(docs).collect()
    by_doc: dict[int, list] = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, []).append(r)
    for rows in by_doc.values():
        rows.sort(key=lambda r: r.chunk_id)
        for a, b in zip(rows, rows[1:]):
            if a.n_words == CP.CHUNK_WORDS:
                tail = a.chunk_text.split(" ")[CP.CHUNK_STRIDE:]
                head = b.chunk_text.split(" ")[:overlap]
                assert tail == head[:len(tail)]


def test_repetition_stats_bounds(spark, docs):
    rows = CP.repetition_stats(docs).collect()
    assert len(rows) == docs.count()
    for r in rows:
        assert 1 <= r.n_distinct <= r.n_words
        assert 0.0 <= r.dup_frac < 1.0
        # the most frequent word occurs at least avg-many times
        assert r.top_word_frac >= 1.0 / r.n_distinct - 1e-6
        assert r.keep == (r.dup_frac <= 0.55)


def test_pii_redact_removes_all_matches(spark, docs):
    synth = F.concat(F.col("text"),
                     F.lit(" mail a.b@x.io or +1-555-0000 now"))
    red = docs.select(CP.redact_pii(synth).alias("r")).collect()
    for r in red:
        assert "<EMAIL>" in r.r and "<PHONE>" in r.r
        assert "@" not in r.r
        assert "555-0000" not in r.r
    n_e, n_p = CP.pii_counts(synth)
    counts = docs.select(n_e.alias("e"), n_p.alias("p")).collect()
    assert all(c.e == 1 and c.p == 1 for c in counts)


def test_tfidf_topk_properties(spark, docs):
    rows = CP.tfidf_topk(docs, k=3).collect()
    texts = {r.doc_id: set(r.text.split(" ")) for r in docs.collect()}
    by_doc: dict[int, list] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.tfidf)
        assert r.word in texts[r.doc_id]
    for doc_id, scores in by_doc.items():
        assert 1 <= len(scores) <= 3
        # corpus-wide words (df == N) get idf 0; everything else > 0
        assert all(s >= -1e-9 for s in scores)


def test_ann_knn_join_self_hit_and_recall(spark, tmp_path):
    """Every in-corpus query's top hit is itself (distance 0); recall@3
    vs exact KNN stays useful at nprobe=2."""
    from tripgogo_vector_search_spark.operators import ann as ANN
    emb = load_table(spark, SF_SMOKE, "embeddings")
    path = str(tmp_path / "ivf")
    ANN.materialize_ivf_index(emb, path, n_cells=16)
    queries = (emb.filter(F.col("vec_id") % 20 == 7)
               .select(F.col("vec_id").alias("qid"),
                       F.col("embedding").alias("qvec")))
    got = ANN.ivf_knn_join_materialized(spark, path, queries,
                                        k=3, nprobe=2).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.qid, []).append(r)
    qids = [r.qid for r in queries.select("qid").collect()]
    assert set(by_q) == set(qids)
    corpus = {r.vec_id: r.embedding for r in emb.collect()}

    def cos(a, b):
        da = math.sqrt(sum(x * x for x in a)) or 1.0
        db = math.sqrt(sum(x * x for x in b)) or 1.0
        return 1.0 - sum(x * y for x, y in zip(a, b)) / (da * db)

    hits = 0
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: (r.distance_score, r.vec_id))
        assert rows[0].vec_id == qid and rows[0].distance_score == 0.0
        dists = [r.distance_score for r in rows]
        assert dists == sorted(dists)
        exact = sorted(corpus, key=lambda v: (cos(corpus[qid], corpus[v]), v))[:3]
        hits += len({r.vec_id for r in rows} & set(exact))
    recall = hits / (3 * len(by_q))
    assert recall >= 0.5, recall


def test_intl_detectors_seeded_recall(spark, docs):
    """r9 international battery: each detector finds EXACTLY its seeded
    span — no cross-detector bleed except the documented one (a 13+
    digit E.164 body is, structurally, a card CANDIDATE)."""
    synth = F.concat(
        F.col("text"),
        F.lit(" tel +4915112345679 iban DE89370400440532013000"
              " card 4111111111111111 and 4111111111111112 end"))
    cand, valid = CP.card_counts(synth)
    rows = docs.select(
        F.regexp_count(synth, F.lit(CP.E164_RE)).alias("e164"),
        F.regexp_count(synth, F.lit(CP.IBAN_RE)).alias("iban"),
        cand.alias("cand"), valid.alias("valid")).collect()
    for r in rows:
        assert r.e164 == 1
        assert r.iban == 1
        # candidates: valid card + off-by-one card + the E.164 digits
        assert r.cand == 3
        # ...but Luhn keeps only the real one
        assert r.valid == 1


def test_luhn_expression_matches_reference(spark):
    """The Catalyst Luhn expression == the textbook algorithm on
    deterministic pseudo-random digit strings of every candidate
    length, plus known-good/known-bad cards."""
    import random

    def ref(s: str) -> bool:
        tot = 0
        for i, ch in enumerate(reversed(s), 1):
            d = int(ch)
            if i % 2 == 0:
                d *= 2
                if d > 9:
                    d -= 9
            tot += d
        return tot % 10 == 0

    rng = random.Random(99)
    cases = ["4111111111111111", "4111111111111112", "378282246310005",
             "5500005555555559", "4915112345678", "4915112345679"]
    cases += ["".join(rng.choice("0123456789")
                      for _ in range(rng.randint(13, 19)))
              for _ in range(60)]
    df = spark.createDataFrame([(s,) for s in cases], "s string")
    got = {r["s"]: r["ok"] for r in
           df.select("s", CP.luhn_valid(F.col("s")).alias("ok")).collect()}
    for s in cases:
        assert got[s] == ref(s), s


def test_dup_ngram_fraction_matches_reference(spark):
    """The zip_with/interval-union expression == a straightforward
    python reference, over texts with overlapping repeats, full-text
    repeats, no repeats, and docs shorter than n."""
    def ref(text: str, n: int) -> float:
        w = text.split()
        m = len(w)
        if m < n:
            return 0.0
        grams = [" ".join(w[i:i + n]) for i in range(m - n + 1)]
        from collections import Counter
        cnt = Counter(grams)
        covered = set()
        for i, g in enumerate(grams):
            if cnt[g] > 1:
                covered.update(range(i, i + n))
        return round(len(covered) / m, 6)

    texts = [
        "a b a b a b",                  # overlapping repeated 2-grams
        "x y z x y z x y z",            # full-text repetition
        "all words here are unique",    # no repeats
        "w",                            # shorter than n
        "p q p r p q p",                # interleaved repeats
        "s s s s",                      # single-word point mass
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id bigint, text string")
    from tripgogo_vector_search_spark.functions.text import words
    got = {r["doc_id"]: (r["d2"], r["d3"]) for r in df.select(
        "doc_id",
        CP.dup_ngram_fraction(words("text"), 2).alias("d2"),
        CP.dup_ngram_fraction(words("text"), 3).alias("d3")).collect()}
    for i, t in enumerate(texts):
        assert got[i] == (ref(t, 2), ref(t, 3)), (i, t, got[i])
