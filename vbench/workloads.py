"""The benchmark workloads, each a closed loop with one client.

A workload owns its inputs (generated from the seed under a fresh run
directory), calls the engine's public functions, checks every output
against an independent truth, and returns raw samples. ``run.py`` turns
the samples into the printed metrics.

Every engine call goes through :func:`staged`, which times it as
build -> plan -> action. With tracing on, each phase is a span and every
Spark job it starts carries the span's job group (see ``tracing.py``).
"""

from __future__ import annotations

import os
import shutil
import sys
import time
import traceback

import numpy as np
import pyarrow.parquet as pq

import checks
import datagen as G

# Input sizes. "full" is what the benchmark measures; "smoke" is the
# tiny configuration the benchmark's own tests run. The batch sizes are
# the largest whose runs fit the benchmark's time budget (STEADINESS.md).
SIZES = {
    "full": {
        "search": {"corpus": 2000, "clusters": 32, "warm": 2, "min_passes": 10,
                   "recall_requests": 12},
        "batch": {"corpus": 6000, "clusters": 32, "queries": 200, "docs": 2000,
                  "lineitem": 600_000, "store": 768, "retire": 48, "change": 12,
                  "hotels": 300, "store_searches": 11, "min_passes": 1},
    },
    "smoke": {
        "search": {"corpus": 300, "clusters": 8, "warm": 1, "min_passes": 1,
                   "recall_requests": 2},
        "batch": {"corpus": 400, "clusters": 8, "queries": 8, "docs": 150,
                  "lineitem": 3000, "store": 192, "retire": 16, "change": 4,
                  "hotels": 40, "store_searches": 1, "min_passes": 1},
    },
}

K = 10            # top-k of every search
N_CELLS = 16      # IVF cells (materialize_ivf_index default)
RANGE_W = 64      # id-range width of the refreshed store
SETUP_ROUNDS = 3  # set-up is repeated and its median reported


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def staged(tr, name, build, action, request=None):
    """Run one engine call as build -> plan -> action; returns
    ``(result, seconds)``. ``build`` returns a DataFrame (it may start
    Spark jobs itself, e.g. schema reads); the plan phase forces
    analysis, optimization and physical planning of that DataFrame; the
    action consumes it. The action reuses the planned QueryExecution."""
    t0 = time.perf_counter()
    with tr.span(name, request):
        with tr.span(name + ".build"):
            df = build()
        with tr.span(name + ".plan") as plan_sp:
            plan = df._jdf.queryExecution().executedPlan()
        with tr.span(name + ".action") as action_sp:
            out = action(df)
    seconds = time.perf_counter() - t0
    if plan_sp is not None:  # plan inspection stays outside the timed spans
        plan_sp["scans"] = plan.toString().count("FileScan")
        action_sp["files_read"] = _files_read(df)
    return out, seconds


def _files_read(df) -> int:
    """Files the executed plan's parquet scans read (``numFiles`` scan
    metric), walking through adaptive query stages."""
    total = 0
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        if cls == "FileSourceScanExec":
            total += int(node.metrics().apply("numFiles").value())
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return total


class Ops:
    """Counts attempted and failed operations; a failed check or an
    exception inside ``op`` is one failed operation."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, name, fn):
        self.attempted += 1
        try:
            ok = fn()
        except Exception:  # keep the loop running; the op counts as failed
            self.failed += 1
            print(f"vbench: operation {name} raised:\n{traceback.format_exc()}",
                  file=sys.stderr)
            return False
        if not ok:
            self.failed += 1
            print(f"vbench: output check failed: {name}", file=sys.stderr)
        return ok


class Workload:
    """Common skeleton: ``setup_round`` (inputs + index/store build) runs
    SETUP_ROUNDS times into fresh directories, ``warm`` runs untimed
    passes, then ``one_pass`` runs in a closed loop until the deadline."""

    name = ""
    recorded_passes: int | None = None

    def __init__(self, spark, tracer, seed: int, size: str, run_dir: str):
        self.spark = spark
        self.tr = tracer
        self.seed = seed
        self.cfg = SIZES[size][self.key]
        self.run_dir = run_dir
        self.ops = Ops()
        self.samples: dict[str, list[float]] = {}
        self.pass_no = 0

    def add(self, metric: str, value: float) -> None:
        self.samples.setdefault(metric, []).append(value)

    def rng(self, *stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *stream])

    def setup(self, rounds: int = SETUP_ROUNDS) -> dict:
        round_s = []
        for r in range(rounds):
            d = os.path.join(self.run_dir, f"round{r}")
            if r:
                shutil.rmtree(os.path.join(self.run_dir, f"round{r - 1}"))
            os.makedirs(d)
            round_s.append(_timed(lambda: self.setup_round(d))[1])
        # every round regenerates the same inputs from the seed, so the
        # (untimed) truths are computed once
        checks_s = _timed(self.prepare_checks)[1]
        self.tr.phase = "warm"
        warm_s = _timed(self.warm)[1]
        print(f"vbench: setup rounds {[round(x, 2) for x in round_s]} s, "
              f"checks {checks_s:.2f} s, warm-up {warm_s:.2f} s", file=sys.stderr)
        self.tr.phase = "timed"
        return {"round_s": round_s, "warm_s": warm_s}

    def prepare_checks(self) -> None:
        pass

    def warm(self) -> None:
        self.one_pass(record=False)

    def timed(self, seconds: float, min_passes: int = 1) -> None:
        """Closed loop until ``seconds`` have passed (at least
        ``min_passes`` passes). Only the first ``recorded_passes`` passes
        (all when None) feed the metrics; later ones are still checked and
        their times kept apart as ``extra_pass_s``, so what a metric means
        does not depend on how many passes fit in ``seconds``."""
        start = time.perf_counter()
        n = 0
        while n < min_passes or time.perf_counter() - start < seconds:
            record = self.recorded_passes is None or n < self.recorded_passes
            if not record:
                self.tr.phase = "extra"
            cost0 = self.tr.cost
            with self.tr.span("pass"):
                _, s = _timed(lambda: self.one_pass(record=record))
            self.add("pass_s" if record else "extra_pass_s", s)
            if record:
                self.add("trace_cost_s", self.tr.cost - cost0)
            n += 1


def _ivf_cells(vecs: np.ndarray) -> np.ndarray:
    """Cell of every vector: nearest of the first N_CELLS vectors by cosine
    distance, ties to the smaller cell id (materialize_ivf_index's rule)."""
    cents = vecs[:N_CELLS].astype(np.float64)
    v = vecs.astype(np.float64)
    d = 1.0 - (v @ cents.T) / np.outer(np.linalg.norm(v, axis=1),
                                      np.linalg.norm(cents, axis=1))
    return np.argmin(d, axis=1)


def _probes(vecs: np.ndarray, q: np.ndarray, nprobe: int) -> list[int]:
    d = checks.cosine_distances(vecs[:N_CELLS], q)
    return sorted(range(N_CELLS), key=lambda c: (d[c], c))[:nprobe]


def _ivf_ok(ids, dists, cids, vecs, cells, q, nprobe) -> bool:
    """IVF results are the exact top-k of the probed cells."""
    probes = _probes(vecs, q, nprobe)
    truth = checks.cosine_distances(vecs, q)
    restricted = np.where(np.isin(cells, probes), truth, np.inf)
    want = min(K, int(np.isfinite(restricted).sum()))
    if len(ids) != want:
        return False
    if any(int(cells[i]) != int(c) for i, c in zip(ids, cids)):
        return False
    return checks.topk_matches(ids, dists, restricted, want) if want else True


class SearchOnline(Workload):
    """1 client, requests alternating exact (flagship composition with a
    RAG summary) and IVF (nprobe 2) over a 64-dim embeddings table."""

    key = "search"
    name = "search_online"

    def setup_round(self, d):
        from tripgogo_vector_search_spark.operators.ann import materialize_ivf_index
        from tripgogo_vector_search_spark.sources.tables import load_table
        rng = self.rng(1)
        self.vecs, labels = G.clustered_vectors(rng, self.cfg["corpus"],
                                                self.cfg["clusters"])
        G.write_embeddings(os.path.join(d, "embeddings.parquet"), self.vecs, labels)
        self.sf_dir = d
        self.ivf = os.path.join(d, "ivf")
        with self.tr.span("ann.materialize_ivf"):
            materialize_ivf_index(load_table(self.spark, d, "embeddings"), self.ivf,
                                  n_cells=N_CELLS)
        self.qrng = self.rng(2)

    def prepare_checks(self):
        self.cells = _ivf_cells(self.vecs)

    def warm(self):
        for _ in range(self.cfg["warm"]):
            self.one_pass(record=False)

    def one_pass(self, record: bool):
        self.pass_no += 1
        req = f"req{self.pass_no}"
        q = G.queries_near(self.qrng, self.vecs, 2)
        self.exact_request(q[0].tolist(), record, req + "e")
        self.ann_search(q[1].tolist(), record, req + "a")

    def ann_search(self, q, record, request):
        """ivf_search_materialized(k, nprobe 2) against the set-up index;
        rows must be the exact top-k of the probed cells."""
        from tripgogo_vector_search_spark.operators.ann import ivf_search_materialized

        def run():
            rows, s = staged(
                self.tr, "ann.ivf_search",
                lambda: ivf_search_materialized(self.spark, self.ivf, q, k=K,
                                                n_cells=N_CELLS, nprobe=2),
                lambda df: df.collect(), request)
            ids = [r["vec_id"] for r in rows]
            ok = _ivf_ok(ids, [r["distance_score"] for r in rows],
                         [r["cid"] for r in rows], self.vecs, self.cells,
                         np.asarray(q), 2)
            if record:
                self.add("ann_ms", s * 1e3)
            if len(self.samples.get("recall", [])) < self.cfg["recall_requests"]:
                # not a time: warm-up requests count too, and a fixed number
                # of requests makes the figure a function of the seed alone
                self.add("recall", checks.recall(
                    ids, checks.cosine_distances(self.vecs, q), K))
            return ok

        return self.ops.run("ann.ivf_search", run)

    def exact_request(self, q, record, request):
        """load_table -> knn_topk(k, tiebreak vec_id) -> with_match_score ->
        collect -> RAG summary, checked against the numpy truth."""
        from tripgogo_vector_search_spark.operators.knn import knn_topk, with_match_score
        from tripgogo_vector_search_spark.sources.tables import load_table

        def build():
            with self.tr.span("sources.load_table"):
                src = load_table(self.spark, self.sf_dir, "embeddings")
            with self.tr.span("knn.builder"):
                return with_match_score(knn_topk(src, q, k=K, tiebreak="vec_id"))

        def run():
            rows, s = staged(self.tr, "knn", build, lambda df: df.collect(), request)
            summary, s_rag = _timed(lambda: self.summarize(rows))
            if record:
                self.add("search_ms", (s + s_rag) * 1e3)
            truth = checks.cosine_distances(self.vecs, q)
            scores_ok = all(
                abs(r["match_score"] - round((1 - r["distance_score"]) * 100, 2)) < 1e-9
                for r in rows)
            return (scores_ok and summary.startswith("Summary[")
                    and checks.topk_matches([r["vec_id"] for r in rows],
                                            [r["distance_score"] for r in rows],
                                            truth, K))

        return self.ops.run("knn", run)

    def summarize(self, rows):
        from tripgogo_vector_search_spark.plans import rag
        calls = []

        def transport(payload):
            calls.append(1)
            return rag.stub_transport(payload)

        payload_rows = [{"vec_id": r["vec_id"],
                         "match_score": r["match_score"]} for r in rows]
        with self.tr.span("rag.generate_summary") as sp:
            text = rag.generate_summary(payload_rows, "hotels near the beach",
                                        transport=transport,
                                        sleeper=lambda s: None)
            if sp is not None:
                sp["attempts"] = len(calls)
        return text


class StoreCycle:
    """Writes beside reads: a hotels CSV batch through
    plans.ingest.ingest_hotels, one refresh_and_compact_store cycle on an
    id-range-partitioned store (changed, new and retired docs; as many
    rows added as retired, so the store size stays level), then
    read-your-writes exact searches on the store."""

    def setup_store(self, d):
        from pyspark.sql import functions as F
        from tripgogo_vector_search_spark.functions.embed import hash_embed_udf
        from tripgogo_vector_search_spark.operators.index_maintenance import (
            upsert_partitioned_store)
        self.d = d
        self.store = os.path.join(d, "store.parquet")
        rng = self.rng(4)
        n = self.cfg["store"]
        self.text = dict(enumerate(G.doc_texts(rng, n, dup_frac=0.0)))
        self.next_id = n
        cur = self._write_current(0)
        with self.tr.span("index_maintenance.build_store"):
            rows = (self.spark.read.parquet(cur)
                    .select("doc_id", "fp",
                            hash_embed_udf(normalized=False)(F.col("text")).alias("v"),
                            F.floor(F.col("doc_id") / RANGE_W).alias("id_range")))
            upsert_partitioned_store(self.spark, self.store, rows)
        if not self._check_store(list(self.text)):
            raise RuntimeError("initial store does not match its input")
        self.wrng = self.rng(5)
        self.batch = 0

    def _write_current(self, cycle: int) -> str:
        import pyarrow as pa
        ids = sorted(self.text)
        path = os.path.join(self.d, f"current{cycle}.parquet")
        pq.write_table(pa.table({
            "doc_id": pa.array(ids, pa.int64()),
            "fp": pa.array([G.md5_hex(self.text[i]) for i in ids]),
            "text": pa.array([self.text[i] for i in ids]),
        }), path)
        return path

    def _store_files(self) -> dict[str, int]:
        out = {}
        for root, _dirs, files in os.walk(self.store):
            for f in files:
                if f.endswith(".parquet"):
                    p = os.path.join(root, f)
                    out[p] = pq.ParquetFile(p).metadata.num_rows
        return out

    def _check_store(self, spot) -> bool:
        """Store ids and fingerprints equal the expected snapshot; the
        vectors of ``spot`` ids equal the reference embedder's."""
        from tripgogo_vector_search_spark.functions.embed import hash_embed_py
        t = pq.read_table(self.store, columns=["doc_id", "fp", "v"])
        ids = t.column("doc_id").to_pylist()
        fps = dict(zip(ids, t.column("fp").to_pylist()))
        if len(ids) != len(fps) or sorted(ids) != sorted(self.text):
            return False
        if any(fps[i] != G.md5_hex(self.text[i]) for i in ids):
            return False
        vec = dict(zip(ids, t.column("v").to_pylist()))
        self.store_vecs = (np.array(sorted(ids)),
                           np.array([vec[i] for i in sorted(ids)], dtype=np.float64))
        return all([int(x) for x in hash_embed_py(self.text[i], normalized=False)]
                   == list(vec[i]) for i in spot)

    def store_cycle(self, record: bool, req: str):
        self.ops.run("ingest.ingest_hotels", lambda: self._ingest(record, req))
        self.ops.run("index_maintenance.refresh", lambda: self._refresh(record, req))
        for _ in range(self.cfg["store_searches"]):
            self._store_search(record, req)

    def _ingest(self, record, req) -> bool:
        from tripgogo_vector_search_spark.functions.embed import hash_embed_py
        from tripgogo_vector_search_spark.plans.ingest import ingest_hotels
        self.batch += 1
        rows = G.hotel_rows(self.wrng, self.cfg["hotels"], self.batch)
        csv_path = os.path.join(self.d, f"hotels{self.batch}.csv")
        out = os.path.join(self.d, f"hotels{self.batch}.parquet")
        G.write_hotels_csv(csv_path, rows)
        with self.tr.span("ingest.ingest_hotels", req):
            t0 = time.perf_counter()
            ingest_hotels(self.spark, csv_path, out)
            s = time.perf_counter() - t0
        t = pq.read_table(out, columns=["name", "addr_vec"])
        got = dict(zip(t.column("name").to_pylist(), t.column("addr_vec").to_pylist()))
        ok = len(got) == len(rows) == t.num_rows
        for r in (rows[int(i)] for i in self.wrng.integers(0, len(rows), 5)):
            want = hash_embed_py(f"{r['addr_text']} {r['city']}", normalized=True)
            ok = ok and np.allclose(got[r["name"]], np.float32(want), atol=1e-6)
        if record:
            self.add("ingest_rows_per_s", len(rows) / s)
        return ok

    def _refresh(self, record, req) -> bool:
        from tripgogo_vector_search_spark.functions.embed import hash_embed_udf
        from tripgogo_vector_search_spark.operators.index_maintenance import (
            refresh_and_compact_store)
        c = self.cfg
        live = sorted(self.text)
        retired = live[:c["retire"]]
        changed = [int(i) for i in self.wrng.choice(live[c["retire"]:], c["change"],
                                                   replace=False)]
        for i in retired:
            del self.text[i]
        for i in changed:
            self.text[i] = self.text[i] + f" rev{self.pass_no}"
        new = list(range(self.next_id, self.next_id + c["retire"]))
        for i, t in zip(new, G.doc_texts(self.wrng, len(new), dup_frac=0.0)):
            self.text[i] = t
        self.next_id += len(new)
        cur = self._write_current(self.pass_no)
        before = self._store_files()
        with self.tr.span("index_maintenance.refresh", req) as sp:
            t0 = time.perf_counter()
            stats = refresh_and_compact_store(
                self.spark, self.store, self.spark.read.parquet(cur),
                hash_embed_udf(normalized=False), range_width=RANGE_W)
            s = time.perf_counter() - t0
            if sp is not None:
                sp.update(stats)
        after = self._store_files()
        rewritten = sum(n for p, n in after.items() if p not in before)
        if sp is not None:
            sp["rows_rewritten"] = rewritten
        delta = len(retired) + len(changed) + len(new)
        # retired rows of partitions the upsert rewrites leave with it;
        # compaction evicts the rest
        ok = (self._check_store(changed + new)
              and stats["evicted_rows"] <= len(retired))
        if record:
            self.add("refresh_ms", s * 1e3)
            self.add("write_amp_rows", rewritten)
            self.add("write_amp_delta", delta)
        return ok

    def _store_search(self, record, req):
        from tripgogo_vector_search_spark.operators.knn import knn_topk
        ids, vecs = self.store_vecs
        q = self.wrng.standard_normal(G.DIM)
        q = (q / np.linalg.norm(q)).tolist()

        def run():
            rows, s = staged(self.tr, "knn.store_search",
                             lambda: knn_topk(self.spark.read.parquet(self.store), q,
                                              k=K, vec_col="v", tiebreak="doc_id"),
                             lambda df: df.select("doc_id", "distance_score").collect(),
                             req)
            pos = {int(i): p for p, i in enumerate(ids)}
            truth = checks.cosine_distances(vecs, q)
            ok = checks.topk_matches([r["doc_id"] for r in rows],
                                     [r["distance_score"] for r in rows], truth, K,
                                     id_of=pos.get)
            if record:
                self.add("search_ms", s * 1e3)
            return ok

        return self.ops.run("knn.store_search", run)


class BatchCorpus(StoreCycle, Workload):
    """1 client running a fixed job list: GEMM similarity join, IVF batch
    join, embedding near-dup, n-gram Jaccard, MinHash components, exact
    quantiles, a streaming embed, then one ingest + store refresh cycle
    with read-your-writes searches (:class:`StoreCycle`). Only the first
    timed pass, which runs the batch jobs cold, is measured."""

    key = "batch"
    name = "batch_corpus"
    recorded_passes = 1

    def setup_round(self, d):
        from pyspark.sql import functions as F
        from tripgogo_vector_search_spark.operators.ann import materialize_ivf_index
        from tripgogo_vector_search_spark.sources.tables import load_table
        c = self.cfg
        rng = self.rng(1)
        vecs, labels = G.clustered_vectors(rng, c["corpus"], c["clusters"])
        # near-identical copies so the near-dup job finds pairs
        dup = np.flatnonzero(rng.random(len(vecs)) < 0.05)
        dup = dup[dup > N_CELLS]
        src = np.array([rng.integers(0, i) for i in dup], dtype=np.int64)
        vecs[dup] = G.normalize(vecs[src] + 1e-3 * rng.standard_normal(
            (len(dup), G.DIM))).astype(np.float32)
        self.vecs = vecs
        self.queries = G.queries_near(rng, vecs, c["queries"])
        self.texts = G.doc_texts(rng, c["docs"])
        self.flags, self.price = G.lineitem_prices(rng, c["lineitem"])
        docs_dir = os.path.join(d, "docs")
        os.makedirs(docs_dir)
        G.write_embeddings(os.path.join(d, "embeddings.parquet"), vecs, labels)
        G.write_documents(os.path.join(docs_dir, "documents.parquet"), self.texts, rng)
        G.write_lineitem(os.path.join(d, "lineitem.parquet"), self.flags, self.price)
        self.sf_dir, self.docs_dir = d, docs_dir
        self.ivf = os.path.join(d, "ivf")
        with self.tr.span("ann.materialize_ivf"):
            materialize_ivf_index(load_table(self.spark, d, "embeddings"), self.ivf,
                                  n_cells=N_CELLS)
        self.setup_store(d)
        self.qdf = self.spark.createDataFrame(
            [(i, [float(x) for x in q]) for i, q in enumerate(self.queries)],
            "qid bigint, qvec array<double>")
        self.qdf_emb = self.qdf.select(F.col("qid").alias("vec_id"),
                                       F.col("qvec").alias("embedding"))

    def warm(self):
        """Warms the read path only: store searches serve many requests per
        application, while the batch jobs run once per application, so
        the timed pass runs them cold (the store build has already
        started the Python workers)."""
        for _ in range(2):
            self._store_search(False, "warm")

    def prepare_checks(self):
        self.cells = _ivf_cells(self.vecs)
        self.truth = np.stack([checks.cosine_distances(self.vecs, q)
                               for q in self.queries])
        self.near_dup_truth = self._near_dup_truth()
        self.jaccard_truth = self._jaccard_truth(0.7)

    def one_pass(self, record: bool):
        from tripgogo_vector_search_spark.operators import dedup as DD
        from tripgogo_vector_search_spark.operators.ann import ivf_knn_join_materialized
        from tripgogo_vector_search_spark.operators.quantile import quantiles_cont
        from tripgogo_vector_search_spark.operators.simjoin import similarity_join_gemm
        from tripgogo_vector_search_spark.sources.tables import load_table
        from tripgogo_vector_search_spark.streaming.ingest import (
            run_stream_to_table, stream_embed_documents)
        sp, d = self.spark, self.sf_dir
        self.pass_no += 1
        req = f"pass{self.pass_no}"
        emb = lambda: load_table(sp, d, "embeddings")  # noqa: E731
        docs = lambda: load_table(sp, self.docs_dir, "documents")  # noqa: E731
        jobs = [
            ("simjoin.gemm",
             lambda: similarity_join_gemm(emb(), self.qdf_emb, k=K, exclude_self=False),
             self._check_gemm),
            ("ann.ivf_knn_join",
             lambda: ivf_knn_join_materialized(sp, self.ivf, self.qdf, k=K, nprobe=4),
             lambda rows: self._check_ivf_join(rows, record)),
            ("dedup.embedding_near_dup",
             lambda: DD.embedding_near_dup(
                 emb(), "embedding", "vec_id",
                 prefix_bits=DD.adaptive_prefix_bits(len(self.vecs), G.DIM),
                 threshold=0.98),
             self._check_near_dup),
            ("dedup.ngram_jaccard",
             lambda: DD.ngram_jaccard_pairs(docs(), "text", "doc_id", min_jaccard=0.7),
             self._check_jaccard),
            ("dedup.minhash_components",
             lambda: DD.minhash_components(docs(), "text", "doc_id"),
             self._check_components),
            ("quantile.quantiles_cont",
             lambda: quantiles_cont(load_table(sp, d, "lineitem"), ["l_returnflag"],
                                    "l_extendedprice",
                                    [("q25", 0.25), ("q50", 0.5), ("q75", 0.75)]),
             self._check_quantiles),
            ("streaming.run_stream_to_table",
             lambda: run_stream_to_table(sp, stream_embed_documents(sp, self.docs_dir),
                                         mode="append"),
             self._check_stream),
        ]
        for name, build, check in jobs:
            self.ops.run(name, lambda: check(
                staged(self.tr, name, build, lambda df: df.collect(), req)[0]))
        self.store_cycle(record, req)

    # -- checks ------------------------------------------------------------
    def _check_gemm(self, rows) -> bool:
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        if sorted(by_q) != list(range(len(self.queries))):
            return False
        for qid, rs in by_q.items():
            rs.sort(key=lambda r: r["rank"])
            if not checks.topk_matches([r["neighbor_id"] for r in rs],
                                       [r["distance_score"] for r in rs],
                                       self.truth[qid], K):
                return False
        return True

    def _check_ivf_join(self, rows, record) -> bool:
        by_q: dict[int, list] = {}
        for r in rows:
            by_q.setdefault(r["qid"], []).append(r)
        if sorted(by_q) != list(range(len(self.queries))):
            return False
        rec = []
        for qid, rs in by_q.items():
            rs.sort(key=lambda r: (r["distance_score"], r["vec_id"]))
            ids = [r["vec_id"] for r in rs]
            if not _ivf_ok(ids, [r["distance_score"] for r in rs],
                           [r["cid"] for r in rs], self.vecs, self.cells,
                           self.queries[qid], 4):
                return False
            rec.append(checks.recall(ids, self.truth[qid], K))
        if record:
            self.add("recall", float(np.mean(rec)))
        return True

    def _near_dup_truth(self, thr=0.98, eps=1e-9):
        """Per id: (smallest partner id at cos >= thr+eps, smallest at
        cos >= thr-eps) within its sign-prefix bucket; the engine's
        canonical id must lie between them (pairs within eps of the
        threshold may go either way)."""
        from tripgogo_vector_search_spark.operators.dedup import adaptive_prefix_bits
        bits = adaptive_prefix_bits(len(self.vecs), G.DIM)
        v = self.vecs.astype(np.float64)
        keys = ["".join("1" if x >= 0 else "0" for x in row[:bits]) for row in self.vecs]
        buckets: dict[str, list[int]] = {}
        for i, k in enumerate(keys):
            buckets.setdefault(k, []).append(i)
        n = len(v)
        strict = np.arange(n)
        loose = np.arange(n)
        norms = np.linalg.norm(v, axis=1)
        for ids in buckets.values():
            ids = np.array(ids)
            cos = (v[ids] @ v[ids].T) / np.outer(norms[ids], norms[ids])
            for j, b in enumerate(ids):
                earlier = ids < b
                s = ids[earlier & (cos[j] >= thr + eps)]
                lo = ids[earlier & (cos[j] >= thr - eps)]
                if len(s):
                    strict[b] = s.min()
                if len(lo):
                    loose[b] = lo.min()
        return loose, strict

    def _check_near_dup(self, rows) -> bool:
        loose, strict = self.near_dup_truth
        if len(rows) != len(self.vecs):
            return False
        for r in rows:
            i, c = r["vec_id"], r["canonical_id"]
            if not (loose[i] <= c <= strict[i]) or r["is_dup"] != (c != i):
                return False
        return True

    def _jaccard_truth(self, t):
        sh = [set(" ".join(w[i:i + 3]) for i in range(len(w) - 2))
              for w in (x.split(" ") for x in self.texts)]
        post: dict[str, list[int]] = {}
        for i, s in enumerate(sh):
            for g in s:
                post.setdefault(g, []).append(i)
        inter: dict[tuple[int, int], int] = {}
        for ids in post.values():
            for a in range(len(ids)):
                for b in range(a + 1, len(ids)):
                    key = (ids[a], ids[b])
                    inter[key] = inter.get(key, 0) + 1
        sure, maybe = {}, {}
        for (a, b), i in inter.items():
            jac = i / (len(sh[a]) + len(sh[b]) - i)
            if jac >= t + 1e-6:
                sure[(a, b)] = jac
            elif jac >= t - 1e-6:
                maybe[(a, b)] = jac
        return sure, maybe

    def _check_jaccard(self, rows) -> bool:
        sure, maybe = self.jaccard_truth
        got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in rows}
        if not set(sure) <= set(got) or not set(got) <= set(sure) | set(maybe):
            return False
        allj = {**sure, **maybe}
        return all(abs(j - allj[p]) <= 1e-6 for p, j in got.items())

    def _check_components(self, rows) -> bool:
        comp = {r["doc_id"]: r["component_id"] for r in rows}
        if len(comp) != len(rows) or sorted(comp) != list(range(len(self.texts))):
            return False
        if any(c > i or comp.get(c) != c for i, c in comp.items()):
            return False
        first: dict[str, int] = {}
        for i, t in enumerate(self.texts):  # identical texts share a component
            if len(t.split(" ")) >= 3:
                j = first.setdefault(t, i)
                if comp[i] != comp[j]:
                    return False
        return True

    def _check_quantiles(self, rows) -> bool:
        if sorted(r["l_returnflag"] for r in rows) != sorted(set(self.flags.tolist())):
            return False
        for r in rows:
            vals = self.price[self.flags == r["l_returnflag"]]
            for name, q in (("q25", 0.25), ("q50", 0.5), ("q75", 0.75)):
                want = checks.quantile_cont(vals, q)
                if abs(r[name] - want) > 1e-6 * max(1.0, abs(want)):
                    return False
        return True

    def _check_stream(self, rows) -> bool:
        from tripgogo_vector_search_spark.functions.embed import hash_embed_py
        if len(rows) != len(self.texts):
            return False
        by_id = {r["doc_id"]: r["vec"] for r in rows}
        probe = self.rng(3, self.pass_no).integers(0, len(self.texts), 5)
        return all([int(x) for x in hash_embed_py(self.texts[i], normalized=False)]
                   == list(by_id[int(i)]) for i in probe)


WORKLOADS = {w.name: w for w in (SearchOnline, BatchCorpus)}
