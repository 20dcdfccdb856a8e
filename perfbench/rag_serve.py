"""rag_serve: read-only question answering over a knowledge base.

Closed loop, ``CLIENTS`` client threads. Each question is Vector SQL
(routed through the IVF index, or falling through to ``spark.sql``), a
self-query filter AST compiled to a filtered exact kNN, or the hybrid
BM25 + ANN -> RRF -> rerank -> MMR funnel. Every answer is collected and
checked against a numpy reference computed from the generated corpus.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
from harness import exact_topk, latency_summary, percentile

CLIENTS = 2
N_DOCS = 8000
N_CLUSTERS = 16
N_PROBE = 2
TRAIN_FRACTION = 0.25  # share of the KB the IVF centroids are trained on
SETUP_REPS = 15


class RagServe:
    def __init__(self, engine, tracer, seed: int, run_dir: str):
        self.engine, self.tr, self.seed, self.run_dir = engine, tracer, seed, run_dir
        self.spark = engine.spark

    # -- set-up ----------------------------------------------------------------
    def write_inputs(self) -> None:
        c = self.corpus = gen.kb_corpus(self.seed, N_DOCS, N_CLUSTERS)
        self.corpus_path = os.path.join(self.run_dir, "kb.parquet")
        table = pa.table({
            "id": c["id"], "text": c["text"], "label": c["label"], "views": c["views"],
            "lang": c["lang"], "categories": c["categories"],
            "emb": pa.array(list(c["emb"]), type=pa.list_(pa.float32())),
        })
        pq.write_table(table, self.corpus_path)
        self.corpus_bytes = os.path.getsize(self.corpus_path)
        self.emb64 = c["emb"].astype(np.float64)
        self.views = c["views"]
        self.lang = np.array(c["lang"])
        self.labels = np.array(c["label"])
        self.ncat = np.array([len(x) for x in c["categories"]])
        self.catsets = [set(x) for x in c["categories"]]
        self.words = [set(t.split()) for t in c["text"]]
        self.pool = gen.question_pool(self.seed, c)
        from chatdata_spark.functions.vector import hash_embed

        for q in self.pool["routed"]:
            q["ref_vec"] = q["qvec"] if q["neural"] is None else hash_embed(q["neural"], gen.DIM)

    def build_index(self) -> None:
        """The KB's IVF index, built once per run (kb_build gates the
        build's cost; here it is timed and reported only)."""
        from chatdata_spark.operators.ivf import IVFIndex

        self.index_path = os.path.join(self.run_dir, "kb_ivf")
        os.makedirs(self.index_path)
        IVFIndex.build(self.spark.read.parquet(self.corpus_path), self.index_path, "id", "emb",
                       n_clusters=N_CLUSTERS, sample_fraction=TRAIN_FRACTION)

    def open(self) -> None:
        """The serving set-up: open the KB and its index, register the
        views, build the Vector SQL and self-query front ends."""
        from chatdata_spark.catalog import AttributeInfo
        from chatdata_spark.functions.vector import hash_embed
        from chatdata_spark.operators.ivf import IVFIndex
        from chatdata_spark.plans.router import VectorQueryRouter
        from chatdata_spark.plans.self_query import SelfQueryCompiler
        from chatdata_spark.plans.vector_sql import VectorSQLDialect

        spark, tr = self.spark, self.tr
        self.kb = spark.read.parquet(self.corpus_path)
        self.idx = IVFIndex(spark, self.index_path)
        self.kb.createOrReplaceTempView("kb")
        spark.createDataFrame(
            [(f"topic{t:02d}", f"Topic number {t}") for t in range(N_CLUSTERS)], "label string, title string"
        ).createOrReplaceTempView("topics")

        def embed(text):
            with tr.span("functions.vector.hash_embed"):
                return hash_embed(text, gen.DIM)

        self.dialect = VectorSQLDialect(embedder=embed, dim=gen.DIM, array_columns=("categories",))
        self.router = VectorQueryRouter(self.dialect, {"kb": self.idx}, n_probe=N_PROBE)
        self.compiler = SelfQueryCompiler([
            AttributeInfo("label", "string"), AttributeInfo("views", "int"),
            AttributeInfo("lang", "string"), AttributeInfo("categories", "list[string]"),
            AttributeInfo("length(categories)", "int", expr="size(categories)"),
        ])

    def index_layout(self) -> None:
        """Cluster of every row, cluster sizes and centroids, read once
        from the index's files (not timed)."""
        with open(os.path.join(self.index_path, "ivf_meta.json")) as f:
            meta = json.load(f)
        self.centroids = np.array(meta["centroids"], dtype=np.float64)
        self.centroid_ids = np.array(meta["cluster_ids"])
        t = ds.dataset(os.path.join(self.index_path, meta.get("data_dir", "data")), format="parquet",
                       partitioning="hive").to_table(columns=["id", "cluster_id"])
        cl = np.empty(N_DOCS, dtype=np.int64)
        cl[t.column("id").to_numpy()] = t.column("cluster_id").to_numpy()
        self.cluster_of = cl
        self.cluster_size = np.bincount(cl, minlength=int(self.centroid_ids.max()) + 1)
        self.index_bytes = sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(self.index_path) for f in fs
        )

    # -- one answer ----------------------------------------------------------------
    def _ast(self, q):
        from chatdata_spark.plans import self_query as sq

        p = q["params"]
        return [
            lambda: sq.and_(sq.eq("lang", p["lang"]), sq.gte("views", p["vmin"])),
            lambda: sq.and_(sq.contain("categories", p["cat"]), sq.lt("views", p["vmax"])),
            lambda: sq.or_(sq.eq("label", p["labels"][0]), sq.eq("label", p["labels"][1])),
            lambda: sq.and_(sq.gte("length(categories)", p["ncat"]), sq.ne("lang", p["lang"])),
        ][q["form"]]()

    def answer(self, q) -> list:
        from pyspark.sql import functions as F

        from chatdata_spark.operators.knn import knn
        from chatdata_spark.operators.mmr import mmr_select
        from chatdata_spark.operators.textsearch import bm25_topk, rerank_topk, rrf_fuse, with_rank

        tr, kind = self.tr, q["kind"]
        if kind == "routed":
            with tr.span("plans.router.execute"):
                df = self.router.execute(self.spark, q["sql"])
        elif kind == "fallthrough":
            with tr.span("plans.vector_sql.translate"):
                sql = self.dialect.translate(q["sql"])
            with tr.span("session.sql"):
                df = self.spark.sql(sql)
        elif kind == "self_query":
            with tr.span("plans.self_query.compile"):
                where = self.compiler.compile(self._ast(q))
            with tr.span("operators.knn.knn"):
                df = knn(self.kb, "emb", q["qvec"], k=q["k"], where=where,
                         select=["id", "label", "views"], id_col="id")
        else:
            with tr.span("operators.textsearch.bm25_topk"):
                bm = bm25_topk(self.kb, "id", "text", q["terms"], k=20)
            with tr.span("operators.ivf.search"):
                ann = self.idx.search(q["qvec"], k=20, n_probe=N_PROBE, select=["id"])
            with tr.span("operators.textsearch.rrf_fuse"):
                fused = rrf_fuse([with_rank(bm, [F.desc("score"), F.asc("id")]),
                                  with_rank(ann, [F.asc("dist"), F.asc("id")])], "id", k=20)
            cand = fused.join(self.kb.select("id", "text", "emb"), "id")
            with tr.span("operators.textsearch.rerank_topk"):
                rr = rerank_topk(cand, "id", "text", " ".join(q["terms"]), k=10)
            with tr.span("operators.mmr.mmr_select"):
                df = mmr_select(rr, "emb", q["qvec"], k=q["k"], id_col="id", fetch_n=10)
        with tr.span(f"session.execute.{kind}"):
            return [tuple(r) for r in df.collect()]

    # -- checks ----------------------------------------------------------------------
    def _routed_mask(self, pred):
        kind, p = pred
        if kind == "views_gt":
            return self.views > p
        if kind == "lang_eq":
            return self.lang == p
        if kind == "ncat_ge":
            return self.ncat >= p
        return (self.views > p[0]) & (self.lang == p[1])

    def _sq_mask(self, q):
        p, f = q["params"], q["form"]
        if f == 0:
            return (self.lang == p["lang"]) & (self.views >= p["vmin"])
        if f == 1:
            return np.array([p["cat"] in s for s in self.catsets]) & (self.views < p["vmax"])
        if f == 2:
            return np.isin(self.labels, p["labels"])
        return (self.ncat >= p["ncat"]) & (self.lang != p["lang"])

    def probes(self, q) -> np.ndarray:
        """The ``N_PROBE`` clusters whose centroids are closest in cosine."""
        qv = np.asarray(q, dtype=np.float64)
        sims = self.centroids @ qv / (np.linalg.norm(self.centroids, axis=1) * np.linalg.norm(qv))
        return self.centroid_ids[np.argsort(-sims, kind="stable")[:N_PROBE]]

    def _topk(self, q, k, mask):
        return exact_topk(self.emb64, self.corpus["id"], q, k, mask)

    def _meta(self, i):
        return (i, self.labels[i], int(self.views[i]))

    def check(self, q, rows) -> tuple[bool, float | None]:
        """(answer is right, recall@10 for routed answers)."""
        kind = q["kind"]
        if kind == "routed":
            qvec = q["ref_vec"]
            mask = self._routed_mask(q["pred"])
            exp = self._topk(qvec, q["k"], mask & np.isin(self.cluster_of, self.probes(qvec)))
            full = {i for i, _ in self._topk(qvec, q["k"], mask)}
            want = [(*self._meta(i), d) for i, d in exp]
            recall = len({r[0] for r in rows} & full) / max(1, len(full))
            return rows == want, recall
        if kind == "self_query":
            exp = self._topk(q["qvec"], q["k"], self._sq_mask(q))
            return rows == [(*self._meta(i), d) for i, d in exp], None
        if kind == "fallthrough":
            p = q["params"]
            if q["form"] == 0:
                exp = self._topk(q["qvec"], 10, self.views > p["vmin"])
                want = [(i, f"Topic number {int(self.labels[i][5:])}", d) for i, d in exp]
            elif q["form"] == 1:
                top = self._topk(q["qvec"], 50, self.lang == p["lang"])
                counts: dict[str, int] = {}
                for i, _ in top:
                    counts[self.labels[i]] = counts.get(self.labels[i], 0) + 1
                want = sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            else:
                m = self.ncat >= p["ncat"]
                want = [(lg, int((m & (self.lang == lg)).sum()), int(self.views[m & (self.lang == lg)].sum()))
                        for lg in sorted(gen.LANGS) if (m & (self.lang == lg)).any()]
            return rows == want, None
        # hybrid: ranks 0..n-1, distinct ids, each from the BM25 leg (holds
        # a query term) or the ANN leg (exact top-20 of the probed clusters)
        ann = {i for i, _ in self._topk(q["qvec"], 20, np.isin(self.cluster_of, self.probes(q["qvec"])))}
        terms = set(q["terms"])
        ids = [r[0] for r in rows]
        ok = (
            len(rows) == q["k"]
            and [r[1] for r in rows] == list(range(len(rows)))
            and len(set(ids)) == len(ids)
            and all(i in ann or self.words[i] & terms for i in ids)
        )
        return ok, None

    # -- the run -----------------------------------------------------------------------
    def run(self, seconds: float) -> dict:
        t0 = time.perf_counter()
        self.write_inputs()
        inputs_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        self.build_index()
        index_build_s = time.perf_counter() - t0
        setup = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.open()
            setup.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        self.index_layout()
        layout_s = time.perf_counter() - t0
        streams = [gen.question_stream(self.seed * 1000 + c, self.pool) for c in range(CLIENTS)]
        # warm-up: the first question of each kind, all at once (never
        # more threads than cores)
        t0 = time.perf_counter()
        firsts = [self.pool[kind][0] for kind, _ in gen.QUESTION_MIX]
        with ThreadPoolExecutor(min(len(firsts), self.engine.cpus)) as ex:
            for f in [ex.submit(self.answer, q) for q in firsts]:
                f.result()
        warmup_s = time.perf_counter() - t0

        lock = threading.Lock()
        samples: list[tuple[str, float, bool]] = []  # (kind, seconds, ok)
        recalls: list[float] = []
        routed_info: list[float] = []
        fails: list[str] = []
        routed = [0, 0]  # routed, template-shaped
        rates: list[float] = []  # answers/s of each client over its own cycles
        deadline = time.perf_counter() + seconds
        tr, eng = self.tr, self.engine

        def client(c):
            n, t0 = 0, time.perf_counter()
            for q in streams[c]:
                if n % gen.QUESTION_CYCLE == 0 and time.perf_counter() >= deadline:
                    # whole cycles only, so every run has the same mix
                    rates.append(n / (time.perf_counter() - t0))
                    return
                rid = f"c{c}-{n}"
                tr.set_thread_active(True)
                n += 1
                ok, rec, err = False, None, None
                t_start = time.perf_counter()
                try:
                    with eng.job_group(tr, rid, "session.jobs_per_answer"), tr.span("request", rid):
                        rows = self.answer(q)
                    dt = time.perf_counter() - t_start
                    ok, rec = self.check(q, rows)
                    if not ok:
                        err = f"{q['kind']} answer differs from the reference: {q.get('sql', q.get('params', q.get('terms')))}"
                except Exception:  # noqa: BLE001 - a failed request is counted, the run goes on
                    dt = time.perf_counter() - t_start
                    err = traceback.format_exc()
                tr.set_thread_active(False)
                if tr.enabled and q["kind"] == "routed":
                    probes = self.probes(q["ref_vec"])
                    files_routed = self._was_routed(q)
                    with lock:
                        routed[0] += files_routed
                        routed[1] += 1
                        routed_info.append(float(self.cluster_size[probes].sum()) / q["k"])
                with lock:
                    samples.append((q["kind"], dt, ok))
                    if rec is not None:
                        recalls.append(rec)
                    if err:
                        fails.append(err)

        threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
        t_run = time.perf_counter()
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        elapsed = time.perf_counter() - t_run
        for e in fails[:5]:
            print(f"[rag_serve] FAILED: {e}", file=sys.stderr)

        ms = [s[1] * 1000 for s in samples]
        lat = latency_summary(ms)
        attempted, failed = len(samples), sum(1 for s in samples if not s[2])
        out = {
            "attempted": attempted, "failed": failed,
            "setup_s": statistics.median(setup),
            "phases": {"inputs_s": inputs_s, "index_build_s": index_build_s,
                       "setup_total_s": sum(setup), "layout_s": layout_s,
                       "warmup_s": warmup_s, "window_s": elapsed},
            "latency": lat,
            "latency_mean_ms": statistics.fmean(ms),
            # summed per client: a client that has stopped at its cycle
            # boundary while another finishes its cycle is not idle time
            "throughput_per_s": sum(rates),
            "write_amp": self.index_bytes / self.corpus_bytes,
            "space_amp": (self.index_bytes + self.corpus_bytes) / self.corpus_bytes,
            "named": {
                "answer_latency_p50_ms": (lat["p50"], "ms"),
                "answers_per_s": (sum(rates), "1/s"),
                "answer_recall_at_10": (statistics.fmean(recalls) if recalls else float("nan"), "fraction"),
            },
            "mix": {k: sum(1 for s in samples if s[0] == k) for k, _ in gen.QUESTION_MIX},
            "sizes": {"docs": N_DOCS, "corpus_bytes": self.corpus_bytes, "index_bytes": self.index_bytes,
                      "clusters": N_CLUSTERS, "n_probe": N_PROBE, "clients": CLIENTS},
        }
        if len(ms) >= 100:  # ten samples beyond the p90
            out["named"]["answer_latency_p90_ms"] = (percentile(ms, 90), "ms")
        if tr.enabled:
            out["layer"] = {
                "plans.router.routed_ratio": routed[0] / max(1, routed[1]),
                "operators.ivf.rows_scanned_per_answer": statistics.fmean(routed_info) if routed_info else 0.0,
            }
        return out

    def _was_routed(self, q) -> int:
        """1 when the router answered from the index layout rather than
        the KB table (read from the plan's input files; traced runs only)."""
        df = self.router.execute(self.spark, q["sql"])
        return int(all(self.index_path in f for f in df.inputFiles()))
