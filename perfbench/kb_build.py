"""kb_build: the batch knowledge-base build and its incremental drains.

One driver. Each iteration lands a fresh seeded raw corpus and runs
exact dedup -> n-gram Jaccard join -> canonical assignment ->
decontamination -> chunking -> embedding -> IVF build, each stage reading
the previous stage's output from the run directory. Then ``N_INCREMENTS``
batches land as parquet files and are drained by the streaming near-dup
detector and the streaming store upsert, chunked, embedded and appended
to the index, until a search and a store read find them; then the docs
store is compacted and vacuumed.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
from harness import dir_bytes, latency_summary

N_BASE = 800
N_INCREMENTS = 2
INCREMENT_DOCS = 50
THRESHOLD = 0.5
CHUNK_WORDS = 12
N_CLUSTERS = 8
TRAIN_FRACTION = 0.25  # share of the chunks the IVF centroids are trained on
SETUP_REPS = 4
SCHEMA = "doc_id bigint, text string, ts bigint"


def _ids(path: str, col: str = "doc_id", filt=None) -> set:
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(filter=filt)
    return set(t.column(col).to_pylist())


def _rows(store) -> int:
    """Rows in the store's current version, read without the engine."""
    return ds.dataset(store._version_dir(store.current_version()), format="parquet").count_rows()


class KbBuild:
    def __init__(self, engine, tracer, seed: int, run_dir: str):
        self.engine, self.tr, self.seed, self.run_dir = engine, tracer, seed, run_dir
        self.spark = engine.spark
        self.checks = 0
        self.fails: list[str] = []
        self.pair_precision: list[float] = []
        self.embed_rows: list[int] = []
        self.version_bytes: list[int] = []
        self.compact_bytes: list[int] = []
        self.versions_on_disk: list[int] = []

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.fails.append(what)

    def land(self, docs, path: str) -> None:
        """The raw corpus enters the engine as parquet written by Spark."""
        self.spark.createDataFrame(
            [(i, t, 0) for i, t in docs], SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(path)

    # -- the batch build -----------------------------------------------------------------
    def build_pass(self, it: int, corpus: dict, raw_path: str) -> tuple[float, object, int]:
        """(seconds, the index, text bytes of the surviving documents)."""
        from pyspark.sql import functions as F

        from chatdata_spark.operators.chunks import chunk_documents
        from chatdata_spark.operators.components import canonical_assignment
        from chatdata_spark.operators.decontam import decontaminate
        from chatdata_spark.operators.dedup import exact_dedup, jaccard_similarity_join
        from chatdata_spark.operators.ivf import IVFIndex
        from chatdata_spark.sources.ingest import embed_and_validate

        spark, tr, eng = self.spark, self.tr, self.engine
        d = os.path.join(self.run_dir, f"it{it}")
        p = {k: os.path.join(d, k) for k in ("dedup", "pairs", "canon", "final", "chunks", "emb", "ivf")}
        os.makedirs(d)
        evals_path = os.path.join(d, "evals.parquet")
        pq.write_table(pa.table({"text": corpus["evals"]}), evals_path)
        t0 = time.perf_counter()
        with tr.span("request", f"pass{it}"):
            raw = spark.read.parquet(raw_path)
            with tr.span("operators.dedup.exact_dedup"):
                exact_dedup(raw, ["text"], "doc_id").write.parquet(p["dedup"])
            dd = spark.read.parquet(p["dedup"])
            with tr.span("operators.dedup.jaccard_similarity_join"):
                jaccard_similarity_join(dd, "doc_id", "text", k=3, threshold=THRESHOLD).write.parquet(p["pairs"])
            with eng.job_group(tr, f"canon{it}", "operators.components.jobs"), \
                    tr.span("operators.components.canonical_assignment"):
                canonical_assignment(dd, "doc_id", spark.read.parquet(p["pairs"])).write.parquet(p["canon"])
            kept = dd.join(spark.read.parquet(p["canon"]).filter("keep").select("doc_id"), "doc_id", "left_semi")
            with tr.span("operators.decontam.decontaminate"):
                dec = decontaminate(kept, spark.read.parquet(evals_path), "doc_id", "text", n=13)
                kept.join(dec.filter(~F.col("contaminated")).select("doc_id"), "doc_id", "left_semi") \
                    .write.parquet(p["final"])
            with tr.span("operators.chunks.chunk_documents"):
                chunk_documents(spark.read.parquet(p["final"]), "doc_id", "text", CHUNK_WORDS) \
                    .withColumn("chunk_id", F.col("doc_id") * 1000 + F.col("chunk_idx")) \
                    .write.parquet(p["chunks"])
            with tr.span("sources.ingest.embed_and_validate"):
                embed_and_validate(spark.read.parquet(p["chunks"]), "chunk_text", gen.DIM).write.parquet(p["emb"])
            with tr.span("operators.ivf.build"):
                os.makedirs(p["ivf"])
                idx = IVFIndex.build(spark.read.parquet(p["emb"]), p["ivf"], "chunk_id", "vector",
                                     n_clusters=N_CLUSTERS, sample_fraction=TRAIN_FRACTION)
        elapsed = time.perf_counter() - t0

        ref = gen.reference_pipeline(corpus["docs"], corpus["evals"], THRESHOLD, chunk_words=CHUNK_WORDS)
        self.check(_ids(p["dedup"]) == ref["dedup"], f"it{it}: exact_dedup survivors differ")
        pairs = ds.dataset(p["pairs"]).to_table().to_pylist()
        emitted = {(r["i"], r["j"]) for r in pairs}
        self.pair_precision.append(len(emitted & ref["pairs"]) / max(1, len(emitted)))
        self.check(emitted == ref["pairs"], f"it{it}: {len(emitted)} near-dup pairs, reference has {len(ref['pairs'])}")
        keep = _ids(p["canon"], filt=ds.field("keep") == True)  # noqa: E712
        self.check(keep == ref["keep"], f"it{it}: canonical survivors differ")
        self.check(_ids(p["final"]) == ref["final"], f"it{it}: decontaminated survivors differ")
        n_emb = ds.dataset(p["emb"]).count_rows()
        n_idx = ds.dataset(os.path.join(p["ivf"], idx.data_dir), partitioning="hive").count_rows()
        self.check(n_emb == n_idx == ref["chunks"], f"it{it}: {n_emb} embedded / {n_idx} indexed chunks, want {ref['chunks']}")
        self.embed_rows.append(n_emb)
        texts = dict(corpus["docs"])
        return elapsed, idx, sum(len(texts[i].encode()) for i in ref["final"])

    # -- increments ------------------------------------------------------------------------
    def increments(self, it: int, corpus: dict, idx) -> tuple[list[float], int]:
        """(seconds from each batch landing until it is searchable, text
        bytes of the batches)."""
        from pyspark.sql import functions as F

        from chatdata_spark.functions.vector import hash_embed
        from chatdata_spark.operators.chunks import chunk_documents
        from chatdata_spark.operators.incdedup import IncrementalMinHashStore
        from chatdata_spark.sources.ingest import embed_and_validate
        from chatdata_spark.stores.state import VersionedParquetStore
        from chatdata_spark.streaming.incremental import stream_near_dup_pairs, stream_upsert_into_store

        spark, tr, eng = self.spark, self.tr, self.engine
        d = os.path.join(self.run_dir, f"it{it}")
        inbox = os.path.join(d, "inbox")
        os.makedirs(inbox)
        sigs = IncrementalMinHashStore(spark, os.path.join(d, "sigs"))
        store = VersionedParquetStore(spark, os.path.join(d, "docs"))
        batches = gen.increment_batches(self.seed * 1000 + it, N_INCREMENTS, INCREMENT_DOCS,
                                        corpus["next_id"], corpus["vocab"])
        seen: list[tuple[int, str]] = []
        lat = []
        for j, batch in enumerate(batches):
            tr.set_thread_active(True)
            f = os.path.join(inbox, f"batch{j}.parquet")
            pq.write_table(pa.table({"doc_id": [i for i, _ in batch], "text": [t for _, t in batch],
                                     "ts": [j] * len(batch)}), f)
            t_land = time.perf_counter()
            with eng.job_group(tr, f"inc{it}.{j}", "session.jobs_per_increment"), tr.span("request", f"inc{it}.{j}"):
                with tr.span("streaming.incremental.stream_near_dup_pairs"):
                    stream_near_dup_pairs(spark, inbox, sigs, os.path.join(d, "inc_pairs"),
                                          os.path.join(d, "ckpt_pairs"), SCHEMA, threshold=THRESHOLD)
                with tr.span("streaming.incremental.stream_upsert_into_store"):
                    stream_upsert_into_store(spark, inbox, store, ["doc_id"], "ts",
                                             os.path.join(d, "ckpt_docs"), SCHEMA)
                with tr.span("operators.ivf.append"):
                    new = chunk_documents(spark.read.parquet(f), "doc_id", "text", CHUNK_WORDS) \
                        .withColumn("chunk_id", F.col("doc_id") * 1000 + F.col("chunk_idx"))
                    idx.append(embed_and_validate(new, "chunk_text", gen.DIM))
                probe_id, probe_text = batch[-1]
                probe = " ".join(probe_text.split()[:CHUNK_WORDS])
                with tr.span("operators.ivf.search"):
                    hit = idx.search(hash_embed(probe, gen.DIM), k=1, n_probe=idx.n_clusters,
                                     select=["chunk_id"])
                with tr.span("stores.state.read"):
                    doc = store.read().filter(F.col("doc_id") == probe_id).select("text")
                with tr.span("session.execute.increment"):
                    rows, texts = hit.collect(), doc.collect()
            lat.append(time.perf_counter() - t_land)
            tr.set_thread_active(False)
            self.check(bool(rows) and rows[0]["chunk_id"] == probe_id * 1000
                       and [r["text"] for r in texts] == [probe_text], f"inc{it}.{j}: new document not found")
            seen += batch
            texts = dict(seen)
            ref = gen.near_dup_pairs(texts, THRESHOLD)
            sure = {(a, b) for a, b in ref if gen.jaccard(texts[a], texts[b]) >= 0.8}  # LSH must find these
            got = {(r["i"], r["j"]) for r in ds.dataset(os.path.join(d, "inc_pairs"),
                                                        partitioning="hive").to_table().to_pylist()}
            self.check(sure <= got <= ref, f"inc{it}.{j}: streamed near-dup pairs differ from the reference")
            self.check(_rows(store) == len(seen), f"inc{it}.{j}: store row count differs")
        self.maintain(store, len(seen))
        return lat, sum(len(t.encode()) for _, t in seen)

    def maintain(self, store, n_rows: int) -> None:
        """The docs store's maintenance policy after the drains: compact
        the current version into one file, then drop older versions."""
        tr = self.tr
        versions = [store._version_dir(v) for v in range(1, store.current_version() + 1)]
        self.version_bytes += [dir_bytes(v) for v in versions if os.path.isdir(v)]
        tr.set_thread_active(True)
        with tr.span("stores.state.compact"):
            store.compact()
        self.compact_bytes.append(dir_bytes(store._version_dir(store.current_version())))
        with tr.span("stores.state.vacuum"):
            store.vacuum(keep_last=1)
        tr.set_thread_active(False)
        self.versions_on_disk.append(len(versions))
        on_disk = [d for d in os.listdir(store.path) if d.startswith("v_")]
        self.check(len(on_disk) == 1 and _rows(store) == n_rows, "docs store differs after compact+vacuum")

    # -- the run -------------------------------------------------------------------------------
    def run(self, seconds: float) -> dict:
        tr = self.tr
        corpus = gen.build_corpus(self.seed, N_BASE)
        setup = []
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            self.land(corpus["docs"], os.path.join(self.run_dir, f"raw{rep}"))
            setup.append(time.perf_counter() - t0)
        raw_path = os.path.join(self.run_dir, f"raw{SETUP_REPS - 1}")
        t_run = time.perf_counter()
        deadline = t_run + seconds
        passes, lat, docs = [], [], 0
        it = 0
        while it == 0 or time.perf_counter() < deadline:
            if it > 0:
                corpus = gen.build_corpus(self.seed * 1000 + it, N_BASE)
                raw_path = os.path.join(self.run_dir, f"raw_it{it}")
                self.land(corpus["docs"], raw_path)
            tr.set_thread_active(True)
            live = inc_bytes = 0
            try:
                elapsed, idx, live = self.build_pass(it, corpus, raw_path)
                passes.append(elapsed)
                docs += len(corpus["docs"])
                inc_lat, inc_bytes = self.increments(it, corpus, idx)
                lat += inc_lat
            except Exception:  # noqa: BLE001 - a failed iteration is counted, the run goes on
                self.check(False, traceback.format_exc())
            tr.set_thread_active(False)
            if it == 0:
                # amplification is measured on the first iteration, so it
                # does not depend on how many iterations fit in the run
                d0 = os.path.join(self.run_dir, "it0")
                user0 = sum(len(t.encode()) for _, t in corpus["docs"]) + inc_bytes
                write_amp = dir_bytes(d0) / user0
                space_amp = sum(dir_bytes(os.path.join(d0, k)) for k in ("ivf", "docs")) / max(1, live + inc_bytes)
            it += 1
        elapsed = time.perf_counter() - t_run
        for e in self.fails[:5]:
            print(f"[kb_build] FAILED: {e}", file=sys.stderr)

        summ = latency_summary([s * 1000 for s in lat] or [float("nan")])
        out = {
            "attempted": self.checks, "failed": len(self.fails),
            "setup_s": statistics.median(setup),
            "phases": {"setup_total_s": sum(setup), "window_s": elapsed},
            "latency": summ,
            "latency_mean_ms": statistics.fmean(lat) * 1000 if lat else float("nan"),
            "throughput_per_s": docs / sum(passes) if passes else float("nan"),
            "write_amp": write_amp,
            "space_amp": space_amp,
            "named": {
                "build_docs_per_s": (docs / sum(passes) if passes else float("nan"), "1/s"),
                "increment_latency_p50_s": (statistics.median(lat) if lat else float("nan"), "s"),
            },
            "mix": {"passes": len(passes), "increments": len(lat)},
            "sizes": {"raw_docs": N_BASE, "raw_docs_with_planted": len(corpus["docs"]),
                      "user_bytes": user0, "increments": N_INCREMENTS, "increment_docs": INCREMENT_DOCS},
        }
        if tr.enabled:
            emb = [s.end - s.start for s in tr.spans if s.name == "sources.ingest.embed_and_validate"]
            out["layer"] = {
                "operators.dedup.pair_precision": statistics.fmean(self.pair_precision) if self.pair_precision else 0.0,
                "sources.ingest.embed_and_validate_rows_per_s": sum(self.embed_rows[:len(emb)]) / sum(emb) if emb else 0.0,
                "stores.state.bytes_written_per_mutation": statistics.fmean(self.version_bytes) if self.version_bytes else 0.0,
                "stores.state.versions_on_disk": statistics.fmean(self.versions_on_disk) if self.versions_on_disk else 0.0,
                "stores.state.compact_bytes_rewritten": statistics.fmean(self.compact_bytes) if self.compact_bytes else 0.0,
            }
        return out
