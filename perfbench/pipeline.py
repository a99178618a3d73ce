"""One benchmark run over one seeded corpus: set-up, then the engine's
phases, then the output checks.

Every run (``--trace 0`` and ``--trace 1``):

* build  — ``build_index`` then ``build_index_fast`` over the corpus
  (``build_docs_per_s``, ``build_fast_docs_per_s``,
  ``index_bytes_per_doc``);
* serve  — the ``build_index`` store set-up built is served: one
  closed-loop client with ``final_rank="driver"`` (``query_p50_ms``)
  and 32-query batches through ``search(batch)`` (``batch_qps``).

Traced runs (``--trace 1``) add, for the per-layer metrics:

* an open loop — Poisson arrivals at a fixed rate, at most ``nproc``
  queries in flight on the shared handle;
* ingest — micro-batch files arrive one at a time; a writer runs
  ``start_incremental_index`` → ``refresh_metadata`` → ``auto_compact``
  per file while one reader queries the live store;
* dedup  — ``ngram_jaccard_pairs`` and ``near_dup_groups`` at threshold
  0.5 over documents with planted near-duplicate copies;
* ``textproc`` and ``codec`` timed directly.

The serving phases loop for a share of ``--seconds`` (at least one
operation each); the other phases run a fixed number of operations.
The workloads differ only in the corpus (see ``inputs.py``).
"""

from __future__ import annotations

import os
import queue
import shutil
import threading
import time

import numpy as np
import pandas as pd

from . import harness as H
from . import inputs

# Sizes per workload and scale.  "full" is what the benchmark measures;
# "tiny" (about sf0.001) only proves every metric is emitted.
CONFIGS = {
    "full": {
        "pages": {"n_docs": 3000, "dedup_docs": 2000, "chunk_bits": None},
        "zipf": {"n_docs": 6000, "dedup_docs": 600, "chunk_bits": 11},
    },
    "tiny": {
        "pages": {"n_docs": 400, "dedup_docs": 100, "chunk_bits": None},
        "zipf": {"n_docs": 600, "dedup_docs": 100, "chunk_bits": 11},
    },
}
# Share of --seconds each time-boxed serving phase runs for (at least
# one operation each); the open loop runs in traced runs only.
SHARES = {"closed": 0.60, "batch": 0.40, "open": 0.25}
# The ingest store is fed the whole corpus in INGEST_FILES micro-batch
# files and compacts past COMPACT_AT fragments, so the last file's
# auto_compact rewrites the store.  Appending to a store after it was
# compacted fails in the engine (the compacted layout and a new
# stream_batch= directory conflict), so one compaction per run is all
# the workload can ask for.
INGEST_FILES = 3
COMPACT_AT = 2
SETUP_REPS = 3
OPEN_LOOP_RATE = 1.0  # queries/s offered in the open-loop phase
BATCH = 32
K = 10
SAMPLE_TEXTPROC = 2000
CHECK_QUERIES = 8
DF_CHECK_QUERIES = 3
WARM_DOCS = 100


class Run:
    def __init__(self, spark, tracer: H.Tracer, ops: H.OpLog, workload: str,
                 scale: str, seed: int, seconds: float, work: str, cores: int):
        self.spark = spark
        self.tracer = tracer
        self.ops = ops
        self.kind = workload
        self.cfg = CONFIGS[scale][workload]
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.cores = cores
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.checks: dict[str, bool] = {}
        self.record: dict = {"layouts": {}}
        self.text_col = "html" if workload == "pages" else "text"
        self.from_html = workload == "pages"
        text_type = "binary" if self.from_html else "string"
        self.ingest_schema = f"doc_id long, {self.text_col} {text_type}"

    # -- helpers --------------------------------------------------------

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)

    def budget(self, phase: str) -> float:
        return SHARES[phase] * self.seconds

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks[name] = bool(ok)
        if not ok:
            print(f"[perfbench] CHECK FAILED {name} {detail}", flush=True)

    def search_rows(self, handle, qs, **kw) -> list[tuple]:
        return [tuple(r) for r in handle.search(qs, k=K, **kw).collect()]

    # -- set-up ---------------------------------------------------------

    def _make_inputs(self) -> None:
        """Write every input of the run: corpus, ingest micro-batches,
        dedup documents."""
        n, seed = self.cfg["n_docs"], self.seed
        if self.kind == "pages":
            feed = inputs.feedstock(n, seed)
            corpus_df = inputs.pages(feed, seed)
            corpus_df.to_parquet(self.path("corpus.parquet"), index=False)
            texts = feed[["doc_id", "text"]]
            vocab = inputs.FEED_VOCAB
        else:
            from eaststorm_searchengine_spark.corpus import synthesize_zipf_docs, zipf_word

            texts = corpus_df = synthesize_zipf_docs(self.spark, n, seed=seed).toPandas() \
                .sort_values("doc_id", ignore_index=True)
            corpus_df.to_parquet(self.path("corpus.parquet"), index=False)
            vocab = [zipf_word(r) for r in range(1, 2000)]
        # ingest micro-batches: the corpus' rows in seeded order, one
        # file per arrival, written ahead and moved in on arrival
        staged = self.path("ingest_staged")
        shutil.rmtree(staged, ignore_errors=True)
        os.makedirs(staged)
        order = np.random.default_rng([seed, 6]).permutation(len(corpus_df))
        cols = ["doc_id", self.text_col]
        for f, rows in enumerate(np.array_split(order, INGEST_FILES)):
            part = corpus_df.iloc[rows][cols]
            part.to_parquet(os.path.join(staged, f"part-{f:03d}.parquet"), index=False)
        # the slice the traced run's ingest warm-up feeds
        corpus_df.sort_values("doc_id").iloc[:WARM_DOCS][cols].to_parquet(
            self.path("warm_ingest.parquet"), index=False)
        # dedup documents: a seeded sample plus planted near-duplicates
        pick = np.random.default_rng([seed, 7]).choice(
            len(texts), size=min(self.cfg["dedup_docs"], len(texts)), replace=False
        )
        sample = texts.iloc[np.sort(pick)].reset_index(drop=True)
        dd, planted = inputs.plant_near_dups(sample, vocab, seed)
        dd.to_parquet(self.path("dedup.parquet"), index=False)
        self.dedup_texts = dict(zip(dd["doc_id"].tolist(), dd["text"].tolist()))
        self.planted = planted
        self.queries = inputs.queries(self.kind, 4000 + CHECK_QUERIES, seed)
        # the output checks use their own queries, kept out of the stream
        self.check_queries = self.queries[-CHECK_QUERIES:]
        self.queries = self.queries[:-CHECK_QUERIES]

    def setup(self, session_s: float) -> None:
        reps = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            self._make_inputs()
            reps.append(time.perf_counter() - t0)
        self.corpus = self.spark.read.parquet(self.path("corpus.parquet"))
        self.n_docs = self.cfg["n_docs"]
        self._qpos = 0
        self._qlock = threading.Lock()
        t0 = time.perf_counter()
        self._prebuild()
        prebuild_s = time.perf_counter() - t0
        self.record.update(setup_reps_s=reps, session_start_s=session_s, prebuild_s=prebuild_s)
        self.metrics["setup_s"] = (session_s + prebuild_s + H.median(reps), "s")
        self.layers["session.start_s"] = (session_s, "s")

    def _prebuild(self) -> None:
        """Build the serving store with build_index over the whole corpus
        and open its handle, as a deployment would before taking
        queries.  This first build in the process also pays JVM class
        loading, code generation and Python worker start-up, so the
        measured builds and queries run warm; a build over a small slice
        costs nearly as much (job overhead dominates) and left the first
        full-size build 1.1-1.5x slower than the next on a 4-core VM.  Traced runs also
        warm the dedup and ingest paths, concurrently."""
        from eaststorm_searchengine_spark.operators.bm25 import BM25Index
        from eaststorm_searchengine_spark.operators.dedup import (
            near_dup_groups,
            ngram_jaccard_pairs,
        )
        from eaststorm_searchengine_spark.operators.index_build import build_index
        from eaststorm_searchengine_spark.streaming import incremental as inc

        kw = {"text_col": self.text_col, "from_html": self.from_html}

        def serving_store():
            build_index(self.spark, self.corpus, self.path("idx_serve"),
                        chunk_bits=self.cfg["chunk_bits"], **kw)
            self.handle = BM25Index(self.spark, self.path("idx_serve"))
            # the handle's lazy serving session, driver df map and file
            # index fill on first use, for either rank path; each query
            # shape has paths of its own (a first no-match query takes
            # about 2 s), and one block of the stream holds every shape
            H.run_parallel(*[
                lambda q=q: self.handle.search([q], k=K, final_rank="driver").collect()
                for q in self.next_queries(inputs.BLOCK)])
            self.handle.search(self.next_queries(BATCH), k=K).collect()

        def dedup():
            dd = self.spark.read.parquet(self.path("dedup.parquet"))
            ngram_jaccard_pairs(dd, threshold=0.5).collect()
            near_dup_groups(dd, threshold=0.5).collect()

        def ingest():
            root = self.path("warm_ingest")
            os.makedirs(os.path.join(root, "in"))
            shutil.copy(self.path("warm_ingest.parquet"),
                        os.path.join(root, "in", "part-0.parquet"))
            inc.start_incremental_index(
                self.spark, os.path.join(root, "in"), os.path.join(root, "idx"),
                os.path.join(root, "ckpt"), self.ingest_schema, **kw)
            inc.refresh_metadata(self.spark, os.path.join(root, "idx"))

        H.run_parallel(serving_store, *((dedup, ingest) if self.tracer.enabled else ()))

    def next_queries(self, n: int) -> list[tuple[int, str]]:
        """The next ``n`` queries of the seeded stream (thread-safe)."""
        with self._qlock:
            if self._qpos + n > len(self.queries):
                self._qpos = 0
            out = self.queries[self._qpos:self._qpos + n]
            self._qpos += n
        return out

    # -- build ------------------------------------------------------------

    def phase_build(self) -> None:
        """One build_index, then one build_index_fast, each into a fresh
        directory (set-up's build warmed their shared paths).  A failed
        build ends the run: nothing after it can be measured."""
        from eaststorm_searchengine_spark.operators.index_build import (
            build_index,
            build_index_fast,
        )

        out_idx, out_fast = self.path("idx_build"), self.path("idx_fast")
        walls, calls = {}, {}
        for name, fn, out, extra in (
            ("build_index", build_index, out_idx, {"chunk_bits": self.cfg["chunk_bits"]}),
            ("build_index_fast", build_index_fast, out_fast, {}),
        ):
            with self.ops.attempt(name) as res, self.tracer.call("index_build", name) as rec:
                stats = fn(self.spark, self.corpus, out, text_col=self.text_col,
                           from_html=self.from_html, **extra)
            if not res["ok"]:
                raise RuntimeError(f"{name} failed: {res['error']}")
            rec["commits"] = H.commit_times(out)
            walls[name], calls[name] = rec["wall_s"], rec
            self.check(f"build.{name}.n_docs", stats["n_docs"] == self.n_docs,
                       f"{stats['n_docs']} != {self.n_docs}")
        self.metrics["build_docs_per_s"] = (self.n_docs / walls["build_index"], "docs/s")
        self.metrics["build_fast_docs_per_s"] = (self.n_docs / walls["build_index_fast"], "docs/s")
        lay = H.store_layout(out_idx)
        self.record["layouts"]["build_index"] = lay
        self.record["layouts"]["build_index_fast"] = H.store_layout(out_fast)
        self.metrics["index_bytes_per_doc"] = (lay["total_bytes"] / self.n_docs, "B/doc")
        self.record["build_walls_s"] = walls
        if self.tracer.enabled:
            self._build_layers(calls["build_index"], lay)

    def _build_layers(self, rec: dict, layout: dict) -> None:
        """Split the traced build_index into its phases.  build_index
        commits its outputs in a fixed order: ``doclens/`` with the job
        that scans the corpus and encodes fragments, ``segments/`` with
        the re-chunk shuffle, then ``term_stats/`` and ``lineage/`` from
        the store (finalize).  A job belongs to the first phase whose
        output was committed when it ended.  The driver share is the
        part of the call no job covers, so the four parts add up to the
        call's wall time."""
        slack = 0.05  # status-store times are whole milliseconds
        groups: dict[str, list] = {"scan_encode": [], "rechunk": [], "finalize": []}
        for j in rec["jobs"]:
            j["phase"] = next((ph for ph, comp in (("scan_encode", "doclens"),
                                                   ("rechunk", "segments"))
                               if j["end"] <= rec["commits"][comp] + slack), "finalize")
            groups[j["phase"]].append((j["start"], j["end"]))
        parts = {f"{ph}_s": H.union_length(H.clipped(iv, rec["start"], rec["end"]))
                 for ph, iv in groups.items()}
        parts["driver_s"] = rec["wall_s"] - H.union_length(self.tracer.job_intervals(rec))
        for k, v in parts.items():
            self.layers[f"index_build.{k}"] = (v, "s")
        self.layers["index_build.task_cpu_s"] = (H.Tracer.stage_sum(rec, "cpu_ns") / 1e9, "s")
        self.layers["index_build.gc_s"] = (H.Tracer.stage_sum(rec, "gc_ms") / 1e3, "s")
        self.layers["index_build.shuffle_bytes"] = (
            H.Tracer.stage_sum(rec, "shuffle_write_bytes"), "B")
        self.layers["index_build.spill_bytes"] = (H.Tracer.stage_sum(rec, "spill_bytes"), "B")
        self.layers["index_build.tasks"] = (H.Tracer.stage_sum(rec, "tasks"), "count")
        self.layers["index_build.segment_files"] = (layout["segments"]["files"], "count")
        self.layers["index_build.segment_bytes"] = (layout["segments"]["bytes"], "B")
        self.record["build_reconcile"] = {
            "wall_s": rec["wall_s"], "parts_s": sum(parts.values()),
            "job_phases": {j["job_id"]: j["phase"] for j in rec["jobs"]},
        }

    # -- serve -------------------------------------------------------------

    def _query(self, handle, q, op: str, samples: list, traced: bool = False,
               accs: tuple | None = None) -> dict | None:
        kw = {"final_rank": "driver"}
        if accs is not None and traced and self.tracer.enabled:
            kw["decode_acc"], kw["decision_acc"] = accs
        rec_out = None
        with self.ops.attempt(op) as res, self.tracer.call("bm25", op, traced=traced) as rec:
            handle.search([q], k=K, **kw).collect()
        if res["ok"]:
            samples.append(rec["wall_s"] * 1e3)
            rec_out = rec
        else:
            samples.append(float("inf"))
        return rec_out

    def phase_serve(self) -> None:
        from eaststorm_searchengine_spark.operators.bm25 import DECISION_REASONS

        sc = self.spark.sparkContext
        handle = self.handle

        accs = (
            (sc.accumulator(0), sc.accumulator(0), sc.accumulator(0)),
            {r: sc.accumulator(0) for r in DECISION_REASONS},
        )
        # (1) one client, closed loop; a traced run traces every other
        # query so traced and untraced latency interleave
        closed, traced_ms, untraced_ms, traced_recs = [], [], [], []
        t_end = time.perf_counter() + self.budget("closed")
        i = 0
        while time.perf_counter() < t_end or len(closed) < 3:
            q = self.next_queries(1)[0]
            tr = self.tracer.enabled and i % 2 == 0
            rec = self._query(handle, q, "query", closed, traced=tr, accs=accs)
            if rec is not None:
                (traced_ms if tr else untraced_ms).append(rec["wall_s"] * 1e3)
                if tr:
                    traced_recs.append(rec)
            i += 1
        self.metrics["query_p50_ms"] = (H.quantile(closed, 0.5), "ms")
        self.layers["serve.query_p90_ms"] = (H.quantile(closed, 0.9), "ms")
        self.record["serve_closed_ms"] = closed

        # (2) 32-query batches through search(batch); a failed batch
        # answers nothing, so its throughput is 0
        qps: list = []
        t_end = time.perf_counter() + self.budget("batch")
        while not qps or time.perf_counter() < t_end:
            qs = self.next_queries(BATCH)
            with self.ops.attempt("batch_search") as res, \
                    self.tracer.call("bm25", "batch_search") as rec:
                handle.search(qs, k=K).collect()
            qps.append(len(qs) / rec["wall_s"] if res["ok"] else 0.0)
        self.metrics["batch_qps"] = (H.median(qps), "queries/s")
        self.record["serve_batch_qps"] = qps

        if self.tracer.enabled:
            self._open_loop(handle)
            self._bm25_layers(traced_recs, accs, traced_ms, untraced_ms)
        self._check_serve(handle)

    def _open_loop(self, handle) -> None:
        """Poisson arrivals at a fixed rate, at most ``cores`` queries in
        flight on the shared handle, each timed from when it was due.
        At about half the single-client capacity a run affords only a
        few arrivals, too few for a bounded end-to-end metric, so the
        open loop runs in traced runs and reports per-layer numbers."""
        rng = np.random.default_rng([self.seed, 5])
        dur = self.budget("open")
        dues, t = [], 0.0
        while True:
            t += rng.exponential(1.0 / OPEN_LOOP_RATE)
            if t > dur:
                break
            dues.append(t)
        if len(dues) < 3:
            dues = [dur * (i + 1) / 4 for i in range(3)]
        work_q: queue.Queue = queue.Queue()
        lat: list = []
        late: list = []
        lock = threading.Lock()

        def worker():
            while True:
                item = work_q.get()
                if item is None:
                    return
                due, q = item
                mine: list = []
                self._query(handle, q, "loaded_query", mine)
                with lock:
                    lat.append(mine[0] if mine[0] == float("inf")
                               else (time.perf_counter() - due) * 1e3)

        from pyspark import InheritableThread

        workers = [InheritableThread(target=worker) for _ in range(self.cores)]
        for w in workers:
            w.start()
        t0 = time.perf_counter()
        for d in dues:
            now = time.perf_counter() - t0
            if d > now:
                time.sleep(d - now)
            late.append(max(0.0, (time.perf_counter() - t0 - d) * 1e3))
            work_q.put((t0 + d, self.next_queries(1)[0]))
        for _ in workers:
            work_q.put(None)
        for w in workers:
            w.join()
        self.layers["serve.loaded_query_p50_ms"] = (H.quantile(lat, 0.5), "ms")
        self.layers["serve.loaded_query_p90_ms"] = (H.quantile(lat, 0.9), "ms")
        self.record["serve_open"] = {"rate_qps": OPEN_LOOP_RATE, "n": len(lat),
                                     "generator_late_ms_p50": H.quantile(late, 0.5),
                                     "generator_late_ms_max": max(late)}

    def _bm25_layers(self, recs, accs, traced_ms, untraced_ms) -> None:
        from eaststorm_searchengine_spark.operators.bm25 import DECISION_REASONS

        n = max(len(recs), 1)
        job = [H.union_length(self.tracer.job_intervals(r)) for r in recs] or [0.0]
        self.layers["bm25.driver_ms"] = (
            H.median([(r["wall_s"] - j) * 1e3 for r, j in zip(recs, job)] or [0.0]), "ms")
        self.layers["bm25.job_ms"] = (H.median(job) * 1e3, "ms")
        self.layers["bm25.tasks"] = (
            H.median([H.Tracer.stage_sum(r, "tasks") for r in recs] or [0]), "count")
        self.layers["bm25.task_run_ms"] = (
            H.median([H.Tracer.stage_sum(r, "run_ms") for r in recs] or [0]), "ms")
        self.layers["bm25.scan_bytes"] = (
            H.median([H.Tracer.stage_sum(r, "input_bytes") for r in recs] or [0]), "B")
        dec, tot = accs[0][0].value, accs[0][1].value
        self.layers["bm25.blocks_decoded"] = (dec / n, "count/query")
        self.layers["bm25.blocks_total"] = (tot / n, "count/query")
        self.layers["bm25.decode_ratio"] = (dec / tot if tot else 0.0, "ratio")
        for r in DECISION_REASONS:
            self.layers[f"bm25.route.{r}"] = (accs[1][r].value / n, "count/query")
        self.layers["trace.query_overhead_ms"] = (
            (H.median(traced_ms) - H.median(untraced_ms)) if traced_ms and untraced_ms else 0.0,
            "ms")

    def _check_serve(self, handle) -> None:
        """The four executors on the build_index store, and auto on the
        build_index_fast store, answer the check queries identically;
        the first three also match the DataFrame BM25 reference over the
        same documents."""
        from eaststorm_searchengine_spark.operators.bm25 import BM25Index, bm25_score_dataframe

        qs = self.check_queries
        methods = ("auto", "maxscore", "wand", "exhaustive")
        with self.ops.attempt("check_serve") as res, \
                self.tracer.call("check", "serve", traced=False):
            outs = H.run_parallel(
                *[lambda m=m: self.search_rows(handle, qs, method=m, score_round=4,
                                               final_rank="driver")
                  for m in methods],
                lambda: self.search_rows(BM25Index(self.spark, self.path("idx_fast")), qs,
                                         score_round=4, final_rank="driver"),
                lambda: sorted(tuple(r) for r in bm25_score_dataframe(
                    self.spark, self.corpus.select("doc_id", "text"),
                    qs[:DF_CHECK_QUERIES], k=K, score_round=4).collect()),
            )
        want = outs[0] if res["ok"] else []
        sub = {q for q, _ in qs[:DF_CHECK_QUERIES]}
        self.check("serve.methods_agree",
                   res["ok"] and len(want) > 0 and all(o == want for o in outs[1:4]))
        self.check("build.fast_equals_build_index", res["ok"] and outs[4] == want)
        self.check("serve.matches_dataframe_bm25",
                   res["ok"] and sorted(r for r in want if r[0] in sub) == outs[5])

    # -- ingest ------------------------------------------------------------

    def phase_ingest(self) -> None:
        from eaststorm_searchengine_spark.operators.bm25 import BM25Index
        from eaststorm_searchengine_spark.streaming import incremental as inc

        root = self.path("ingest")
        shutil.rmtree(root, ignore_errors=True)
        in_dir, idx, ck = (os.path.join(root, d) for d in ("in", "idx", "ckpt"))
        os.makedirs(in_dir)
        schema = self.ingest_schema
        staged = self.path("ingest_staged")
        files = sorted(os.listdir(staged))

        stop = threading.Event()
        reader_ready = threading.Event()
        reader_lat: list = []  # (start, end, ms)
        compact_iv: list = []

        def reader():
            reader_ready.wait()
            handle = None
            while not stop.is_set():
                q = self.next_queries(1)[0]
                # traced like the writer's calls, so its jobs carry a job
                # group and are never taken for the stream's
                with self.ops.attempt("ingest_query") as res, \
                        self.tracer.call("bm25", "ingest_query") as rec:
                    if handle is None:
                        handle = BM25Index(self.spark, idx)
                    handle.search([q], k=K, final_rank="driver").collect()
                reader_lat.append((rec["start"], rec["end"],
                                   rec["wall_s"] * 1e3 if res["ok"] else float("inf")))

        from pyspark import InheritableThread

        rt = InheritableThread(target=reader)
        rt.start()
        steps = {"append": [], "refresh": [], "compact": []}
        fresh, frag_max, files_max, in_bytes, rewrite_bytes = [], 0, 0, 0, 0
        n_ingested = 0
        writer_s = 0.0
        try:
            for f in files:
                src = os.path.join(staged, f)
                in_bytes += os.path.getsize(src)
                n_rows = len(pd.read_parquet(src, columns=["doc_id"]))
                os.rename(src, os.path.join(in_dir, f))
                arrived = time.perf_counter()
                with self.ops.attempt("append") as res, \
                        self.tracer.call("incremental", "append", ungrouped=True) as rec:
                    inc.start_incremental_index(
                        self.spark, in_dir, idx, ck, schema, text_col=self.text_col,
                        from_html=self.from_html, available_now=True,
                    )
                steps["append"].append(rec["wall_s"])
                writer_s += rec["wall_s"]
                if not res["ok"]:
                    break
                with self.ops.attempt("refresh") as res, \
                        self.tracer.call("incremental", "refresh") as rec:
                    inc.refresh_metadata(self.spark, idx)
                done = time.perf_counter()
                steps["refresh"].append(rec["wall_s"])
                writer_s += rec["wall_s"]
                if not res["ok"]:
                    break
                fresh.append(done - arrived)
                n_ingested += n_rows
                reader_ready.set()
                lay = H.store_layout(idx)
                frag_max = max(frag_max, lay["segments"]["fragments"])
                files_max = max(files_max, lay["segments"]["files"])
                with self.ops.attempt("auto_compact") as res, \
                        self.tracer.call("incremental", "auto_compact") as rec:
                    out = inc.auto_compact(self.spark, idx, max_fragments=COMPACT_AT)
                writer_s += rec["wall_s"]
                if res["ok"] and out is not None:
                    steps["compact"].append(rec["wall_s"])
                    compact_iv.append((rec["start"], rec["end"]))
                    lay = H.store_layout(idx)
                    rewrite_bytes += lay["total_bytes"]
                    self.record["layouts"]["ingest_after_compact"] = lay
        finally:
            reader_ready.set()
            stop.set()
            rt.join()
        self.record["layouts"]["ingest_final"] = H.store_layout(idx)
        q_ms = [ms for _, _, ms in reader_lat]
        if not q_ms:
            q_ms = [float("inf")]
        self.layers["incremental.fresh_p50_s"] = (
            H.quantile(fresh, 0.5) if fresh else float("inf"), "s")
        self.layers["incremental.docs_per_s"] = (n_ingested / writer_s, "docs/s")
        self.layers["incremental.query_p50_ms"] = (H.quantile(q_ms, 0.5), "ms")
        self.layers["incremental.query_p90_ms"] = (H.quantile(q_ms, 0.9), "ms")
        self.record["ingest"] = {"files": len(files), "docs": n_ingested,
                                 "reader_queries": len(q_ms), "steps_s": steps}
        during = [ms for s, e, ms in reader_lat
                  if any(s < ce and e > cs for cs, ce in compact_iv)]
        self.layers["incremental.append_s"] = (H.median(steps["append"]), "s")
        self.layers["incremental.refresh_s"] = (H.median(steps["refresh"] or [0.0]), "s")
        self.layers["incremental.compact_s"] = (H.median(steps["compact"] or [0.0]), "s")
        self.layers["incremental.compactions"] = (len(steps["compact"]), "count")
        self.layers["incremental.fragments_max"] = (frag_max, "count")
        self.layers["incremental.segment_files_max"] = (files_max, "count")
        self.layers["incremental.rewrite_bytes_per_ingest_byte"] = (
            rewrite_bytes / in_bytes if in_bytes else 0.0, "ratio")
        self.layers["incremental.query_ms_during_compact"] = (
            H.median(during) if during else 0.0, "ms")

        # the files hold the whole corpus, so the build phase's
        # from-scratch build_index store is the reference answer
        qs = self.next_queries(8)
        with self.ops.attempt("check_ingest") as res, \
                self.tracer.call("check", "ingest", traced=False):
            live = self.search_rows(BM25Index(self.spark, idx), qs, score_round=4)
            ref = self.search_rows(BM25Index(self.spark, self.path("idx_build")), qs,
                                   score_round=4)
        self.check("ingest.all_docs_ingested", n_ingested == self.n_docs,
                   f"{n_ingested} != {self.n_docs}")
        self.check("ingest.live_equals_rebuild", res["ok"] and live == ref and len(ref) > 0)

    # -- dedup -------------------------------------------------------------

    def phase_dedup(self) -> None:
        """One ngram_jaccard_pairs and one near_dup_groups over the dedup
        documents; per-layer figures are summed over the two calls."""
        from eaststorm_searchengine_spark.operators.dedup import (
            near_dup_groups,
            ngram_jaccard_pairs,
        )

        docs = self.spark.read.parquet(self.path("dedup.parquet"))
        n = len(self.dedup_texts)
        recs, rows = {}, {}
        for name, fn in (("ngram_jaccard_pairs", ngram_jaccard_pairs),
                         ("near_dup_groups", near_dup_groups)):
            with self.ops.attempt(name) as res, self.tracer.call("dedup", name) as rec:
                rows[name] = fn(docs, threshold=0.5).collect()
            if not res["ok"]:
                raise RuntimeError(f"{name} failed: {res['error']}")
            recs[name] = rec
        self.layers["dedup.ngram_pairs_docs_per_s"] = (
            n / recs["ngram_jaccard_pairs"]["wall_s"], "docs/s")
        self.layers["dedup.groups_docs_per_s"] = (n / recs["near_dup_groups"]["wall_s"], "docs/s")

        pairs = [(int(r["doc_a"]), int(r["doc_b"])) for r in rows["ngram_jaccard_pairs"]]
        groups = rows["near_dup_groups"]
        gid = {int(r["doc_id"]): int(r["group_id"]) for r in groups}
        members: dict[int, list] = {}
        for r in groups:
            members.setdefault(int(r["group_id"]), []).append(int(r["doc_id"]))
        t = self.dedup_texts
        must = [(a, b) for a, b in self.planted if inputs.gram_jaccard(t[a], t[b]) >= 0.5]
        found = set(pairs)
        self.check("dedup.pairs_within_groups",
                   all(a in gid and gid.get(a) == gid.get(b) for a, b in pairs))
        self.check("dedup.group_id_is_min",
                   all(g == min(m) for g, m in members.items())
                   and all(int(r["n_docs"]) == len(members[int(r["group_id"])]) for r in groups))
        self.check("dedup.planted_found",
                   len(must) > 0 and all((min(a, b), max(a, b)) in found for a, b in must),
                   f"{len(must)} planted")
        self.record["dedup"] = {"docs": n, "pairs": len(pairs), "groups": len(members),
                                "planted": len(self.planted), "planted_over_threshold": len(must)}
        both = list(recs.values())
        self.layers["dedup.driver_s"] = (sum(
            r["wall_s"] - H.union_length(self.tracer.job_intervals(r)) for r in both), "s")
        self.layers["dedup.task_cpu_s"] = (
            sum(H.Tracer.stage_sum(r, "cpu_ns") for r in both) / 1e9, "s")
        self.layers["dedup.stage_max_s"] = (max(
            (st["end"] - st["start"] for r in both for j in r["jobs"] for st in j["stages"]),
            default=0.0), "s")
        self.layers["dedup.shuffle_bytes"] = (
            sum(H.Tracer.stage_sum(r, "shuffle_write_bytes") for r in both), "B")
        self.layers["dedup.spill_bytes"] = (
            sum(H.Tracer.stage_sum(r, "spill_bytes") for r in both), "B")
        self.layers["dedup.pairs"] = (len(pairs), "count")
        self.layers["dedup.groups"] = (len(members), "count")

    # -- single-layer timings (traced runs) ------------------------------

    def layer_textproc(self) -> None:
        """extract_text and tokenize timed directly on a seeded sample
        of HTML pages made from this workload's text."""
        from eaststorm_searchengine_spark import corpus, textproc

        texts = list(self.dedup_texts.items())[:SAMPLE_TEXTPROC]
        n = len(texts)
        htmls = [corpus.page_html(d, t, "en", n) for d, t in texts]
        t0 = time.perf_counter()
        extracted = [textproc.extract_text(h) for h in htmls]
        t1 = time.perf_counter()
        for x in extracted:
            textproc.tokenize(x)
        t2 = time.perf_counter()
        self.layers["textproc.extract_us_per_doc"] = ((t1 - t0) / n * 1e6, "us/doc")
        self.layers["textproc.tokenize_us_per_doc"] = ((t2 - t1) / n * 1e6, "us/doc")

    def layer_codec(self) -> None:
        """The build's segmented encoders and the serving path's
        concatenated decoders, on real block blobs of the built store."""
        import pyarrow.parquet as pq

        from eaststorm_searchengine_spark.operators import codec

        files = []
        for d, _dirs, fs in os.walk(self.path("idx_build", "segments")):
            files += [os.path.join(d, f) for f in fs if f.endswith(".parquet")]
        tbl = pd.concat([pq.read_table(f, columns=["term", "n", "docs", "tfs"]).to_pandas()
                         for f in sorted(files)[:8]])
        tbl = tbl[tbl["term"] != "#doclens#"]
        docs_b, tfs_b = tbl["docs"].tolist(), tbl["tfs"].tolist()
        counts = tbl["n"].to_numpy(dtype=np.int64)
        postings = int(counts.sum())
        starts = np.r_[0, np.cumsum(counts)[:-1]]
        dec, enc = [], []
        for _ in range(5):
            t0 = time.perf_counter()
            ids = codec.delta_decode_concat(docs_b, counts)
            tfs = codec.vb_decode_concat(tfs_b)
            t1 = time.perf_counter()
            codec.delta_encode_segmented(ids, starts)
            codec.vb_encode_segmented(tfs, starts)
            t2 = time.perf_counter()
            dec.append(t1 - t0)
            enc.append(t2 - t1)
        self.layers["codec.decode_ns_per_posting"] = (H.median(dec) / postings * 1e9, "ns/posting")
        self.layers["codec.encode_ns_per_posting"] = (H.median(enc) / postings * 1e9, "ns/posting")
