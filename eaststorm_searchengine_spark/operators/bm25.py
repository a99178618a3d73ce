"""BM25 top-k query engine over the compressed segment index.

Three executors, bitwise equal in tests, all ``fn(terms, k, counters)``
over one interface: a list of ``_TermPostings`` (``maxscore.py``) — one
term's block rows in one doc-range chunk with its idf, lazy cached
block decode and the decode counters:

* ``exhaustive`` — vectorized term-at-a-time: decode every matching
  block, accumulate per-doc scores with ``np.add.at``.  The dense-query
  winner (numpy-bound, zero per-doc Python).
* ``maxscore`` — vectorized block-max MaxScore (``maxscore.py``):
  candidate waves from essential terms only, fence-pruned decode.  What
  ``method="auto"`` serves selective queries with.
* ``wand`` — interval-at-a-time block-max WAND (``wand.py``): skips
  whole fence intervals whose summed block upper bounds cannot reach
  the running threshold, never decoding their blocks.

``search``, ``phrase_search`` and ``explain`` share one query-resolution
step (``BM25Index._resolve``): analyze, driver-side df, pruned scan.

Distribution model: segment blocks are grouped by ``chunk`` (doc
range); each chunk computes its local top-k independently (scores use
global broadcast stats, so local ranking is globally consistent), and
the global top-k is a tiny shuffle of ``n_chunks × k`` candidate rows —
the same TakeOrdered pattern Spark plans for orderBy+limit
(SURVEY.md §2.5).  Replaces the reference's driver-side HashMap ranker
(``jobs/SearchServer.java:103-226``).

Small driver-merge queries run no Spark job at all: when the present
terms' Σ df is at most ``LOCAL_SERVE_POSTINGS`` and the store is on a
local filesystem, the driver reads the pruned block rows straight from
the segment parquet with Arrow and runs the SAME per-chunk scorer and
the SAME driver merge — the reference's point-read-and-rank-on-the-
coordinator shape (``jobs/SearchServer.java:114-186``).  Larger
queries, remote stores and the window rank stay distributed.
"""

from __future__ import annotations

import json
import math
import os
import threading
from urllib.parse import urlparse

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import textproc
from ..functions import sqltok
from ..functions.hashing import term_bucket
from . import codec
from .index_build import IndexPaths
from .maxscore import _TermPostings, maxscore_topk
from .wand import wand_topk


def bm25_idf(df_: int, n_docs: int) -> float:
    """Lucene-style non-negative BM25 idf (see sqltok.idf_col)."""
    return math.log(1.0 + (n_docs - df_ + 0.5) / (df_ + 0.5))


def _round_half_up(x: float, digits: int) -> float:
    """Bit-parity with Spark's round(double, d): Spark goes through
    BigDecimal.valueOf(double) — i.e. the SHORTEST decimal repr of the
    double — then setScale(d, HALF_UP); Python's repr() produces the
    same shortest string, and Decimal.quantize(ROUND_HALF_UP) the same
    scaling."""
    import decimal

    q = decimal.Decimal(1).scaleb(-digits)
    return float(
        decimal.Decimal(repr(x)).quantize(q, rounding=decimal.ROUND_HALF_UP)
    )


class BM25Index:
    """Handle on a built index directory (see index_build.build_index)."""

    def __init__(self, spark: SparkSession, root: str, pin: bool = False):
        """``pin=True`` persists the segment/stats DataFrames in the
        executor cache (MEMORY_AND_DISK) — a BATCH-path move for a
        long-lived query server: repeat batch queries scan the columnar
        cache instead of re-reading parquet.  Off by default (a pinned
        index holds cluster cache for the handle's lifetime; call
        :meth:`unpersist` when done).  The driver-merge path
        deliberately ignores the pin: a small query reads its blocks
        from parquet on the driver with Arrow (no job), a large one
        scans parquet through the one-job serving session — an r8 A/B
        measured the cached columnar scan of binary posting blobs no
        faster than parquet + OS page cache (0.43-0.50 vs 0.36-0.48 s
        p50 @ 1M) while the extra AQE session would cost a second job
        barrier."""
        self.spark = spark
        self.paths = IndexPaths(root)
        self.pin = pin
        # guards the lazy one-time inits (serving session, Arrow
        # dataset, df map) when one handle serves concurrent threads —
        # a long-lived query server's natural shape (r9): without it two
        # racing first queries each call spark.newSession(), leaking JVM
        # SessionState, or double-build the driver df map
        self._init_lock = threading.Lock()
        self._serve_spark = None  # lazy non-AQE serving session
        self._load()

    def _load(self) -> None:
        from pyspark.storagelevel import StorageLevel

        from ..sources import fsio

        self.stats = json.loads(fsio.read_text(self.spark, self.paths.stats))
        self.n_docs = int(self.stats["n_docs"])
        self.avgdl = float(self.stats["avgdl"])
        self.n_buckets = int(self.stats["n_buckets"])
        self.stem = bool(self.stats.get("stem", False))
        # hold the segment/stats DataFrames open: the parquet file index
        # (directory listing + schema) is built once per index handle,
        # not once per query — the serving-path latency win any
        # long-running query server gets for free
        self._segs_df = self.spark.read.parquet(self.paths.segments)
        self._stats_df = self.spark.read.parquet(self.paths.term_stats)
        self._df_map: dict | bool | None = None  # lazy driver-side df cache
        self._df_cache: dict = {}  # big-vocab per-term memo (reset on reload)
        self._serve_segs_df = None  # lazy non-AQE serving-session scan
        self._local_ds = None  # lazy driver-side Arrow dataset
        if self.pin:
            self._segs_df = self._segs_df.persist(StorageLevel.MEMORY_AND_DISK)
            self._stats_df = self._stats_df.persist(StorageLevel.MEMORY_AND_DISK)
        self._stats_mtime = self._current_mtime()

    def unpersist(self) -> None:
        if self.pin:
            self._segs_df.unpersist()
            self._stats_df.unpersist()

    def _current_mtime(self) -> float | None:
        try:
            return os.path.getmtime(self.paths.stats)
        except OSError:
            return None  # non-posix / remote FS: rebuild detection off

    def _refresh_if_rebuilt(self) -> None:
        """Rebuild detection (ADVICE r03 #3): stats.json is written
        LAST by the builder, so its mtime changing under a live handle
        means the index directory was rebuilt — the cached file index
        would read stale or deleted segment files.  One os.stat per
        search; on change, invalidate Spark's file-index caches and
        re-read the handle state."""
        m = self._current_mtime()
        if m is not None and self._stats_mtime is not None and m != self._stats_mtime:
            self.unpersist()  # drop pinned copies of the dead files
            for p in (self.paths.segments, self.paths.term_stats, self.paths.doclens):
                try:
                    self.spark.catalog.refreshByPath(p)
                except Exception:
                    pass
            self._load()

    def _analyze(self, q: str) -> list[str]:
        """Query analyzer == index analyzer: the shared sqltok
        normalization (lowercase → URL strip → non-alnum → space →
        [a-z]+ ≤30) so punctuated queries ('hash-join') yield the same
        terms the index and the DuckDB oracle see; stemming follows the
        index's build-time setting recorded in stats.json."""
        from ..functions.sqltok import tokens_py

        toks = tokens_py(q)
        if self.stem:
            from ..stemmer import porter_stem

            toks = [porter_stem(t) for t in toks]
        return toks

    def _serve_segs(self):
        """Segment scan bound to a dedicated serving session with AQE
        OFF and static shuffle partitions (r8 serving-floor cut): under
        AQE a single-query search runs as TWO jobs (map-stage
        materialization, then the re-planned reduce) — two scheduling
        barriers for a query whose reduce side is a handful of chunk
        groups.  With AQE off the same plan is ONE job (profiled via
        statusTracker; interleaved A/B at 8 cores: p50 0.657 → 0.487 s
        in the clean round).  The batch/window path keeps the main
        session — AQE's coalescing and skew handling pay there.  Lazy:
        built on first driver-merge search, reset by _load/refresh."""
        if self._serve_segs_df is None:
            with self._init_lock:  # concurrent first queries: init once
                if self._serve_segs_df is not None:
                    return self._serve_segs_df
                s = self._serve_spark
                if s is None:
                    # ONE serving session per handle lifetime
                    # (code-review r8): sessions have no per-session
                    # close API short of stopping the context, so
                    # creating one per rebuild would leak JVM
                    # SessionState in a long-lived server — reuse it
                    # and just refresh its file-index cache
                    s = self.spark.newSession()  # same ctx, own SQLConf
                    s.conf.set("spark.sql.adaptive.enabled", "false")
                    s.conf.set(
                        "spark.sql.shuffle.partitions",
                        str(self.spark.sparkContext.defaultParallelism),
                    )
                    self._serve_spark = s
                else:
                    try:
                        s.catalog.refreshByPath(self.paths.segments)
                    except Exception:
                        pass
                self._serve_segs_df = s.read.parquet(self.paths.segments)
        return self._serve_segs_df

    def _local_segs(
        self, buckets: list[int], terms: list[str], cols: list[str]
    ) -> pd.DataFrame:
        """The pruned segment scan read on the driver, with no Spark job:
        an Arrow dataset over the segment parquet (hive partitions, so
        ``bucket`` prunes directories and ``stream_batch=`` fragment
        stores read as they are), filtered to ``buckets`` and ``terms``.
        The dataset holds the file listing; it is built lazily once per
        handle and dropped by ``_load``, so the rebuild detection that
        refreshes the Spark file index refreshes this one too."""
        import pyarrow.dataset as pads

        ds = self._local_ds
        if ds is None:
            with self._init_lock:  # concurrent first queries: list once
                if self._local_ds is None:
                    self._local_ds = pads.dataset(
                        urlparse(self.paths.segments).path,
                        format="parquet", partitioning="hive",
                    )
                ds = self._local_ds
        flt = pads.field("bucket").isin(buckets) & pads.field("term").isin(terms)
        return ds.to_table(columns=cols, filter=flt).to_pandas()

    # Cap on loading the whole vocabulary's (term, df) driver-side: a
    # sandbox/1M-doc index's vocab is a few-MB dict (load once per
    # handle, ~60k terms); a 10^12-doc web vocab is 10^8+ terms and
    # must stay distributed — those fall back to a per-query filtered
    # collect (same bounded cost as the broadcast build it replaces).
    DRIVER_STATS_CAP = 2_000_000

    def _term_dfs(self, terms: list[str]) -> dict[str, int]:
        """term → df for the query's terms, resolved driver-side.

        r8 serving-floor cut: the per-query ``join(broadcast(stats))``
        cost a whole extra Spark job per search (the broadcast build —
        profiled: 3 jobs/query, one of them this).  A long-lived handle
        resolves df from a one-time driver-side map instead, so the
        search plan is a pure pruned-scan → applyInPandas with idf
        shipped in the task closure.  Terms absent from the map don't
        exist in the index (term_stats covers every indexed term)."""
        if self._df_map is None:
            with self._init_lock:  # build the map once across threads
                if self._df_map is None:
                    n_terms = int(
                        self.stats.get("n_terms", self.DRIVER_STATS_CAP + 1)
                    )
                    if n_terms <= self.DRIVER_STATS_CAP:
                        pdf = self._stats_df.select("term", "df").toPandas()
                        self._df_map = dict(
                            zip(
                                pdf["term"].tolist(),
                                pdf["df"].astype(int).tolist(),
                            )
                        )
                    else:
                        self._df_map = False  # vocab too big for driver
                        self._df_cache = {}  # per-term memo (None = absent)
        if self._df_map is not False:
            return {t: self._df_map[t] for t in terms if t in self._df_map}
        # big-vocab path: memoize per-term results so a Zipf query log's
        # head terms resolve driver-side with NO job after first sight;
        # absent terms are negative-cached (they'd otherwise re-query
        # every time).  Bounded: cleared past DRIVER_STATS_CAP entries.
        missing = [t for t in terms if t not in self._df_cache]
        if missing:
            rows = (
                self._stats_df.filter(F.col("term").isin(missing))
                .select("term", "df")
                .collect()
            )
            found = {r["term"]: int(r["df"]) for r in rows}
            for t in missing:
                self._df_cache[t] = found.get(t)
            if len(self._df_cache) > self.DRIVER_STATS_CAP:
                # Evict entries NOT in the current query (ADVICE r8:
                # wiping the whole memo before building the return dict
                # dropped the current query's already-cached terms —
                # the query was silently scored without indexed terms).
                self._df_cache = {
                    t: self._df_cache[t] for t in terms if t in self._df_cache
                }
        return {t: v for t in terms if (v := self._df_cache.get(t)) is not None}

    def _resolve(
        self,
        queries: list[tuple[int, str]],
        k: int,
        cols: list[str],
        method: str = "auto",
        final_rank: str = "window",
        dedupe: bool = True,
    ):
        """The query-resolution step every entry point shares: argument
        check → rebuild check → analyze (deduped and sorted; a phrase
        keeps its token order, ``dedupe=False``) → driver-side df (r8:
        no per-query broadcast-join job) → the indexed terms → a
        bucket- and term-pruned scan of ``cols``.  Driver-merge queries
        whose present terms hold at most ``LOCAL_SERVE_POSTINGS``
        postings on a local store read the scan on the driver
        (``_local_segs``, no job); larger ones scan through the one-job
        serving session (no AQE barrier); batch/window queries keep the
        AQE session.  Returns ``(qterms, dfs, segs)``; ``segs`` is a
        pandas frame on the local path, a Spark DataFrame otherwise,
        and None when no query term is indexed.  Output rows are keyed
        by query id, so a repeated id raises ``ValueError``."""
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        if method not in METHODS:
            raise ValueError(f"unknown method {method!r}; expected one of {METHODS}")
        if final_rank not in FINAL_RANKS:
            raise ValueError(
                f"unknown final_rank {final_rank!r}; expected one of {FINAL_RANKS}"
            )
        self._refresh_if_rebuilt()
        qterms = {}
        for qid, q in queries:
            if qid in qterms:
                raise ValueError(f"duplicate query id {qid!r}")
            toks = self._analyze(q)
            qterms[qid] = sorted(set(toks)) if dedupe else toks
        all_terms = sorted({t for ts in qterms.values() for t in ts})
        dfs = self._term_dfs(all_terms) if all_terms else {}
        present = [t for t in all_terms if t in dfs]
        if not present:
            return qterms, dfs, None
        buckets = sorted({term_bucket(t, self.n_buckets) for t in present})
        if (
            final_rank == "driver"
            and urlparse(self.paths.root).scheme in ("", "file")
            and _serve_locally(sum(dfs[t] for t in present), LOCAL_SERVE_POSTINGS)
        ):
            return qterms, dfs, self._local_segs(buckets, present, cols)
        src = self._serve_segs() if final_rank == "driver" else self._segs_df
        segs = (
            src.filter(F.col("bucket").isin(buckets))  # partition pruning
            .filter(F.col("term").isin(present))
            .select(*cols)
        )
        return qterms, dfs, segs

    # -- search -----------------------------------------------------------
    def search(
        self,
        queries: list[tuple[int, str]],
        k: int = 10,
        method: str = "auto",
        score_round: int | None = None,
        final_rank: str = "window",
        decode_acc: tuple | None = None,
        decision_acc: dict | None = None,
    ) -> DataFrame:
        """Top-k BM25 for a query batch → DataFrame(query_id, rank,
        doc_id, score).  Tie-break: score desc, doc_id asc (FIXTURES.md
        §3).  Query normalization matches the reference's
        ``q.toLowerCase().split("\\s+")`` (SearchServer.java:108) via the
        shared tokenizer; duplicate query terms are deduped (BM25 sums
        distinct terms, matching the DuckDB oracle).

        ``method``: ``"auto"`` (default since r5) — per-(query, chunk)
        cost-based choice from the driver-resolved df map: the selective
        block-skipping executor when a selective term exists,
        exhaustive for dense-only queries.  Since r7 the selective
        executor is ``"maxscore"`` (vectorized block-max MaxScore —
        candidate waves from essential terms only, fence-pruned
        segmented decode); ``"wand"`` (interval-at-a-time block-max
        WAND per Ding & Suel) is retained as the north-star-named
        reference executor, and ``"exhaustive"`` (vectorized
        term-at-a-time) scores everything.  All four settings return
        identical results (executor equality is bitwise-tested); at the
        200k-doc Zipf bench maxscore measured 1.3-1.6× exhaustive
        (BASELINE.md r7).

        Plan: segment scan (bucket directory pruning from the
        python-computable term hash + term predicate pushdown) →
        per-chunk top-k (df resolved driver-side, idf shipped in the
        task closure) → global rank.  Terms absent from the corpus
        simply never match (== the reference's silent per-term
        try/catch, SearchServer.java:117-148).  ``k < 1``, an unknown
        ``method`` or an unknown ``final_rank`` raise ``ValueError``.

        ``final_rank``: how the ≤ chunks×k candidate rows per query
        become the global top-k.  ``"window"`` (default) ranks with a
        per-query window — fully distributed, the right shape when the
        batch is large.  ``"driver"`` merges the candidates driver-side
        (VERDICT r02 #7) — the same TakeOrdered pattern Spark plans for
        orderBy+limit.  Below ``LOCAL_SERVE_POSTINGS`` (Σ df of the
        present terms, local store) the whole query runs on the driver
        with NO Spark job: Arrow reads the pruned block rows and the
        same ``score_chunk`` scores each chunk group; above it the query
        is ONE job (pruned scan → per-chunk scorer → collect).  Both
        sides and the window rank return identical rows (pytest-gated
        at the threshold).

        ``decode_acc``: optional (decoded, total[, logical]) Spark
        accumulators fed from the executors — block-decode evidence.
        ``decoded`` counts FRESH decodes (shared per-chunk handles mean
        a batch's later queries may hit cache); ``logical`` counts what
        a cold cache would decode per query — the batch-size-invariant
        skip-rate numerator (ADVICE r07).
        ``decision_acc``: optional dict of Spark accumulators keyed by
        ``DECISION_REASONS`` — per-(query, chunk) records of what the
        auto cost model chose and why (VERDICT r05 #1)."""
        qmap, dfs, segs = self._resolve(
            queries, k,
            ["term", "chunk", "first_doc", "last_doc", "n",
             "max_tf", "min_dl", "docs", "tfs", "dls"],
            method, final_rank,
        )
        if segs is None:  # no query term is indexed: empty, no job
            return self._merge_on_driver([], k, score_round)
        avgdl, n_docs = self.avgdl, self.n_docs

        def score_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
            counters: dict | None = {} if decode_acc is not None else None
            decision_counts: dict | None = (
                {} if decision_acc is not None else None
            )
            by_term: dict[str, pd.DataFrame] = {
                t: g.sort_values("first_doc") for t, g in pdf.groupby("term")
            }
            idf = {t: bm25_idf(dfs[t], n_docs) for t in by_term}
            # shared decoded-postings handles: a term appearing in
            # several batch queries decodes its blocks once per CHUNK,
            # not once per query (lazy — maxscore still skips
            # non-essential blocks; exhaustive decodes on first use)
            tp_cache: dict[str, _TermPostings] = {}

            def tp_for(t: str) -> _TermPostings:
                if t not in tp_cache:
                    tp_cache[t] = _TermPostings(by_term[t], idf[t], avgdl)
                return tp_cache[t]

            out_rows = []
            for qid, terms in qmap.items():
                present = [t for t in terms if t in by_term]
                if not present:
                    continue
                if method == "auto":
                    decision = _wand_decision(
                        {t: by_term[t] for t in present}, k, n_docs, dfs
                    )
                    if decision_counts is not None:
                        decision_counts[decision] = (
                            decision_counts.get(decision, 0) + 1
                        )
                    # the "wand" decision means "a selective term makes
                    # block skipping pay"; since r7 auto serves it with
                    # the vectorized MaxScore executor (same skip idea,
                    # set-at-a-time — measured 1.3-1.6x the exhaustive
                    # executor where pure WAND's per-pivot Python loop
                    # LOST to it, BASELINE.md r7).  "dense_long_run"
                    # (r8): dense query but the chunk's posting runs
                    # are long enough that MaxScore wins anyway
                    fn = (
                        maxscore_topk
                        if decision in ("wand", "dense_long_run")
                        else _exhaustive_topk
                    )
                else:
                    fn = _EXECUTORS[method]
                # every executor shares the per-chunk _TermPostings
                # handles: a term's blocks decode once per CHUNK across
                # the batch; begin_query is the per-query prologue
                tps = [tp_for(t) for t in present]
                for tp in tps:
                    tp.begin_query(counters)
                docs_a, scores_a = fn(tps, k, counters)
                for d, s in zip(docs_a, scores_a):
                    out_rows.append({"query_id": qid, "doc_id": int(d), "score": float(s)})
            if decode_acc is not None and counters:
                # (decoded, total) Spark accumulators — executor-side
                # updates ship back with task results; evidence for the
                # block-max skip rate through the real segment store
                decode_acc[0].add(counters.get("blocks_decoded", 0))
                decode_acc[1].add(counters.get("blocks_total", 0))
                if len(decode_acc) > 2:
                    # logical (per-query cold-cache) decodes — the
                    # skip-rate numerator comparable across batch
                    # sizes; slot 0 stays fresh decodes (ADVICE r07)
                    decode_acc[2].add(counters.get("blocks_logical", 0))
            if decision_acc is not None and decision_counts:
                # per-(query, chunk) auto decisions keyed by reason —
                # the misprediction evidence VERDICT r05 #1 asks for
                for reason, cnt in decision_counts.items():
                    decision_acc[reason].add(cnt)
            return pd.DataFrame(out_rows, columns=["query_id", "doc_id", "score"])

        if isinstance(segs, pd.DataFrame):
            # jobless driver path: the same scorer over the same chunk
            # groups, the accumulators added on the driver
            rows = [
                r
                for _, g in segs.groupby("chunk")
                for r in score_chunk(g).itertuples(index=False, name=None)
            ]
            return self._merge_on_driver(rows, k, score_round)
        # NOTE: for a driver-merge query this plan is one Spark job,
        # whose scheduling, Python workers and Arrow boundary cost
        # ~0.45 s however small the query, so queries under
        # LOCAL_SERVE_POSTINGS run on the driver (break-even table
        # there).  A single-task variant of this plan (r9: coalesce(1)
        # + mapInPandas) lost or tied at every shape: the parallel
        # scan+decode is what the job buys.
        candidates = segs.groupBy("chunk").applyInPandas(
            score_chunk, "query_id int, doc_id long, score double"
        )
        return self._rank(candidates, k, score_round, final_rank)

    def explain(self, queries: list[tuple[int, str]], k: int = 10) -> DataFrame:
        """Driver-side preview of the auto executor choice, one row per
        (query, chunk-with-hits) — the production-debugging view of the
        cost model (``method="auto"``): which executor each chunk's
        scorer would pick and why, computed from the SAME block-metadata
        frames ``score_chunk`` hands to ``_wand_decision`` (equality
        with the decision accumulators is pytest-gated).  Reads only
        block metadata (term, chunk, n) plus the driver-side df map
        ``search`` uses — posting blobs are never touched, so the cost
        is the pruned metadata scan, bounded by the query terms' block
        counts; under the ``LOCAL_SERVE_POSTINGS`` rule that scan runs
        on the driver with no Spark job.

        Returns DataFrame(query_id, chunk, decision, n_terms_present,
        rarest_term, rarest_df, rarest_chunk_postings) where
        ``decision`` ∈ DECISION_REASONS (``"wand"`` — the historical
        key for "a selective term makes block skipping pay", served by
        the MaxScore executor since r7 — or the rejection reason) and
        ``rarest_chunk_postings`` is the chunk-local Σn of the rarest
        term — the quantity the anchor rule tests against ``k``."""
        qterms, dfs, segs = self._resolve(
            queries, k, ["term", "chunk", "n"], final_rank="driver"
        )
        schema = (
            "query_id int, chunk int, decision string, n_terms_present int, "
            "rarest_term string, rarest_df long, rarest_chunk_postings long"
        )
        if segs is None:
            return _empty_frame(self.spark, schema)
        rows = []
        if not isinstance(segs, pd.DataFrame):
            segs = segs.toPandas()
        for chunk, cg in segs.groupby("chunk"):
            by_term = {t: g for t, g in cg.groupby("term")}
            for qid, terms in qterms.items():
                present = {t: by_term[t] for t in terms if t in by_term}
                if not present:
                    continue
                decision = _wand_decision(present, k, self.n_docs, dfs)
                rarest = min(present, key=lambda t: dfs[t])
                rows.append(
                    (
                        int(qid), int(chunk), decision, len(present), rarest,
                        dfs[rarest], int(present[rarest]["n"].sum()),
                    )
                )
        if not rows:
            return _empty_frame(self.spark, schema)
        # a frame over pandas goes through Arrow into a LocalRelation:
        # collect() runs no job (a list of tuples would parallelize)
        names = [c.split()[0] for c in schema.split(",")]
        return self.spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)

    def phrase_search(
        self,
        phrases: list[tuple[int, str]],
        k: int = 10,
        score_round: int | None = None,
    ) -> DataFrame:
        """Exact-phrase top-k: documents containing the query tokens at
        consecutive positions, ranked by BM25 over the phrase terms.
        This is what the positions stored in every posting
        (north_star: "(docID, tf, positions)") buy: the check decodes
        position lists only for documents that contain all terms.
        Same distribution model as ``search``.
        """
        pterms, dfs, segs = self._resolve(
            phrases, k,
            ["term", "chunk", "first_doc", "n", "docs", "tfs", "dls", "pos"],
            dedupe=False,
        )
        out_schema = "query_id int, doc_id long, score double"
        if segs is None:
            return self._rank(self.spark.createDataFrame([], out_schema), k, score_round)
        avgdl, n_docs, k1, b = self.avgdl, self.n_docs, sqltok.K1, sqltok.B

        def match_chunk(pdf: pd.DataFrame) -> pd.DataFrame:
            # decode each term's postings once per chunk — one
            # concatenated codec pass per stream (r7); positions are
            # encoded with a per-POSTING delta reset, so block
            # boundaries vanish under concatenation too
            decoded: dict[str, tuple] = {}
            for t, g in pdf.groupby("term"):
                g = g.sort_values("first_doc")
                tf = codec.vb_decode_concat(g["tfs"].tolist()).astype(np.int64)
                decoded[t] = (
                    codec.delta_decode_concat(
                        g["docs"].tolist(), g["n"].to_numpy(dtype=np.int64)
                    ).astype(np.int64),
                    tf,
                    codec.vb_decode_concat(g["dls"].tolist()).astype(np.int64),
                    codec.decode_positions(b"".join(g["pos"]), tf),
                )
            out_rows = []
            for qid, terms in pterms.items():
                if not terms or any(t not in decoded for t in terms):
                    continue
                # docs containing every term
                cand = decoded[terms[0]][0]
                for t in terms[1:]:
                    cand = np.intersect1d(cand, decoded[t][0], assume_unique=True)
                if cand.size == 0:
                    continue
                per_term_idx = {
                    t: {int(d): i for i, d in enumerate(decoded[t][0])} for t in set(terms)
                }
                idf = {t: bm25_idf(dfs[t], n_docs) for t in set(terms)}
                for d in cand:
                    d = int(d)
                    # positional check: positions(term_i) - i must intersect
                    ok = np.asarray(decoded[terms[0]][3][per_term_idx[terms[0]][d]], dtype=np.int64)
                    for i, t in enumerate(terms[1:], 1):
                        nxt = np.asarray(decoded[t][3][per_term_idx[t][d]], dtype=np.int64) - i
                        ok = np.intersect1d(ok, nxt, assume_unique=True)
                        if ok.size == 0:
                            break
                    if ok.size == 0:
                        continue
                    score = 0.0
                    for t in sorted(set(terms)):
                        i = per_term_idx[t][d]
                        tf = float(decoded[t][1][i])
                        dl = float(decoded[t][2][i])
                        score += idf[t] * (tf * (k1 + 1.0)) / (
                            tf + k1 * (1.0 - b + b * dl / avgdl)
                        )
                    out_rows.append({"query_id": qid, "doc_id": d, "score": score})
            df_out = pd.DataFrame(out_rows, columns=["query_id", "doc_id", "score"])
            if len(df_out) > k:  # local top-k per chunk
                df_out = (
                    df_out.sort_values(["query_id", "score", "doc_id"],
                                       ascending=[True, False, True])
                    .groupby("query_id").head(k)
                )
            return df_out

        candidates = segs.groupBy("chunk").applyInPandas(match_chunk, out_schema)
        return self._rank(candidates, k, score_round)

    def _rank(
        self,
        candidates: DataFrame,
        k: int,
        score_round: int | None,
        final_rank: str = "window",
    ) -> DataFrame:
        if final_rank == "driver":
            return self._merge_on_driver(candidates.collect(), k, score_round)
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        ranked = (
            candidates.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score")
            .orderBy("query_id", "rank")
        )
        if score_round is not None:
            ranked = ranked.withColumn("score", F.round("score", score_round))
        return ranked

    def _merge_on_driver(
        self, rows: list[tuple], k: int, score_round: int | None
    ) -> DataFrame:
        """TakeOrdered-style driver merge of ``(query_id, doc_id,
        score)`` candidate rows: each chunk already emitted its local
        top-k, so at most n_chunks × k rows per query arrive here —
        bounded regardless of corpus size.  Rounding happens in Python
        too (exact F.round HALF_UP parity via Decimal on the shortest
        double repr — same as Spark's BigDecimal.valueOf path), so the
        caller's collect() on the returned frame runs NO job."""
        rows.sort(key=lambda r: (r[0], -r[2], r[1]))
        out, last_q, rk = [], None, 0
        for q, d, s in rows:
            if q != last_q:
                last_q, rk = q, 0
            rk += 1
            if rk <= k:
                s = float(s)
                if score_round is not None:
                    s = _round_half_up(s, score_round)
                out.append((int(q), rk, int(d), s))
        if not out:
            return _empty_frame(
                self.spark, "query_id int, rank long, doc_id long, score double"
            )
        # the VALUES text below renders scores via repr(): NaN/inf
        # would neither parse as SQL nor sort correctly above —
        # unreachable with BM25 math, but fail loudly if a future
        # scorer produces one (ADVICE r03 #5)
        assert all(math.isfinite(s) for _, _, _, s in out), (
            "non-finite score in driver-side rank merge"
        )
        # inline VALUES → Catalyst LocalRelation: the caller's
        # collect() is served from the driver, NO job — a
        # parallelize here would fan the ≤ queries×k rows into
        # defaultParallelism near-empty tasks and task scheduling
        # would dwarf the data
        vals = ", ".join(
            f"({q}, {r}L, {d}L, CAST({s!r} AS DOUBLE))" for q, r, d, s in out
        )
        return self.spark.sql(
            "SELECT col1 AS query_id, col2 AS rank, col3 AS doc_id, "
            f"col4 AS score FROM VALUES {vals}"
        )


def _empty_frame(spark: SparkSession, schema: str) -> DataFrame:
    """An empty frame of ``schema`` whose collect() runs no job: the
    optimizer folds ``limit(0)`` into an empty LocalRelation, while a
    bare ``createDataFrame([])`` is an RDD scan."""
    return spark.createDataFrame([], schema).limit(0)


# the five outcomes of the auto cost model, in accumulator-report order
DECISION_REASONS = (
    "wand", "single_term", "no_selective", "anchor_thin", "dense_long_run",
)

# Dense-query routing is SPAN-dependent (VERDICT r07 #4): at short
# per-chunk posting runs (cb14 bench shape, ≤~16k postings/term) the
# exhaustive scorer's single segmented decode beats MaxScore's wave
# machinery on dense-only queries by ~10%, but at long runs (production
# 2^18 spans; 500k-posting microbench) MaxScore wins every measured
# shape including the dense worst case — its per-wave overhead is fixed
# while the decode+score mass it skips grows with the run.  Route dense
# queries to MaxScore once the mean chunk-local run length crosses this
# threshold.  Break-even measured r8 (pure-python microbench over real
# block rows, 2/3/5 terms x 4k-262k runs + cb14/cb17 zipf-index A/B):
# maxscore is neutral-or-better from ~16k-run shapes up for 2-3 terms
# and from ~64k for 5 terms; the one shape where it clearly loses
# (5 terms x 4k runs, 1.56x) sits well below 2^15.  cb14 dense chunks
# (16k-doc spans) stay exhaustive-routed; cb17+ chunks route maxscore.
# The threshold is TERM-COUNT-AWARE (ADVICE r8): the break-even shifts
# right with query width (per-wave overhead scales with terms), so
# ≤3-term dense queries route at 2^15 runs but ≥4-term ones wait for
# 2^16 — the measured 5x32k-64k regression region stays exhaustive.
DENSE_LONG_RUN_POSTINGS = 1 << 15
DENSE_LONG_RUN_POSTINGS_WIDE = 1 << 16  # queries with ≥ 4 terms


def _dense_long_run_threshold(n_terms: int) -> int:
    return (
        DENSE_LONG_RUN_POSTINGS if n_terms <= 3 else DENSE_LONG_RUN_POSTINGS_WIDE
    )


def _wand_decision(term_chunk_blocks: dict, k: int, n_docs: int, dfs: dict) -> str:
    """Per-(query, chunk) cost decision between the executors, with the
    reason exposed for the decision accumulators (VERDICT r05 #1).
    Returns one of ``DECISION_REASONS``: ``"wand"`` (historical key:
    a selective term makes block skipping pay — auto serves it with
    the vectorized MaxScore executor since r7) or the rejection reason
    (``"single_term"`` — nothing to skip against; ``"no_selective"`` —
    every query term matches ≥10% of the corpus; ``"anchor_thin"`` —
    the rarest term has fewer than ``k`` postings in THIS chunk, so θ
    collapses — measured r5: 99.8% of blocks decoded).  ``dfs``: the
    driver-resolved term→df map (r8); the block frames need only
    ``n``."""
    if len(term_chunk_blocks) < 2:
        return "single_term"
    rarest = min(term_chunk_blocks, key=lambda t: dfs[t])
    if dfs[rarest] * 10 > n_docs:
        # no selective term anywhere in the corpus — but if this
        # chunk's posting runs are LONG, MaxScore wins even dense
        # queries (span-aware routing, VERDICT r07 #4): mean
        # chunk-local run length over the query's terms, free off the
        # block metadata
        runs = [int(g["n"].sum()) for g in term_chunk_blocks.values()]
        if sum(runs) // len(runs) >= _dense_long_run_threshold(len(runs)):
            return "dense_long_run"
        return "no_selective"
    if int(term_chunk_blocks[rarest]["n"].sum()) < k:
        return "anchor_thin"
    return "wand"


# Jobless serving gate: a driver-merge query whose present terms hold
# at most this many postings (Σ df, known on the driver from the df
# map) reads its blocks with Arrow and scores them on the driver
# instead of launching a Spark job.  A job costs ~0.45 s of scheduling,
# Python-worker and Arrow-boundary overhead however small the query;
# the driver path's cost grows with the postings it decodes on one
# core.  Break-even on a 4-core VM, p50 local vs one job, rows bitwise
# equal for all four methods:
#   3k-doc pages / 6k-doc zipf, small Σ df     36 / 39 ms vs 464 / 470 ms
#   200k-doc zipf, Σ df 165k / 600k           82 / 265 ms vs 533 / 688 ms
# and, on a 1M-doc zipf store, 4 interleaved pairs (median of 3 runs
# per side; ranges over the pairs):
#   Σ df 5.9k      38-65 ms vs  500-669 ms
#   Σ df 114k      81-88 ms vs  488-560 ms
#   Σ df 512k    251-265 ms vs  548-631 ms
#   Σ df 1.00M   586-622 ms vs  777-881 ms   (one term; 2^20 = 1.05M)
#   Σ df 1.70M   514-609 ms vs  778-925 ms
#   Σ df 2.00M   744-790 ms vs  711-898 ms   (parity)
#   Σ df 2.99M  969-1135 ms vs  896-1011 ms  (the job wins)
# so 2^20 sits inside the local path's winning range, and heavier
# queries keep the job's parallel scan+decode (wider on a cluster).
LOCAL_SERVE_POSTINGS = 1 << 20


def _serve_locally(postings: int, threshold: int) -> bool:
    """The jobless-serving rule: ``postings`` (Σ df of the present
    query terms) at most ``threshold``."""
    return postings <= threshold


def _exhaustive_topk(
    terms: list[_TermPostings], k: int, counters: dict | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized term-at-a-time scoring of one chunk.  Deterministic:
    terms arrive sorted, accumulation order fixed.  Every block of
    every term decodes (once per chunk on the shared handles)."""
    doc_parts, score_parts = [], []
    for t in terms:
        d, tfn = t.full(counters)
        doc_parts.append(d)
        score_parts.append(t.idf * tfn)
    all_docs = np.concatenate(doc_parts)
    all_scores = np.concatenate(score_parts)
    uniq, inv = np.unique(all_docs, return_inverse=True)
    agg = np.zeros(uniq.size, dtype=np.float64)
    np.add.at(agg, inv, all_scores)
    # full lexsort, not argpartition: a partition breaks score-ties at
    # the k-boundary arbitrarily, violating the doc_id-asc tie-break
    order = np.lexsort((uniq, -agg))[:k]
    return uniq[order], agg[order]


_EXECUTORS = {
    "exhaustive": _exhaustive_topk,
    "maxscore": maxscore_topk,
    "wand": wand_topk,
}
METHODS = ("auto", *_EXECUTORS)
FINAL_RANKS = ("window", "driver")


def bm25_score_dataframe(
    spark: SparkSession,
    docs: DataFrame,
    queries: list[tuple[int, str]],
    k: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    score_round: int | None = 4,
) -> DataFrame:
    """Pure-DataFrame BM25 — no segments, plain Catalyst plan (the
    minimum end-to-end slice of SURVEY.md §7 step 1, kept as a built-in
    cross-check of the segment engine).  The query-term set is tiny, so
    Spark broadcasts it into the tf join (SearchServer's point-reads →
    broadcast join, SURVEY.md §3.2)."""
    tok = docs.select(
        F.col(id_col).cast("long").alias("doc_id"),
        sqltok.tokens_col(F.col(text_col)).alias("tokens"),
    )
    doclen = tok.select("doc_id", F.size("tokens").alias("dl"))
    stats = doclen.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    ).collect()[0]
    n_docs, avgdl = int(stats["n_docs"]), float(stats["avgdl"])

    tf = (
        tok.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfc = tf.groupBy("term").agg(F.count("*").alias("df"))

    qrows = []
    for qid, q in queries:
        for t in sorted(set(textproc.tokenize(q.lower()))):
            qrows.append((qid, t))
    if not qrows:
        return spark.createDataFrame([], "query_id int, rank long, doc_id long, score double")
    qdf = spark.createDataFrame(qrows, "query_id int, term string")

    scored = (
        F.broadcast(qdf)
        .join(dfc, "term")
        .join(tf, "term")
        .join(doclen, "doc_id")
        .withColumn(
            "contrib",
            sqltok.idf_col(F.col("df"), F.lit(n_docs))
            * sqltok.tf_norm_col(F.col("tf"), F.col("dl"), F.lit(avgdl)),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )

    # TakeOrdered shape: per-partition per-query top-k prune before the
    # global rank window (any global top-k row is in its partition's
    # top-k under the same total order) — the window then ranks
    # ≤ k × n_partitions rows per query, not every matching doc
    from ..functions.topk import local_group_topk

    pruned = local_group_topk(scored, "query_id", ["score", "doc_id"], [False, True], k)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = (
        pruned.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
    )
    if score_round is not None:
        ranked = ranked.withColumn("score", F.round("score", score_round))
    return ranked
