"""Which metric each per-layer metric should move, and on which
workload.  A change that moves a per-layer metric but none of the
metrics it names here has moved work, not removed it.

Targets are end-to-end metrics of ``BENCHMARK.json`` or one of the
per-layer metrics in ``STANDS_FOR``: end-to-end measures (p90s, the
open loop, ingest, dedup) that only traced runs take, because an
untraced run affords too few samples of them.  ``selfcheck.py`` asserts
that every per-layer metric is listed here and that every target
exists.
"""

from __future__ import annotations

# per-layer metric -> the end-to-end measure it stands for
STANDS_FOR = {
    "serve.query_p90_ms": "query_p90_ms",
    "serve.loaded_query_p50_ms": "loaded_query_p50_ms",
    "serve.loaded_query_p90_ms": "loaded_query_p90_ms",
    "incremental.fresh_p50_s": "fresh_p50_s",
    "incremental.docs_per_s": "ingest_docs_per_s",
    "incremental.query_p50_ms": "ingest_query_p50_ms",
    "incremental.query_p90_ms": "ingest_query_p90_ms",
    "dedup.ngram_pairs_docs_per_s": "ngram_pairs_docs_per_s",
    "dedup.groups_docs_per_s": "dedup_groups_docs_per_s",
}

BOTH = ("pages", "zipf")
BUILD = [("build_docs_per_s", BOTH), ("build_fast_docs_per_s", BOTH)]
QUERY = [("query_p50_ms", BOTH), ("batch_qps", BOTH)]
SKIPPING = [("query_p50_ms", ("zipf",)), ("batch_qps", ("zipf",))]
INGEST = [("incremental.fresh_p50_s", BOTH), ("incremental.docs_per_s", BOTH)]
INGEST_READ = [("incremental.query_p50_ms", BOTH), ("incremental.query_p90_ms", BOTH)]
DEDUP = [("dedup.ngram_pairs_docs_per_s", BOTH), ("dedup.groups_docs_per_s", BOTH)]

MOVES: dict[str, list[tuple[str, tuple[str, ...]]]] = {
    "session.start_s": [("setup_s", BOTH)],
    # only the pages corpus is HTML
    "textproc.extract_us_per_doc": [(m, ("pages",)) for m, _ in BUILD]
    + [("incremental.fresh_p50_s", ("pages",))],
    "textproc.tokenize_us_per_doc": BUILD + [("incremental.fresh_p50_s", BOTH)],
    "codec.encode_ns_per_posting": BUILD,
    "codec.decode_ns_per_posting": QUERY + INGEST_READ,
    **{f"index_build.{m}": BUILD for m in (
        "scan_encode_s", "rechunk_s", "finalize_s", "driver_s", "task_cpu_s", "gc_s",
        "shuffle_bytes", "spill_bytes", "tasks")},
    "index_build.segment_files": [("index_bytes_per_doc", BOTH)] + QUERY,
    "index_build.segment_bytes": [("index_bytes_per_doc", BOTH)],
    **{m: [] for m in STANDS_FOR},
    **{f"bm25.{m}": QUERY + INGEST_READ for m in (
        "driver_ms", "job_ms", "tasks", "task_run_ms", "scan_bytes")},
    # block-max skipping pays only where selective terms exist
    **{f"bm25.{m}": SKIPPING for m in (
        "blocks_decoded", "blocks_total", "decode_ratio", "route.wand", "route.single_term",
        "route.no_selective", "route.anchor_thin", "route.dense_long_run")},
    "incremental.append_s": INGEST,
    "incremental.refresh_s": INGEST,
    "incremental.compact_s": [("incremental.docs_per_s", BOTH)],
    "incremental.compactions": [("incremental.docs_per_s", BOTH)] + INGEST_READ,
    "incremental.fragments_max": INGEST_READ,
    "incremental.segment_files_max": INGEST_READ,
    "incremental.rewrite_bytes_per_ingest_byte": [("incremental.docs_per_s", BOTH)],
    "incremental.query_ms_during_compact": [("incremental.query_p90_ms", BOTH)],
    **{f"dedup.{m}": DEDUP for m in (
        "driver_s", "task_cpu_s", "stage_max_s", "shuffle_bytes", "spill_bytes", "pairs",
        "groups")},
    # the cost of tracing itself; it moves no metric of the engine
    "trace.query_overhead_ms": [],
}
