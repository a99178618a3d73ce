"""spark-submit entry point: batch BM25 top-k over a built index.

    spark-submit --py-files engine.zip jobs/search_job.py \
        --index /indexes/run1 --k 10 [--method auto|wand|exhaustive] \
        [--explain] --queries "hash join" "data pipeline" ...

``--explain`` prints the per-(query, chunk) executor decision table
(BM25Index.explain) before the results — which chunks auto routes to
block-max WAND and why the others were rejected.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--index", required=True)
    p.add_argument("--k", type=int, default=10)
    # auto is the engine's production default (cost-based per-chunk
    # choice, BASELINE.md r5/r6) — the CLI previously forced exhaustive
    p.add_argument("--method", choices=["auto", "exhaustive", "wand", "maxscore"], default="auto")
    p.add_argument("--explain", action="store_true")
    p.add_argument("--queries", nargs="+", required=True)
    args = p.parse_args()

    from pyspark.sql import SparkSession

    from eaststorm_searchengine_spark.operators.bm25 import BM25Index

    spark = SparkSession.builder.appName("eaststorm-search").getOrCreate()
    idx = BM25Index(spark, args.index)
    qs = list(enumerate(args.queries, 1))
    if args.explain:
        for row in idx.explain(qs, k=args.k).collect():
            print(
                f"explain\tq{row['query_id']}\tchunk={row['chunk']}\t"
                f"decision={row['decision']}\trarest={row['rarest_term']}"
                f"(df={row['rarest_df']}, chunk_postings={row['rarest_chunk_postings']})"
            )
    # small CLI batches collect anyway → the driver-merge path serves
    # them on the driver with no Spark job (≤ LOCAL_SERVE_POSTINGS) or
    # as ONE job (non-AQE serving session, r8); identical results to
    # the distributed window rank (pytest-gated)
    rank_mode = "driver" if len(qs) <= 16 else "window"
    for row in idx.search(
        qs, k=args.k, method=args.method, score_round=4, final_rank=rank_mode
    ).collect():
        print(f"q{row['query_id']}\t#{row['rank']}\tdoc={row['doc_id']}\tscore={row['score']}")
    spark.stop()


if __name__ == "__main__":
    main()
