"""Edge corpora: empty/punctuation-only/null texts must still be
counted in corpus stats (n_docs, avgdl) and serve correct BM25 — every
build path, checked against the DuckDB oracle."""

import shutil

import duckdb
import pytest

from eaststorm_searchengine_spark.functions.sqltok import duckdb_bm25_topk_sql
from eaststorm_searchengine_spark.operators.bm25 import BM25Index
from eaststorm_searchengine_spark.operators.index_build import (
    build_index,
    build_index_fast,
    build_index_resumable,
)

TMP = "/root/repo/_tmp/t_edge"

ROWS = [
    (0, "alpha beta gamma alpha"),
    (1, ""),  # token-less
    (2, "!!! ??? ..."),  # punctuation-only → token-less
    (3, None),  # null text
    (4, "beta beta beta delta"),
    (5, "alpha delta"),
    (6, "x" * 40 + " epsilon"),  # >30-char token dropped
    (7, "gamma"),
]


@pytest.mark.parametrize(
    "builder,tag",
    [(build_index, "term"), (build_index_fast, "fast"), (build_index_resumable, "resumable")],
)
def test_edge_corpus_stats_and_bm25(spark, builder, tag):
    root = f"{TMP}_{tag}"
    shutil.rmtree(root, ignore_errors=True)
    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    stats = builder(spark, docs, root)
    assert stats["n_docs"] == len(ROWS), "token-less docs must count"

    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({d}, {'NULL' if t is None else repr(t)})" for d, t in ROWS
        )
        + ") AS t(doc_id, text)"
    )
    queries = [(1, "alpha"), (2, "beta delta"), (3, "epsilon"), (4, "nothere")]
    want = [
        (int(a), int(b), int(c), float(s))
        for a, b, c, s in con.sql(duckdb_bm25_topk_sql(queries, 5)).fetchall()
    ]
    idx = BM25Index(spark, root)
    for method in ["exhaustive", "wand"]:
        got = [
            (r["query_id"], int(r["rank"]), int(r["doc_id"]), float(r["score"]))
            for r in idx.search(queries, k=5, method=method, score_round=4).collect()
        ]
        assert got == want, (tag, method)
