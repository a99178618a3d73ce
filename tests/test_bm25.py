"""BM25 engine correctness:

* rank-identical (docIDs AND scores) vs an independent pure-Python
  BM25 oracle — the FIXTURES.md §3 check
* WAND == exhaustive, bitwise, on randomized synthetic corpora
  (hypothesis) — exercises block boundaries, ties, absent terms
"""

import math
import shutil

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from eaststorm_searchengine_spark import textproc
from eaststorm_searchengine_spark.functions import sqltok
from eaststorm_searchengine_spark.operators import codec
from eaststorm_searchengine_spark.operators.bm25 import (
    BM25Index,
    _exhaustive_topk,
    bm25_idf,
)
from eaststorm_searchengine_spark.operators.index_build import (
    BLOCK,
    build_index_fast,
)
from eaststorm_searchengine_spark.operators.maxscore import (
    _TermPostings,
    maxscore_topk,
)
from eaststorm_searchengine_spark.operators.wand import wand_topk

SF = "/root/testdata/sf0.001"
TMP = "/root/repo/_tmp"


def _python_bm25(rows, query, k=10):
    """Independent oracle: exact BM25 ranking in pure python."""
    toks = {d: textproc.tokenize(t or "") for d, t in rows}
    n = len(toks)
    avgdl = sum(len(v) for v in toks.values()) / n
    terms = sorted(set(textproc.tokenize(query.lower())))
    df = {t: sum(1 for v in toks.values() if t in v) for t in terms}
    scores = {}
    for d, v in toks.items():
        s = 0.0
        for t in terms:
            if df.get(t, 0) == 0:
                continue
            tf = v.count(t)
            if tf == 0:
                continue
            idf = math.log(1.0 + (n - df[t] + 0.5) / (df[t] + 0.5))
            s += idf * (tf * (sqltok.K1 + 1)) / (
                tf + sqltok.K1 * (1 - sqltok.B + sqltok.B * len(v) / avgdl)
            )
        if s > 0:
            scores[d] = s
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
    return [(d, round(s, 4)) for d, s in ranked]


@pytest.fixture(scope="module")
def idx(spark):
    root = f"{TMP}/t_bm25_idx"
    shutil.rmtree(root, ignore_errors=True)
    build_index_fast(spark, spark.read.parquet(f"{SF}/documents.parquet"), root)
    return BM25Index(spark, root)


@pytest.fixture(scope="module")
def rows(spark):
    return [
        (int(r["doc_id"]), r["text"])
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    ]


@pytest.mark.parametrize(
    "query",
    ["join", "hash join", "merge sort join agg", "the a", "dup", "zzznone",
     "Spark WINDOW stream", "customer filter big data"],
)
def test_rank_identical_vs_python_oracle(idx, rows, query):
    want = _python_bm25(rows, query, k=10)
    got = [
        (int(r["doc_id"]), float(r["score"]))
        for r in idx.search([(1, query)], k=10, score_round=4).collect()
    ]
    assert got == want, f"query {query!r}"


def test_wand_equals_exhaustive_on_index(idx):
    qs = [(i, q) for i, q in enumerate(
        ["join", "hash join merge", "the a big", "dup window", "value"]
    )]
    a = [tuple(r) for r in idx.search(qs, k=25, method="exhaustive").collect()]
    b = [tuple(r) for r in idx.search(qs, k=25, method="wand").collect()]
    assert a == b


def test_driver_merge_equals_window_rank(idx):
    """final_rank='driver' (fused single-job plan, VERDICT r02 #7) must
    reproduce the distributed window ranking exactly — ties, ranks,
    rounding and all — across the whole fixed query batch."""
    import __spark_entry__ as E

    a = sorted(
        tuple(r) for r in idx.search(E.QUERY_SET, k=10, score_round=4).collect()
    )
    b = sorted(
        tuple(r)
        for r in idx.search(
            E.QUERY_SET, k=10, score_round=4, final_rank="driver"
        ).collect()
    )
    assert a == b and len(a) > 0
    # empty-query edge: both paths return an empty frame of same schema
    e = idx.search([(1, "@@@")], k=5, final_rank="driver")
    assert e.count() == 0 and e.columns == ["query_id", "rank", "doc_id", "score"]


@pytest.mark.parametrize("method", ["auto", "exhaustive", "maxscore", "wand"])
def test_bad_arguments_raise(idx, method):
    """k < 1, an unknown method, an unknown final_rank and a repeated
    query id raise ValueError on every entry point.  Unchecked, k=0
    crashed the maxscore/wand executors on an empty top-k, k=-1
    returned a per-executor number of rows, an unknown method or
    final_rank silently ran the exhaustive executor or the window rank,
    and a repeated query id silently served only its last query."""
    q = [(1, "hash join")]
    for k in (0, -1):
        for final_rank in ("window", "driver"):
            with pytest.raises(ValueError, match="k must be"):
                idx.search(q, k=k, method=method, final_rank=final_rank)
        with pytest.raises(ValueError, match="k must be"):
            idx.phrase_search(q, k=k)
        with pytest.raises(ValueError, match="k must be"):
            idx.explain(q, k=k)
    with pytest.raises(ValueError, match="unknown method"):
        idx.search(q, k=5, method=method.upper())
    with pytest.raises(ValueError, match="unknown final_rank"):
        idx.search(q, k=5, method=method, final_rank="Driver")
    dup = [(1, "hash"), (2, "join"), (1, "merge")]
    for final_rank in ("window", "driver"):
        with pytest.raises(ValueError, match="duplicate query id 1"):
            idx.search(dup, method=method, final_rank=final_rank)
    with pytest.raises(ValueError, match="duplicate query id 1"):
        idx.phrase_search(dup)
    with pytest.raises(ValueError, match="duplicate query id 1"):
        idx.explain(dup)
    # the smallest valid k still serves
    assert idx.search(q, k=1, method=method).count() == 1


@pytest.fixture(scope="module")
def frag_idx(spark):
    """A ``stream_batch=`` fragment store: four micro-batches of
    interleaved doc ids, so every chunk holds blocks of every batch."""
    from pyspark.sql import functions as F

    from eaststorm_searchengine_spark.streaming import incremental

    root = f"{TMP}/t_bm25_frag_idx"
    shutil.rmtree(root, ignore_errors=True)
    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
    for b in range(4):
        incremental._append_batch(
            docs.filter(F.col("doc_id") % 4 == b), b, root, "doc_id", "text", False, 8
        )
    incremental.refresh_metadata(spark, root, n_buckets=8)
    return BM25Index(spark, root)


@pytest.mark.parametrize("store", ["idx", "frag_idx"])
def test_local_serving_gate_boundary(spark, request, monkeypatch, store):
    """Both sides of the jobless-serving gate return identical rows:
    with LOCAL_SERVE_POSTINGS at the batch's Σ df the driver reads and
    scores the blocks itself, one posting below it the query runs as a
    Spark job.  Rows are bitwise equal for every method, rounded or
    not, and the decode/decision accumulator totals agree (added on the
    driver on the local side, shipped from tasks on the other)."""
    from eaststorm_searchengine_spark.operators import bm25

    idx = request.getfixturevalue(store)
    qs = [(1, "hash join"), (2, "merge sort join agg"), (3, "the a"),
          (4, "zzznone"), (5, "data window stream")]
    terms = sorted({t for _, q in qs for t in idx._analyze(q)})
    sum_df = sum(idx._term_dfs(terms).values())
    local_reads = []
    real = BM25Index._local_segs
    monkeypatch.setattr(
        BM25Index, "_local_segs",
        lambda self, *a: local_reads.append(a) or real(self, *a),
    )
    sc = spark.sparkContext

    def run(threshold, method, score_round):
        monkeypatch.setattr(bm25, "LOCAL_SERVE_POSTINGS", threshold)
        dec = (sc.accumulator(0), sc.accumulator(0), sc.accumulator(0))
        why = {r: sc.accumulator(0) for r in bm25.DECISION_REASONS}
        n_reads = len(local_reads)
        rows = [
            tuple(r)
            for r in idx.search(
                qs, k=7, method=method, score_round=score_round,
                final_rank="driver", decode_acc=dec, decision_acc=why,
            ).collect()
        ]
        accs = ([a.value for a in dec], {r: a.value for r, a in why.items()})
        return rows, accs, len(local_reads) > n_reads

    for method in bm25.METHODS:
        for score_round in (None, 4):
            rows_d, accs_d, local_d = run(sum_df - 1, method, score_round)
            rows_l, accs_l, local_l = run(sum_df, method, score_round)
            assert not local_d and local_l
            assert rows_l == rows_d and len(rows_l) > 0, (method, score_round)
            assert accs_l == accs_d and accs_l[0][1] > 0, (method, accs_l, accs_d)


# ---- randomized WAND equivalence on synthetic posting lists -------------

def _mk_blocks(postings, avgdl):
    """postings: sorted [(doc, tf, dl)] → block-row DataFrame like the
    segment reader provides."""
    rows = []
    for s in range(0, len(postings), BLOCK):
        chunk = postings[s : s + BLOCK]
        docs = np.array([p[0] for p in chunk], dtype=np.uint64)
        tfs = np.array([p[1] for p in chunk], dtype=np.uint64)
        dls = np.array([p[2] for p in chunk], dtype=np.uint64)
        rows.append(
            {
                "first_doc": int(docs[0]),
                "last_doc": int(docs[-1]),
                "n": len(chunk),
                "max_tf": int(tfs.max()),
                "min_dl": int(dls.min()),
                "docs": codec.delta_encode(docs),
                "tfs": codec.vb_encode(tfs),
                "dls": codec.vb_encode(dls),
            }
        )
    return pd.DataFrame(rows)


def _terms(frames, idfs, avgdl, counters=None):
    """Block frames → fresh _TermPostings handles, after the per-query
    prologue ``score_chunk`` runs before every executor call."""
    terms = [_TermPostings(f, w, avgdl) for f, w in zip(frames, idfs)]
    for t in terms:
        t.begin_query(counters)
    return terms


@given(
    data=st.data(),
    n_terms=st.integers(min_value=1, max_value=5),
    k=st.integers(min_value=1, max_value=20),
)
@settings(max_examples=60, deadline=None)
def test_wand_equals_exhaustive_random(data, n_terms, k):
    term_blocks, idfs = [], []
    all_dls = []
    for t in range(n_terms):
        docs = data.draw(
            st.lists(st.integers(min_value=0, max_value=400), min_size=1,
                     max_size=300, unique=True)
        )
        docs = sorted(docs)
        postings = []
        for d in docs:
            tf = data.draw(st.integers(min_value=1, max_value=9))
            dl = data.draw(st.integers(min_value=5, max_value=200))
            postings.append((d, tf, dl))
            all_dls.append(dl)
        term_blocks.append(postings)
        idfs.append(data.draw(st.floats(min_value=0.01, max_value=8.0)))
    avgdl = sum(all_dls) / len(all_dls)
    frames = [_mk_blocks(p, avgdl) for p in term_blocks]
    d1, s1 = _exhaustive_topk(_terms(frames, idfs, avgdl), k)
    d2, s2 = wand_topk(_terms(frames, idfs, avgdl), k)
    d3, s3 = maxscore_topk(_terms(frames, idfs, avgdl), k)
    assert d1.tolist() == d2.tolist() == d3.tolist()
    # bitwise-identical scores across all three executors
    assert s1.tolist() == s2.tolist() == s3.tolist()


def test_idf_formula():
    assert bm25_idf(1, 1) == math.log(1 + 0.5 / 1.5)
    assert bm25_idf(10, 1000) > bm25_idf(500, 1000)


@pytest.mark.parametrize("final_rank", ["window", "driver"])
def test_live_handle_survives_index_rebuild(spark, tmp_path, final_rank):
    """ADVICE r03 #3: a BM25Index handle caches the segment DataFrames
    (and, on the driver-merge path, an Arrow dataset) on first use;
    rebuilding the index directory under a live handle must not serve
    stale (or deleted-file) results.  The handle stat-checks stats.json
    per search and refreshes itself."""
    root = str(tmp_path / "idx_rebuild")
    docs_a = spark.createDataFrame(
        [(1, "alpha beta"), (2, "alpha gamma")], "doc_id long, text string"
    )
    build_index_fast(spark, docs_a, root)
    idx = BM25Index(spark, root)
    got_a = {
        r.doc_id
        for r in idx.search([(1, "alpha")], k=10, final_rank=final_rank).collect()
    }
    assert got_a == {1, 2}
    # rebuild the SAME directory with a different corpus
    shutil.rmtree(root)
    docs_b = spark.createDataFrame(
        [(7, "alpha delta"), (8, "epsilon zeta")], "doc_id long, text string"
    )
    build_index_fast(spark, docs_b, root)
    got_b = {
        r.doc_id
        for r in idx.search([(1, "alpha")], k=10, final_rank=final_rank).collect()
    }
    assert got_b == {7}, f"stale handle: {got_b}"


def test_auto_method_matches_both_executors(idx):
    """method="auto" (per-query cost-based executor choice) must return
    exactly what the fixed executors return, on queries that exercise
    both branches (dense-only → exhaustive; rare+dense → wand)."""
    q = [(1, "join"), (2, "the data"), (3, "hash join merge"), (4, "zzzmissing")]
    out = {}
    for m in ("exhaustive", "wand", "maxscore", "auto"):
        out[m] = [tuple(r) for r in idx.search(q, k=10, score_round=6).collect()] if m == "exhaustive" else [
            tuple(r) for r in idx.search(q, k=10, method=m, score_round=6).collect()
        ]
    assert out["auto"] == out["exhaustive"] == out["wand"] == out["maxscore"]
    assert len(out["auto"]) > 0


def test_auto_method_on_rare_term_corpus(spark, tmp_path):
    """A corpus with a genuinely rare term (df*10 <= n_docs) drives the
    auto heuristic down the WAND branch; results must still equal the
    exhaustive executor."""
    docs = spark.createDataFrame(
        [(i, "common words everywhere " + ("rareterm special" if i == 7 else "filler text"))
         for i in range(200)],
        "doc_id long, text string",
    )
    root = str(tmp_path / "rare_idx")
    build_index_fast(spark, docs, root)
    idx = BM25Index(spark, root)
    q = [(1, "rareterm common"), (2, "filler common")]
    a = [tuple(r) for r in idx.search(q, k=10, method="auto", score_round=6).collect()]
    e = [tuple(r) for r in idx.search(q, k=10, score_round=6).collect()]
    assert a == e and len(a) > 0


def test_decode_counters_and_zipf_determinism(spark):
    """r5 decode instrumentation: exhaustive counts every block as
    decoded; WAND never counts more than total; both executors return
    identical results with counters on.  Also: the Zipf corpus is
    deterministic under repartitioning (seeded per doc_id)."""
    import numpy as np
    import pandas as pd

    from eaststorm_searchengine_spark import corpus as corpus_mod
    from eaststorm_searchengine_spark.operators import codec, wand
    from eaststorm_searchengine_spark.operators.bm25 import _exhaustive_topk

    rng = np.random.RandomState(3)
    docs = np.sort(rng.choice(5000, size=1200, replace=False)).astype(np.int64)
    tfs = rng.randint(1, 9, size=1200).astype(np.int64)
    dls = rng.randint(20, 200, size=1200).astype(np.int64)
    rows = []
    for s in range(0, len(docs), 128):
        e = min(s + 128, len(docs))
        rows.append({
            "first_doc": int(docs[s]), "last_doc": int(docs[e - 1]), "n": e - s,
            "max_tf": int(tfs[s:e].max()), "min_dl": int(dls[s:e].min()),
            "docs": codec.delta_encode(docs[s:e].astype(np.uint64)),
            "tfs": codec.vb_encode(tfs[s:e].astype(np.uint64)),
            "dls": codec.vb_encode(dls[s:e].astype(np.uint64)),
        })
    blocks = pd.DataFrame(rows)
    rare = blocks.iloc[:1].copy()
    cw, ce = {}, {}
    dw = wand.wand_topk(_terms([blocks, rare], [0.5, 6.0], 100.0, cw), 5, cw)
    de = _exhaustive_topk(_terms([blocks, rare], [0.5, 6.0], 100.0, ce), 5, ce)
    assert ce["blocks_decoded"] == ce["blocks_total"] == len(blocks) + 1
    assert cw["blocks_total"] == len(blocks) + 1
    assert 0 < cw["blocks_decoded"] <= cw["blocks_total"]
    assert [int(d) for d in dw[0]] == [int(d) for d in de[0]]

    a = sorted(corpus_mod.synthesize_zipf_docs(spark, 200).collect())
    b = sorted(corpus_mod.synthesize_zipf_docs(spark, 200).repartition(7).collect())
    assert a == b and len(a) == 200


def test_maxscore_skips_nonessential_blocks():
    """r7 MaxScore: with a high-idf rare anchor and a low-idf dense
    term, the dense term is non-essential — only its fence-hit blocks
    decode (candidate waves come from the anchor), and results stay
    bitwise equal to exhaustive."""
    import numpy as np
    import pandas as pd

    from eaststorm_searchengine_spark.operators import codec
    from eaststorm_searchengine_spark.operators.bm25 import _exhaustive_topk
    from eaststorm_searchengine_spark.operators.maxscore import maxscore_topk

    rng = np.random.RandomState(11)
    docs = np.sort(rng.choice(50_000, size=5000, replace=False)).astype(np.int64)
    tfs = rng.randint(1, 9, size=5000).astype(np.int64)
    dls = rng.randint(20, 200, size=5000).astype(np.int64)
    rows = []
    for s in range(0, len(docs), 128):
        e = min(s + 128, len(docs))
        rows.append({
            "first_doc": int(docs[s]), "last_doc": int(docs[e - 1]), "n": e - s,
            "max_tf": int(tfs[s:e].max()), "min_dl": int(dls[s:e].min()),
            "docs": codec.delta_encode(docs[s:e].astype(np.uint64)),
            "tfs": codec.vb_encode(tfs[s:e].astype(np.uint64)),
            "dls": codec.vb_encode(dls[s:e].astype(np.uint64)),
        })
    dense = pd.DataFrame(rows)
    rare = dense.iloc[:1].copy()  # 128 postings clustered in one range
    cm, ce = {}, {}
    dm = maxscore_topk(_terms([dense, rare], [0.3, 7.0], 100.0, cm), 10, cm)
    de = _exhaustive_topk(_terms([dense, rare], [0.3, 7.0], 100.0, ce), 10, ce)
    assert dm[0].tolist() == de[0].tolist()
    assert dm[1].tolist() == de[1].tolist()  # bitwise scores
    assert ce["blocks_decoded"] == ce["blocks_total"]
    assert cm["blocks_total"] == ce["blocks_total"]
    # candidates live in one doc range -> nearly all dense blocks skipped
    assert cm["blocks_decoded"] < cm["blocks_total"] // 4


def test_wand_decision_reasons():
    """r6: the auto cost model exposes WHY it rejected WAND, one label
    per DECISION_REASONS — the decision accumulators report these."""
    import pandas as pd

    from eaststorm_searchengine_spark.operators.bm25 import (
        DECISION_REASONS,
        _wand_decision,
    )

    def blocks(df, ns):
        return pd.DataFrame({"df": [df] * len(ns), "n": ns})

    dense = blocks(90_000, [128] * 50)
    n_docs = 100_000
    cases = {
        "wand": {"a": dense, "b": blocks(200, [15])},
        "anchor_thin": {"a": dense, "b": blocks(200, [3])},
        "no_selective": {"a": dense, "b": blocks(50_000, [128] * 30)},
        "single_term": {"a": dense},
        # r8 span-aware routing: dense everywhere, but mean chunk-local
        # run (2 × 76,800 postings) crosses DENSE_LONG_RUN_POSTINGS
        "dense_long_run": {
            "a": blocks(90_000, [128] * 600),
            "b": blocks(80_000, [128] * 600),
        },
    }
    def decide(tcb):
        dfs = {t: int(g["df"].iloc[0]) for t, g in tcb.items()}
        return _wand_decision(tcb, 10, n_docs, dfs)

    for want, tcb in cases.items():
        assert decide(tcb) == want
    assert set(cases) == set(DECISION_REASONS)
    # ADVICE r8: the threshold is term-count-aware — a 5-term dense
    # query at ~48k mean runs (measured regression region for wide
    # queries) stays exhaustive; the same runs with 2 terms route to
    # maxscore; 5 terms crossing 2^16 route too.
    run48k = blocks(90_000, [128] * 375)  # 48,000 postings per term
    wide48k = {t: run48k for t in "abcde"}
    assert decide(wide48k) == "no_selective"
    assert decide({"a": run48k, "b": run48k}) == "dense_long_run"
    run72k = blocks(90_000, [128] * 563)  # 72,064 > 2^16
    assert decide({t: run72k for t in "abcde"}) == "dense_long_run"


def test_decision_accumulators_report_auto_choices(spark, tmp_path):
    """method='auto' with decision_acc records one count per
    (query, chunk) decision, keyed by reason (VERDICT r05 #1)."""
    from eaststorm_searchengine_spark.operators.bm25 import (
        BM25Index,
        DECISION_REASONS,
    )
    from eaststorm_searchengine_spark.operators.index_build import build_index

    docs = spark.createDataFrame(
        [(i, ("rare " if i == 0 else "") + "alpha beta gamma") for i in range(300)],
        "doc_id long, text string",
    )
    out = str(tmp_path / "idx")
    build_index(spark, docs, out)
    idx = BM25Index(spark, out)
    acc = {r: spark.sparkContext.accumulator(0) for r in DECISION_REASONS}
    n_chunks = idx._segs_df.select("chunk").distinct().count()
    rows = idx.search(
        [(1, "rare alpha"), (2, "alpha beta"), (3, "alpha")],
        k=5, method="auto", decision_acc=acc,
    ).collect()
    assert rows
    counts = {r: a.value for r, a in acc.items()}
    # every (query, chunk-with-hits) pair produced exactly one decision
    assert sum(counts.values()) == 3 * n_chunks
    # q3 is single-term; q2 has no selective term (all terms in every
    # doc); q1's "rare" term (df=1) can never anchor a top-5
    assert counts["single_term"] == n_chunks
    assert counts["no_selective"] == n_chunks
    assert counts["anchor_thin"] == n_chunks
    assert counts["wand"] == 0


def test_explain_matches_decision_accumulators(spark, tmp_path):
    """r6: BM25Index.explain() is the driver-side view of the SAME
    cost decisions the scorer makes — its per-reason counts must equal
    the decision accumulators from an actual auto search, including a
    corpus where some chunks genuinely choose WAND."""
    from collections import Counter

    from eaststorm_searchengine_spark.operators.bm25 import (
        BM25Index,
        DECISION_REASONS,
    )
    from eaststorm_searchengine_spark.operators.index_build import build_index

    # 600 docs: "common" everywhere; "niche" in 60 docs spread across
    # the id range (df*10 == n_docs -> selective, and with chunk_bits
    # sized to 2 chunks each chunk holds ~30 niche postings >= k)
    docs = spark.createDataFrame(
        [
            (i, "common filler " + ("niche " if i % 10 == 0 else "") + "words here")
            for i in range(600)
        ],
        "doc_id long, text string",
    )
    out = str(tmp_path / "idx")
    build_index(spark, docs, out)
    idx = BM25Index(spark, out)
    queries = [
        (1, "niche common"),   # wand: selective anchor with df/chunk >= k
        (2, "common words"),   # no_selective: both terms dense
        (3, "common"),         # single_term
        (4, "niche"),          # single_term
    ]
    acc = {r: spark.sparkContext.accumulator(0) for r in DECISION_REASONS}
    idx.search(queries, k=5, method="auto", decision_acc=acc).collect()
    from_acc = {r: a.value for r, a in acc.items()}

    exp = idx.explain(queries, k=5).collect()
    from_explain = Counter(r.decision for r in exp)
    assert {r: from_explain.get(r, 0) for r in DECISION_REASONS} == from_acc
    # the wand rows carry the anchor evidence the rule tested
    wand_rows = [r for r in exp if r.decision == "wand"]
    assert wand_rows and all(
        r.rarest_term == "niche" and r.rarest_chunk_postings >= 5
        for r in wand_rows
    )
    # per-(query, chunk) coverage: every chunk-with-hits appears once
    n_chunks = idx._segs_df.select("chunk").distinct().count()
    assert len(exp) == len(queries) * n_chunks
    assert len({(r.query_id, r.chunk) for r in exp}) == len(exp)
    # empty-analysis query set -> empty frame, stable schema
    assert idx.explain([(9, "???")]).count() == 0


def test_logical_decode_counter_per_query_semantics():
    """r8 (ADVICE r07): ``blocks_logical`` counts what a COLD cache
    would decode per query — invariant to cross-query handle sharing
    (unlike ``blocks_decoded`` = fresh decodes) and deduped when a
    query touches a block via both all_docs and contributions."""
    import numpy as np
    import pandas as pd

    from eaststorm_searchengine_spark.operators import codec
    def blocks_for(docs):
        rows = []
        for s in range(0, len(docs), 128):
            d = np.asarray(docs[s:s + 128], dtype=np.int64)
            rows.append({
                "first_doc": int(d[0]), "last_doc": int(d[-1]), "n": int(d.size),
                "max_tf": 3, "min_dl": 50,
                "docs": codec.delta_encode(d.astype(np.uint64)),
                "tfs": codec.vb_encode(np.ones(d.size, dtype=np.uint64)),
                "dls": codec.vb_encode(np.full(d.size, 100, dtype=np.uint64)),
            })
        return pd.DataFrame(rows)

    a = _TermPostings(blocks_for(list(range(0, 2560, 2))), 2.0, 100.0)  # 10 blocks
    b = _TermPostings(blocks_for(list(range(0, 640, 1))), 5.0, 100.0)   # 5 blocks

    def query(fn, counters):
        for t in (a, b):
            t.begin_query(counters)
        fn([a, b], 10, counters)

    c = {}
    query(_exhaustive_topk, c)
    q1 = dict(c)
    query(_exhaustive_topk, c)
    assert q1["blocks_logical"] == 15  # every block, first query
    # second query on WARM shared handles: logical counts again (cold-
    # cache semantics), fresh does not (cache hit)
    assert c["blocks_logical"] - q1["blocks_logical"] == 15
    assert c["blocks_decoded"] - q1["blocks_decoded"] == 0

    c2 = {}
    query(maxscore_topk, c2)
    # essential terms touch blocks via all_docs AND contributions —
    # tag-dedup keeps logical ≤ total
    assert c2["blocks_logical"] <= c2["blocks_total"]


def test_big_vocab_df_fallback_matches_full_map(spark, tmp_path):
    """When the vocabulary exceeds DRIVER_STATS_CAP the handle resolves
    term→df through a bounded filtered collect with per-term
    memoization (r8).  Results must be identical to the full-map path,
    absent terms must negative-cache, and repeat queries must resolve
    from the memo."""
    root = str(tmp_path / "idx_bigvocab")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta"), (3, "beta delta")],
        "doc_id long, text string",
    )
    build_index_fast(spark, docs, root)
    full = BM25Index(spark, root)
    want = sorted(
        tuple(r) for r in full.search([(1, "alpha beta zzz")], k=10,
                                      score_round=4).collect()
    )
    small = BM25Index(spark, root)
    small.DRIVER_STATS_CAP = 0  # force the big-vocab fallback path
    got1 = sorted(
        tuple(r) for r in small.search([(1, "alpha beta zzz")], k=10,
                                       score_round=4).collect()
    )
    assert got1 == want and len(got1) > 0
    assert small._df_map is False
    # memo holds hits AND the negative entry for the absent term
    assert small._df_cache.get("alpha") and small._df_cache.get("zzz") is None
    # repeat query: fully memo-resolved (no missing terms), same result
    got2 = sorted(
        tuple(r) for r in small.search([(1, "alpha beta zzz")], k=10,
                                       score_round=4).collect()
    )
    assert got2 == want


def test_df_cache_overflow_keeps_current_query_terms(spark, tmp_path):
    """ADVICE r8 (medium): when the memo overflow eviction fires mid-
    query, the CURRENT query's already-cached terms must still resolve
    — the old wipe-before-return dropped them, silently scoring the
    query without its indexed terms.  Repro: cap small enough that a
    3-term query overflows after 2 terms were cached by an earlier
    query; all three must resolve and results must match the full map."""
    root = str(tmp_path / "idx_cache_evict")
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta"), (3, "beta gamma delta")],
        "doc_id long, text string",
    )
    build_index_fast(spark, docs, root)
    full = BM25Index(spark, root)
    want = sorted(
        tuple(r)
        for r in full.search([(1, "alpha beta gamma")], k=10,
                             score_round=4).collect()
    )
    small = BM25Index(spark, root)
    small.DRIVER_STATS_CAP = 0  # big-vocab fallback
    small.search([(1, "alpha beta")], k=10).collect()  # caches alpha, beta
    assert set(small._df_cache) >= {"alpha", "beta"}
    small.DRIVER_STATS_CAP = 2  # next query's 3 terms overflow the memo
    got = sorted(
        tuple(r)
        for r in small.search([(1, "alpha beta gamma")], k=10,
                              score_round=4).collect()
    )
    assert got == want and len(got) == 3
    # eviction kept exactly the current query's terms
    assert set(small._df_cache) == {"alpha", "beta", "gamma"}
