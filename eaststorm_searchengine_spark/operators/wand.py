"""Vectorized block-max WAND top-k — interval-at-a-time skipping.

Algorithm per Broder et al., "Efficient query evaluation using a
two-level retrieval process" (CIKM 2003) and Ding & Suel, "Faster
top-k document retrieval using block-max indexes" (SIGIR 2011), both
public literature.  Operates on the block rows produced by
``index_build`` (128-posting blocks with ``max_tf``/``min_dl`` metadata
and ``first_doc``/``last_doc`` fences).

r10 rewrite: the per-posting document-at-a-time Python loop (cursor
pivoting with per-pivot sort/heap steps) measured ~10× the vectorized
executors at serving scale — its interpreter cost per posting exceeded
the decode work the skipping saved (27.6 s for the 12-query batch at
the sf1.0 serving index vs 3.0 s through auto).  This version keeps
WAND's defining property — *whole blocks are skipped without decoding
via block-max upper bounds* — but evaluates interval-at-a-time:

* the union of all terms' block fences partitions the chunk's doc
  space into intervals within which the set of live blocks (and hence
  the summed block-max upper bound) is constant;
* intervals are visited in DESCENDING upper-bound order in
  exponentially growing waves, so the running threshold θ tightens as
  fast as possible;
* once the top-k is full, every remaining interval whose summed live
  upper bounds cannot beat θ is dropped wholesale — its blocks are
  never decoded (the same decode-avoidance evidence the old loop
  recorded, still counted through the shared ``_TermPostings``
  handles);
* surviving intervals are scored vectorized: candidate docs are the
  union of the live blocks' postings inside the intervals, and every
  query term contributes via the fence-pruned segmented decode.

Determinism contract (tested, unchanged): bitwise-identical results to
the exhaustive executor — per-doc scores accumulate term-at-a-time in
sorted-term order (identical float addition order), and the skip test
inflates the float upper bound by 1e-12 relative and requires it
*strictly below* θ, so a doc that could tie into the (score desc,
doc_id asc) boundary is always scored (same float-soundness argument
as maxscore.py).
"""

from __future__ import annotations

import numpy as np

from .maxscore import _TermPostings

# terms with at most this many blocks in the chunk are decoded up front
# and fence the interval lattice at their actual posting positions (the
# selective-anchor case: block-span bounds would otherwise cover the
# whole chunk and defeat interval pruning)
POINT_TERM_MAX_BLOCKS = 2


def wand_topk(
    terms: list[_TermPostings], k: int, counters: dict | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Interval block-max WAND over one doc-range chunk → (docs,
    scores) sorted by (score desc, doc asc), at most k entries;
    bitwise equal to ``_exhaustive_topk`` / ``maxscore_topk`` (equality
    pytest-gated).  ``counters`` (optional dict) accumulates
    ``blocks_decoded`` / ``blocks_logical`` — the decode-avoidance
    evidence, zero cost when None."""
    terms = [t for t in terms if len(t.n)]
    empty = (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64))
    if not terms:
        return empty

    # sparse terms (a selective anchor has 1-2 blocks per chunk) are
    # decoded UP FRONT — the doc-at-a-time loop always decoded them
    # too — and contribute *point* fences at their actual posting
    # positions with their EXACT contribution as the bound.  Without
    # this a rare term's single block spans the whole chunk and its
    # upper bound poisons every interval (nothing ever prunes); with
    # it, intervals between rare postings carry only the dense terms'
    # bounds — the positional information the cursor pivot used.
    point: dict[int, tuple[np.ndarray, np.ndarray]] = {}  # ti → (docs, idf·tfn)
    for ti, t in enumerate(terms):
        if len(t.n) <= POINT_TERM_MAX_BLOCKS:
            d, tfn = t.full(counters)
            point[ti] = (d, t.idf * tfn)

    # fence intervals: within [starts[m], ends[m]) every span term's
    # live block (the one whose [first_doc, last_doc] covers the
    # interval) is constant, so the summed upper bound is too; point
    # terms are live exactly on [p, p+1) (p a posting — p and p+1 are
    # both boundaries, and integer docs mean no subdivision)
    fence_parts = []
    for ti, t in enumerate(terms):
        if ti in point:
            fence_parts += [point[ti][0], point[ti][0] + 1]
        else:
            fence_parts += [t.first, t.last + 1]
    bounds = np.unique(np.concatenate(fence_parts))
    starts = bounds[:-1]
    ends = bounds[1:]
    total_ub = np.zeros(starts.size, dtype=np.float64)
    has_live = np.zeros(starts.size, dtype=bool)
    for ti, t in enumerate(terms):
        if ti in point:
            p, contrib = point[ti]
            pos = np.searchsorted(p, starts, side="left")
            safe = np.minimum(pos, p.size - 1)
            live = (pos < p.size) & (p[safe] == starts)
            total_ub[live] += contrib[safe][live]
        else:
            bi = np.searchsorted(t.last, starts, side="left")
            safe = np.minimum(bi, t.first.size - 1)
            live = (bi < t.last.size) & (t.first[safe] <= starts)
            total_ub[live] += t.block_ubs[safe][live]
        has_live |= live
    starts, ends, total_ub = starts[has_live], ends[has_live], total_ub[has_live]
    if starts.size == 0:
        return empty

    order = np.argsort(-total_ub, kind="stable")  # highest-UB first
    top_docs = np.empty(0, dtype=np.int64)
    top_scores = np.empty(0, dtype=np.float64)
    theta = -np.inf
    i = 0
    wave = 8
    while i < order.size:
        if top_docs.size >= k:
            # drop every remaining interval that provably cannot beat θ
            # (strict < on the 1e-12-inflated bound: ties must score)
            rest = order[i:]
            rest = rest[total_ub[rest] * (1.0 + 1e-12) >= theta]
            order = np.concatenate([order[:i], rest])
            if i >= order.size:
                break
        take = np.sort(order[i : i + wave])  # doc-ascending within the wave
        i += take.size
        wave *= 4
        s_sel = starts[take]
        e_sel = ends[take]
        # candidates: union of live blocks' postings inside the wave's
        # intervals — only those blocks decode
        cand_parts = []
        for t in terms:
            bi = np.searchsorted(t.last, s_sel, side="left")
            safe = np.minimum(bi, t.first.size - 1)
            live = (bi < t.last.size) & (t.first[safe] <= s_sel)
            idxs = np.unique(bi[live])
            if idxs.size == 0:
                continue
            d = t._take(idxs, counters)[0]
            pos = np.searchsorted(s_sel, d, side="right") - 1
            inside = (pos >= 0) & (d < e_sel[np.maximum(pos, 0)])
            cand_parts.append(d[inside])
        if not cand_parts:
            continue
        cand = np.unique(np.concatenate(cand_parts))
        if cand.size == 0:
            continue
        # score the wave against ALL terms in sorted-term order — the
        # identical float accumulation order the exhaustive executor's
        # term-at-a-time np.add.at applies
        wscores = np.zeros(cand.size, dtype=np.float64)
        for t in terms:
            p, contrib = t.contributions(cand, counters)
            wscores[p] += contrib
        # intervals are disjoint and visited once: no cross-wave dedup
        top_docs = np.concatenate([top_docs, cand])
        top_scores = np.concatenate([top_scores, wscores])
        sel = np.lexsort((top_docs, -top_scores))[:k]
        top_docs, top_scores = top_docs[sel], top_scores[sel]
        if top_docs.size >= k:
            theta = float(top_scores.min())

    order_out = np.lexsort((top_docs, -top_scores))
    return top_docs[order_out], top_scores[order_out]
