"""Vectorized block-max MaxScore top-k — the selective-query executor.

Algorithm per Turtle & Flood, "Query evaluation: strategies and
optimizations" (IP&M 1995), with the block-level decode pruning of
Ding & Suel's block-max indexes (SIGIR 2011) — both public literature.
Replaces the reference's exhaustive per-term fold
(``SearchServer.java:117-148``) tail with candidate-restricted scoring.

Why this exists next to :mod:`wand` (r7): after the concat-decode
rewrite the vectorized exhaustive executor beats the interpreted
document-at-a-time WAND loop at every measured shape (its per-pivot
Python cost exceeds the decode work it saves).  MaxScore keeps WAND's
*idea* — docs containing only low-upper-bound terms can never reach the
top-k threshold — but expresses it set-at-a-time, so every step is a
handful of numpy calls over whole posting runs:

* terms are visited in global-upper-bound order; a term whose suffix
  (it + every remaining term) cannot reach the running threshold θ ends
  the loop — the classic MaxScore essential/non-essential split;
* each essential term contributes one candidate WAVE (its postings not
  yet scored); the wave is scored against ALL query terms at once,
  decoding only the blocks whose [first_doc, last_doc] fence contains a
  candidate (one segmented codec call per term per wave, not one per
  block);
* waves merge into the running top-k by (score desc, doc_id asc) — the
  same selection the exhaustive executor's lexsort applies globally.

Determinism contract (tested): bitwise-identical results to the
exhaustive executor.  Per-doc scores accumulate term-at-a-time in
sorted-term order (identical float addition order); docs never scored
are strictly below θ — the suffix test uses ``<`` on the non-negative
Lucene idf upper bounds inflated by a 1e-12 relative margin, which
dwarfs the few-ulp divergence between the bound's right-to-left
accumulation and a score's left-to-right one, so an unscored doc can
never tie into the boundary.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..functions import sqltok
from . import codec


class _TermPostings:
    """One term's block rows + lazy block-subset decode with caching."""

    def __init__(self, blocks: pd.DataFrame, idf: float, avgdl: float):
        self.idf = idf
        self.avgdl = avgdl
        # block rows MUST be ordered by first_doc: the searchsorted
        # fence tests and the sorted wave merge both assume it.  The
        # engine's callers (bm25.score_chunk) pre-sort, but a direct
        # caller handing raw parquet group order would get silently
        # wrong top-k — sort here (idempotent, cheap vs decode).
        fd = blocks["first_doc"].to_numpy(dtype=np.int64)
        if fd.size > 1 and (fd[1:] < fd[:-1]).any():
            blocks = blocks.sort_values("first_doc", kind="stable")
        self.first = blocks["first_doc"].to_numpy(dtype=np.int64)
        self.last = blocks["last_doc"].to_numpy(dtype=np.int64)
        self.n = blocks["n"].to_numpy(dtype=np.int64)
        self.docs_b = blocks["docs"].tolist()
        self.tfs_b = blocks["tfs"].tolist()
        self.dls_b = blocks["dls"].tolist()
        max_tf = blocks["max_tf"].to_numpy(dtype=np.float64)
        min_dl = blocks["min_dl"].to_numpy(dtype=np.float64)
        ubs = idf * (max_tf * (sqltok.K1 + 1.0)) / (
            max_tf + sqltok.K1 * (1.0 - sqltok.B + sqltok.B * min_dl / avgdl)
        )
        # per-block upper bounds kept for the interval-WAND executor
        # (wand.py r10): its skip test sums the live blocks' ubs per
        # fence interval instead of using one global bound per term
        self.block_ubs = ubs
        self.global_ub = float(ubs.max()) if len(blocks) else 0.0
        self._decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._all = np.arange(len(self.n))
        # per-query request tags: blocks_logical counts each block at
        # most once per (query, term) even when a query touches it via
        # both full() and contributions() (essential terms do) — the
        # cold-cache-per-query semantics the metric claims
        self._req_tag = np.full(len(blocks), -1, dtype=np.int64)
        self._qtag = 0

    def begin_query(self, counters: dict | None) -> None:
        """Mark a new query against this (possibly shared) handle —
        resets the per-query logical-decode accounting and adds the
        term's blocks to ``blocks_total``.  The one per-query prologue:
        ``bm25.score_chunk`` calls it before every executor call."""
        self._qtag += 1
        if counters is not None:
            counters["blocks_total"] = counters.get("blocks_total", 0) + len(self.n)

    def _take(
        self, idxs: np.ndarray, counters: dict | None
    ) -> tuple[np.ndarray, np.ndarray]:
        """(docs, tfn) concatenated over the ascending block indices
        ``idxs``, decoding only blocks not cached yet.  ``counters``
        records fresh decodes (``blocks_decoded``) and what a cold
        cache would decode for THIS query (``blocks_logical``, tag-
        deduped per query) — the skip-rate numerator comparable across
        batch sizes (ADVICE r07).  Values are bitwise-stable regardless
        of which earlier call decoded which blocks (tfn is elementwise)."""
        ids = idxs.tolist()
        new = [i for i in ids if i not in self._decoded]
        if counters is not None:
            counters["blocks_decoded"] = counters.get("blocks_decoded", 0) + len(new)
            first = self._req_tag[idxs] != self._qtag
            counters["blocks_logical"] = (
                counters.get("blocks_logical", 0) + int(first.sum())
            )
            self._req_tag[idxs[first]] = self._qtag
        if new:
            d = codec.delta_decode_concat(
                [self.docs_b[i] for i in new], self.n[new]
            ).astype(np.int64)
            tf = codec.vb_decode_concat([self.tfs_b[i] for i in new]).astype(np.float64)
            dl = codec.vb_decode_concat([self.dls_b[i] for i in new]).astype(np.float64)
            tfn = (tf * (sqltok.K1 + 1.0)) / (
                tf + sqltok.K1 * (1.0 - sqltok.B + sqltok.B * dl / self.avgdl)
            )
            off = 0
            for i in new:
                c = int(self.n[i])
                self._decoded[i] = (d[off:off + c], tfn[off:off + c])
                off += c
        if not ids:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        return (
            np.concatenate([self._decoded[i][0] for i in ids]),
            np.concatenate([self._decoded[i][1] for i in ids]),
        )

    def full(self, counters: dict | None) -> tuple[np.ndarray, np.ndarray]:
        """(docs, tfn) over every posting, docs ascending."""
        return self._take(self._all, counters)

    def contributions(
        self, cand: np.ndarray, counters: dict | None
    ) -> tuple[np.ndarray, np.ndarray]:
        """(positions-into-cand, idf·tfn) for the candidate docs this
        term contains, decoding only fence-hit blocks."""
        if cand.size == 0 or not len(self.n):
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        i0 = np.searchsorted(cand, self.first, side="left")
        hit = (i0 < cand.size) & (cand[np.minimum(i0, cand.size - 1)] <= self.last)
        idxs = np.flatnonzero(hit)
        if idxs.size == 0:
            return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
        d, tfn = self._take(idxs, counters)
        pos = np.searchsorted(cand, d)
        m = (pos < cand.size) & (cand[np.minimum(pos, cand.size - 1)] == d)
        return pos[m], self.idf * tfn[m]


def maxscore_topk(
    terms: list[_TermPostings], k: int, counters: dict | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Block-max MaxScore over one doc-range chunk → (docs, scores)
    sorted by (score desc, doc asc), at most k entries; bitwise equal
    to ``_exhaustive_topk`` / ``wand_topk`` (equality pytest-gated).
    ``counters`` accumulates ``blocks_decoded`` / ``blocks_logical``."""
    by_ub = sorted(range(len(terms)), key=lambda i: -terms[i].global_ub)
    suffix_ub = np.zeros(len(terms) + 1)
    for pos in range(len(terms) - 1, -1, -1):
        suffix_ub[pos] = suffix_ub[pos + 1] + terms[by_ub[pos]].global_ub

    scored = np.empty(0, dtype=np.int64)  # every doc scored so far (sorted)
    top_docs = np.empty(0, dtype=np.int64)
    top_scores = np.empty(0, dtype=np.float64)
    theta = -np.inf

    for pos, ti in enumerate(by_ub):
        # cut: every unscored doc's score ≤ Σ remaining ubs (all ubs
        # non-negative — Lucene idf); strictly below θ means it cannot
        # even tie into the (score desc, doc asc) boundary.  The bound
        # must be FLOAT-sound (code-review r7): suffix_ub accumulates
        # right-to-left in upper-bound order while wave scores
        # accumulate left-to-right in sorted-term order, so a doc
        # attaining every block upper bound can exceed the raw float
        # suffix sum by a few ulps — inflate by 1e-12 relative
        # (≫ n_terms·ε ≈ 2e-15) before the strict '<'
        if top_docs.size >= k and suffix_ub[pos] * (1.0 + 1e-12) < theta:
            break
        wave = terms[ti].full(counters)[0]
        if scored.size and wave.size:
            # both sorted + unique: sorted membership instead of
            # np.isin's internal re-sort
            ins = np.searchsorted(scored, wave)
            dup = (ins < scored.size) & (
                scored[np.minimum(ins, scored.size - 1)] == wave
            )
            wave = wave[~dup]
            ins = ins[~dup]
        else:
            ins = np.zeros(wave.size, dtype=np.int64)
        if wave.size == 0:
            continue
        # score the wave against ALL terms, sorted-term order — the
        # identical float accumulation order the exhaustive executor's
        # term-at-a-time np.add.at applies
        wscores = np.zeros(wave.size, dtype=np.float64)
        for t in terms:
            p, contrib = t.contributions(wave, counters)
            wscores[p] += contrib
        # O(S+W) sorted merge of the scored-doc set (was a full re-sort)
        merged = np.empty(scored.size + wave.size, dtype=np.int64)
        at = ins + np.arange(wave.size)
        mask = np.zeros(merged.size, dtype=bool)
        mask[at] = True
        merged[mask] = wave
        merged[~mask] = scored
        scored = merged
        top_docs = np.concatenate([top_docs, wave])
        top_scores = np.concatenate([top_scores, wscores])
        sel = np.lexsort((top_docs, -top_scores))[:k]
        top_docs, top_scores = top_docs[sel], top_scores[sel]
        if top_docs.size >= k:
            theta = float(top_scores.min())

    order = np.lexsort((top_docs, -top_scores))
    return top_docs[order], top_scores[order]
