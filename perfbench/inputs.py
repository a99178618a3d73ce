"""Seeded inputs.  The same seed gives the same corpus, micro-batch
files, near-duplicate copies and query stream; the engine sees only
these generated inputs.

Two corpus shapes:

* ``pages`` — synthetic web pages (``corpus.page_record``) over a
  documents feedstock shaped like the engine's ``documents.parquet``
  test data: a uniform 30-word vocabulary, 10–100 words a document.  Every term is dense, so
  block-max skipping has nothing to skip.
* ``zipf`` — the engine's ``corpus.synthesize_zipf_docs`` plain text,
  a Zipf(1.5) vocabulary over ``zipf_word`` tokens: selective terms
  exist, so block skipping pays.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# the ``documents.parquet`` test-data vocabulary (uniform, every term dense)
FEED_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
# queries come in blocks of this many, each holding every query shape
BLOCK = 10
# words no generator emits: no-match queries
NO_MATCH = ["zorbex", "wuxtly", "plimbo", "vandrake", "kestrix", "mollusp"]


def feedstock(n: int, seed: int) -> pd.DataFrame:
    """(doc_id, text, lang): uniform-vocabulary documents."""
    rng = np.random.default_rng([seed, 1])
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(FEED_VOCAB), int(lens.sum()))
    texts, off = [], 0
    for ln in lens:
        texts.append(" ".join(FEED_VOCAB[w] for w in words[off:off + ln]))
        off += ln
    langs = [LANGS[i] for i in rng.integers(0, len(LANGS), n)]
    return pd.DataFrame({"doc_id": np.arange(n, dtype=np.int64), "text": texts, "lang": langs})


def pages(feed: pd.DataFrame, seed: int) -> pd.DataFrame:
    """(doc_id, url, html, text, lang) pages over the feedstock, rows in
    a seeded order (ids stay the feedstock's).  ``text`` is the golden
    extraction ``page_record`` returns with each page."""
    from eaststorm_searchengine_spark import corpus

    n = len(feed)
    recs = []
    for did, text, lang in zip(feed["doc_id"], feed["text"], feed["lang"]):
        r = corpus.page_record(int(did), text, lang, n)
        recs.append((int(did), r["url"], r["html"], r["text"], lang))
    df = pd.DataFrame(recs, columns=["doc_id", "url", "html", "text", "lang"])
    order = np.random.default_rng([seed, 2]).permutation(n)
    return df.iloc[order].reset_index(drop=True)


def plant_near_dups(texts: pd.DataFrame, vocab: list[str], seed: int,
                    share: float = 0.1) -> tuple[pd.DataFrame, list[tuple[int, int]]]:
    """Append near-duplicate copies of ``share`` of the documents, each
    with a seeded 2–25 % of its tokens replaced by random vocabulary
    words.  Returns the (doc_id, text) frame with the copies and the
    (original, copy) id pairs."""
    rng = np.random.default_rng([seed, 3])
    n = len(texts)
    src = rng.choice(n, size=max(1, int(n * share)), replace=False)
    next_id = int(texts["doc_id"].max()) + 1
    rows, planted = [], []
    for i in src:
        toks = texts["text"].iloc[i].split(" ")
        frac = rng.uniform(0.02, 0.25)
        for pos in np.flatnonzero(rng.random(len(toks)) < frac):
            toks[pos] = vocab[rng.integers(0, len(vocab))]
        rows.append((next_id, " ".join(toks)))
        planted.append((int(texts["doc_id"].iloc[i]), next_id))
        next_id += 1
    copies = pd.DataFrame(rows, columns=["doc_id", "text"])
    return pd.concat([texts[["doc_id", "text"]], copies], ignore_index=True), planted


def gram_jaccard(a: str, b: str, n: int = 3) -> float:
    """Word n-gram Jaccard in plain Python, with the engine's gram
    definition (split on single spaces; a text of ≤ n words is one
    gram)."""

    def grams(t: str) -> set:
        w = t.split(" ")
        if len(w) <= n:
            return {" ".join(w)}
        return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}

    ga, gb = grams(a), grams(b)
    return len(ga & gb) / len(ga | gb) if ga or gb else 1.0


def queries(kind: str, n: int, seed: int, start_id: int = 1) -> list[tuple[int, str]]:
    """Seeded query stream.  Every block of ``BLOCK`` holds a fixed mix,
    in a seeded order, so a short run sees the same mix on every seed:

    * zipf: 6 anchored (two common terms and one selective), 3
      dense-only (three head terms), 1 no-match;
    * pages: 2 anchored on ``tiny`` (the fallback-page marker, about 3 %
      of pages) plus two vocabulary words, 7 dense-only (1–3 vocabulary
      words), 1 no-match.
    """
    from eaststorm_searchengine_spark.corpus import zipf_word

    rng = np.random.default_rng([seed, 4])
    mix = {"zipf": ["anchored"] * 6 + ["dense"] * 3 + ["none"],
           "pages": ["anchored"] * 2 + ["dense"] * 7 + ["none"]}[kind]
    assert len(mix) == BLOCK
    out = []
    while len(out) < n:
        for shape in rng.permutation(mix):
            if shape == "none":
                q = " ".join(rng.choice(NO_MATCH, size=2, replace=False))
            elif kind == "zipf":
                if shape == "anchored":
                    # the selective term must hold at least k postings in
                    # each 2^11-doc chunk of the 6000-doc corpus and match
                    # under 10 % of it, or auto falls back to a full
                    # decode ("anchor_thin" / "no_selective"): ranks
                    # 60-250 hold about 400-45 postings
                    ranks = [rng.integers(1, 16), rng.integers(16, 60), rng.integers(60, 250)]
                else:
                    ranks = rng.choice(np.arange(1, 9), size=3, replace=False)
                q = " ".join(zipf_word(int(r)) for r in ranks)
            elif shape == "anchored":
                q = "tiny " + " ".join(rng.choice(FEED_VOCAB, size=2, replace=False))
            else:
                q = " ".join(rng.choice(FEED_VOCAB, size=int(rng.integers(1, 4)), replace=False))
            out.append((start_id + len(out), q))
    return out[:n]
