"""Single-process executable spec of the reference engine (SURVEY §7.1.2).

Pure Python + stdlib. Reproduces, deterministically and idempotently,
what the reference computes (with quirk decisions D2-D8 applied):

- SPIMI inverted index: term -> {df, postings [(doc_id, tf)] sorted by
  doc_id}  (reference index/SPIMI.java:111-117,
  pyindex/inverted_index.py:21-49).
- doc stats: doc_len = count of post-tokenize, pre-stopword tokens (D2,
  pyindex/inverted_index.py:30-36); max_tf = true per-doc max tf (D3).
- W1 maxTf weighting and W2 Okapi-variant weighting with the reference's
  integer-division idf kept deliberately (D5,
  search/QueryParser.java:78-101).
- cosine-normalized vector-space scores, idempotent norms (D4).
- parameterized BM25(k1, b) with the Lucene-style non-negative idf —
  the "BM25" of the north rule.
- deterministic top-k: (score desc, doc_id asc) (D8).

The Spark engine must be rank-identical to this oracle (scores to 1e-9)
on every test query; tests/golden/* are generated from here.
"""

from __future__ import annotations

import math
from collections import Counter
from dataclasses import dataclass, field

from .text import STOPWORDS, tokenize


@dataclass
class Index:
    """In-memory index: the oracle's equivalent of the SPIMI maps."""

    # term -> list[(doc_id, tf)] sorted by doc_id
    postings: dict[str, list[tuple[int, int]]] = field(default_factory=dict)
    # doc_id -> (doc_len, max_tf)
    docinfo: dict[int, tuple[int, int]] = field(default_factory=dict)

    @property
    def n_docs(self) -> int:
        return len(self.docinfo)

    @property
    def avg_doc_len(self) -> float:
        if not self.docinfo:
            return 0.0
        return sum(dl for dl, _ in self.docinfo.values()) / len(self.docinfo)

    def df(self, term: str) -> int:
        return len(self.postings.get(term, ()))


def build_index(docs: list[tuple[int, str]], stem: bool = False) -> Index:
    """SPIMI over (doc_id, text) pairs.

    doc_len counts ALL tokens incl. stopwords (D2); postings exclude
    stopwords (T11); max_tf is the true per-doc max tf over indexed
    terms (D3).
    """
    idx = Index()
    for doc_id, text in docs:
        toks = tokenize(text, stem=stem)
        kept = [t for t in toks if t not in STOPWORDS]
        tfs = Counter(kept)
        idx.docinfo[doc_id] = (len(toks), max(tfs.values()) if tfs else 0)
        for term, tf in tfs.items():
            idx.postings.setdefault(term, []).append((doc_id, tf))
    for plist in idx.postings.values():
        plist.sort()
    return idx


# --- weighting (QueryParser.java:78-101; D5 keeps integer-division idf) ------

def max_tf_weight(tf: int, max_tf: int, df: int, n_docs: int) -> float:
    """W1 (QueryParser.java:78-84)."""
    if tf == 0 or max_tf == 0 or df == 0:
        return 0.0
    idf = math.log(float(n_docs // df)) / math.log(n_docs) if n_docs // df > 0 else float("-inf")
    return (0.4 + 0.6 * math.log(tf + 0.5) / math.log(max_tf + 1.0)) * idf


def okapi_weight(tf: int, doc_len: int, df: int, n_docs: int, avg_doc_len: float) -> float:
    """W2 (QueryParser.java:94-101).  Note: in Java ``docLen/avgDocLen``
    is int/double -> double division, and idf uses int division (D5)."""
    if tf == 0 or doc_len == 0 or df == 0:
        return 0.0
    return 0.4 + 0.6 * (tf / (tf + 0.5 + 1.5 * (doc_len / avg_doc_len))) * (
        math.log(float(n_docs // df)) / math.log(n_docs)
    )


def bm25_idf(df: int, n_docs: int) -> float:
    """Lucene-style BM25 idf: ln(1 + (N - df + 0.5)/(df + 0.5)); always >= 0."""
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_weight(tf: int, doc_len: int, df: int, n_docs: int,
                avg_doc_len: float, k1: float = 1.2, b: float = 0.75) -> float:
    if tf == 0 or df == 0:
        return 0.0
    return bm25_idf(df, n_docs) * tf * (k1 + 1.0) / (
        tf + k1 * (1.0 - b + b * doc_len / avg_doc_len)
    )


def parse_query(text: str, stem: bool = False) -> dict[str, int]:
    """Query bag-of-words through the same tokenizer + stopword filter
    (QueryParser.java:47-68)."""
    return dict(Counter(t for t in tokenize(text, stem=stem) if t not in STOPWORDS))


def _doc_weight(idx: Index, mode: str, term: str, doc_id: int, tf: int,
                k1: float, b: float, avg_dl: float | None = None) -> float:
    """One posting's document weight.  ``Index.avg_doc_len`` sums all
    docinfo, so callers scoring many postings compute it once and pass
    it as ``avg_dl``."""
    df = idx.df(term)
    doc_len, max_tf = idx.docinfo[doc_id]
    if mode == "w1":
        return max_tf_weight(tf, max_tf, df, idx.n_docs)
    if avg_dl is None:
        avg_dl = idx.avg_doc_len
    if mode == "w2":
        return okapi_weight(tf, doc_len, df, idx.n_docs, avg_dl)
    if mode == "bm25":
        return bm25_weight(tf, doc_len, df, idx.n_docs, avg_dl, k1, b)
    raise ValueError(mode)


def doc_norms(idx: Index, mode: str, k1: float = 1.2, b: float = 0.75,
              avg_dl: float | None = None) -> dict[int, float]:
    """Idempotent per-doc L2 norms over ALL index terms (D4; reference
    accumulated these statefully, QueryParser.java:108-133)."""
    if avg_dl is None:
        avg_dl = idx.avg_doc_len
    sq: dict[int, float] = {}
    for term in sorted(idx.postings):
        for doc_id, tf in idx.postings[term]:
            w = _doc_weight(idx, mode, term, doc_id, tf, k1, b, avg_dl)
            sq[doc_id] = sq.get(doc_id, 0.0) + w * w
    return {d: math.sqrt(v) for d, v in sq.items()}


def search(idx: Index, query: str, k: int = 5, mode: str = "bm25",
           k1: float = 1.2, b: float = 0.75, stem: bool = False,
           normalize: bool | None = None) -> list[tuple[int, float]]:
    """Top-k retrieval. OR-semantics: any doc containing >= 1 query term
    is scored (QueryParser.java:159-174). Tie-break (score desc,
    doc_id asc) (D8).

    mode="w1"/"w2": reference vector-space model with cosine
    normalization (query weights always W1 on query-local stats,
    QueryParser.java:141-146).  mode="bm25": plain BM25 sum (no
    normalization) — the north-rule scoring path.
    """
    q = parse_query(query, stem=stem)
    if not q:
        return []
    if normalize is None:
        normalize = mode in ("w1", "w2")

    max_tf_q = max(q.values())
    avg_dl = idx.avg_doc_len
    scores: dict[int, float] = {}
    q_len_sq = 0.0
    for term in sorted(q):
        tf_q = q[term]
        if mode == "bm25":
            w_tq = float(tf_q)
        else:
            w_tq = max_tf_weight(tf_q, max_tf_q, idx.df(term), idx.n_docs)
        q_len_sq += w_tq * w_tq
        for doc_id, tf in idx.postings.get(term, ()):
            w_td = _doc_weight(idx, mode, term, doc_id, tf, k1, b, avg_dl)
            scores[doc_id] = scores.get(doc_id, 0.0) + w_td * w_tq

    if normalize:
        norms = doc_norms(idx, mode, k1, b, avg_dl)
        q_len = math.sqrt(q_len_sq)
        scores = {
            d: (s / norms[d] / q_len if norms[d] > 0 and q_len > 0 else 0.0)
            for d, s in scores.items()
        }

    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]
