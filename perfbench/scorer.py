"""Independent answer check for the benchmark.

``Scorer`` is a pure-Python BM25 top-k over the postings of
``ir_spark.oracle.build_index``, which shares only the frozen tokenizer
with the Spark path.  ``oracle.search`` is not used: its
``Index.avg_doc_len`` re-sums all docinfo for every posting scored, so
one query costs O(postings x docs).  Here the average document length
is computed once per corpus state.

``check_topk`` compares one engine answer with the scorer's and returns
a list of problems (empty when the answer is right).
"""

from __future__ import annotations

import math
from collections import Counter

from ir_spark.oracle import build_index
from ir_spark.text import STOPWORDS, tokenize

SCORE_TOL = 1e-9


def query_bag(query: str) -> dict[str, int]:
    """The query's bag of words: tokenizer + stopword filter."""
    return dict(Counter(t for t in tokenize(query) if t not in STOPWORDS))


class Scorer:
    """BM25 (k1=1.2, b=0.75, Lucene idf) over an in-memory corpus that
    only grows: ``add`` takes (doc_id, url, text) rows with doc ids above
    every id added before."""

    def __init__(self, k1: float = 1.2, b: float = 0.75):
        self.k1, self.b = k1, b
        self.postings: dict[str, list[tuple[int, int]]] = {}
        self.doc_len: dict[int, int] = {}
        self.url_of: dict[int, str] = {}
        self._len_sum = 0

    def add(self, docs: list[tuple[int, str, str]]) -> None:
        if docs and self.doc_len and min(d for d, _, _ in docs) <= max(self.doc_len):
            raise ValueError("doc ids must grow")
        idx = build_index([(d, text) for d, _, text in docs])
        for term, plist in idx.postings.items():
            self.postings.setdefault(term, []).extend(plist)
        for d, (dl, _max_tf) in idx.docinfo.items():
            self.doc_len[d] = dl
            self._len_sum += dl
        self.url_of.update((d, url) for d, url, _ in docs)

    @property
    def n_docs(self) -> int:
        return len(self.doc_len)

    @property
    def n_postings(self) -> int:
        return sum(len(p) for p in self.postings.values())

    def runs_touched(self, query: str, range_width: int) -> int:
        """(term, run) pairs with postings for the query's terms: the
        segment rows one query reads from a freshly built index."""
        return sum(len({d // range_width for d, _ in self.postings.get(t, ())})
                   for t in query_bag(query))

    def scores(self, query: str) -> dict[int, float]:
        n = self.n_docs
        if n == 0:
            return {}
        avg = self._len_sum / n
        k1, b = self.k1, self.b
        acc: dict[int, float] = {}
        for term, qtf in sorted(query_bag(query).items()):
            plist = self.postings.get(term)
            if not plist:
                continue
            df = len(plist)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for d, tf in plist:
                w = idf * tf * (k1 + 1.0) / (
                    tf + k1 * (1.0 - b + b * self.doc_len[d] / avg))
                acc[d] = acc.get(d, 0.0) + w * qtf
        return acc

    def topk(self, query: str, k: int) -> list[tuple[int, float]]:
        """Top-k as (doc_id, score), score desc then doc_id asc, plus
        every further doc whose score lies within SCORE_TOL of the k-th
        (a near-tie at the cut may fall either way in the engine)."""
        ranked = sorted(self.scores(query).items(), key=lambda kv: (-kv[1], kv[0]))
        if len(ranked) <= k:
            return ranked
        cut = ranked[k - 1][1]
        extra = k
        while extra < len(ranked) and cut - ranked[extra][1] <= SCORE_TOL:
            extra += 1
        return ranked[:extra]


def check_topk(answer: list[tuple[int, float]], ref: list[tuple[int, float]],
               k: int, url_of: dict[int, str]) -> list[str]:
    """Problems with one engine answer (empty list = correct).

    ``answer`` is the engine's ranked (doc_id, score) list; ``ref`` is
    ``Scorer.topk``.  Checked: the length; scores non-increasing with
    exact ties ordered by ascending doc_id; each rank's score within
    SCORE_TOL of the scorer's score at that rank; each rank's url one of
    the scorer's urls whose score is within SCORE_TOL of it (so only
    near-ties may trade places); no url twice."""
    problems = []
    want = min(k, len(ref))
    if len(answer) != want:
        problems.append(f"{len(answer)} results, expected {want}")
    for i in range(1, len(answer)):
        (d0, s0), (d1, s1) = answer[i - 1], answer[i]
        if s1 > s0 or (s1 == s0 and d1 < d0):
            problems.append(f"rank {i + 1} out of order")
    seen = set()
    for i, (d, s) in enumerate(answer[:want]):
        url = url_of.get(d)
        if url is None:
            problems.append(f"rank {i + 1}: unknown doc_id {d}")
            continue
        if url in seen:
            problems.append(f"rank {i + 1}: {url} repeated")
        seen.add(url)
        if abs(s - ref[i][1]) > SCORE_TOL:
            problems.append(f"rank {i + 1}: score {s!r} != {ref[i][1]!r}")
        ok_urls = {url_of[rd] for rd, rs in ref if abs(rs - s) <= SCORE_TOL}
        if url not in ok_urls:
            problems.append(f"rank {i + 1}: {url} not in the reference top-{k}")
    return problems


def same_answer(a: list[tuple[int, float]], b: list[tuple[int, float]]) -> bool:
    """Two engine paths gave the same ranked answer."""
    return (len(a) == len(b)
            and all(da == db and abs(sa - sb) <= SCORE_TOL
                    for (da, sa), (db, sb) in zip(a, b)))
