"""Tests for the executable spec (ir_spark/oracle.py) — SURVEY §5.2.2/3."""

import math

from ir_spark.fixtures import EDGE_QUERIES, REFERENCE_QUERIES, generate_pages
from ir_spark.oracle import (
    bm25_weight,
    build_index,
    doc_norms,
    max_tf_weight,
    okapi_weight,
    parse_query,
    search,
)
from ir_spark.text import STOPWORDS, tokenize


def _corpus(n=300, seed=42):
    pages = generate_pages(n, seed=seed)
    return [(i, p.text) for i, p in enumerate(pages)]


class TestBuildInvariants:
    def test_invariants(self):
        docs = _corpus()
        idx = build_index(docs)
        assert idx.n_docs == len(docs)
        for term, plist in idx.postings.items():
            assert term not in STOPWORDS
            # postings strictly increasing in doc_id
            ids = [d for d, _ in plist]
            assert ids == sorted(set(ids))
            assert idx.df(term) == len(plist)
        # doc_len counts ALL tokens (D2); postings exclude stopwords
        for doc_id, text in docs:
            toks = tokenize(text)
            dl, max_tf = idx.docinfo[doc_id]
            assert dl == len(toks)
            indexed = sum(
                tf for plist in idx.postings.values() for d, tf in plist if d == doc_id
            )
            assert indexed == sum(1 for t in toks if t not in STOPWORDS)
            if indexed:
                assert max_tf == max(
                    tf for plist in idx.postings.values() for d, tf in plist if d == doc_id
                )


class TestWeights:
    # hand-computed values incl. integer-division idf edge cases (D5)
    def test_w1_hand_value(self):
        # tf=2, max_tf=4, df=10, N=100 -> (0.4+0.6*ln2.5/ln5) * ln(10)/ln(100)
        expect = (0.4 + 0.6 * math.log(2.5) / math.log(5.0)) * math.log(10) / math.log(100)
        assert abs(max_tf_weight(2, 4, 10, 100) - expect) < 1e-12

    def test_w1_integer_division_idf_zero(self):
        # df > N/2 -> N//df == 1 -> ln(1) == 0 (quirk D5)
        assert max_tf_weight(3, 5, 51, 100) == 0.0
        assert max_tf_weight(3, 5, 50, 100) > 0.0  # 100//50 == 2

    def test_w1_zero_guards(self):
        assert max_tf_weight(0, 4, 10, 100) == 0.0
        assert max_tf_weight(2, 0, 10, 100) == 0.0
        assert max_tf_weight(2, 4, 0, 100) == 0.0

    def test_w2_hand_value(self):
        # tf=3, docLen=120, df=10, N=100, avg=100
        expect = 0.4 + 0.6 * (3 / (3 + 0.5 + 1.5 * 1.2)) * math.log(10) / math.log(100)
        assert abs(okapi_weight(3, 120, 10, 100, 100.0) - expect) < 1e-12

    def test_bm25_monotone_in_tf(self):
        w1 = bm25_weight(1, 100, 10, 1000, 100.0)
        w2 = bm25_weight(5, 100, 10, 1000, 100.0)
        assert 0 < w1 < w2

    def test_bm25_idf_positive_even_for_common_terms(self):
        assert bm25_weight(1, 100, 999, 1000, 100.0) > 0.0


class TestSearch:
    def test_all_stopword_query_empty(self):
        idx = build_index(_corpus(50))
        assert parse_query("the of and in") == {}
        assert search(idx, "the of and in") == []

    def test_unseen_terms_skipped(self):
        idx = build_index(_corpus(50))
        assert search(idx, "zzqqxx flibbertigibbet") == []

    def test_deterministic_tie_break(self):
        # two identical docs must rank by doc_id ascending (D8)
        idx = build_index([(7, "shock wave theory"), (3, "shock wave theory")])
        res = search(idx, "shock wave", k=2, mode="bm25")
        assert [d for d, _ in res] == [3, 7]
        assert abs(res[0][1] - res[1][1]) < 1e-12

    def test_modes_run_on_reference_queries(self):
        idx = build_index(_corpus(300))
        for q in REFERENCE_QUERIES + EDGE_QUERIES:
            for mode in ("w1", "w2", "bm25"):
                res = search(idx, q, k=5, mode=mode)
                assert len(res) <= 5
                scores = [s for _, s in res]
                assert scores == sorted(scores, reverse=True)

    def test_norms_idempotent(self):
        # D4: norms must not depend on how many times they're computed
        idx = build_index(_corpus(50))
        n1 = doc_norms(idx, "w1")
        n2 = doc_norms(idx, "w1")
        assert n1 == n2


def _search_per_posting_avg(idx, query, mode, norms):
    """The scorer as it was before avg_doc_len was hoisted: every
    posting re-evaluates ``Index.avg_doc_len`` (via ``_doc_weight``
    without ``avg_dl``).  ``norms`` are that scorer's doc norms."""
    from ir_spark.oracle import _doc_weight

    q = parse_query(query)
    if not q:
        return []
    max_tf_q = max(q.values())
    scores: dict[int, float] = {}
    q_len_sq = 0.0
    for term in sorted(q):
        w_tq = (float(q[term]) if mode == "bm25" else
                max_tf_weight(q[term], max_tf_q, idx.df(term), idx.n_docs))
        q_len_sq += w_tq * w_tq
        for doc_id, tf in idx.postings.get(term, ()):
            w_td = _doc_weight(idx, mode, term, doc_id, tf, 1.2, 0.75)
            scores[doc_id] = scores.get(doc_id, 0.0) + w_td * w_tq
    if norms is not None:
        q_len = math.sqrt(q_len_sq)
        scores = {d: (s / norms[d] / q_len if norms[d] > 0 and q_len > 0
                      else 0.0) for d, s in scores.items()}
    return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:5]


def _norms_per_posting_avg(idx, mode):
    from ir_spark.oracle import _doc_weight

    sq: dict[int, float] = {}
    for term in sorted(idx.postings):
        for doc_id, tf in idx.postings[term]:
            w = _doc_weight(idx, mode, term, doc_id, tf, 1.2, 0.75)
            sq[doc_id] = sq.get(doc_id, 0.0) + w * w
    return {d: math.sqrt(v) for d, v in sq.items()}


class TestAvgDocLenOnce:
    """``Index.avg_doc_len`` sums all docinfo; ``search`` evaluates it
    once per call instead of once per posting scored, with bit-identical
    results."""

    def test_one_evaluation_per_search(self, oracle_index, monkeypatch):
        from ir_spark.oracle import Index

        calls = []
        real = Index.avg_doc_len.fget
        monkeypatch.setattr(Index, "avg_doc_len", property(
            lambda self: calls.append(1) or real(self)))
        for mode in ("w1", "w2", "bm25"):
            for q in REFERENCE_QUERIES:
                calls.clear()
                search(oracle_index, q, k=5, mode=mode)
                assert len(calls) <= 1, (mode, q, len(calls))

    def test_bit_identical_to_per_posting_scorer(self, oracle_index):
        for mode in ("w1", "w2", "bm25"):
            norms = (None if mode == "bm25"
                     else _norms_per_posting_avg(oracle_index, mode))
            if norms is not None:
                assert doc_norms(oracle_index, mode) == norms
            for q in REFERENCE_QUERIES + EDGE_QUERIES:
                assert search(oracle_index, q, k=5, mode=mode) == \
                    _search_per_posting_avg(oracle_index, q, mode, norms), \
                    (mode, q)
