"""Tests of the benchmark's answer check (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ir_spark.oracle import build_index, search  # noqa: E402
from perfbench import inputs  # noqa: E402
from perfbench.scorer import Scorer, check_topk, same_answer  # noqa: E402

K = 10


@pytest.fixture(scope="module")
def corpus():
    pages = inputs.pages(300, seed=3)
    ids = inputs.expected_ids([p.url for p in pages], 0)
    text_of = {p.url: p.text for p in pages}
    docs = [(d, u, text_of[u]) for d, u in sorted(ids.items())]
    scorer = Scorer()
    scorer.add(docs)
    return docs, scorer


@pytest.fixture(scope="module")
def answer(corpus):
    """A right answer with ten results and distinct scores."""
    _docs, scorer = corpus
    for q in inputs.query_stream(200, seed=3):
        ref = scorer.topk(q, K)
        scores = [s for _d, s in ref]
        if len(ref) == K and len(set(scores)) == K:
            return q, ref
    raise AssertionError("no query with ten distinct scores")


def test_scorer_matches_oracle(corpus):
    docs, scorer = corpus
    idx = build_index([(d, text) for d, _u, text in docs])
    for q in inputs.query_stream(30, seed=3):
        got = scorer.topk(q, K)[:K]
        want = search(idx, q, k=K, mode="bm25")
        assert [d for d, _ in got] == [d for d, _ in want]
        assert all(abs(a - b) <= 1e-9 for (_, a), (_, b) in zip(got, want))


def test_incremental_add_matches_one_shot(corpus):
    docs, scorer = corpus
    grown = Scorer()
    grown.add(docs[:200])
    grown.add(docs[200:])
    assert grown.n_postings == scorer.n_postings
    for q in inputs.query_stream(20, seed=5):
        assert same_answer(grown.topk(q, K), scorer.topk(q, K))


def test_right_answer_passes(corpus, answer):
    _docs, scorer = corpus
    _q, ref = answer
    assert check_topk(list(ref), ref, K, scorer.url_of) == []


def test_swapped_ranks_refused(corpus, answer):
    _docs, scorer = corpus
    _q, ref = answer
    bad = list(ref)
    bad[2], bad[3] = bad[3], bad[2]
    assert check_topk(bad, ref, K, scorer.url_of)


def test_score_off_by_1e6_refused(corpus, answer):
    _docs, scorer = corpus
    _q, ref = answer
    bad = list(ref)
    d, s = bad[4]
    bad[4] = (d, s + 1e-6)
    assert check_topk(bad, ref, K, scorer.url_of)


def test_missing_doc_refused(corpus, answer):
    _docs, scorer = corpus
    _q, ref = answer
    assert check_topk(ref[:5] + ref[6:], ref, K, scorer.url_of)


def test_wrong_doc_id_refused(corpus, answer):
    _docs, scorer = corpus
    _q, ref = answer
    bad = list(ref)
    bad[0] = (bad[0][0] + 1, bad[0][1])
    assert check_topk(bad, ref, K, scorer.url_of)


def test_tie_order_by_doc_id():
    url_of = {1: "a", 2: "b", 3: "c"}
    ref = [(1, 2.0), (2, 1.0), (3, 1.0)]
    assert check_topk([(1, 2.0), (2, 1.0), (3, 1.0)], ref, 3, url_of) == []
    assert check_topk([(1, 2.0), (3, 1.0), (2, 1.0)], ref, 3, url_of)


def test_near_tie_at_the_cut_may_go_either_way():
    url_of = {1: "a", 2: "b", 3: "c"}
    scorer_view = [(1, 2.0), (2, 1.0), (3, 1.0 - 1e-12)]
    assert check_topk([(1, 2.0), (3, 1.0 - 1e-12)], scorer_view, 2, url_of) == []


def test_query_stream_mix_is_seed_independent():
    for seed in (1, 2):
        block = inputs.query_stream(10, seed)[2:]
        assert sorted(len(q.split()) for q in block) == list(range(1, 9))


def test_tail_stream_draws_only_tail_terms():
    from ir_spark.fixtures import make_vocab

    for seed in (1, 2):
        tail = set(make_vocab(inputs.VOCAB_SIZE, seed)[inputs.TAIL_FROM:])
        block = inputs.query_stream(8, seed, tail=True)
        assert sorted(len(q.split()) for q in block) == list(range(1, 9))
        assert all(t in tail for q in block for t in q.split())
