"""Seeded inputs: page corpora, query streams and expected doc ids.

Everything here is a pure function of the seed.  The engine sees only
the generated pages and query strings.
"""

from __future__ import annotations

import random
from itertools import accumulate

from ir_spark.fixtures import REFERENCE_QUERIES, generate_pages, make_vocab

VOCAB_SIZE = 2000
TAIL_FROM = 500  # vocabulary ranks from here on are the tail terms


def pages(n_docs: int, seed: int):
    return generate_pages(n_docs, seed=seed, vocab_size=VOCAB_SIZE)


def seeded_queries(n_blocks: int, seed: int, first_rank: int = 0) -> list[str]:
    """Blocks of eight queries, one of each length 1-8 in shuffled
    order, with terms drawn from the corpus vocabulary from rank
    ``first_rank`` on, by its Zipf weights (alpha 1.1, as the page
    generator uses).  From rank 0, head and tail posting lists are
    mixed.  The seed picks the words; the vocabulary ranks drawn, and
    so the queries' shapes (lengths, how common each term is), are the
    same for every seed, so that a run's few dozen query samples cost
    alike whatever the seed."""
    rng = random.Random(7919 + first_rank)
    vocab = make_vocab(VOCAB_SIZE, seed)[first_rank:]
    cum = list(accumulate(1.0 / (rank + 1) ** 1.1
                          for rank in range(first_rank, VOCAB_SIZE)))
    out: list[str] = []
    for _ in range(n_blocks):
        block = [" ".join(rng.choices(vocab, cum_weights=cum, k=n)) for n in range(1, 9)]
        rng.shuffle(block)
        out += block
    return out


def query_stream(n: int, seed: int, tail: bool = False) -> list[str]:
    """Mixed (the default): blocks of ten, two of the 20 reference
    queries (in turn) and one block of seeded queries over the whole
    vocabulary.  Tail: blocks of seeded queries over the tail terms only
    (ranks TAIL_FROM and up, each in a few to a few dozen docs).  Every
    block has the same mix of lengths, whatever the seed."""
    if tail:
        return seeded_queries(n // 8 + 1, seed, TAIL_FROM)[:n]
    seeded = seeded_queries(n // 10 + 1, seed)
    out: list[str] = []
    for b in range(n // 10 + 1):
        i = b * 2 % len(REFERENCE_QUERIES)
        out += REFERENCE_QUERIES[i:i + 2] + seeded[b * 8:(b + 1) * 8]
    return out[:n]


def expected_ids(batch_urls: list[str], offset: int) -> dict[int, str]:
    """doc_id -> url as the engine's contract assigns them: 1-based rank
    over url within one build or appended batch, above ``offset``."""
    return {offset + i + 1: u for i, u in enumerate(sorted(batch_urls))}
