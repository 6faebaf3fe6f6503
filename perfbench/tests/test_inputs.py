"""Unit tests for the seeded input helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import numpy as np

from perfbench.inputs import TailDealer


def test_tail_dealer_repeats_no_term_before_the_vocabulary_is_dealt():
    terms = np.array([f"tok{i:05d}" for i in range(100)])
    dealer = TailDealer(np.random.default_rng(3), terms)
    qs = dealer.queries(40)  # 1+2+3+4 terms per 4 queries: 100 terms
    assert [len(q.split()) for q in qs[:4]] == [1, 2, 3, 4]
    dealt = [t for q in qs for t in q.split()]
    assert sorted(dealt) == sorted(terms)
    assert len(" ".join(dealer.queries(4)).split()) == 10  # reshuffled deck


def test_tail_dealer_is_seeded():
    terms = np.array([f"tok{i:05d}" for i in range(50)])
    a = TailDealer(np.random.default_rng(9), terms).queries(8)
    b = TailDealer(np.random.default_rng(9), terms).queries(8)
    assert a == b
