"""Differential proof at k=2: the k-stream sloppy walk == faithful matcher.

kernel._sloppy_counts_kterm runs every distinct-term sloppy phrase, the
two-term one included. These are its k=2 cases, checked against the faithful
SloppyPhraseMatcher (search/sloppy.py) exhaustively on a small position
universe (every subset pair, every slop — covers all tie/exhaustion orders)
and on randomized large lists, in both float64 and float32 accumulation,
single- and multi-doc. The k >= 3 cases and the shared ``check_sloppy``
live in test_sloppy_kterm_vectorized.py.

No Spark: the kernel path is exercised through a stub segment.
"""

from __future__ import annotations

import itertools

import numpy as np
import pytest

from tests.test_sloppy_kterm_vectorized import check_sloppy


def _check(docs: dict, slop: int, dtype=np.float64):
    check_sloppy(docs, slop, ["a", "b"], dtype)


def test_exhaustive_small_universe():
    """Every (subset A, subset B) of positions 0..5, slops 0..4: covers all
    orderings, cross-stream ties, immediate exhaustion, and no-match docs."""
    subsets = [list(c) for r in range(1, 7)
               for c in itertools.combinations(range(6), r)]
    for pa in subsets:
        for pb in subsets:
            docs = {7: {"a": pa, "b": pb}}
            for slop in range(5):
                _check(docs, slop)


def test_exhaustive_float32_slice():
    subsets = [list(c) for r in range(1, 5)
               for c in itertools.combinations(range(5), r)]
    for pa in subsets:
        for pb in subsets:
            _check({3: {"a": pa, "b": pb}}, 2, dtype=np.float32)


@pytest.mark.parametrize("seed", range(12))
def test_randomized_large(seed):
    rng = np.random.default_rng(seed)
    docs = {}
    for doc in range(int(rng.integers(1, 9))):
        na, nb = int(rng.integers(1, 41)), int(rng.integers(1, 41))
        docs[doc * 3] = {
            "a": sorted(rng.choice(300, size=na, replace=False).tolist()),
            "b": sorted(rng.choice(300, size=nb, replace=False).tolist()),
        }
    for slop in (1, 2, 5, 8):
        _check(docs, slop)
        _check(docs, slop, dtype=np.float32)


def test_multi_doc_mixed_with_missing_terms():
    docs = {
        0: {"a": [0, 4, 9], "b": [1, 5]},
        1: {"a": [2]},                      # missing b -> not a candidate
        5: {"a": [0], "b": [100]},          # match only at huge slop
        9: {"a": [3, 3 + 1], "b": [4, 5]},  # adjacent hits
    }
    for slop in (0, 1, 2, 99):
        _check(docs, slop)
        _check(docs, slop, dtype=np.float32)
