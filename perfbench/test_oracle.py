"""Pins the benchmark's oracle to a hand-worked corpus and its generator to
its seed. Run from the repository root: python3 -m pytest perfbench -q

Hand-worked corpus: d1 "a b c", d2 "a a", d3 "b c d e". N = 3, sumTTF = 9,
avgdl = 3, every length < 24 so SmallFloat keeps it exact, and
1/norm(L) = 1 / (1.2 * (0.25 + 0.75 * L / 3)) = 1 / (0.3 * (1 + L)).
idf(df=2) = ln(1 + 1.5/2.5) = ln 1.6; idf(df=1) = ln(1 + 2.5/1.5) = ln(8/3).
A BM25 term score is idf * f*ninv / (1 + f*ninv): for f=1 that is idf/2.2
at L=3 and idf*0.4 at L=4; for f=2, L=2 it is idf*2/2.9.
"""

import math
import re

import numpy as np
import pytest

import oracle as O
import synth

IDF2 = math.log(1.6)
IDF1 = math.log(8 / 3)
DOCS = {1: "a b c", 2: "a a", 3: "b c d e"}


@pytest.fixture(scope="module")
def idx():
    return O.OracleIndex(DOCS)


def _by_key(idx, scores):
    return {idx.keys[d]: s for d, s in scores.items()}


def close(got: dict, want: dict):
    assert set(got) == set(want)
    for k, v in want.items():
        assert got[k] == pytest.approx(v, rel=1e-6), k


def test_smallfloat_hand_values():
    assert O.NUM_FREE_VALUES == 24
    assert [O.int_to_byte4(i) for i in (0, 1, 23, 24)] == [0, 1, 23, 24]
    # 100 - 24 = 76 = 0b1001100: shift 3, mantissa 0b001, exponent 4 -> 33
    assert O.int_to_byte4(100) == 57
    # 57 - 24 = 33: (0b1000 | 0b001) << 3 = 72, + 24
    assert O.byte4_to_int(57) == 96
    assert O.byte4_to_int(O.int_to_byte4(2**31 - 1)) <= 2**31 - 1


def test_collection_stats(idx):
    assert (idx.doc_count, idx.sum_ttf) == (3, 9)
    assert idx.df("a") == 2 and idx.df("d") == 1 and idx.df("zz") == 0
    assert float(idx.idf("a")) == pytest.approx(IDF2, rel=1e-7)
    assert float(idx.idf("d")) == pytest.approx(IDF1, rel=1e-7)


def test_term_scores(idx):
    close(_by_key(idx, idx.scores(("term", "a"))),
          {1: IDF2 / 2.2, 2: IDF2 * 2 / 2.9})
    close(_by_key(idx, idx.scores(("term", "d"))), {3: IDF1 * 0.4})


def test_boolean_scores(idx):
    close(_by_key(idx, idx.scores(("or", ("a", "d")))),
          {1: IDF2 / 2.2, 2: IDF2 * 2 / 2.9, 3: IDF1 * 0.4})
    close(_by_key(idx, idx.scores(("and", ("b", "c"), ()))),
          {1: 2 * IDF2 / 2.2, 3: 2 * IDF2 * 0.4})
    close(_by_key(idx, idx.scores(("and", ("b",), ("d",)))), {1: IDF2 / 2.2})
    close(_by_key(idx, idx.scores(("msm", ("a", "b", "d"), 2))),
          {1: 2 * IDF2 / 2.2, 3: IDF2 * 0.4 + IDF1 * 0.4})
    close(_by_key(idx, idx.scores(("dismax", ("a", "b"), 0.5))),
          {1: 1.5 * IDF2 / 2.2, 2: IDF2 * 2 / 2.9, 3: IDF2 * 0.4})


def test_exact_phrase(idx):
    assert _by_key(idx, idx.phrase_freqs(("b", "c"))) == {1: 1, 3: 1}
    # phrase weight = idf(b) + idf(c)
    close(_by_key(idx, idx.scores(("phrase", ("b", "c"), 0))),
          {1: 2 * IDF2 / 2.2, 3: 2 * IDF2 * 0.4})
    assert idx.phrase_freqs(("c", "b")) == {}
    rep = O.OracleIndex({7: "a a a b"})
    assert rep.phrase_freqs(("a", "a")) == {0: 2}


def test_sloppy_predicate():
    ba = {"b": [0], "a": [1]}
    assert not O.sloppy_phrase_match(ba, ("a", "b"), 1)   # match length 2
    assert O.sloppy_phrase_match(ba, ("a", "b"), 2)
    aba = {"a": [0, 2], "b": [1]}
    assert O.sloppy_phrase_match(aba, ("a", "b", "a"), 0)
    # a repeated term needs two distinct positions
    assert not O.sloppy_phrase_match({"a": [0], "b": [1]}, ("a", "b", "a"), 5)


def test_span_near_predicate():
    abc = {"a": [0], "b": [1], "c": [2]}
    assert O.span_near_match(abc, ("a", "c"), 1, True)      # one gap
    assert not O.span_near_match(abc, ("a", "c"), 0, True)
    assert not O.span_near_match(abc, ("c", "a"), 5, True)  # out of order
    assert O.span_near_match(abc, ("c", "a"), 1, False)
    # unordered spans may overlap: one "a" serves both a-clauses
    assert O.span_near_match({"a": [0], "b": [1]}, ("a", "b", "a"), 0, False)
    assert not O.span_near_match({"a": [0], "b": [1]}, ("a", "b", "a"), 9,
                                 True)


def test_generator_is_seeded():
    def make(seed):
        rng = np.random.default_rng(seed)
        vocab = synth.make_vocab(rng)
        docs = synth.make_corpus(rng, vocab, 300)
        return docs, synth.static_queries(rng, vocab, list(docs.values()))

    a, qa = make(11)
    b, qb = make(11)
    c, _ = make(12)
    assert a == b and qa == qb
    assert a != c
    word = re.compile(r"[a-z0-9]+")
    for key, text in a.items():
        toks = text.split(" ")
        assert all(word.fullmatch(t) for t in toks)
        assert [t for t in toks if t.startswith("zz")] == [
            synth.unique_token(key, 0)]
