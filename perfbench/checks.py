"""Result checks: engine top-10 output against the oracle or stated properties.

Each check returns None when the result is right, else a one-line reason.
Hits arrive as a list of (key, score) in rank order plus the engine's
total_hits and whether it reports that count as exact.
"""

from __future__ import annotations

TOP_K = 10


def score_tol(s: float) -> float:
    """Score tolerance: 1e-5 absolute or 1e-5 relative, whichever is larger
    (engine and oracle both round per-term scores to float32; sums may run
    in another order)."""
    return 1e-5 * max(1.0, abs(s))


def _common(hits) -> str | None:
    keys = [k for k, _ in hits]
    if len(set(keys)) != len(keys):
        return "a key appears twice in the top-10"
    scores = [s for _, s in hits]
    if any(b > a + score_tol(a) for a, b in zip(scores, scores[1:])):
        return "scores increase down the ranking"
    return None


def check_scored(hits, total, exact, oracle_scores: dict, doc_of) -> str | None:
    """BM25-scored shapes: keys, scores and total hit count against the
    oracle; order may differ only among tolerance-equal scores."""
    err = _common(hits)
    if err:
        return err
    n = len(oracle_scores)
    if len(hits) != min(TOP_K, n):
        return f"{len(hits)} hits, oracle has {min(TOP_K, n)}"
    top = sorted(oracle_scores.values(), reverse=True)[:TOP_K]
    for i, (key, s) in enumerate(hits):
        o = oracle_scores.get(doc_of(key))
        if o is None:
            return f"key {key} does not match"
        if abs(o - s) > score_tol(o):
            return f"key {key} score {s!r}, oracle {o!r}"
        if abs(top[i] - s) > score_tol(s):
            return f"rank {i + 1} score {s!r}, oracle rank score {top[i]!r}"
    if exact and total != n:
        return f"total_hits {total}, oracle {n}"
    if not exact and total > n:
        return f"total_hits lower bound {total} exceeds oracle {n}"
    return None


def check_constant(hits, total, exact, n_match: int, holds) -> str | None:
    """Constant-score shapes (prefix): every hit holds a matching term and
    scores exactly 1.0."""
    err = _common(hits)
    if err:
        return err
    if len(hits) != min(TOP_K, n_match):
        return f"{len(hits)} hits, oracle has {min(TOP_K, n_match)}"
    for key, s in hits:
        if s != 1.0:
            return f"key {key} score {s!r}, constant score is 1.0"
        if not holds(key):
            return f"key {key} holds no matching term"
    if exact and total != n_match:
        return f"total_hits {total}, oracle {n_match}"
    return None


def check_predicate(hits, holds) -> str | None:
    """Positional shapes: every hit satisfies the oracle predicate, scores
    are positive and non-increasing."""
    err = _common(hits)
    if err:
        return err
    for key, s in hits:
        if not s > 0:
            return f"key {key} score {s!r} is not positive"
        if not holds(key):
            return f"key {key} fails the match predicate"
    return None


def check_slop_monotone(totals: dict[int, int]) -> str | None:
    """Same terms, growing slop: hit counts never fall."""
    prev = None
    for slop in sorted(totals):
        if prev is not None and totals[slop] < prev:
            return f"hits fall from {prev} to {totals[slop]} at slop {slop}"
        prev = totals[slop]
    return None


def check_exact_keys(hits, total, exact, want: set) -> str | None:
    """Visibility: the result is exactly the wanted keys, once each."""
    err = _common(hits)
    if err:
        return err
    got = [k for k, _ in hits]
    if set(got) != want or len(got) != len(want):
        return f"keys {sorted(got)}, want {sorted(want)}"
    if exact and total != len(want):
        return f"total_hits {total}, want {len(want)}"
    return None


def check_required(hits, total, exact, n_match: int, holds) -> str | None:
    """Live-text predicate: every hit's current text holds the query's
    required terms (or phrase); the exact hit count equals the oracle's."""
    err = check_predicate(hits, holds)
    if err:
        return err
    if len(hits) != min(TOP_K, n_match):
        return f"{len(hits)} hits, oracle has {min(TOP_K, n_match)}"
    if exact and total != n_match:
        return f"total_hits {total}, oracle {n_match}"
    if not exact and total > n_match:
        return f"total_hits lower bound {total} exceeds oracle {n_match}"
    return None
