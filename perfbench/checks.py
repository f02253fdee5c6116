"""Correctness checks run inside every benchmark run.

Every failed check is counted as a failed operation; nothing is retried or
dropped."""

from __future__ import annotations

from fuzzy_wiki_spark.oracle import BM25Oracle

SCORE_TOL = 1e-6


def check_hits(hits: list[tuple[int, float]], k: int, redirects: set[int]) -> str | None:
    """Shape of one top-k: at most k rows, score descending with ties by
    ascending doc_id, no REDIRECT doc. Returns a reason, or None if fine."""
    if len(hits) > k:
        return f"{len(hits)} rows > k={k}"
    for (d0, s0), (d1, s1) in zip(hits, hits[1:]):
        if s1 > s0 or (s1 == s0 and d1 <= d0):
            return f"order broken at doc {d0}/{d1}"
    bad = [d for d, _ in hits if d in redirects]
    if bad:
        return f"REDIRECT docs returned: {bad}"
    return None


def same_topk(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> str | None:
    """Rank-identical doc ids with scores within SCORE_TOL."""
    if [d for d, _ in got] != [d for d, _ in want]:
        return f"ranking differs: got {[d for d, _ in got]} want {[d for d, _ in want]}"
    for (d, s), (_, t) in zip(got, want):
        if abs(s - t) > SCORE_TOL:
            return f"doc {d} score {s} != {t}"
    return None


class Oracle:
    """Brute-force BM25 over the whole (small) benchmark corpus."""

    def __init__(self, corpus):
        self._o = BM25Oracle(corpus[["doc_id", "path", "content"]].to_dict("records"))

    def check(self, query: str, got: list[tuple[int, float]], k: int) -> str | None:
        return same_topk(got, self._o.search(query, k))
