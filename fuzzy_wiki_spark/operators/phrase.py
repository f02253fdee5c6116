"""The phrase kernel (O17): one exact matcher behind every phrase scorer —
both segment kernels, the relational UDFs, rescore's exact-phrase count,
match_phrase_prefix, the phrase suggester and explain.

Spec (``oracle.sloppy_phrase_match``, myTermStats.java:28-67): the phrase
(t_0 … t_{n−1}), repeated terms allowed, matches at an anchor p_0 ∈ L(t_0)
iff some pairwise distinct p_i ∈ L(t_i) have Σ_i |p_i − (p_0 + i)| ≤ slop.

Input is one flat (candidate, position) array pair per distinct term,
sorted by ``candidate << 32 | position`` without repeats. Distinct terms
never share a position, so the cost splits per term over the offsets
o_1 < … < o_m it fills (the anchor's offset 0 excluded). A match keeps
every point within slop of its target, inside a window of
o_m − o_1 + 2·slop + 1 keys found by one ``searchsorted`` per anchor (the
sorted-key probe of HERO, SIGMOD'24). Sorted targets are best served by
increasing points (uncrossing never raises Σ|·|), so a prefix-min DP over
the window, one pass per target, gives the term's minimum; the anchor's
own position is masked out of its term's window.
"""

from __future__ import annotations

import numpy as np

from fuzzy_wiki_spark.codec import decode_position_runs, varint_value_counts


def phrase_costs(flat: dict, terms, slop: int) -> np.ndarray:
    """Minimum phrase cost of every anchor occurrence, aligned with
    ``flat[terms[0]]``. A cost ≤ slop is exact; a larger one (inf when no
    distinct assignment fits the window) only says the anchor does not
    match within ``slop``. A term missing from ``flat`` matches nothing."""
    c0, p0 = flat[terms[0]]
    cost = np.zeros(p0.size)
    groups: dict = {}
    for i, t in enumerate(terms[1:], start=1):
        groups.setdefault(t, []).append(i)
    for t, offs in groups.items():
        c, p = flat.get(t, (p0[:0], p0[:0]))
        if p.size == 0:
            return np.full(p0.size, np.inf)
        lo = np.maximum(p0 + (offs[0] - slop), 0)
        width = offs[-1] - offs[0] + 2 * slop + 1
        idx = np.searchsorted((c << 32) | p, (c0 << 32) | lo)[:, None]
        idx = idx + np.arange(width)
        valid = idx < p.size
        idx = np.minimum(idx, p.size - 1)
        pts = p[idx]
        valid &= c[idx] == c0[:, None]
        if t == terms[0]:
            valid &= pts != p0[:, None]
        best = None
        for o in offs:
            step = np.where(valid, np.abs(pts - (p0 + o)[:, None]), np.inf)
            if best is not None:
                # target o takes a point after the previous target's
                step[:, 0] = np.inf
                step[:, 1:] += np.minimum.accumulate(best, axis=1)[:, :-1]
            best = step
        cost += best.min(axis=1)
    return cost


def anchor_counts(flat: dict, terms, slop: int, n: int) -> np.ndarray:
    """Per candidate 0..n−1, the number of anchors costing ≤ ``slop``:
    > 0 is a sloppy match; at slop 0 it is the exact-phrase count."""
    if terms[0] not in flat:
        return np.zeros(n, dtype=np.int64)
    hit = flat[terms[0]][0][phrase_costs(flat, terms, slop) <= slop]
    return np.bincount(hit, minlength=n)


def row_positions(tp_col) -> dict:
    """Relational rows → kernel input, the row index being the candidate.
    Each row is one doc's ``collect_list(struct(term, positions))``
    (wire-format positions; repeated structs allowed). One varint pass
    decodes the batch."""
    rows, terms, bufs = [], [], []
    for r, tps in enumerate(tp_col):
        for tp in tps:
            rows.append(r)
            terms.append(tp["term"])
            bufs.append(tp["positions"])
    if not bufs:
        return {}
    buf = b"".join(bufs)
    lens = varint_value_counts(buf, np.cumsum([0] + [len(b) for b in bufs]))
    keys = np.repeat(np.asarray(rows, dtype=np.int64), lens) << 32
    keys |= decode_position_runs(lens, buf).astype(np.int64)
    names, term_of = np.unique(np.asarray(terms, dtype=object), return_inverse=True)
    term_of = np.repeat(term_of, lens)
    return {
        t: (k >> 32, k & 0xFFFFFFFF)
        for j, t in enumerate(names)
        for k in [np.unique(keys[term_of == j])]
    }


def row_groups(flat: dict, keys):
    """Rows grouped by their per-row query literal (``keys``, hashable)
    → (key, ``flat`` restricted to the group's rows) pairs: the kernel
    runs once per distinct literal over the batch."""
    groups: dict = {}
    for r, key in enumerate(keys):
        groups.setdefault(key, []).append(r)
    for key, rs in groups.items():
        yield key, {
            t: (c[m], p[m])
            for t, (c, p) in flat.items()
            for m in [np.isin(c, rs)]
        }


def row_matches(tp_col, phrase_col, slop_col) -> np.ndarray:
    """Per relational row (``row_positions``) with its own phrase and
    slop → the number of anchors costing ≤ that slop."""
    out = np.zeros(len(tp_col), dtype=np.int64)
    keys = ((tuple(ph), int(s)) for ph, s in zip(phrase_col, slop_col))
    for (ph, s), flat in row_groups(row_positions(tp_col), keys):
        out += anchor_counts(flat, ph, s, out.size)
    return out
