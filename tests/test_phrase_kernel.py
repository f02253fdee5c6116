"""The shared phrase kernel (operators/phrase.py) against the pinned
oracle spec, on random small docs with repeated terms (no Spark)."""

import random

import numpy as np

from fuzzy_wiki_spark.codec import encode_position_list
from fuzzy_wiki_spark.operators.phrase import phrase_costs, row_matches
from fuzzy_wiki_spark.oracle import sloppy_phrase_match


def _case(rng):
    vocab = "abcd"[: rng.randint(1, 4)]
    docs = [
        [rng.choice(vocab) for _ in range(rng.randint(0, 14))]
        for _ in range(rng.randint(1, 5))
    ]
    phrase = tuple(rng.choice(vocab) for _ in range(rng.randint(2, 4)))
    return docs, phrase, rng.randint(0, 4)


def _flat(docs, terms):
    """Per term: (doc, position) arrays sorted by doc, then position."""
    out = {}
    for t in set(terms):
        hits = np.array(
            [(d, i) for d, toks in enumerate(docs)
             for i, x in enumerate(toks) if x == t],
            dtype=np.int64,
        ).reshape(-1, 2)
        out[t] = (hits[:, 0], hits[:, 1])
    return out


def _posmap(toks):
    pm = {}
    for i, x in enumerate(toks):
        pm.setdefault(x, []).append(i)
    return pm


def test_kernel_matches_oracle_and_exact_count():
    rng = random.Random(7)
    for _ in range(1500):
        docs, phrase, slop = _case(rng)
        flat = _flat(docs, phrase)
        anchor = flat[phrase[0]][0]
        cost = phrase_costs(flat, phrase, slop)
        exact = phrase_costs(flat, phrase, 0)
        for d, toks in enumerate(docs):
            want = sloppy_phrase_match(_posmap(toks), phrase, slop)
            assert bool((cost[anchor == d] <= slop).any()) == want, (
                toks, phrase, slop)
            n_exact = sum(
                all(a + i < len(toks) and toks[a + i] == t
                    for i, t in enumerate(phrase))
                for a in range(len(toks))
            )
            assert int((exact[anchor == d] == 0).sum()) == n_exact, (
                toks, phrase)


def test_row_adapter_matches_oracle():
    """Wire-format struct rows, several (phrase, slop) groups in one
    batch, and duplicated structs (a repeated clause term joins its
    posting row once per occurrence)."""
    rng = random.Random(11)
    for _ in range(150):
        cases = [_case(rng) for _ in range(3)]
        tps, phrases, slops, want = [], [], [], []
        for docs, phrase, slop in cases:
            for toks in docs:
                row = [
                    {"term": t, "positions": encode_position_list(p)}
                    for t, p in _posmap(toks).items()
                ]
                tps.append(row + row[:1])
                phrases.append(list(phrase))
                slops.append(slop)
                want.append(sloppy_phrase_match(_posmap(toks), phrase, slop))
        got = row_matches(tps, phrases, slops)
        assert [bool(g) for g in got] == want
