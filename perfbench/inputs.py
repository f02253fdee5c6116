"""Seeded benchmark inputs: the word corpus and the query streams.

Everything here is a pure function of the workload seed. Queries are
sampled from the raw words of the generated input files, never
from an index's term dictionary, so a change to the analyzer or to the
index layout cannot change what a run replays. No Spark is needed, which
lets the provenance test run without a session.
"""

from __future__ import annotations

import hashlib
import random
from collections import Counter

import pandas as pd

from fuzzy_wiki_spark.corpus import generate_docs_pdf

# The word corpus (``corpus.generate_docs_df``/``generate_docs_pdf``, one
# generator): ~90 Zipf-ranked code keywords, ``return`` in at least half
# the docs, "binary search tree" seeded into ~15 %, ~1 % REDIRECT docs.
SERVE_BATCH_DOCS = 1000
BATCH_SIZE = 64
# ingest: a base generation written during set-up, then INGEST_APPENDS
# more generations during the timed phase, all INGEST_GEN_DOCS docs each
INGEST_GEN_DOCS = 400
INGEST_APPENDS = 2

# The query mix is the repo's reference query set, ``corpus.REFERENCE_QUERIES``
# (FIXTURES.md §2): every reference query is mapped to the shape of its
# slots, and the streams instantiate those shapes with words of the seeded
# input files, in the reference set's proportions. Slot kinds:
#   word       a distinct word of the source file
#   phrase     consecutive words of the source file (all phrase slots of a
#              query form one window, so phrase clauses see real adjacency)
#   hot        the corpus' most frequent content word
#   inflected  a word of the source file plus "s" (a stemmed-form variant)
#   stop       an English stop word
#   path       the directory word of the source file's path
#   absent     a token no input file contains
REFERENCE_SHAPES: dict[str, tuple[str, ...]] = {
    "binary": ("word",),
    "searching": ("inflected",),
    "the parser": ("stop", "word"),
    "binary search tree": ("phrase", "phrase", "phrase"),
    "merge sort": ("word", "word"),
    "hash table": ("word", "word"),
    "return": ("hot",),
    "zzzzmissing": ("absent",),
    "engine": ("path",),
    "posting frequency": ("word", "word"),
    "index": ("word",),
    "running": ("inflected",),
    "binary search": ("phrase", "phrase"),
    "query cache": ("word", "word"),
    "a the of": ("stop", "stop", "stop"),
}
# ingest's fixed probe set: the reference shapes that do distinct clause
# work (one term, stop word + term, two scattered terms, a 3-word phrase)
INGEST_PROBE_SHAPES = [
    ("word",),
    ("stop", "word"),
    ("word", "word"),
    ("phrase", "phrase", "phrase"),
]
STOP_WORDS = ("a", "an", "and", "in", "is", "of", "the", "to")
ABSENT_POOL = 8


def make_corpus(n_docs: int, seed: int) -> pd.DataFrame:
    """The first ``n_docs`` rows of the seeded word corpus."""
    return generate_docs_pdf(n_docs, seed=seed)


def is_redirect(content: str | None) -> bool:
    """The engine's indexed-but-filtered rule for REDIRECT docs."""
    return (content or "").upper().startswith("REDIRECT")


def query_shapes() -> list[tuple[str, ...]]:
    """The shape of every reference query, in reference order."""
    return list(REFERENCE_SHAPES.values())


class _Sampler:
    """Fills query shapes with words of the input files. Only raw input
    strings are read (content words, path components), so neither the
    analyzer nor an index can change what is sampled."""

    def __init__(self, corpus: pd.DataFrame, rng: random.Random):
        self.rng = rng
        self.docs = [
            (c.split(), p.split("/")[1])
            for c, p in zip(corpus["content"], corpus["path"])
            if not is_redirect(c)
        ]
        counts = Counter(w for words, _ in self.docs for w in words)
        self.hot = min(counts, key=lambda w: (-counts[w], w))
        letters = "abcdefghijklmnopqrstuvwxyz"
        # a small pool, so the warm-up memoises absent terms like any other
        self.absent = [
            "zz" + "".join(rng.choice(letters) for _ in range(8))
            for _ in range(ABSENT_POOL)
        ]

    def query(self, shape: tuple[str, ...]) -> str:
        """One query of the given shape, its words distinct. Repeated terms
        are excluded on purpose: the segment engine's known repeated-term
        phrase mismatch (ROADMAP item 2) has its own oracle entry and is
        not what this benchmark measures."""
        rng = self.rng
        words, path_word = self.docs[rng.randrange(len(self.docs))]
        vocab = sorted(set(words))
        n_phrase = shape.count("phrase")
        start = rng.randrange(max(1, len(words) - n_phrase + 1))
        window = list(dict.fromkeys(words[start : start + n_phrase]))
        picked: list[str] = []

        def fresh(pool) -> str:
            left = [w for w in pool if w not in picked]
            return left[rng.randrange(len(left))]

        for kind in shape:
            if kind == "phrase":
                w = window.pop(0) if window else fresh(vocab)
            elif kind == "word":
                w = fresh(vocab)
            elif kind == "hot":
                w = self.hot
            elif kind == "inflected":
                w = fresh([v for v in vocab if not v.endswith("s")]) + "s"
            elif kind == "stop":
                w = fresh(STOP_WORDS)
            elif kind == "path":
                w = path_word
            elif kind == "absent":
                w = fresh(self.absent)
            else:
                raise ValueError(f"unknown slot kind {kind!r}")
            picked.append(w)
        return " ".join(picked)


def query_stream(corpus: pd.DataFrame, seed: int, n: int, salt: str) -> list[str]:
    """``n`` seeded queries sampled from the corpus' input files,
    stratified: every run of 15 consecutive queries holds each reference
    shape once, in seeded order, so a batch's cost does not follow how
    many of the costlier shapes it happened to draw."""
    rng = random.Random(f"{seed}:{salt}")
    sampler = _Sampler(corpus, rng)
    shapes = query_shapes()
    out: list[str] = []
    while len(out) < n:
        rng.shuffle(shapes)
        out.extend(sampler.query(shape) for shape in shapes)
    return out[:n]


def shaped_queries(corpus: pd.DataFrame, seed: int, salt: str, shapes) -> list[str]:
    """One seeded query per shape: the oracle gate's queries, and ingest's
    fixed probe set."""
    sampler = _Sampler(corpus, random.Random(f"{seed}:{salt}"))
    return [sampler.query(shape) for shape in shapes]


def corpus_digest(corpus: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for did, path, sha in zip(
        corpus["doc_id"], corpus["path"], corpus["content_sha256"]
    ):
        h.update(f"{did}\t{path}\t{sha}\n".encode())
    return h.hexdigest()[:16]


def queries_digest(queries: list[str]) -> str:
    return hashlib.sha256("\n".join(queries).encode()).hexdigest()[:16]


def input_bytes(corpus: pd.DataFrame) -> int:
    """Exact UTF-8 byte count of the indexed fields (path + content)."""
    return sum(len(s.encode()) for s in corpus["path"]) + sum(
        len(s.encode()) for s in corpus["content"]
    )
