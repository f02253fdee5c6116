"""Phrases with repeated terms: a sloppy match needs DISTINCT positions
(oracle.sloppy_phrase_match), so "join join join" never matches a doc
with fewer than three joins. Every engine must rank and score these
queries exactly as the oracle does."""

import pytest

from fuzzy_wiki_spark.corpus import generate_docs_pdf
from fuzzy_wiki_spark.engine import InvertedIndex, SegmentIndex
from fuzzy_wiki_spark.oracle import BM25Oracle

QUERIES = ["join join join", "merge merge", "merge merge join"]

# short docs where the distinct-position rule decides the match
CRAFTED = [
    "join merge sort",
    "join tree join",
    "join join join tree",
    "merge join merge",
    "merge merge join",
    "merge tree merge join",
    "join merge",
    "merge",
]


@pytest.fixture(scope="module")
def corpus_pdf():
    pdf = generate_docs_pdf(40, seed=7)
    pdf.loc[: len(CRAFTED) - 1, "content"] = CRAFTED
    return pdf


@pytest.fixture(scope="module")
def engines(spark, corpus_pdf, tmp_path_factory):
    docs = spark.createDataFrame(corpus_pdf)
    seg = SegmentIndex.build(
        spark, docs, str(tmp_path_factory.mktemp("rep") / "ix"), n_buckets=2
    )
    rel = InvertedIndex.build(spark, docs)
    oracle = BM25Oracle(
        corpus_pdf[["doc_id", "path", "content"]].to_dict("records")
    )
    return seg, rel, oracle


def _assert_same(got, want, label):
    assert [d for d, _ in got] == [d for d, _ in want], (label, got, want)
    for (_, g), (_, w) in zip(got, want):
        assert g == pytest.approx(w, abs=1e-9), label


def test_repeated_term_phrases_agree(engines):
    seg, rel, oracle = engines
    batch = seg.search_many(QUERIES, k=10).collect()
    for qid, q in enumerate(QUERIES):
        want = oracle.search(q, k=10)
        assert want, q
        for label, df in (("segment", seg.search(q, k=10)),
                          ("relational", rel.search(q, k=10))):
            got = [(r["doc_id"], r["score"]) for r in df.collect()]
            _assert_same(got, want, (label, q))
        got = sorted(
            ((r["rank"], r["doc_id"], r["score"]) for r in batch
             if r["query_id"] == qid)
        )
        _assert_same([(d, s) for _, d, s in got], want, ("batch", q))


def test_segment_explain_sums_for_repeated_terms(engines):
    seg, _, _ = engines
    for q in QUERIES:
        h = seg.search(q, k=1).collect()[0]
        rows = seg.explain(q, h["doc_id"]).collect()
        assert sum(r["contrib"] for r in rows) == pytest.approx(
            h["score"], rel=1e-9
        ), (q, h["doc_id"])
