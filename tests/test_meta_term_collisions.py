"""Known failures: the segment layout stores per-doc facts as the
pseudo-terms ``_dl``/``_redirect``/``_deleted`` in the same
(bucket, field, term) key space as real tokens, so a document whose text
contains such a token corrupts them. The relational engine keeps those
facts in columns and is the reference here. Both tests pass once the
per-doc facts leave the term space (ROADMAP: doc-values sidecar)."""

import pytest

from fuzzy_wiki_spark.corpus import generate_docs_pdf
from fuzzy_wiki_spark.engine import InvertedIndex, SegmentIndex


def _both(spark, tmp_path, content):
    pdf = generate_docs_pdf(12, seed=3)
    pdf.loc[0, "content"] = content
    docs = spark.createDataFrame(pdf)
    seg = SegmentIndex.build(spark, docs, str(tmp_path / "ix"), n_buckets=2)
    return seg, InvertedIndex.build(spark, docs)


def _hits(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


@pytest.mark.xfail(strict=True, reason="_redirect token marks its doc a redirect")
def test_redirect_token_keeps_doc_searchable(spark, tmp_path):
    seg, rel = _both(spark, tmp_path, "merge sort self._redirect = None")
    assert 0 in [d for d, _ in _hits(rel.search("merge sort", k=20))]
    assert 0 in [d for d, _ in _hits(seg.search("merge sort", k=20))]


@pytest.mark.xfail(strict=True, reason="_dl token merges into the dl rows")
def test_dl_token_does_not_shift_scores(spark, tmp_path):
    seg, rel = _both(spark, tmp_path, "_dl")
    want = _hits(rel.search("merge sort", k=20))
    got = _hits(seg.search("merge sort", k=20))
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, g), (_, w) in zip(got, want):
        assert g == pytest.approx(w, abs=1e-9)
