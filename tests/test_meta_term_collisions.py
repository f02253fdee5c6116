"""The segment layout stores per-doc facts (doc lengths, REDIRECT flags,
tombstones) as meta rows in the same (bucket, field, term) key space as
real tokens. Their keys start with a space, which no analyzer emits, so
a document whose text holds a look-alike token (``_dl``, ``_redirect``)
is indexed like any other. The relational engine keeps those facts in
columns and is the reference here. The keys themselves are private to
``operators/segments.py`` (the writer and the Spark-side readers) and
``operators/segment_query.py`` (the in-task reader)."""

import re
from pathlib import Path

import pytest

from fuzzy_wiki_spark.corpus import generate_docs_pdf
from fuzzy_wiki_spark.engine import InvertedIndex, SegmentIndex

PKG = Path(__file__).resolve().parent.parent / "fuzzy_wiki_spark"


def _both(spark, tmp_path, content):
    pdf = generate_docs_pdf(12, seed=3)
    pdf.loc[0, "content"] = content
    docs = spark.createDataFrame(pdf)
    seg = SegmentIndex.build(spark, docs, str(tmp_path / "ix"), n_buckets=2)
    return seg, InvertedIndex.build(spark, docs)


def _hits(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


def test_redirect_token_keeps_doc_searchable(spark, tmp_path):
    seg, rel = _both(spark, tmp_path, "merge sort self._redirect = None")
    assert 0 in [d for d, _ in _hits(rel.search("merge sort", k=20))]
    assert 0 in [d for d, _ in _hits(seg.search("merge sort", k=20))]


def test_dl_token_does_not_shift_scores(spark, tmp_path):
    seg, rel = _both(spark, tmp_path, "_dl")
    want = _hits(rel.search("merge sort", k=20))
    got = _hits(seg.search("merge sort", k=20))
    assert [d for d, _ in got] == [d for d, _ in want]
    for (_, g), (_, w) in zip(got, want):
        assert g == pytest.approx(w, abs=1e-9)


def test_meta_keys_named_only_by_the_segment_modules():
    owners = {"operators/segments.py", "operators/segment_query.py"}
    naming = {
        p.relative_to(PKG).as_posix()
        for p in PKG.rglob("*.py")
        if re.search(r"\bMETA_", p.read_text(encoding="utf-8"))
    }
    assert naming == owners
