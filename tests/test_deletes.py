"""Tombstone deletes on the incremental index: query-time exclusion across
every surface, physical purge + stats correction at compaction."""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from fuzzy_wiki_spark.streaming.incremental import (
    append_batch,
    compact_generations,
    delete_docs,
    load_generations,
    open_incremental,
    segments_to_postings,
)

DOCS = [
    (0, "merge join key fast"),
    (1, "merge join slow key"),
    (2, "sort scan merge join"),
    (3, "fast hash part"),
    (4, "key join merge join key"),
    (5, "sort sort scan"),
]
DELETED = [1, 3, 999]  # one per epoch parity + one never-indexed


@pytest.fixture(scope="module")
def out(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("del") / "ix")
    docs = spark.createDataFrame(
        pd.DataFrame(DOCS, columns=["doc_id", "content"])
    )
    for epoch in range(2):
        append_batch(
            spark,
            docs.where(F.col("doc_id") % 2 == epoch),
            epoch,
            d,
            n_buckets=4,
            mode="simple",
            fields={"content": "content"},
        )
    delete_docs(spark, DELETED, "del-0", d, n_buckets=4)
    return d


def test_search_excludes_tombstoned(spark, out):
    idx = open_incremental(spark, out)
    hits = {
        r.doc_id
        for r in idx.search_many(["merge join", "fast", "sort"], k=10)
        .select("doc_id")
        .collect()
    }
    assert hits and not (hits & set(DELETED))
    # docs 0,2,4,5 still findable
    assert {0, 2, 4, 5} <= hits


def test_surfaces_exclude_tombstoned(spark, out):
    idx = open_incremental(spark, out)
    assert not (
        {r.doc_id for r in idx.boolean(("merge", "join")).collect()}
        & set(DELETED)
    )
    assert not (
        {r.doc_id for r in idx.phrase(("merge", "join"), slop=0).collect()}
        & set(DELETED)
    )
    assert not (
        {r.doc_id for r in idx.prefix("s").collect()} & set(DELETED)
    )


def test_compaction_purges_physically(spark, out, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("del") / "compacted")
    cidx = compact_generations(spark, out, dst, n_buckets=4)
    # identical result sets to the un-compacted (tombstone-filtered) index
    inc = open_incremental(spark, out)
    queries = ["merge join", "fast", "sort"]
    a = {
        tuple(r)
        for r in inc.search_many(queries, k=10)
        .select("query_id", "rank", "doc_id")
        .collect()
    }
    b = {
        tuple(r)
        for r in cidx.search_many(queries, k=10)
        .select("query_id", "rank", "doc_id")
        .collect()
    }
    assert a == b
    # physically gone: no postings rows, no markers
    decoded = segments_to_postings(cidx.segments)
    assert decoded.where(F.col("doc_id").isin(DELETED)).count() == 0
    assert decoded.where(F.col("term") == "_deleted").count() == 0
    # stats corrected: compacted counts only live docs
    assert cidx.field_stats["content"][0] == len(DOCS) - 2
    # un-compacted stats still count tombstoned docs (Lucene
    # deletes-until-merge semantics, documented)
    assert inc.field_stats["content"][0] == len(DOCS)


def test_delete_gen_is_pure_markers(spark, out):
    gens = load_generations(spark, out)
    del_gen = gens.where(F.col("gen") == "del-0")
    assert {r.term for r in del_gen.select("term").distinct().collect()} == {
        "_deleted"
    }


def test_exclusion_policy_per_kernel(spark, tmp_path):
    """On one tombstoned generation union, the extended-query kernel drops
    tombstoned docs only (redirects are the searcher's filter, not the
    query language's) and agrees with the relational path; BM25 search
    drops both."""
    d = str(tmp_path / "ix")
    docs = spark.createDataFrame(
        pd.DataFrame(
            [
                (0, "merge join key"),
                (1, "REDIRECT merge join"),
                (2, "merge sort join"),
                (3, "join fast"),
            ],
            columns=["doc_id", "content"],
        )
    )
    for epoch in range(2):
        append_batch(
            spark, docs.where(F.col("doc_id") % 2 == epoch), epoch, d,
            n_buckets=2, mode="simple", fields={"content": "content"},
        )
    delete_docs(spark, [2], "del-0", d, n_buckets=2)
    idx = open_incremental(spark, d)
    q = "merge join"

    def hits(df):
        return {
            (r.doc_id, r.s)
            for r in df.select("doc_id", F.round("score", 6).alias("s"))
            .collect()
        }

    ext = hits(idx.extended(q, analyze=str.split))
    assert {doc for doc, _ in ext} == {0, 1, 3}
    assert ext == hits(idx.extended(q, analyze=str.split, relational=True))
    bm25 = {r.doc_id for r in idx.search_many([q], k=10).collect()}
    assert bm25 == {0, 3}
