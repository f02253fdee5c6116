"""Per-bucket scoring tasks (segment_query.score_buckets): every
SegmentIndex surface that scores through them returns the same ranked
top-k as an in-process replay of the per-bucket kernel — bucket_topk over
each bucket's full segment rows, lists merged and cut at
(score desc, doc_id asc). Bucket counts below, at and above the session's
4 shuffle partitions, plus a 3-generation incremental union with a
tombstone generation."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuzzy_wiki_spark.corpus import generate_docs_df
from fuzzy_wiki_spark.engine import SegmentIndex
from fuzzy_wiki_spark.operators import segment_query as sq
from fuzzy_wiki_spark.plans.query import compile_query

QUERIES = ["binary search tree", "merge sort", "return", "hash table",
           "zzzzmissing", "a the of"]
DOOMED = list(range(0, 240, 5))  # tombstoned in the incremental union


@pytest.fixture(scope="module", params=["b2", "b4", "b8", "inc3"])
def index(request, spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("bt") / request.param)
    if request.param != "inc3":
        docs = generate_docs_df(spark, 200, seed=19)
        return SegmentIndex.build(
            spark, docs, out, n_buckets=int(request.param[1:])
        )
    from fuzzy_wiki_spark.streaming.incremental import (
        append_batch,
        delete_docs,
        open_incremental,
    )

    docs = generate_docs_df(spark, 240, seed=23)
    for gen in range(3):
        append_batch(
            spark, docs.where(F.col("doc_id") % 3 == gen), gen, out,
            n_buckets=4,
        )
    delete_docs(spark, DOOMED, "del-0", out, n_buckets=4)
    return open_incremental(spark, out)


@pytest.fixture(scope="module")
def replay(index):
    """query → in-process top-k, one decode cache per bucket."""
    pdf = index.segments.toPandas()
    buckets = [(g, {}) for _, g in pdf.groupby("bucket")]
    doc_counts = {f: dc for f, (dc, _) in index.field_stats.items()}
    avgdl = {f: a for f, (_, a) in index.field_stats.items()}

    def run(query, k, after=None, allowed=None):
        clauses = compile_query(query)
        if not clauses:
            return []
        tdf = index._term_df(sorted({t for c in clauses for t in c.terms}))
        w = sq._query_weights(clauses, tdf, doc_counts)
        parts = [
            sq.bucket_topk(g, clauses, w, avgdl, k, cache=cache,
                           after=after, allowed=allowed)
            for g, cache in buckets
        ]
        ids = np.concatenate([p["doc_id"].to_numpy(np.int64) for p in parts])
        sc = np.concatenate([p["score"].to_numpy(np.float64) for p in parts])
        o = np.lexsort((ids, -sc))[:k]
        return [(int(d), float(s)) for d, s in zip(ids[o], sc[o])]

    return run


def _hits(df):
    return [(int(r["doc_id"]), float(r["score"])) for r in df.collect()]


def _same(got, want):
    assert [d for d, _ in got] == [d for d, _ in want]
    assert [s for _, s in got] == pytest.approx([s for _, s in want])


def test_search_and_search_many_match_replay(index, replay):
    k = 7
    wants = [replay(q, k) for q in QUERIES]
    assert any(wants), "corpus must match some query"
    for i in (0, 1, 2, 4):
        _same(_hits(index.search(QUERIES[i], k=k)), wants[i])
    rows = index.search_many(QUERIES, k=k).collect()
    for qid, want in enumerate(wants):
        mine = sorted(
            (r["rank"], r["doc_id"], r["score"])
            for r in rows if r["query_id"] == qid
        )
        assert [r for r, _, _ in mine] == list(range(1, len(mine) + 1))
        _same([(d, s) for _, d, s in mine], want)
    if index.path is None:  # the tombstoned union
        hit = {d for want in wants for d, _ in want}
        assert hit and not hit & set(DOOMED)


def test_search_after_and_filtered_match_replay(index, replay):
    k = 5
    q = "binary search tree"
    first = replay(q, k)
    assert len(first) == k
    cursor = (first[2][1], first[2][0])
    _same(
        _hits(index.search_after(q, cursor, k=k)),
        replay(q, k, after=cursor),
    )
    allowed = [d for d in range(240) if d % 2 == 0]
    want = replay(q, k, allowed=np.asarray(allowed, dtype=np.int64))
    assert want
    _same(_hits(index.search_filtered(q, allowed, k=k)), want)
