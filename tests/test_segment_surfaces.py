"""Every query surface served from the compressed segments must equal the
same operator over fresh relational postings — including over a
multi-generation incremental index (disjoint-epoch union)."""

import pandas as pd
import pytest

from pyspark.sql import functions as F

from fuzzy_wiki_spark.engine import SegmentIndex
from fuzzy_wiki_spark.operators.boolean import boolean_topk
from fuzzy_wiki_spark.operators.postings import (
    build_postings,
    field_stats,
    term_stats,
)
from fuzzy_wiki_spark.operators.term_expansion import (
    expand_fuzzy,
    expand_wildcard,
    expanded_topdocs,
)
from fuzzy_wiki_spark.operators.topk import phrase_topdocs

DOCS = [
    (0, "merge join key merge join fast"),
    (1, "merge fast join slow key stream"),
    (2, "sort sore part spark merge join"),
    (3, "sort sort scan"),
    (4, "fast hash part merge"),
    (5, "key join merge join key"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        pd.DataFrame(DOCS, columns=["doc_id", "content"])
    ).cache()


@pytest.fixture(scope="module")
def posts(docs):
    return build_postings(
        docs, fields={"content": "content"}, mode="simple"
    ).cache()


@pytest.fixture(scope="module")
def seg(spark, docs, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("seg") / "ix")
    return SegmentIndex.build(
        spark, docs, out, n_buckets=4, mode="simple",
        fields={"content": "content"},
    )


@pytest.fixture(scope="module")
def inc(spark, docs, tmp_path_factory):
    """Two-generation incremental index over the same docs."""
    from fuzzy_wiki_spark.streaming.incremental import (
        append_batch,
        open_incremental,
    )

    out = str(tmp_path_factory.mktemp("inc") / "ix")
    for epoch in range(2):
        append_batch(
            spark,
            docs.where(F.col("doc_id") % 2 == epoch),
            epoch,
            out,
            n_buckets=4,
            mode="simple",
            fields={"content": "content"},
        )
    return open_incremental(spark, out)


def rows(df):
    return [tuple(r) for r in df.collect()]


@pytest.fixture(scope="module")
def stats(posts):
    fs = {
        r["field"]: (r["doc_count"], float(r["avgdl"]))
        for r in field_stats(posts).collect()
    }
    return fs


@pytest.mark.parametrize("index_fix", ["seg", "inc"])
def test_boolean_parity(request, posts, stats, index_fix):
    idx = request.getfixturevalue(index_fix)
    must, should, must_not = ("merge", "join"), ("fast",), ("stream",)
    tdf = {
        (r["field"], r["term"]): r["df"]
        for r in term_stats(posts)
        .where(F.col("term").isin(["merge", "join", "fast"]))
        .collect()
    }
    want = rows(
        boolean_topk(
            posts, "content", must, should, must_not, tdf, stats
        ).select("doc_id", F.round("score", 6).alias("s"))
    )
    got = rows(
        idx.boolean(must, should, must_not).select(
            "doc_id", F.round("score", 6).alias("s")
        )
    )
    assert got == want


@pytest.mark.parametrize("index_fix", ["seg", "inc"])
@pytest.mark.parametrize(
    "phrase,slop",
    [(("merge", "join"), 0), (("merge", "join", "key"), 0),
     (("merge", "key"), 3)],
)
def test_phrase_parity(request, posts, index_fix, phrase, slop):
    idx = request.getfixturevalue(index_fix)
    want = rows(phrase_topdocs(posts, "content", phrase, slop=slop))
    got = rows(idx.phrase(phrase, slop=slop))
    assert got == want


@pytest.mark.parametrize("index_fix", ["seg", "inc"])
def test_expanded_parity(request, posts, index_fix):
    idx = request.getfixturevalue(index_fix)
    ts = term_stats(posts)
    # prefix
    want = rows(
        expanded_topdocs(
            posts, "content",
            ts.where(F.col("term").startswith("s")).select("term"), 20,
        )
    )
    assert rows(idx.prefix("s")) == want
    # fuzzy
    want = rows(
        expanded_topdocs(
            posts, "content",
            expand_fuzzy(ts, "content", "sort", 1), 20,
        )
    )
    assert rows(idx.fuzzy("sort", 1)) == want
    # wildcard
    want = rows(
        expanded_topdocs(
            posts, "content",
            expand_wildcard(ts, "content", "%ar%"), 20,
        )
    )
    assert rows(idx.wildcard("%ar%")) == want


@pytest.mark.parametrize("index_fix", ["seg", "inc"])
@pytest.mark.parametrize(
    "q",
    [
        '+merge +join -stream fast',
        '"merge join"~3 s* part~2',
        '+"merge join" /s.rt/ key',
        '"merge merge join"~3',
    ],
)
def test_extended_language_parity(request, spark, posts, stats, index_fix, q):
    from fuzzy_wiki_spark.operators.postings import term_stats as TS
    from fuzzy_wiki_spark.plans.qlang import (
        execute_extended,
        parse_extended,
    )

    idx = request.getfixturevalue(index_fix)
    eq = parse_extended(q, analyze=str.split)
    want = rows(
        execute_extended(spark, posts, TS(posts), stats, eq).select(
            "doc_id", F.round("score", 6).alias("s")
        )
    )
    got = rows(
        idx.extended(q, analyze=str.split).select(
            "doc_id", F.round("score", 6).alias("s")
        )
    )
    assert got == want, q


def test_count_matches_parity_with_redirects(spark, tmp_path):
    """SegmentIndex.count_matches == InvertedIndex.count_matches on a
    corpus that contains REDIRECT docs (doc_id % 100 == 99) — the
    serving-path count must apply the same exclusion as search()."""
    from fuzzy_wiki_spark.corpus import generate_docs_pdf
    from fuzzy_wiki_spark.engine import InvertedIndex

    docs = spark.createDataFrame(generate_docs_pdf(150, seed=3))
    rel = InvertedIndex.build(spark, docs)
    segi = SegmentIndex.build(spark, docs, str(tmp_path / "cnt"), n_buckets=4)
    for q in ("binary search tree", "return", "zzznothing", "binary"):
        assert segi.count_matches(q) == rel.count_matches(q), q
    assert segi.count_matches("binary") > 0


def test_term_postings_prunes_before_decode(seg):
    # the adapter's decode input must carry the term predicate (pruned
    # scan), not the whole segments table
    df = seg.term_postings("content", ["merge"], with_dl=False)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "merge" in plan  # term filter present below the decode
    got = {r.term for r in df.select("term").distinct().collect()}
    assert got == {"merge"}


def test_terms_enum_pages_cover_dictionary(spark, seg):
    """_terms_enum: prefix range + search_after cursor pages walk the
    dictionary in order without overlap; case_insensitive folds."""
    idx = seg
    all_terms = sorted(
        r["term"]
        for r in idx.term_stats.where("field = 'content'")
        .select("term").collect()
    )
    seen, after = [], None
    while True:
        page = idx.terms_enum("", size=7, search_after=after).collect()
        if not page:
            break
        seen.extend(r["term"] for r in page)
        after = page[-1]["term"]
    assert seen == all_terms
    pfx = all_terms[0][0]
    got = [r["term"] for r in idx.terms_enum(pfx, size=1000).collect()]
    assert got == [t for t in all_terms if t.startswith(pfx)]
    up = [r["term"] for r in idx.terms_enum(
        pfx.upper(), size=1000, case_insensitive=True).collect()]
    assert up == got


def test_local_term_stats_fetch_matches_spark_path(spark, tmp_path):
    """The driver-side pyarrow term_stats reader must return exactly
    what the Spark-collect path returns (including absent terms staying
    absent), and only on-disk indexes get it."""
    from fuzzy_wiki_spark.corpus import generate_docs_df
    from fuzzy_wiki_spark.engine import SegmentIndex, _memo_term_df

    docs = generate_docs_df(spark, 150, seed=23)
    idx = SegmentIndex.build(
        spark, docs, str(tmp_path / "ts_ix"), n_buckets=2, mode="simple"
    )
    fetch = idx._local_term_stats_fetch()
    assert fetch is not None  # on-disk index → direct reader
    terms = ["binary", "tree", "zzz_absent", "return"]
    got = idx._term_df(terms)

    class Fresh:  # separate memo owner, Spark path
        pass

    want = _memo_term_df(Fresh(), idx.term_stats, terms)
    assert got == want
    assert all(t != "zzz_absent" for _, t in got)

    # from_parts (no path) falls back to the Spark path
    idx2 = SegmentIndex.from_parts(
        spark, idx.segments, idx.term_stats, idx.field_stats
    )
    assert idx2._local_term_stats_fetch() is None
    assert idx2._term_df(terms) == want
