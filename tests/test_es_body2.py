"""Round-4 extension of the ES `_search` request-body compiler
(plans/es_body.es_search): every new pinned rule routes to its verified
operator and matches calling that operator directly — term-level leaves,
the match_* prefix family, multi_match/combined_fields/more_like_this,
boosting/pinned/terms_set, the span family, knn, suggesters, rescore,
from/min_score/track_total_hits/_source, and the widened agg set."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from fuzzy_wiki_spark.corpus import generate_docs_df
from fuzzy_wiki_spark.engine import SegmentIndex
from fuzzy_wiki_spark.plans.es_body import es_search


@pytest.fixture(scope="module")
def setup(spark, tmp_path_factory):
    docs = generate_docs_df(spark, 250, seed=31).withColumnRenamed(
        "content", "text"
    )
    idx = SegmentIndex.build(
        spark,
        docs.withColumnRenamed("text", "content"),
        str(tmp_path_factory.mktemp("esb2") / "ix"),
        n_buckets=4,
        mode="simple",
    )
    dv = docs.select(
        "doc_id", "lang", "text", F.length("text").alias("n_chars")
    ).withColumn("req", (F.col("doc_id") % 2 + 1).cast("int"))
    return idx, dv


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    rows = [
        (i, [float(x) for x in rng.normal(size=8)], int(i % 3))
        for i in range(60)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_term_level_leaves(spark, setup):
    idx, dv = setup
    out = es_search(idx, {"query": {"term": {"content": "binary"}}})
    assert rows(out["hits"]) == rows(idx.boolean(("binary",), (), (), k=10))

    out = es_search(
        idx, {"query": {"terms": {"content": ["binary", "tree"],
                                  "boost": 2.0}}, "size": 12}
    )
    assert rows(out["hits"]) == rows(
        idx.constant_score(["binary", "tree"], boost=2.0, k=12)
    )

    out = es_search(idx, {"query": {"prefix": {"content": "se"}}, "size": 20})
    assert rows(out["hits"]) == rows(idx.prefix("se", k=20))

    # ES wildcard syntax translates to the dictionary's SQL-LIKE
    out = es_search(
        idx, {"query": {"wildcard": {"content": "*ea*"}}, "size": 20}
    )
    assert rows(out["hits"]) == rows(idx.wildcard("%ea%", k=20))

    out = es_search(
        idx,
        {"query": {"fuzzy": {"content": {"value": "tre", "fuzziness": 1}}},
         "size": 20},
    )
    assert rows(out["hits"]) == rows(idx.fuzzy("tre", max_dist=1, k=20))

    out = es_search(
        idx, {"query": {"regexp": {"content": "b[ia].*"}}, "size": 20}
    )
    assert rows(out["hits"]) == rows(idx.regexp("b[ia].*", k=20))


def test_match_prefix_family(spark, setup):
    idx, dv = setup
    out = es_search(
        idx,
        {"query": {"match_phrase_prefix": {"content": {
            "query": "binary se", "max_expansions": 10}}}, "size": 15},
    )
    assert rows(out["hits"]) == rows(
        idx.match_phrase_prefix(("binary",), "se", max_expansions=10, k=15)
    )
    out = es_search(
        idx, {"query": {"match_bool_prefix": {"content": "binary se"}}}
    )
    assert rows(out["hits"]) == rows(
        idx.match_bool_prefix(["binary"], "se", k=10)
    )


def test_multi_field_and_mlt(spark, setup, tmp_path_factory):
    docs = generate_docs_df(spark, 200, seed=33)
    two = docs.select(
        "doc_id",
        F.concat_ws(
            " ", F.slice(F.split("content", " "), 1, 6)
        ).alias("title"),
        "content",
    )
    idx2 = SegmentIndex.build(
        spark,
        two,
        str(tmp_path_factory.mktemp("esb2mm") / "ix"),
        n_buckets=4,
        mode="simple",
        fields={"title": "title", "content": "content"},
    )
    body = {"query": {"multi_match": {
        "query": "binary tree", "fields": ["title^2.0", "content"],
        "type": "best_fields", "tie_breaker": 0.3}}}
    out = es_search(idx2, body)
    assert rows(out["hits"]) == rows(
        idx2.multi_match(
            ["binary", "tree"], [("title", 2.0), ("content", 1.0)],
            mode="best_fields", tie_breaker=0.3,
        )
    )
    body = {"query": {"combined_fields": {
        "query": "binary tree", "fields": ["title^2", "content"]}}}
    out = es_search(idx2, body)
    assert rows(out["hits"]) == rows(
        idx2.combined_fields(
            ["binary", "tree"], [("title", 2.0), ("content", 1.0)]
        )
    )
    out = es_search(idx2, {"query": {"more_like_this": {
        "fields": ["content"], "like": "binary tree search",
        "max_query_terms": 5}}})
    assert rows(out["hits"]) == rows(
        idx2.more_like_this_text(
            ["binary", "tree", "search"], m=5, k=10
        )
    )


def test_compound_queries(spark, setup):
    idx, dv = setup
    out = es_search(idx, {"query": {"boosting": {
        "positive": {"match": {"content": "binary tree"}},
        "negative": {"match": {"content": "search"}},
        "negative_boost": 0.4}}})
    assert rows(out["hits"]) == rows(
        idx.boosting(["binary", "tree"], ["search"], negative_boost=0.4)
    )
    out = es_search(idx, {"query": {"pinned": {
        "ids": [3, 7],
        "organic": {"match": {"content": "binary tree"}}}}}, docs=dv)
    assert rows(out["hits"]) == rows(
        idx.pinned(["binary", "tree"], [3, 7], dv)
    )
    out = es_search(idx, {"query": {"terms_set": {"content": {
        "terms": ["binary", "tree", "search"],
        "minimum_should_match_field": "req"}}}}, docs=dv)
    assert rows(out["hits"]) == rows(
        idx.terms_set(
            ["binary", "tree", "search"], dv.select("doc_id", "req"), "req"
        )
    )


def test_span_family(spark, setup):
    idx, dv = setup
    st = lambda t: {"span_term": {"content": t}}  # noqa: E731
    out = es_search(idx, {"query": {"span_near": {
        "clauses": [st("binary"), st("tree")], "slop": 4,
        "in_order": True}}, "size": 15})
    assert rows(out["hits"]) == rows(
        idx.span_near(("binary", "tree"), slop=4, k=15)
    )
    out = es_search(idx, {"query": {"span_near": {
        "clauses": [st("binary"), st("tree")], "slop": 4,
        "in_order": False}}, "size": 15})
    assert rows(out["hits"]) == rows(
        idx.span_within(("binary", "tree"), 6, k=15)
    )
    out = es_search(idx, {"query": {"span_near": {
        "clauses": [
            {"span_or": {"clauses": [st("binary"), st("red")]}},
            st("tree"),
        ], "slop": 3, "in_order": True}}, "size": 15})
    assert rows(out["hits"]) == rows(
        idx.span_or((("binary", "red"), ("tree",)), 3, ordered=True, k=15)
    )
    out = es_search(idx, {"query": {"span_first": {
        "match": st("binary"), "end": 6}}, "size": 15})
    assert rows(out["hits"]) == rows(idx.span_first("binary", 6, k=15))
    out = es_search(idx, {"query": {"span_not": {
        "include": st("tree"), "exclude": st("binary"),
        "pre": 1, "post": 1}}, "size": 15})
    assert rows(out["hits"]) == rows(
        idx.span_not("tree", "binary", pre=1, post=1, k=15)
    )


def test_knn_section(spark, setup, vectors):
    from fuzzy_wiki_spark.operators.similarity import (
        cosine_topk,
        filtered_cosine_topk,
    )

    idx, dv = setup
    qv = [0.5] * 8
    out = es_search(idx, {"knn": {
        "field": "embedding", "query_vector": qv, "k": 7}}, vectors=vectors)
    assert rows(out["hits"]) == rows(cosine_topk(vectors, qv, k=7))
    out = es_search(idx, {"knn": {
        "field": "embedding", "query_vector": qv, "k": 7,
        "filter": {"term": {"label": 1}}}}, vectors=vectors)
    assert rows(out["hits"]) == rows(
        filtered_cosine_topk(vectors, qv, F.col("label") == 1, k=7)
    )
    with pytest.raises(ValueError, match="hybrid"):
        es_search(idx, {"query": {"match": {"content": "x"}},
                        "knn": {"query_vector": qv}}, vectors=vectors)


def test_suggest_section(spark, setup):
    from fuzzy_wiki_spark.operators.term_expansion import suggest_terms

    idx, dv = setup
    out = es_search(idx, {"suggest": {
        "fix": {"text": "binarry", "term": {
            "field": "content", "max_edits": 2, "size": 5}},
        "say": {"text": "binary tre", "phrase": {
            "field": "content", "candidates": 4, "size": 3}},
    }})
    assert rows(out["suggest"]["fix"]) == rows(
        suggest_terms(idx.term_stats, "content", "binarry", max_dist=2, k=5)
    )
    assert rows(out["suggest"]["say"]) == rows(
        idx.phrase_suggest(["binary", "tre"], per_term=4, k=3)
    )


def test_paging_total_rescore_source(spark, setup):
    idx, dv = setup
    base = {"query": {"match": {"content": "binary tree"}}}

    # from/size: page 2 == rows 5..9 of the top-10
    all10 = [
        tuple(r)
        for r in es_search(idx, dict(base, size=10))["hits"]
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .collect()
    ]
    page2 = [
        tuple(r)
        for r in es_search(idx, dict(base, size=5, **{"from": 5}))["hits"]
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .collect()
    ]
    assert page2 == all10[5:]

    # min_score drops the tail
    scores = [s for _, s in all10]
    cut = scores[3]
    out = es_search(idx, dict(base, size=10, min_score=cut))["hits"]
    assert all(r["score"] >= cut for r in out.collect())

    # track_total_hits: exact OR match count of the query's OWN match
    # set — the caller-analyzed terms on the queried field, REDIRECT docs
    # kept as the hits keep them (NOT count_matches, which re-analyzes
    # with the porter chain and ORs over both fields — wrong on this
    # simple-mode index)
    out = es_search(idx, dict(base, track_total_hits=True))
    matched = (
        idx.term_postings("content", ["binary", "tree"], with_dl=False)
        .select("doc_id")
        .distinct()
    )
    want_total = matched.count()
    assert out["total"] == want_total
    # and the total agrees with the query's actual full match set
    full = es_search(
        idx, dict(base, size=10_000, track_total_hits=True)
    )
    assert full["total"] == full["hits"].count()
    # also when REDIRECT docs match (docs 99 and 199 of this corpus)
    red = es_search(idx, {
        "query": {"match": {"content": "REDIRECT binary"}},
        "size": 10_000, "track_total_hits": True,
    })
    red_ids = {r.doc_id for r in red["hits"].collect()}
    assert {99, 199} <= red_ids
    assert red["total"] == len(red_ids)

    # rescore == the seg_rescore construction (rounded full scores →
    # window cut → phrase signal → combine) on the compiler's own
    # analyzed terms
    from fuzzy_wiki_spark.operators.rescore import (
        phrase_occurrences,
        rescore_topk,
    )
    from fuzzy_wiki_spark.operators.segment_query import (
        search_segments_batch,
    )
    from fuzzy_wiki_spark.plans.query import Clause

    body = dict(base, rescore={
        "window_size": 50,
        "query": {"rescore_query": {"match_phrase": {
            "content": "binary tree"}}, "rescore_query_weight": 0.5},
    })
    out = es_search(idx, body)
    clauses = [Clause(i, "content", (t,), 1.0, 0, False)
               for i, t in enumerate(["binary", "tree"])]
    full = search_segments_batch(
        idx.spark, idx.segments, {0: clauses},
        idx._term_df(["binary", "tree"]), idx.field_stats, k=None,
    ).select("doc_id", F.round("score", 6).alias("score"))
    window = full.orderBy(F.desc("score"), F.asc("doc_id")).limit(50)
    sig = phrase_occurrences(
        idx.term_postings("content", ["binary", "tree"], with_dl=False),
        "content", ("binary", "tree"), candidates=window,
    )
    want = rescore_topk(window, sig, first_k=50, k=10, weight=0.5)
    assert rows(out["hits"]) == rows(want)
    # and the rescored frame actually carries phrase evidence
    assert any(r["signal"] > 0 for r in out["hits"].collect())

    # _source joins stored fields onto the k hits
    out = es_search(idx, dict(base, **{"_source": ["lang"]}), docs=dv)
    got = out["hits"]
    assert set(got.columns) == {"doc_id", "score", "lang"}
    assert got.count() == 10


def test_new_aggs(spark, setup):
    idx, dv = setup
    qt = ["binary", "tree"]
    out = es_search(
        idx,
        {"query": {"match": {"content": "binary tree"}},
         "aggs": {
             "h": {"histogram": {"field": "n_chars", "interval": 200}},
             "c": {"cardinality": {"field": "text", "group_by": "lang"}},
             "p": {"percentiles": {"field": "n_chars",
                                   "group_by": "lang",
                                   "percents": [50, 90]}},
             "v": {"value_count": {"field": "lang", "group_by": "lang"}},
             "m": {"missing": {"field": "lang"}},
             "g": {"global": {"field": "lang"}},
             "f": {"filters": {"filters": {
                 "bin": {"terms": {"content": ["binary"]}},
                 "tr": {"terms": {"content": ["tree"]}}}}},
             "s": {"significant_terms": {"size": 5, "min_doc_count": 2}},
             "t": {"top_metrics": {"sort": {"n_chars": "desc"},
                                   "metrics": [{"field": "n_chars"}],
                                   "group_by": "lang"}},
         }},
        docs=dv,
    )
    a = out["aggregations"]
    assert rows(a["h"]) == rows(
        idx.histogram_facet(qt, dv, 200, "n_chars")
    )
    assert rows(a["c"]) == rows(
        idx.facet_cardinality(qt, dv, facet_col="lang", of_col="text")
    )
    assert rows(a["p"]) == rows(
        idx.facet_percentiles(qt, dv, "lang", "n_chars",
                              percentiles=(0.5, 0.9))
    )
    assert rows(a["v"]) == rows(
        idx.value_count_agg(qt, dv, "lang", "lang")
    )
    assert rows(a["m"]) == rows(idx.missing_agg(qt, dv, "lang"))
    assert rows(a["g"]) == rows(idx.global_agg(qt, dv, "lang"))
    assert rows(a["f"]) == rows(
        idx.filters_agg({"bin": ["binary"], "tr": ["tree"]})
    )
    assert rows(a["s"]) == rows(
        idx.significant_terms(qt, k=5, min_doc_count=2)
    )
    assert rows(a["t"]) == rows(
        idx.top_metrics(qt, dv, "lang", "n_chars", ["n_chars"])
    )


def test_rejections(spark, setup):
    idx, dv = setup
    with pytest.raises(ValueError, match="unsupported query rule"):
        es_search(idx, {"query": {"nope": {}}})
    with pytest.raises(ValueError, match="ordered-only"):
        es_search(idx, {"query": {"span_near": {
            "clauses": [{"span_or": {"clauses": [
                {"span_term": {"content": "a"}}]}}],
            "in_order": False}}})
    with pytest.raises(ValueError, match="vectors"):
        es_search(idx, {"knn": {"query_vector": [0.0]}})


def test_msearch_and_template(spark, setup):
    from fuzzy_wiki_spark.plans.es_body import (
        es_msearch,
        es_search_template,
        render_template,
    )

    idx, dv = setup
    # batched path: one job, results == per-query direct search
    bodies = [
        {"query": {"match": {"content": "binary tree"}}, "size": 5},
        {"query": {"match": {"content": "search"}}, "size": 8},
    ]
    results = es_msearch(idx, bodies)
    assert len(results) == 2
    for body, res in zip(bodies, results):
        _, words = body["query"]["match"].popitem()
        direct = idx.boolean(
            (), tuple(words.split()), (), k=body["size"]
        )
        got = {(r["doc_id"], round(r["score"], 9))
               for r in res["hits"].collect()}
        want = {(r["doc_id"], round(r["score"], 9))
                for r in direct.collect()}
        assert got == want
    # mixed batch falls back to es_search per body
    mixed = es_msearch(idx, [
        {"query": {"match_phrase": {"content": "binary search"}},
         "size": 5},
        {"query": {"match": {"content": "tree"}}, "size": 5},
    ])
    assert mixed[0]["hits"].count() <= 5

    # template rendering: typed injection + textual substitution
    t = {"query": {"match": {"content": "{{q}} tree"}},
         "size": "{{k}}"}
    assert render_template(t, {"q": "binary", "k": 7}) == {
        "query": {"match": {"content": "binary tree"}}, "size": 7}
    out = es_search_template(idx, t, {"q": "binary", "k": 7})
    assert rows(out["hits"]) == rows(
        idx.boolean((), ("binary", "tree"), (), k=7))
    with pytest.raises(ValueError, match="unbound"):
        render_template(t, {"q": "binary"})


def test_retriever_rrf(spark, setup, vectors):
    from fuzzy_wiki_spark.operators.hybrid import rank_topn, rrf_fuse
    from fuzzy_wiki_spark.operators.segment_query import (
        search_segments_batch,
    )
    from fuzzy_wiki_spark.operators.similarity import cosine_topk
    from fuzzy_wiki_spark.plans.query import Clause

    idx, dv = setup
    qv = [0.3] * 8
    out = es_search(idx, {"retriever": {"rrf": {
        "retrievers": [
            {"standard": {"query": {"match": {"content": "binary tree"}}}},
            {"knn": {"field": "embedding", "query_vector": qv, "k": 20}},
        ], "rank_constant": 60, "rank_window_size": 20}},
        "size": 10}, vectors=vectors)
    clauses = [Clause(i, "content", (t,), 1.0, 0, False)
               for i, t in enumerate(["binary", "tree"])]
    full = search_segments_batch(
        idx.spark, idx.segments, {0: clauses},
        idx._term_df(["binary", "tree"]), idx.field_stats, k=None,
    ).select("doc_id", F.round("score", 6).alias("score"))
    lex = rank_topn(full, "score", 20)
    cos = cosine_topk(vectors, qv, k=20).select(
        F.col("vec_id").alias("doc_id"), "cos_sim")
    want = rrf_fuse([lex, rank_topn(cos, "cos_sim", 20)], k=60, topk=10)
    assert rows(out["hits"]) == rows(want)


def test_runtime_mappings(spark, setup):
    idx, dv = setup
    # runtime field drives filter context AND sort
    body = {"query": {"bool": {
        "must": [{"match": {"content": "binary tree"}}],
        "filter": [{"range": {"rt_half": {"gte": 150}}}]}},
        "runtime_mappings": {"rt_half": {"script": "n_chars / 2"}},
        "size": 100}
    got = es_search(idx, body, docs=dv)["hits"]
    allowed = {r["doc_id"] for r in dv.where("n_chars / 2 >= 150").collect()}
    assert {r["doc_id"] for r in got.collect()} <= allowed
    body = {"query": {"match": {"content": "binary tree"}},
            "runtime_mappings": {"rt_len": {"script": "length(text)"}},
            "sort": [{"rt_len": {"order": "desc"}}], "size": 5}
    got = es_search(idx, body, docs=dv)["hits"]
    want = idx.sort_by_field(
        ["binary", "tree"],
        dv.withColumn("rt_len", F.expr("length(text)"))
          .select("doc_id", "rt_len"),
        "rt_len", k=5, ascending=False,
    )
    assert rows(got) == rows(want)


def test_wrapper_and_script_score(spark, setup):
    import base64
    import json as _json

    idx, dv = setup
    b64 = base64.b64encode(
        _json.dumps({"match": {"content": "binary tree"}}).encode()
    ).decode()
    out = es_search(idx, {"query": {"wrapper": {"query": b64}}, "size": 7})
    assert rows(out["hits"]) == rows(
        idx.boolean((), ("binary", "tree"), (), k=7))

    # script_score reorders: constant script kills the BM25 order,
    # doc_id tiebreak takes over; an n_chars script ranks by doc value
    out = es_search(idx, {"query": {"script_score": {
        "query": {"match": {"content": "binary tree"}},
        "script": {"source": "n_chars * 1.0"}}}, "size": 5}, docs=dv)
    got = [r["doc_id"] for r in out["hits"].collect()]
    match_ids = {r["doc_id"]
                 for r in idx.boolean((), ("binary", "tree"), (),
                                      k=100000).collect()}
    want = [r["doc_id"] for r in dv.where(
        F.col("doc_id").isin(list(match_ids)))
        .orderBy(F.desc("n_chars"), F.asc("doc_id")).limit(5).collect()]
    assert got == want


def test_inner_hits_explain_profile(spark, setup):
    from fuzzy_wiki_spark.operators.collapse import grouped_topk
    from fuzzy_wiki_spark.operators.segment_query import (
        search_segments_batch,
    )
    from fuzzy_wiki_spark.plans.query import Clause

    idx, dv = setup
    grp = dv.withColumn("g", (F.col("doc_id") % 4).cast("string"))
    out = es_search(idx, {
        "query": {"match": {"content": "binary tree"}},
        "collapse": {"field": "g", "inner_hits": {"size": 2}},
        "size": 3}, docs=grp)
    clauses = [Clause(i, "content", (t,), 1.0, 0, False)
               for i, t in enumerate(["binary", "tree"])]
    full = search_segments_batch(
        idx.spark, idx.segments, {0: clauses},
        idx._term_df(["binary", "tree"]), idx.field_stats, k=None,
    ).select("doc_id", F.round("score", 6).alias("score"))
    want = grouped_topk(
        full, grp.select("doc_id", F.col("g").alias("group")), m=2, k=3)
    assert rows(out["hits"]) == rows(want)

    out = es_search(idx, {"query": {"match": {"content": "binary tree"}},
                          "explain": True, "profile": True})
    exp = out["explanation"].collect()
    top = out["hits"].orderBy(
        F.desc("score"), F.asc("doc_id")).head(1)[0]
    # sum of per-term contribs == the top hit's score (BM25 identity)
    assert round(sum(r["contrib"] for r in exp), 5) == round(
        top["score"], 5)
    assert isinstance(out["profile"], str) and "Scan" in out["profile"]


def test_knn_num_candidates_two_phase(spark, setup, vectors):
    from fuzzy_wiki_spark.operators.similarity import (
        cosine_topk,
        quantized_rerank_topk,
    )

    idx, dv = setup
    qv = [0.4] * 8
    out = es_search(idx, {"knn": {
        "field": "embedding", "query_vector": qv, "k": 5,
        "num_candidates": 20}}, vectors=vectors)
    want = quantized_rerank_topk(vectors, qv, k=5, num_candidates=20)
    assert rows(out["hits"]) == rows(want)
    # exhaustive candidates == exact brute force (rerank is exact)
    full = quantized_rerank_topk(vectors, qv, k=5, num_candidates=60)
    brute = cosine_topk(vectors, qv, k=5)
    assert rows(full) == rows(brute)


def test_percolate_kind(spark, setup):
    from fuzzy_wiki_spark.operators.percolate import percolate

    idx, dv = setup
    rules = spark.createDataFrame(
        [(1, ["binary", "tree"], 2), (2, ["search"], 1)],
        "query_id int, terms array<string>, min_match int",
    )
    out = es_search(None, {"query": {"percolate": {"documents": [
        {"_id": 7, "text": "binary tree search walk"},
        {"_id": 9, "text": "nothing here"},
    ]}}}, rules=rules)
    ddf = spark.createDataFrame(
        [(7, "binary tree search walk"), (9, "nothing here")],
        "doc_id long, text string",
    )
    assert rows(out["hits"]) == rows(percolate(ddf, rules))
    got = {(r["doc_id"], r["query_id"]) for r in out["hits"].collect()}
    assert got == {(7, 1), (7, 2)}


def test_query_string_kind(spark, setup):
    idx, dv = setup
    q = '+binary -walk "binary tree"~2 se*'
    out = es_search(idx, {"query": {"query_string": {"query": q}},
                          "size": 10})
    assert rows(out["hits"]) == rows(
        idx.extended(q, k=10, analyze=str.split))


def test_agg_family_completion(spark, setup):
    idx, dv = setup
    qt = ["binary", "tree"]
    dsc = "date_add(date'2020-01-01', cast((doc_id % 400) as int))"
    out = es_search(
        idx,
        {"query": {"match": {"content": "binary tree"}},
         "aggs": {
             "dr": {"date_range": {"script": dsc, "ranges": [
                 {"key": "y20", "to": "2021-01-01"},
                 {"key": "y21", "from": "2021-01-01"}]}},
             "adh": {"auto_date_histogram": {"script": dsc,
                                             "buckets": 8}},
             "co": {"composite": {"sources": [
                 {"l": {"terms": {"field": "lang"}}}], "size": 5}},
             "am": {"adjacency_matrix": {"filters": {
                 "bin": {"terms": {"content": ["binary"]}},
                 "tr": {"terms": {"content": ["tree"]}}}}},
             "rt": {"rare_terms": {"field": "lang", "max_doc_count": 3}},
             "mt": {"multi_terms": {"terms": [{"field": "lang"}],
                                    "size": 4}},
             "wa": {"weighted_avg": {"value": {"field": "n_chars"},
                                     "weight": {"field": "req"}}},
             "ss": {"string_stats": {"field": "lang"}},
             "mad": {"median_absolute_deviation": {"field": "n_chars"}},
             "bx": {"boxplot": {"field": "n_chars"}},
         }},
        docs=dv,
    )
    a = out["aggregations"]
    dexpr = F.expr(dsc)
    assert rows(a["dr"]) == rows(idx.date_range_agg(
        qt, dv, [("y20", None, "2021-01-01"), ("y21", "2021-01-01", None)],
        dexpr))
    _, adh_want = idx.auto_date_histogram(qt, dv, dexpr, target_buckets=8)
    assert rows(a["adh"]) == rows(adh_want)
    assert rows(a["co"]) == rows(idx.composite_agg(
        qt, dv, ["lang"], size=5))
    assert rows(a["am"]) == rows(idx.adjacency_matrix(
        {"bin": ["binary"], "tr": ["tree"]}))
    assert rows(a["rt"]) == rows(idx.rare_terms(
        qt, dv, "lang", max_doc_count=3))
    assert rows(a["mt"]) == rows(idx.multi_terms(qt, dv, ["lang"], 4))
    assert rows(a["wa"]) == rows(idx.weighted_avg(
        qt, dv, "n_chars", "req"))
    assert rows(a["ss"]) == rows(idx.string_stats(qt, dv, "lang"))
    assert rows(a["mad"]) == rows(idx.median_abs_dev(qt, dv, "n_chars"))
    assert rows(a["bx"]) == rows(idx.boxplot_agg(qt, dv, "n_chars"))


def test_function_score_kind(spark, setup):
    import fuzzy_wiki_spark.operators.scoring as SC
    from fuzzy_wiki_spark.operators.segment_query import (
        search_segments_batch,
    )
    from fuzzy_wiki_spark.plans.query import Clause

    idx, dv = setup
    body = {"query": {"function_score": {
        "query": {"match": {"content": "binary tree"}},
        "functions": [
            {"field_value_factor": {"field": "n_chars",
                                    "modifier": "ln1p"}},
        ],
        "boost_mode": "multiply"}}, "size": 8}
    out = es_search(idx, body, docs=dv)
    clauses = [Clause(i, "content", (t,), 1.0, 0, False)
               for i, t in enumerate(["binary", "tree"])]
    full = search_segments_batch(
        idx.spark, idx.segments, {0: clauses},
        idx._term_df(["binary", "tree"]), idx.field_stats, k=None,
    ).select("doc_id", F.round("score", 6).alias("score"))
    want = SC.function_score(
        full, dv, [SC.field_value_factor("n_chars", "ln1p")],
        ["n_chars"], k=8, boost_mode="multiply",
    )
    assert rows(out["hits"]) == rows(want)
    with pytest.raises(ValueError, match="unsupported score function"):
        es_search(idx, {"query": {"function_score": {
            "query": {"match": {"content": "x"}},
            "functions": [{"nope": {}}]}}}, docs=dv)


def test_geo_filter_context(spark, setup):
    from fuzzy_wiki_spark.operators.boolean import compile_filter
    from fuzzy_wiki_spark.operators.geo import haversine_km

    idx, dv = setup
    geo = dv.withColumn(
        "lat", (F.col("doc_id") * 7 % 170 - 85).cast("double")
    ).withColumn(
        "lon", (F.col("doc_id") * 13 % 360 - 180).cast("double")
    )
    pred = compile_filter({"geo_distance": {
        "distance_km": 5000.0, "lat": 10.0, "lon": 20.0,
        "fields": ["lat", "lon"]}})
    got = {r["doc_id"] for r in geo.where(pred).collect()}
    want = {
        r["doc_id"]
        for r in geo.select(
            "doc_id",
            haversine_km(10.0, 20.0, F.col("lat"), F.col("lon"))
            .alias("d"),
        ).where("d <= 5000.0").collect()
    }
    assert got == want and got
    # date-line-crossing bounding box splits the longitude range
    bpred = compile_filter({"geo_bounding_box": {
        "fields": ["lat", "lon"],
        "top_left": {"lat": 60.0, "lon": 170.0},
        "bottom_right": {"lat": -60.0, "lon": -170.0}}})
    box = {r["doc_id"] for r in geo.where(bpred).collect()}
    wantb = {
        r["doc_id"]
        for r in geo.where(
            "lat between -60 and 60 and (lon >= 170 or lon <= -170)"
        ).collect()
    }
    assert box == wantb and box


def test_simple_query_string(spark, setup):
    idx, dv = setup
    body = {"query": {"simple_query_string": {
        "query": 'binary -walk "binary tree"~2 se*',
        "default_operator": "or"}}, "size": 10}
    out = es_search(idx, body)
    assert rows(out["hits"]) == rows(
        idx.extended('binary -walk "binary tree"~2 se*', k=10,
                     analyze=str.split))
    body["query"]["simple_query_string"]["default_operator"] = "and"
    out = es_search(idx, body)
    assert rows(out["hits"]) == rows(
        idx.extended('+binary -walk +"binary tree"~2 +se*', k=10,
                     analyze=str.split))
    with pytest.raises(ValueError, match="no infix"):
        es_search(idx, {"query": {"simple_query_string": {
            "query": "a | b"}}})


def test_function_score_forms_and_knn_similarity(spark, setup, vectors):
    import fuzzy_wiki_spark.operators.scoring as SC
    from fuzzy_wiki_spark.operators.segment_query import (
        search_segments_batch,
    )
    from fuzzy_wiki_spark.operators.similarity import cosine_topk
    from fuzzy_wiki_spark.plans.query import Clause

    idx, dv = setup
    clauses = [Clause(i, "content", (t,), 1.0, 0, False)
               for i, t in enumerate(["binary", "tree"])]
    full = search_segments_batch(
        idx.spark, idx.segments, {0: clauses},
        idx._term_df(["binary", "tree"]), idx.field_stats, k=None,
    ).select("doc_id", F.round("score", 6).alias("score"))
    # rank_feature log + sigmoid forms, gauss decay
    body = {"query": {"function_score": {
        "query": {"match": {"content": "binary tree"}},
        "functions": [
            {"rank_feature": {"field": "n_chars",
                              "log": {"scaling_factor": 0.01}}},
            {"rank_feature": {"field": "n_chars",
                              "sigmoid": {"pivot": 500, "exponent": 2}}},
            {"gauss": {"script": "date_add(date'2021-01-01', "
                                 "cast(doc_id % 300 as int))",
                       "origin": "2021-06-01", "scale": 120.0,
                       "decay": 0.5}},
        ], "boost_mode": "sum"}}, "size": 8}
    out = es_search(idx, body, docs=dv)
    age = F.datediff(
        F.lit("2021-06-01").cast("date"),
        F.expr("date_add(date'2021-01-01', cast(doc_id % 300 as int))"),
    ).cast("double")
    want = SC.function_score(
        full, dv,
        [SC.rank_feature_factor("n_chars", "log", scaling=0.01),
         SC.rank_feature_factor("n_chars", "sigmoid", pivot=500,
                                exponent=2),
         SC.decay_gauss(age, 120.0, decay=0.5)],
        ["n_chars"], k=8, boost_mode="sum",
    )
    assert rows(out["hits"]) == rows(want)

    # knn similarity floor
    qv = [0.2] * 8
    out = es_search(idx, {"knn": {
        "field": "embedding", "query_vector": qv, "k": 30,
        "similarity": 0.2}}, vectors=vectors)
    want = cosine_topk(vectors, qv, k=30).where("cos_sim >= 0.2")
    assert rows(out["hits"]) == rows(want)
    assert all(r["cos_sim"] >= 0.2 for r in out["hits"].collect())


def test_advice_r5_fixes(spark, setup, vectors):
    """Round-5 advice regressions: wrapper forwards rules, msearch
    fallback accepts rules, from+knn fetches the page, sqs rejects
    attached infix operators, wildcard escapes literal %/_."""
    import base64
    import json

    import pytest

    from fuzzy_wiki_spark.plans.es_body import es_msearch

    idx, dv = setup

    # wrapper around a percolate body must reach the rules frame
    rules = spark.createDataFrame(
        [(1, ["binary", "tree"], 2), (2, ["search"], 1)],
        "query_id int, terms array<string>, min_match int",
    )
    inner = {"percolate": {"document": {"text": "binary tree search"}}}
    b64 = base64.b64encode(json.dumps(inner).encode()).decode()
    direct = es_search(idx, {"query": inner}, rules=rules)
    wrapped = es_search(
        idx, {"query": {"wrapper": {"query": b64}}}, rules=rules
    )
    assert sorted(map(tuple, wrapped["hits"].collect())) == sorted(
        map(tuple, direct["hits"].collect())
    )

    # msearch fallback path forwards rules too (mixed batch)
    out = es_msearch(
        idx,
        [{"query": inner}, {"query": {"term": {"content": "binary"}}}],
        rules=rules,
    )
    assert sorted(map(tuple, out[0]["hits"].collect())) == sorted(
        map(tuple, direct["hits"].collect())
    )

    # from + knn-only: rejected loudly (knn hits are (vec_id, cos_sim),
    # not a scored doc frame — a silent k-offset page would be wrong),
    # and the knn cut fetches from+size when k is defaulted
    qv = [1.0] + [0.0] * 7
    base = {"knn": {"field": "embedding", "query_vector": qv}}
    out10 = es_search(None, dict(base, size=10), vectors=vectors)
    assert out10["hits"].count() == 10
    with pytest.raises(ValueError):
        es_search(
            None, dict(base, size=5, **{"from": 5}), vectors=vectors
        )["hits"].collect()

    # from + collapse pages the collapsed groups
    base_c = {
        "query": {"match": {"content": "binary tree"}},
        "collapse": {"field": "lang"},
    }
    allc = [
        tuple(r)
        for r in es_search(idx, dict(base_c, size=10), docs=dv)["hits"]
        .orderBy(F.desc("score"), F.asc("doc_id")).collect()
    ]
    pagec = [
        tuple(r)
        for r in es_search(
            idx, dict(base_c, size=2, **{"from": 1}), docs=dv
        )["hits"].orderBy(F.desc("score"), F.asc("doc_id")).collect()
    ]
    assert pagec == allc[1:3]

    # from + collapse.inner_hits is rejected loudly
    with pytest.raises(ValueError, match="inner_hits"):
        es_search(
            idx,
            dict(
                base_c,
                collapse={"field": "lang", "inner_hits": {"size": 2}},
                size=2,
                **{"from": 1},
            ),
            docs=dv,
        )

    # sqs: attached infix operators rejected as loudly as parentheses
    for bad in ["a|b", "a+b", "x (y z)"]:
        with pytest.raises(ValueError, match="simple_query_string"):
            es_search(
                idx,
                {"query": {"simple_query_string": {"query": bad}}},
            )
    # quoted phrases may contain them
    out = es_search(
        idx,
        {"query": {"simple_query_string": {"query": '"binary tree"'}}},
    )
    assert out["hits"].count() > 0

    # wildcard: a literal _ in the term is escaped, not a 1-char
    # wildcard — bin_ry must NOT match the dictionary term 'binary'
    # while bin?ry still does
    hit = es_search(idx, {"query": {"wildcard": {"content": "bin?ry"}}})
    assert hit["hits"].count() > 0
    miss = es_search(
        idx, {"query": {"wildcard": {"content": "bin_ry"}}}
    )
    assert miss["hits"].count() == 0


def test_join_field_kinds(spark, setup):
    """has_child / has_parent / nested through the compiler match the
    verified operators called directly; inner_hits variants route to
    grouped_topk / the element filter."""
    import pytest

    from fuzzy_wiki_spark.operators.collapse import grouped_topk
    from fuzzy_wiki_spark.operators.parent_child import (
        has_child_topk,
        has_parent_topk,
    )
    from fuzzy_wiki_spark.operators.segment_query import (
        search_segments_batch,
    )
    from fuzzy_wiki_spark.plans.query import Clause

    idx, dv = setup
    docs = dv.withColumn(
        "src", (F.col("doc_id") % 7).cast("string")
    )

    words = ["binary", "tree"]
    clauses = [
        Clause(i, "content", (t,), 1.0, 0, False)
        for i, t in enumerate(words)
    ]
    full = search_segments_batch(
        spark, idx.segments, {0: clauses}, idx._term_df(words),
        idx.field_stats, k=None,
    ).select("doc_id", F.round("score", 6).alias("score"))

    body = {"query": {"has_child": {
        "type": "src",
        "query": {"match": {"content": "binary tree"}},
        "score_mode": "sum",
        "min_children": 2,
    }}, "size": 5}
    out = es_search(idx, body, docs=docs)
    want = has_child_topk(
        full, docs, "src", k=5, score_mode="sum", min_children=2
    )
    assert rows(out["hits"]) == rows(want)

    # inner_hits → grouped_topk
    body["query"]["has_child"]["inner_hits"] = {"size": 2}
    out = es_search(idx, body, docs=docs)
    want = grouped_topk(
        full, docs.select("doc_id", F.col("src").alias("group")),
        m=2, k=5,
    )
    assert rows(out["hits"]) == rows(want)

    # has_parent: constant-score children of matching parents
    out = es_search(None, {"query": {"has_parent": {
        "parent_type": "src",
        "query": {"terms": {"parent": ["1", "3"]}},
        "boost": 2.0,
    }}, "size": 8}, docs=docs)
    want = has_parent_topk(
        docs, "src", F.col("parent").isin(["1", "3"]), boost=2.0, k=8
    )
    assert rows(out["hits"]) == rows(want)

    # nested term + range, with and without inner_hits
    toks = F.filter(F.split(F.col("text"), " "),
                    lambda x: x != F.lit(""))
    nd = docs.withColumn(
        "chunks",
        F.transform(
            F.slice(toks, 1, 4),
            lambda x, i: F.struct(i.alias("pos"), x.alias("term")),
        ),
    )
    out = es_search(None, {"query": {"nested": {
        "path": "chunks",
        "query": {"term": {"chunks.term": "binary"}},
    }}, "size": 6}, docs=nd)
    want_ids = [
        r.doc_id
        for r in nd.where(
            F.exists("chunks", lambda e: e["term"] == F.lit("binary"))
        ).orderBy("doc_id").limit(6).collect()
    ]
    got = out["hits"].orderBy("doc_id").collect()
    assert [r.doc_id for r in got] == want_ids
    assert all(r.score == 1.0 for r in got)

    out = es_search(None, {"query": {"nested": {
        "path": "chunks",
        "query": {"range": {"chunks.pos": {"gte": 1, "lt": 3}}},
        "inner_hits": {"size": 2},
    }}, "size": 4}, docs=nd)
    for r in out["hits"].collect():
        assert 1 <= len(r.inner_hits) <= 2
        assert all(1 <= e.pos < 3 for e in r.inner_hits)

    # loud rejects: scored nested / off-path field / non-match has_child
    with pytest.raises(ValueError, match="score_mode"):
        es_search(None, {"query": {"nested": {
            "path": "chunks", "score_mode": "max",
            "query": {"term": {"chunks.term": "x"}},
        }}}, docs=nd)
    with pytest.raises(ValueError, match="path"):
        es_search(None, {"query": {"nested": {
            "path": "chunks",
            "query": {"term": {"other.term": "x"}},
        }}}, docs=nd)
    with pytest.raises(ValueError, match="match leaf"):
        es_search(idx, {"query": {"has_child": {
            "type": "src", "query": {"term": {"content": "x"}},
        }}}, docs=docs)


def test_has_child_from_pages_the_parent_ranking(spark, setup):
    """has_child with ``from`` fetches from+size parents and returns the
    page after the first ``from`` (score desc, parent asc); combined with
    inner_hits it is rejected, as collapse.inner_hits is."""
    import pytest

    idx, dv = setup
    docs = dv.withColumn("src", (F.col("doc_id") % 7).cast("string"))
    body = {"query": {"has_child": {
        "type": "src", "query": {"match": {"content": "binary tree"}},
    }}}
    ranking = [
        tuple(r) for r in
        es_search(idx, {**body, "size": 5}, docs=docs)["hits"]
        .orderBy(F.desc("score"), F.asc("parent")).collect()
    ]
    assert len(ranking) == 5
    page = es_search(idx, {**body, "from": 2, "size": 2}, docs=docs)
    assert rows(page["hits"]) == sorted(ranking[2:4])
    body["query"]["has_child"]["inner_hits"] = {"size": 2}
    with pytest.raises(ValueError, match="has_child.inner_hits"):
        es_search(idx, {**body, "from": 1}, docs=docs)

def test_doc_value_query_kinds(spark, setup):
    """range / exists / ids in QUERY context: constant-score matches of
    the filter-DSL predicate over the docs table, boost honored, first-k
    by doc_id."""
    idx, dv = setup
    out = es_search(None, {"query": {"range": {
        "n_chars": {"gte": 100, "lt": 260, "boost": 2.0},
    }}, "size": 6}, docs=dv)
    want = [
        r.doc_id
        for r in dv.where(
            (F.col("n_chars") >= 100) & (F.col("n_chars") < 260)
        ).orderBy("doc_id").limit(6).collect()
    ]
    got = out["hits"].orderBy("doc_id").collect()
    assert [r.doc_id for r in got] == want
    assert all(r.score == 2.0 for r in got)

    out = es_search(None, {"query": {"exists": {"field": "lang"}}},
                    docs=dv)
    assert out["hits"].count() == 10  # default size over non-null lang

    out = es_search(None, {"query": {"ids": {"values": [3, 7, 11]}}},
                    docs=dv)
    assert sorted(r.doc_id for r in out["hits"].collect()) == [3, 7, 11]


def test_more_like_this_by_document_id(spark, setup):
    """The ES document form {"like": {"_id": N}} routes to the verified
    forward-lookup MLT and matches calling it directly."""
    idx, dv = setup
    out = es_search(idx, {"query": {"more_like_this": {
        "fields": ["content"], "like": {"_id": 7},
        "max_query_terms": 8,
    }}, "size": 6})
    want = idx.more_like_this(7, field="content", m=8, k=6)
    assert rows(out["hits"]) == rows(want)
    assert all(r.doc_id != 7 for r in out["hits"].collect())


def test_match_operator_and_minimum_should_match(spark, setup):
    """match operator=and requires every analyzed term;
    minimum_should_match keeps only docs with >= n distinct should
    terms; totals agree with the hits' own match set in both modes."""
    idx, dv = setup
    qtext = "binary tree search"
    words = ["binary", "tree", "search"]

    out_and = es_search(idx, {"query": {"match": {"content": {
        "query": qtext, "operator": "and"}}}, "size": 500,
        "track_total_hits": True})
    want = idx.boolean(tuple(words), (), (), k=500)
    assert rows(out_and["hits"]) == rows(want)
    assert out_and["total"] == out_and["hits"].count()

    out_msm = es_search(idx, {"query": {"match": {"content": {
        "query": qtext, "minimum_should_match": 2}}}, "size": 500,
        "track_total_hits": True})
    got = out_msm["hits"]
    assert out_msm["total"] == got.count()
    # every hit holds >= 2 of the 3 terms; compare with the OR set
    out_or = es_search(idx, {"query": {"match": {
        "content": qtext}}, "size": 500})
    assert 0 < got.count() < out_or["hits"].count()
    ids_msm = {r.doc_id for r in got.collect()}
    posts = idx.term_postings("content", words, with_dl=False)
    from pyspark.sql import functions as _F

    n_by_doc = {
        r.doc_id: r.n
        for r in posts.groupBy("doc_id")
        .agg(_F.countDistinct("term").alias("n"))
        .collect()
    }
    assert ids_msm == {d for d, n in n_by_doc.items() if n >= 2}

    # bool body-level minimum_should_match
    out_b = es_search(idx, {"query": {"bool": {
        "should": [{"match": {"content": "binary"}},
                   {"match": {"content": "tree"}},
                   {"match": {"content": "search"}}],
        "minimum_should_match": 3,
    }}, "size": 500, "track_total_hits": True})
    assert out_b["total"] == out_b["hits"].count()
    assert {r.doc_id for r in out_b["hits"].collect()} == {
        d for d, n in n_by_doc.items() if n >= 3
    }


def test_terms_agg_with_metric_subaggs(spark, setup):
    """terms bucket agg with metric sub-aggregations: one combinable
    groupBy computes the bucket count and every sub-metric; values
    match per-bucket recomputation."""
    idx, dv = setup
    out = es_search(idx, {
        "query": {"match": {"content": "binary tree"}},
        "aggs": {"by_lang": {
            "terms": {"field": "lang"},
            "aggs": {
                "avg_len": {"avg": {"field": "n_chars"}},
                "max_len": {"max": {"field": "n_chars"}},
                "n_reqs": {"cardinality": {"field": "req"}},
            },
        }},
    }, docs=dv)
    agg = out["aggregations"]["by_lang"]
    assert set(agg.columns) == {
        "lang", "n_docs", "avg_len", "max_len", "n_reqs"
    }
    rows_ = {r.lang: r for r in agg.collect()}
    assert rows_
    # recompute one bucket by hand over the match set
    match = (
        idx.term_postings("content", ["binary", "tree"], with_dl=False)
        .select("doc_id").distinct()
        .join(dv, "doc_id")
    )
    some_lang = next(iter(rows_))
    want = match.where(F.col("lang") == some_lang).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("n_chars"), 6).alias("a"),
        F.max("n_chars").alias("m"),
        F.countDistinct("req").alias("c"),
    ).collect()[0]
    got = rows_[some_lang]
    assert (got.n_docs, got.avg_len, got.max_len, got.n_reqs) == (
        want.n, want.a, want.m, want.c
    )
    # plan: ONE docs join feeds every metric (no per-metric joins), no
    # Expand (count_distinct plans as a two-phase agg, not a rollup)
    plan = agg._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "Expand" not in final
    njoin = sum(
        final.count(j)
        for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
    )
    assert njoin <= 2, final


def test_top_hits_subagg_and_term_bool_leaves(spark, setup):
    """top_hits under a terms bucket returns the top-m hits within each
    facet value; bool slots accept unanalyzed term leaves."""
    idx, dv = setup
    out = es_search(idx, {
        "query": {"match": {"content": "binary tree"}},
        "aggs": {"by_lang": {
            "terms": {"field": "lang"},
            "aggs": {"top": {"top_hits": {"size": 2}}},
        }},
    }, docs=dv)
    agg = out["aggregations"]["by_lang"]
    got = agg.collect()
    assert got and all(r.rank <= 2 for r in got)
    # per-facet winners match a manual window over the full scored set
    from fuzzy_wiki_spark.operators.segment_query import (
        search_segments_batch,
    )
    from fuzzy_wiki_spark.plans.query import Clause
    from pyspark.sql import Window

    clauses = [Clause(i, "content", (t,), 1.0, 0, False)
               for i, t in enumerate(["binary", "tree"])]
    full = search_segments_batch(
        spark, idx.segments, {0: clauses},
        idx._term_df(["binary", "tree"]), idx.field_stats, k=None,
    ).select("doc_id", F.round("score", 6).alias("score"))
    w = Window.partitionBy("lang").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    want = (
        full.join(dv.select("doc_id", "lang"), "doc_id")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 2)
    )
    assert rows(agg) == rows(want)

    # term leaves inside bool slots (unanalyzed)
    out = es_search(idx, {"query": {"bool": {
        "must": [{"term": {"content": "binary"}}],
        "should": [{"match": {"content": "tree"}}],
        "must_not": [{"term": {"content": "walk"}}],
    }}, "size": 8})
    want2 = idx.boolean(("binary",), ("tree",), ("walk",), k=8)
    assert rows(out["hits"]) == rows(want2)


def test_top_hits_rejects_queries_it_cannot_score(setup):
    """Bucket hits are scored as the OR-match over the query's terms, so
    a query kind whose main hits are not that match (here a doc-value
    range query, which binds no terms) is refused, not answered with
    empty buckets."""
    idx, dv = setup
    with pytest.raises(ValueError, match="top_hits"):
        es_search(idx, {
            "query": {"range": {"n_chars": {"gte": 10}}},
            "aggs": {"by_lang": {
                "terms": {"field": "lang"},
                "aggs": {"top": {"top_hits": {"size": 2}}},
            }},
        }, docs=dv)


def test_constant_score_general_filter_and_dis_max_term(spark, setup):
    idx, dv = setup
    out = es_search(None, {"query": {"constant_score": {
        "filter": {"range": {"n_chars": {"gte": 150}}},
        "boost": 3.0,
    }}, "size": 7}, docs=dv)
    want = [
        r.doc_id
        for r in dv.where(F.col("n_chars") >= 150)
        .orderBy("doc_id").limit(7).collect()
    ]
    got = out["hits"].orderBy("doc_id").collect()
    assert [r.doc_id for r in got] == want
    assert all(r.score == 3.0 for r in got)

    out = es_search(idx, {"query": {"dis_max": {
        "queries": [{"term": {"content": "binary"}},
                    {"match": {"content": "tree"}}],
        "tie_breaker": 0.4,
    }}, "size": 6})
    want2 = idx.dis_max(["binary", "tree"], field="content",
                        tie_breaker=0.4, k=6)
    assert rows(out["hits"]) == rows(want2)


def test_multi_field_sort_with_search_after(spark, setup):
    """sort by [lang asc, n_chars desc] pages correctly under the
    lexicographic search_after cursor."""
    idx, dv = setup
    body = {
        "query": {"match": {"content": "binary tree"}},
        "sort": [{"lang": {"order": "asc"}},
                 {"n_chars": {"order": "desc"}}],
        "size": 400,
    }
    all_rows = [
        (r.lang, r.n_chars, r.doc_id)
        for r in es_search(idx, body, docs=dv)["hits"]
        .select("lang", "n_chars", "doc_id").collect()
    ]
    # globally ordered by (lang asc, n_chars desc, doc_id asc)
    assert all_rows == sorted(
        all_rows, key=lambda t: (t[0], -t[1], t[2])
    )
    assert len(all_rows) > 6
    # page 2 after the 3rd row
    cur = all_rows[2]
    page = es_search(
        idx,
        dict(body, size=3, search_after=[cur[0], cur[1], cur[2]]),
        docs=dv,
    )["hits"].select("lang", "n_chars", "doc_id").collect()
    assert [(r.lang, r.n_chars, r.doc_id) for r in page] == all_rows[3:6]
