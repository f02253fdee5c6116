"""Plan-shape pins for the round-2 pipeline operators: the intended
physical strategy must survive refactors (same practice as
tests/test_trigram.py's pins)."""

import random

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark, n=60, seed=5):
    rng = random.Random(seed)
    rows = [
        (i, " ".join(rng.choice("abcdefgh") + str(rng.randrange(30))
                     for _ in range(40)))
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_winnow_pairs_no_cartesian(spark):
    """The pair join must be an equi-join on fp — never a cartesian /
    nested-loop product over the corpus."""
    from fuzzy_wiki_spark.operators.winnow import winnow_pairs

    plan = _plan(winnow_pairs(_docs(spark), threshold=0.0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_encode_docs_broadcasts_vocab(spark):
    """The vocab join is model-sized — it must broadcast, not shuffle the
    corpus-sized token stream."""
    from fuzzy_wiki_spark.operators.vocab import (
        build_vocab,
        encode_docs_rows,
    )

    d = _docs(spark)
    plan = _plan(encode_docs_rows(d, build_vocab(d)))
    assert "BroadcastHashJoin" in plan


def test_chunk_documents_no_shuffle(spark):
    """Chunking is a narrow map stage: no Exchange anywhere in the plan."""
    from fuzzy_wiki_spark.operators.export import chunk_documents

    plan = _plan(chunk_documents(_docs(spark), max_tokens=16, stride=8))
    assert "Exchange" not in plan


def test_winnow_fingerprints_no_shuffle(spark):
    """Fingerprint extraction is a narrow Arrow stage: no Exchange."""
    from fuzzy_wiki_spark.operators.winnow import winnow_fingerprints

    plan = _plan(winnow_fingerprints(_docs(spark)))
    assert "Exchange" not in plan
    assert (
        "ArrowEvalPython" in plan
        or "MapInArrow" in plan
        or "PythonMapInArrow" in plan
    )


def test_collapse_is_partial_aggregate_not_window(spark):
    """The collapse must be a combinable groupBy (partial aggregation
    before the exchange), never a window sort over the full candidate
    set on the group key."""
    from fuzzy_wiki_spark.operators.collapse import collapse_topk

    scored = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(50)], "doc_id long, score double"
    )
    groups = spark.createDataFrame(
        [(i, str(i % 5)) for i in range(50)], "doc_id long, group string"
    )
    plan = _plan(collapse_topk(scored, groups, k=5))
    assert "Window" not in plan
    # partial_min shows the map-side combine of the struct-min agg
    # (min of (-score, id) = best score, lowest id — id-type-generic)
    assert "partial_min" in plan or "partial min" in plan.lower()


def test_grouped_topk_ranks_only_k_groups(spark):
    """Group ranking must be a partial top-k (TakeOrderedAndProject —
    each partition contributes ≤k group leads), never a row_number
    window over the FULL group-lead frame: at repo granularity on a
    10^12-file corpus an unpartitioned ranking window is a one-task
    sort (ADVICE r3). The only unpartitioned window allowed in the plan
    is the k-row rank assignment AFTER the limit."""
    from fuzzy_wiki_spark.operators.collapse import grouped_topk

    scored = spark.createDataFrame(
        [(i, float(i % 13)) for i in range(80)], "doc_id long, score double"
    )
    groups = spark.createDataFrame(
        [(i, str(i % 17)) for i in range(80)], "doc_id long, group string"
    )
    out = grouped_topk(scored, groups, m=2, k=5)
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan
    # correctness unchanged: 5 groups, ≤2 hits each, ranks contiguous
    rows = out.collect()
    assert len({r["group"] for r in rows}) == 5
    assert sorted({r["group_rank"] for r in rows}) == [1, 2, 3, 4, 5]
    for r in rows:
        assert r["hit_rank"] in (1, 2)


def test_classifier_broadcasts_weights(spark):
    """The weight table is model-sized — it must broadcast, never
    shuffle the corpus-sized (doc, term) stream onto the term key."""
    from fuzzy_wiki_spark.operators.classifier import (
        classifier_score,
        hash_weights,
    )

    d = _docs(spark)
    vocab = d.select(
        F.explode(F.split("text", " ")).alias("term")
    ).distinct()
    plan = _plan(classifier_score(d, hash_weights(vocab)))
    assert "BroadcastHashJoin" in plan


def test_redact_is_map_only(spark):
    """Redaction is a pure map pass: no Exchange in the plan."""
    from fuzzy_wiki_spark.functions.text import redact_secrets

    plan = _plan(_docs(spark).select(redact_secrets(F.col("text"))))
    assert "Exchange" not in plan


def test_rescore_signal_join_is_not_cartesian(spark):
    """The rescore combine joins a first_k-row window with the signal —
    an equi-join, never a nested-loop product."""
    from fuzzy_wiki_spark.operators.rescore import rescore_topk

    scored = spark.createDataFrame(
        [(i, float(i)) for i in range(40)], "doc_id long, score double"
    )
    sig = spark.createDataFrame(
        [(3, 2), (7, 1)], "doc_id long, signal int"
    )
    plan = _plan(rescore_topk(scored, sig, first_k=10, k=5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_multi_match_single_doc_exchange(spark):
    """multi_match pivots per-field sums into ONE combinable
    groupBy(doc_id): exactly one hash exchange keyed by doc_id for the
    whole scoring aggregation (plus the broadcast of the weight table —
    never a shuffle), and no Window. The naive shape — groupBy(doc,field)
    then groupBy(doc) — would show two ENSURE_REQUIREMENTS exchanges."""
    from fuzzy_wiki_spark.operators.multi_match import multi_match

    posts = spark.createDataFrame(
        [
            (i, fld, t, 1 + i % 3, 20 + i % 5)
            for i in range(40)
            for fld in ("content", "path")
            for t in ("a1", "b2")
        ],
        "doc_id long, field string, term string, tf int, dl int",
    )
    fstats = {"content": (40, 22.0), "path": (40, 22.0)}
    tdf = {(f, t): 10 for f in fstats for t in ("a1", "b2")}
    for mode in ("best_fields", "most_fields", "cross_fields"):
        plan = _plan(
            multi_match(
                spark, posts, [("path", 1.5), ("content", 1.0)],
                ["a1", "b2"], tdf, fstats, mode=mode, k=5,
            )
        )
        assert "Window" not in plan
        n_shuffles = plan.count("Exchange hashpartitioning")
        assert n_shuffles == 1, f"{mode}: {n_shuffles} shuffles\n{plan}"


def test_msm_no_expand(spark):
    """minimum_should_match counts distinct matched terms via pivoted
    max-indicators — no Expand operator (countDistinct's plan) and a
    single doc_id exchange."""
    from fuzzy_wiki_spark.operators.multi_match import min_should_match_topk

    posts = spark.createDataFrame(
        [(i, "content", t, 1, 20) for i in range(40) for t in ("a1", "b2")],
        "doc_id long, field string, term string, tf int, dl int",
    )
    fstats = {"content": (40, 22.0)}
    tdf = {("content", t): 10 for t in ("a1", "b2")}
    plan = _plan(
        min_should_match_topk(
            spark, posts, "content", ["a1", "b2"], 2, tdf, fstats, k=5
        )
    )
    assert "Expand" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_span_containing_single_agg_no_cartesian(spark):
    """span_containing: ONE doc-keyed aggregate over the three terms'
    pruned scan feeds the Arrow kernel — no cartesian, no extra
    exchange beyond the candidate agg + the final top-k."""
    from fuzzy_wiki_spark.operators import postings as P
    from fuzzy_wiki_spark.operators.spans import span_containing_topdocs

    posts = P.build_postings(
        _docs(spark), fields={"content": "text"}, mode="simple"
    )
    plan = _plan(
        span_containing_topdocs(posts, "content", ("a1", "b2"), "c3")
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the candidate set is one hash aggregate on doc_id
    assert plan.count("HashAggregate") <= 4  # partial+final x (agg)


def test_wordpiece_encode_broadcasts_distinct_words(spark):
    """wordpiece_encode: the MaxMatch kernel runs on the DISTINCT word
    table and joins back by broadcast — the corpus-sized token stream
    must never shuffle on word."""
    from fuzzy_wiki_spark.operators.wordpiece import (
        wordpiece_encode,
        wordpiece_train,
        wordpiece_vocab,
    )

    d = _docs(spark, n=30)
    _, words = wordpiece_train(d, 1, min_pair_count=1)
    plan = _plan(wordpiece_encode(d, wordpiece_vocab(words)))
    assert "BroadcastHashJoin" in plan


def test_msearch_batch_is_one_scored_frame(spark, tmp_path):
    """es_msearch's batchable subset: one search_segments_batch frame
    feeds every body's hits — per-body frames are filters over the SAME
    plan (same semantic hash), not independent re-scans."""
    from fuzzy_wiki_spark.corpus import generate_docs_df
    from fuzzy_wiki_spark.engine import SegmentIndex
    from fuzzy_wiki_spark.plans.es_body import es_msearch

    docs = generate_docs_df(spark, 120, seed=3)
    idx = SegmentIndex.build(
        spark, docs, str(tmp_path / "ix"), n_buckets=2, mode="simple"
    )
    res = es_msearch(idx, [
        {"query": {"match": {"content": "binary tree"}}, "size": 5},
        {"query": {"match": {"content": "search"}}, "size": 5},
    ])
    import re

    p0, p1 = _plan(res[0]["hits"]), _plan(res[1]["hits"])

    # both plans are Filter(query_id=i) over one identical batch subtree
    # — normalize expression ids, plan ids and the query_id literal
    def norm(s):
        s = re.sub(r"#\d+", "#", s)
        s = re.sub(r"plan_id=\d+", "plan_id=", s)
        return re.sub(r"query_id# = \d+", "query_id# = Q", s)

    assert norm(p0) == norm(p1)


def test_quantized_rerank_broadcasts_candidates(spark):
    """knn num_candidates route: the exact-rerank pass reads raw
    vectors through a BROADCAST semi-join on the candidate ids — never
    a shuffle of the vector store, never a cartesian."""
    import numpy as np

    from fuzzy_wiki_spark.operators.similarity import (
        quantized_rerank_topk,
    )

    rng = np.random.default_rng(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(80)],
        "vec_id long, embedding array<float>",
    )
    plan = _plan(quantized_rerank_topk(emb, [0.1] * 8, k=5,
                                       num_candidates=20))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_build_vocab_no_global_sort_window(spark):
    """The dense-id assignment must be the two-phase banded rank: the
    vocab-sized row_number window is partitioned by _band, and the only
    SinglePartition exchange feeds the per-band offset cumsum (one row
    per band), never the term table itself."""
    from fuzzy_wiki_spark.operators.vocab import build_vocab

    plan = _plan(build_vocab(_docs(spark)))
    # the rank window carries a partition spec (…) before the ordering
    assert "row_number()" in plan
    ranked = [
        ln for ln in plan.splitlines() if "row_number()" in ln
    ]
    assert ranked and all("_band" in ln for ln in ranked)
    # no SinglePartition exchange directly under a Sort of the term table
    for i, ln in enumerate(plan.splitlines()):
        if "Exchange SinglePartition" in ln:
            # must sit above the band-size aggregate, not the term scan
            below = "\n".join(plan.splitlines()[i:i + 3])
            assert "HashAggregate" in below


def test_sort_by_fields_is_take_ordered_with_pushed_cursor(spark):
    """Multi-field sort must finish in TakeOrderedAndProject (never a
    global sort or window), and the search_after cursor must be a plain
    Filter below it."""
    from fuzzy_wiki_spark.operators.multi_match import (
        sort_by_fields_topk,
    )
    from fuzzy_wiki_spark.operators.postings import build_postings

    d = _docs(spark).withColumnRenamed("text", "content")
    posts = build_postings(d, fields={"content": "content"},
                           mode="simple")
    dv = d.select(
        "doc_id",
        (F.col("doc_id") % 5).alias("grp"),
        F.length("content").alias("n"),
    )
    out = sort_by_fields_topk(
        posts, "content", ["a1", "b2"], dv,
        [("grp", True), ("n", False)], k=5, after=(2, 100, 10),
    )
    plan = _plan(out)
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    assert "Filter" in plan


def test_terms_with_metrics_single_aggregate(spark):
    """Every sub-metric rides one combinable groupBy: one docs join, no
    Expand, no per-metric pass."""
    from fuzzy_wiki_spark.operators.facets import terms_with_metrics
    from fuzzy_wiki_spark.operators.postings import build_postings

    d = _docs(spark).withColumnRenamed("text", "content")
    posts = build_postings(d, fields={"content": "content"},
                           mode="simple").select("doc_id", "term")
    dv = d.select(
        "doc_id",
        (F.col("doc_id") % 5).alias("grp"),
        F.length("content").alias("n"),
    )
    out = terms_with_metrics(
        posts, dv, ["a1", "b2"], "grp",
        [("avg_n", "avg", "n"), ("max_n", "max", "n"),
         ("card", "cardinality", "doc_id")],
    )
    plan = _plan(out).split("== Initial Plan ==")[0]
    assert "Expand" not in plan
    njoin = sum(plan.count(j) for j in
                ("BroadcastHashJoin", "SortMergeJoin",
                 "ShuffledHashJoin"))
    assert njoin <= 2, plan


def test_segment_search_scores_buckets_in_parallel_tasks(spark, tmp_path):
    """Segment scoring is one mapInPandas task per shuffle partition
    behind a REPARTITION_BY_NUM exchange (never a grouped-map stage that
    AQE coalesces into one task), sized to the index's 2 buckets rather
    than the session's 4 shuffle partitions, with rows sorted by bucket
    inside a task; a single search finishes in TakeOrderedAndProject with
    no window, a batch keeps its per-query rank window."""
    import re

    from fuzzy_wiki_spark.corpus import generate_docs_df
    from fuzzy_wiki_spark.engine import SegmentIndex

    idx = SegmentIndex.build(
        spark, generate_docs_df(spark, 120, seed=3), str(tmp_path / "ix"),
        n_buckets=2, mode="simple",
    )
    single = _plan(idx.search("binary tree", k=5))
    ext = _plan(idx.extended("binary AND tree", k=5))
    batch = _plan(idx.search_many(["binary tree", "search"], k=5))
    for p in (single, ext, batch):
        assert "FlatMapGroupsInPandas" not in p
        assert "MapInPandas" in p
        assert re.search(
            r"direct_shuffle_partition_id\(bucket#\d+\), 2\), "
            r"REPARTITION_BY_NUM", p
        )
        assert re.search(r"Sort \[bucket#\d+ ASC", p)
    for p in (single, ext):
        assert "TakeOrderedAndProject" in p
        assert "Window" not in p
    assert "Window" in batch


def test_term_in_matches_isin_and_pushes_down(spark, tmp_path):
    """The one-call ``term IN (...)`` predicate returns the same rows as
    ``isin`` for unanalysed terms holding a quote, a backslash or a
    variable-substitution pattern, and pushes down as the parquet In
    filter."""
    from fuzzy_wiki_spark.operators.segment_query import term_in

    odd = ["it's", "a\\b", "\\'", "${spark.app.name}", "x\\u0041", "%_"]
    rows = [(i, t) for i, t in enumerate(odd + ["plain", "other"])]
    path = str(tmp_path / "t")
    spark.createDataFrame(rows, "id int, term string").write.parquet(path)
    df = spark.read.parquet(path)
    terms = odd + ["plain", "absent"]
    got = sorted(tuple(r) for r in df.where(term_in(terms)).collect())
    want = sorted(
        tuple(r) for r in df.where(F.col("term").isin(terms)).collect()
    )
    assert got == want and len(got) == len(odd) + 1
    import re

    assert re.search(
        r"PushedFilters: \[[^\]]*In\(term, ", _plan(df.where(term_in(terms)))
    )
    # a call site: SegmentIndex.term_postings over a segment table
    import numpy as np
    import pandas as pd

    from fuzzy_wiki_spark.engine import SegmentIndex
    from fuzzy_wiki_spark.operators.segments import encode_group

    seg = pd.DataFrame(
        [
            dict(
                encode_group(np.array([i]), np.array([1]), [np.array([0])]),
                field="content",
                term=t,
            )
            for i, t in rows
        ]
    )
    spark.createDataFrame(seg).write.parquet(str(tmp_path / "seg"))
    idx = SegmentIndex.from_parts(
        spark, spark.read.parquet(str(tmp_path / "seg")), None, {}
    )
    posts = idx.term_postings("content", terms, with_dl=False)
    assert sorted((r.doc_id, r.term) for r in posts.collect()) == want
    assert re.search(r"PushedFilters: \[[^\]]*In\(term, ", _plan(posts))
