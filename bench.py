#!/usr/bin/env python
"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]
and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": ...}

Suite = porter index build over `documents` + BM25 query set over the
persisted index + the heavy pipeline operators (postings materialization,
SQL-skeleton BM25, MinHash-LSH, SimHash, ANN cosine). Extra keys beyond the
contract (build_files_per_sec, query p50/p99) are informational.

Scaling evidence (north rule, N vs 4N executors): run
  SPARK_GRAFT_CPUS=8 python bench.py   and   SPARK_GRAFT_CPUS=32 python bench.py
— see BENCH.md for recorded results + efficiency.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from pyspark.sql import functions as F  # noqa: E402

from fuzzy_wiki_spark import get_spark  # noqa: E402
from fuzzy_wiki_spark import driver_queries as DQ  # noqa: E402
from fuzzy_wiki_spark.engine import InvertedIndex  # noqa: E402

BM25_QUERIES = [
    "spark merge join",
    "window batch stream",
    "customer order",
    "hash table scan",
    "slow query filter",
    "vector column data",
    "the small part",
    "sort",
]


def _phase_control(reps: int = 3) -> float:
    """Engine-independent VM-phase probe (VERDICT r2 'What's wrong #1'),
    shared definition in fuzzy_wiki_spark/phase.py so every bench script's
    control_sec is the same kernel. Emitted as control_sec_start /
    control_sec_end (the phase can shift mid-suite) in every BENCH JSON."""
    from fuzzy_wiki_spark.phase import phase_control

    return phase_control(reps)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0

    control_start = _phase_control()

    spark = get_spark(
        "fuzzy-wiki-bench", master=f"local[{cpus}]", shuffle_partitions=cpus
    )
    timings: dict[str, float] = {}
    controls: dict[str, float] = {}
    suite_t0 = time.perf_counter()

    def timed(name: str, fn, reps: int = 1, bracket: bool = False):
        """Time fn; with reps > 1 record the BEST run (this box's absolute
        speed swings ~2x between phases — noisy neighbor, BENCH.md §2 — so
        one-shot sections take min-of-2; labeled via the "timing" key).

        ``bracket=True`` runs the VM-phase control kernel IMMEDIATELY
        before the section and records it in ``controls[name]`` — the
        per-section normalizer for single-shot sections that cannot take
        a best-of-2 (builds: a second rep reuses the first's shuffle
        files, so its time is not a build time). Cross-round comparisons
        of a bracketed section should use timings[name]/controls[name]
        (the "per_control" key), which cancels the phase the section
        actually ran in rather than the suite-average phase
        (VERDICT r3 'What's wrong #2')."""
        if bracket:
            controls[name] = _phase_control(reps=2)
        best, out = None, None
        for _ in range(reps):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 4)
        return out

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id",
        F.col("source").alias("path"),
        F.col("text").alias("content"),
    )
    n_docs = docs.count()

    # 1) index build (porter chain, postings + stats materialized).
    # Builds stay SINGLE-SHOT: a second rep reuses the first rep's shuffle
    # files (exchange reuse survives unpersist), so its time is not a
    # build time — measured 1.5 s vs ~5 s real.
    idx = timed(
        "build_index",
        lambda: InvertedIndex.build(spark, docs, persist=True),
        bracket=True,
    )
    n_postings = timed("postings_count", lambda: idx.postings.count())

    # 1b) warm the index session: materialize the persisted stats tables and
    # run one untimed pass of the query set so the per-query latencies below
    # measure the warm serving path — cache fill, Python worker-pool spawn
    # and JVM JIT (which needs several executions to tier up) are paid here
    # and reported as their own key, not smeared into q0..q2's latency. The
    # reference's k6 load test likewise measures a warmed running server
    # after a ramp-up phase (LoadTest.ts:6-14); one full pass is the ramp.
    def _warm():
        idx.term_stats.count()
        idx.docs_meta.count()
        # one batch job over the whole query set + one single-query job:
        # identical operators/codepaths to the per-query loop below (same
        # scorer, same UDFs, same cached tables), so cache fill, Python
        # worker-pool spawn and JVM JIT tier-up all happen here — at one
        # job's wall instead of |queries| sequential jobs (measured: the
        # old per-query ramp was ~24 s of the suite; this is ~5 s, and
        # the per-query section below is best-of-2 anyway, which absorbs
        # any residual first-run warming)
        idx.search_many(BM25_QUERIES, k=10).collect()
        idx.search(BM25_QUERIES[0], k=10).collect()

    timed("warm_index", _warm, bracket=True)

    # 2) BM25 query set over the persisted index — FIVE measured passes,
    # best per query (the box's noisy-neighbor phases strike mid-run too;
    # the min is the engine's latency, the spread is the VM's). Raised
    # from 2 after the r4 q3/q4 wobble: an isolated 5-rep rerun showed
    # the path itself got FASTER than r3 (BENCH.md §5), so the extra
    # reps exist to keep suite-position noise out of the recorded best.
    q_times = []
    for i, q in enumerate(BM25_QUERIES):
        best = None
        for _ in range(5):
            t0 = time.perf_counter()
            idx.search(q, k=10).collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        q_times.append(best)
        timings[f"bm25_q{i}"] = round(best, 4)

    # 2b) batch replay: whole query set in ONE job (the throughput path)
    t0 = time.perf_counter()
    batch_rows = idx.search_many(BM25_QUERIES, k=10).select(
        "query_id", "doc_id"
    ).collect()
    batch_sec = time.perf_counter() - t0
    timings["bm25_batch_replay"] = round(batch_sec, 4)
    batch_hits = {(r["query_id"], r["doc_id"]) for r in batch_rows}

    # 2c) north-star path: compressed block-max segments + WAND, batch replay
    import shutil
    import tempfile

    from fuzzy_wiki_spark.engine import SegmentIndex

    seg_dir = tempfile.mkdtemp(prefix="fw_bench_seg_")
    seg = timed(
        "seg_build",
        lambda: SegmentIndex.build(spark, docs, seg_dir, n_buckets=cpus),
        bracket=True,
    )
    seg.segments = seg.segments.persist()
    seg.segments.count()
    t0 = time.perf_counter()
    seg_rows = seg.search_many(BM25_QUERIES, k=10).select(
        "query_id", "doc_id"
    ).collect()
    seg_batch_sec = time.perf_counter() - t0
    timings["seg_batch_replay"] = round(seg_batch_sec, 4)
    # per-(query, doc) parity between the WAND replay and the relational
    # scorer — recorded (not fatal) but precise: a doc-level regression in
    # either path shows up as a nonzero mismatch count
    seg_hits = {(r["query_id"], r["doc_id"]) for r in seg_rows}
    seg_mismatched_hits = len(batch_hits ^ seg_hits)
    seg_rows_match = seg_mismatched_hits == 0

    # 2c2) serving-path per-query latency: the compressed segment/WAND
    # engine is the recommended query path (README §serving path); its
    # p50/p99 is the headline latency. Batch replay above already warmed
    # the decode path; best-of-2 per query.
    seg_q_times = []
    for i, q in enumerate(BM25_QUERIES):
        best = None
        for _ in range(2):
            t0 = time.perf_counter()
            seg.search(q, k=10).collect()
            dt = time.perf_counter() - t0
            best = dt if best is None else min(best, dt)
        seg_q_times.append(best)
        timings[f"seg_bm25_q{i}"] = round(best, 4)

    # 2d) extended query language served from the segments (term-pruned
    # decode — the serving-path shape for the Lucene QueryParser surface)
    timed(
        "seg_extended_query",
        lambda: seg.extended(
            '+merge -stream "merge join"~3 fast s* part~2', k=10
        ).collect(),
        reps=2,
    )

    # 2e) round-4 serving surfaces on the same segment index: facets,
    # snippets, synonym expansion, more-like-this — the decorations a
    # real search page adds around the top-k, all served from the
    # term-pruned segment decode (README §serving path)
    raw_docs_meta = spark.read.parquet(f"{sf_dir}/documents.parquet")
    timed(
        "seg_facets",
        lambda: seg.facet_counts(
            ["merge", "join", "stream"],
            raw_docs_meta.select("doc_id", "source"),
            "source",
        ).collect(),
        reps=2,
    )
    timed(
        "seg_facet_aggs",
        lambda: (
            seg.range_facets(
                ["merge", "join", "stream"],
                raw_docs_meta,
                [("small", None, 200), ("medium", 200, 400), ("large", 400, None)],
                F.length("text"),
            ).collect(),
            seg.histogram_facet(
                ["merge", "join", "stream"], raw_docs_meta, 100, F.length("text")
            ).collect(),
            seg.facet_stats(
                ["merge", "join", "stream"],
                raw_docs_meta.select("doc_id", "source", "text"),
                "source",
                F.length("text"),
            ).collect(),
        ),
        reps=2,
    )
    timed(
        "seg_significant",
        lambda: seg.significant_terms(
            ["merge", "join", "stream"], k=10
        ).collect(),
        reps=2,
    )
    timed(
        "seg_snippets",
        lambda: seg.snippets(
            BM25_QUERIES[0], docs, k=10, text_col="content"
        ).collect(),
        reps=2,
    )
    timed(
        "seg_synonym",
        lambda: seg.search_synonyms(
            "merge stream", {"merge": ["join"], "stream": ["batch"]}, k=10
        ).collect(),
        reps=2,
    )
    mlt_seed = int(seg_rows[0]["doc_id"]) if seg_rows else 1
    timed(
        "seg_mlt",
        lambda: seg.more_like_this(mlt_seed, k=10).collect(),
        reps=2,
    )

    # 2f) second agg wave + pipeline aggs on the same segment index:
    # the full ES bucket/metric/pipeline family a dashboard fires per
    # page load, all from the term-pruned segment decode
    _AGG_TERMS = ["merge", "join", "stream"]
    _AGG_TS = F.expr("date_add(date'2021-01-01', cast(doc_id % 1000 as int))")
    _AGG_FILTERS = {
        "engine": ["spark"],
        "relational": ["join", "merge"],
        "warehouse": ["table", "query"],
    }
    timed(
        "seg_agg_wave2",
        lambda: (
            seg.date_histogram(
                _AGG_TERMS, raw_docs_meta, _AGG_TS, "month"
            ).collect(),
            seg.filters_agg(_AGG_FILTERS).collect(),
            seg.adjacency_matrix(_AGG_FILTERS).collect(),
            seg.composite_agg(
                _AGG_TERMS, raw_docs_meta, ["lang", "source"], size=8
            ).collect(),
            seg.top_metrics(
                _AGG_TERMS, raw_docs_meta, "lang", "n_chars",
                ["doc_id", "n_chars"],
            ).collect(),
            seg.matrix_stats(
                _AGG_TERMS, raw_docs_meta, "n_chars", F.length("text")
            ).collect(),
        ),
        reps=2,
    )

    def _pipeline_chain():
        from fuzzy_wiki_spark.operators.pipeline_aggs import (
            cumulative_sum,
            derivative,
            moving_fn,
            stats_bucket,
        )

        b = seg.date_histogram(_AGG_TERMS, raw_docs_meta, _AGG_TS, "month")
        moving_fn(cumulative_sum(derivative(b)), window=3).collect()
        stats_bucket(b).collect()

    timed("seg_pipeline_aggs", _pipeline_chain, reps=2)

    # 2g) third agg wave (rare_terms / multi_terms / weighted_avg /
    # string_stats / median_absolute_deviation / boxplot) — the ES
    # long-tail + metric stragglers, served from the same term-pruned
    # segment decode; every one is a single combinable aggregation (or a
    # tiny bucket-frame post-filter), no window, no global sort
    timed(
        "seg_agg_wave3",
        lambda: (
            seg.rare_terms(_AGG_TERMS, raw_docs_meta, "source", 20).collect(),
            seg.multi_terms(
                _AGG_TERMS, raw_docs_meta, ["lang", "source"], 10
            ).collect(),
            seg.weighted_avg(
                _AGG_TERMS, raw_docs_meta, "n_chars",
                F.col("doc_id") % 7 + 1,
            ).collect(),
            seg.string_stats(_AGG_TERMS, raw_docs_meta, "source").collect(),
            seg.median_abs_dev(_AGG_TERMS, raw_docs_meta, "n_chars").collect(),
            seg.boxplot_agg(_AGG_TERMS, raw_docs_meta, "n_chars").collect(),
        ),
        reps=2,
    )

    # 2h) fourth agg wave (date_range / missing / value_count / global /
    # cumulative_cardinality / variable_width_histogram /
    # auto_date_histogram) — completes the ES bucket/metric family from
    # the same term-pruned segment decode; global additionally reads the
    # corpus facet column (scan-speed, combinable), vwh runs one exact
    # percentile over the thin match values
    _AGG_RANGES = [
        ("early", None, "2021-10-01"),
        ("mid", "2021-10-01", "2022-08-01"),
        ("late", "2022-08-01", None),
    ]
    timed(
        "seg_agg_wave4",
        lambda: (
            seg.date_range_agg(
                _AGG_TERMS, raw_docs_meta, _AGG_RANGES, _AGG_TS
            ).collect(),
            seg.missing_agg(
                _AGG_TERMS,
                raw_docs_meta,
                F.when(F.col("doc_id") % 7 == 0, None).otherwise(
                    F.col("source")
                ),
            ).collect(),
            seg.value_count_agg(
                _AGG_TERMS, raw_docs_meta, "lang", "n_chars"
            ).collect(),
            seg.global_agg(_AGG_TERMS, raw_docs_meta, "lang").collect(),
            seg.cumulative_cardinality(
                _AGG_TERMS, raw_docs_meta, _AGG_TS, "quarter"
            ).collect(),
            seg.variable_width_histogram(
                _AGG_TERMS, raw_docs_meta, "n_chars", 4
            ).collect(),
            seg.auto_date_histogram(
                _AGG_TERMS, raw_docs_meta, _AGG_TS, target_buckets=15
            )[1].collect(),
        ),
        reps=2,
    )

    # 2i) span family + intervals on the serving path: slot-alternative
    # ordered chain, first-position bound, not-near veto, and the ES
    # intervals rule — all over term-pruned decodes + Arrow kernels
    timed(
        "seg_span_family",
        lambda: (
            seg.span_or(
                (("join", "merge"), ("table",)), 3, ordered=True
            ).collect(),
            seg.span_first("spark", 8).collect(),
            seg.span_not("join", "merge", 2, 2).collect(),
            seg.intervals(
                {"all_of": {"ordered": False, "max_gaps": 8, "intervals": [
                    {"any_of": {"intervals": [
                        {"match": {"query": "spark"}},
                        {"match": {"query": "merge"}},
                    ]}},
                    {"match": {"query": "table"}},
                    {"match": {"query": "query"}},
                ]}}
            ).collect(),
        ),
        reps=2,
    )

    # 2j) scoring-query wave on the serving path: dis_max + constant_score
    # (pure decode shapes) and combined_fields (BM25F over the merged
    # synthetic field — dl from the doc-length meta rows)
    timed(
        "seg_scoring_queries",
        lambda: (
            seg.dis_max(_AGG_TERMS).collect(),
            seg.constant_score(_AGG_TERMS, boost=1.5).collect(),
        ),
        reps=2,
    )
    shutil.rmtree(seg_dir, ignore_errors=True)

    # 3) heavy pipeline operators (driver-contract implementations)
    timed("pipe_postings", lambda: DQ.q_postings(spark, sf_dir).count(), reps=2)
    timed("pipe_bm25_sql_skeleton", lambda: DQ.q_bm25_topk(spark, sf_dir).collect(), reps=2)
    timed("pipe_dedup_exact", lambda: DQ.q_dedup_exact(spark, sf_dir).count(), reps=2)
    timed("pipe_minhash_pairs", lambda: DQ.q_minhash_pairs(spark, sf_dir).count(), reps=2)
    timed("pipe_simhash", lambda: DQ.q_simhash(spark, sf_dir).count(), reps=2)
    timed(
        "pipe_winnow_pairs",
        lambda: DQ.q_winnow_pairs(spark, sf_dir).count(),
        reps=2,
    )
    timed("pipe_ann_cosine", lambda: DQ.q_ann_cosine(spark, sf_dir).collect(), reps=2)
    timed("pipe_ann_batch", lambda: DQ.q_ann_batch(spark, sf_dir).collect(), reps=2)
    timed(
        "pipe_phrase_sloppy",
        lambda: DQ.q_phrase_sloppy(spark, sf_dir).collect(),
        reps=2,
    )
    timed(
        "pipe_extended_query",
        lambda: DQ.q_extended_query(spark, sf_dir).collect(),
        reps=2,
    )
    timed(
        "pipe_more_like_this",
        lambda: DQ.q_more_like_this(spark, sf_dir).collect(),
        reps=2,
    )
    # round-4: the composed IVF-PQ ANN path (route -> ADC -> exact rerank)
    # at this sf's embedding count; the 1M-vector ladder lives in
    # scripts/bench_ann.py / BENCH.md 3f
    timed(
        "pipe_ivfpq_ann",
        lambda: DQ.q_ivfpq_ann(spark, sf_dir).collect(),
        reps=2,
    )
    # round-4: hybrid lexical+vector RRF fusion and function_score —
    # each rebuilds its first-pass scored set from the raw tables, like
    # every pipe_* section (driver-contract implementations end-to-end)
    timed(
        "pipe_hybrid_rrf",
        lambda: DQ.q_hybrid_rrf(spark, sf_dir).collect(),
        reps=2,
    )
    timed(
        "pipe_function_score",
        lambda: DQ.q_function_score(spark, sf_dir).collect(),
        reps=2,
    )
    # round-4 wave 2: the ES query forms (multi_match three modes + msm +
    # boosting + sort-by-field) and the sampler/nested aggs + DSIR — each
    # the driver-contract entry end-to-end (tokenize → stats → query),
    # like every pipe_* section
    timed(
        "pipe_multi_match",
        lambda: (
            DQ.q_multi_match_best(spark, sf_dir).collect(),
            DQ.q_multi_match_most(spark, sf_dir).collect(),
            DQ.q_multi_match_cross(spark, sf_dir).collect(),
        ),
        reps=2,
    )
    timed(
        "pipe_msm_boost_sort",
        lambda: (
            DQ.q_min_should_match(spark, sf_dir).collect(),
            DQ.q_boosting_query(spark, sf_dir).collect(),
            DQ.q_sort_by_field(spark, sf_dir).collect(),
        ),
        reps=2,
    )
    timed(
        "pipe_sampler_aggs",
        lambda: (
            DQ.q_sampler_agg(spark, sf_dir).collect(),
            DQ.q_diversified_agg(spark, sf_dir).collect(),
            DQ.q_nested_terms(spark, sf_dir).collect(),
        ),
        reps=2,
    )
    timed(
        "pipe_dsir_resample",
        lambda: DQ.q_dsir_resample(spark, sf_dir).collect(),
        reps=2,
    )
    timed(
        "pipe_span_mpp",
        lambda: (
            DQ.q_span_within(spark, sf_dir).collect(),
            DQ.q_match_phrase_prefix(spark, sf_dir).collect(),
            DQ.q_termvectors(spark, sf_dir).collect(),
        ),
        reps=2,
    )
    timed(
        "pipe_rank_eval",
        lambda: DQ.q_rank_eval(spark, sf_dir).collect(),
        reps=2,
    )
    timed(
        "pipe_phrase_suggest",
        lambda: DQ.q_phrase_suggest(spark, sf_dir).collect(),
        reps=2,
    )
    timed(
        "pipe_gopher_rules",
        lambda: DQ.q_gopher_rules(spark, sf_dir).count(),
        reps=2,
    )
    timed(
        "pipe_sayt",
        lambda: DQ.q_search_as_you_type(spark, sf_dir).collect(),
        reps=2,
    )
    # final round-4 wave: cleaning gates (C4 + code-quality, both scan-
    # speed map passes), the geo family (haversine + geotile math, all
    # Column expressions), and scripted_metric (the Python agg slot —
    # its cost IS the Arrow map pass; the state shuffle is bytes)
    timed(
        "pipe_cleaning_gates",
        lambda: (
            DQ.q_c4_rules(spark, sf_dir).count(),
            DQ.q_code_quality(spark, sf_dir).count(),
        ),
        reps=2,
    )
    timed(
        "pipe_geo",
        lambda: (
            DQ.q_geo_distance(spark, sf_dir).collect(),
            DQ.q_geotile_grid(spark, sf_dir).collect(),
            DQ.q_geo_distance_agg(spark, sf_dir).collect(),
        ),
        reps=2,
    )
    timed(
        "pipe_scripted_metric",
        lambda: DQ.q_scripted_metric(spark, sf_dir).collect(),
        reps=2,
    )
    # session-5 waves: combined_fields (BM25F, two-field tokenize → merged
    # stats → BM25), the rank/distance feature bumps over a fresh skeleton
    # scored set, SemDeDup at its real 8-cluster configuration, and the
    # geohash_grid interleave (pure integer Column math)
    timed(
        "pipe_combined_fields",
        lambda: DQ.q_combined_fields(spark, sf_dir).collect(),
        reps=2,
    )
    timed(
        "pipe_feature_queries",
        lambda: (
            DQ.q_rank_feature(spark, sf_dir).collect(),
            DQ.q_distance_feature(spark, sf_dir).collect(),
        ),
        reps=2,
    )
    timed(
        "pipe_semdedup",
        lambda: DQ.q_semdedup(spark, sf_dir).count(),
        reps=2,
    )
    timed(
        "pipe_geohash_grid",
        lambda: DQ.q_geohash_grid(spark, sf_dir).collect(),
        reps=2,
    )
    # the ES _search request-body compiler end-to-end: segment build +
    # bool-with-filter-context hits + a terms agg from one JSON body
    timed(
        "pipe_es_request",
        lambda: (
            DQ.q_es_request(spark, sf_dir).collect(),
            DQ.q_es_request_aggs(spark, sf_dir).collect(),
        ),
        reps=2,
    )
    timed(
        "pipe_rag_retrieve",
        lambda: DQ.q_rag_retrieve(spark, sf_dir).collect(),
        reps=2,
    )
    timed(
        "pipe_maxsim",
        lambda: DQ.q_maxsim(spark, sf_dir).collect(),
        reps=2,
    )
    # round-4 closing wave: the widened compiler surface end-to-end —
    # _msearch's ONE-job batch (3 bodies through search_segments_batch),
    # then knn + rescore + template through es_search
    timed(
        "pipe_es_msearch",
        lambda: DQ.q_es_msearch(spark, sf_dir).collect(),
        reps=2,
    )
    # knn (index-free vector scan) + rescore (build + full-set first
    # pass + windowed phrase signal). Single rep: the section is
    # dominated by the per-entry index build, which a second rep would
    # only repeat; search_template == the match path, already timed.
    timed(
        "pipe_es_compiler_new",
        lambda: (
            DQ.q_es_req_knn(spark, sf_dir).collect(),
            DQ.q_es_req_rescore(spark, sf_dir).collect(),
        ),
        bracket=True,
    )
    # span-family completion: containing/within counters + the
    # dictionary-expanded span_multi chain
    timed(
        "pipe_span_containing",
        lambda: (
            DQ.q_span_containing(spark, sf_dir).collect(),
            DQ.q_span_inside(spark, sf_dir).collect(),
            DQ.q_span_multi(spark, sf_dir).collect(),
        ),
        reps=2,
    )
    # WordPiece: 8 likelihood-scored trainer iterations + the MaxMatch
    # distinct-word encode joined back to the token stream. Single-shot
    # (the trainer is 8 sequential driver round-trips, a second rep
    # would reuse shuffle files) and control-bracketed like the builds.
    timed(
        "pipe_wordpiece",
        lambda: DQ.q_wordpiece_encode(spark, sf_dir).count(),
        bracket=True,
    )
    # Unigram-LM: seed + one hard-EM round + Viterbi encode (the
    # third tokenizer family) — single-shot + bracketed like the other
    # trainer sections
    timed(
        "pipe_unigram",
        lambda: DQ.q_unigram_encode(spark, sf_dir).count(),
        bracket=True,
    )

    # 3b) trigram code search: index build (narrow stage) + pruned substring
    # + pruned regex over the same in-memory index
    from fuzzy_wiki_spark.operators.trigram import (
        doc_trigrams,
        regex_search,
        substring_search,
    )

    raw_docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    tri = doc_trigrams(raw_docs).persist()
    timed("trigram_build", lambda: tri.count(), bracket=True)
    timed(
        "trigram_substring",
        lambda: substring_search(raw_docs, tri, DQ.SUBSTRING_NEEDLE).count(),
        reps=2,
    )
    timed(
        "trigram_regex",
        lambda: regex_search(raw_docs, tri, DQ.REGEX_PATTERN).count(),
        reps=2,
    )
    tri.unpersist()

    # "value" = sum of recorded per-section times (best-of-reps where
    # reps>1); wall_sec_actual is the true elapsed wall clock of the suite
    total = round(sum(timings.values()), 4)
    wall_actual = round(time.perf_counter() - suite_t0, 4)
    control_end = _phase_control()
    q_sorted = sorted(q_times)
    p50 = q_sorted[len(q_sorted) // 2]
    p99 = q_sorted[min(len(q_sorted) - 1, int(len(q_sorted) * 0.99))]
    out = {
        "metric": "headline suite time, sum of per-section bests (index build + BM25 query set + pipeline ops)",
        "value": total,
        "wall_sec_actual": wall_actual,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "n_docs": n_docs,
        "n_postings": n_postings,
        "build_files_per_sec": round(n_docs / timings["build_index"], 2),
        "bm25_p50_sec": round(p50, 4),
        "bm25_p99_sec": round(p99, 4),
        "seg_bm25_p50_sec": round(sorted(seg_q_times)[len(seg_q_times) // 2], 4),
        "seg_bm25_p99_sec": round(
            sorted(seg_q_times)[
                min(len(seg_q_times) - 1, int(len(seg_q_times) * 0.99))
            ],
            4,
        ),
        "bm25_batch_qps": round(len(BM25_QUERIES) / batch_sec, 2),
        "seg_batch_qps": round(len(BM25_QUERIES) / seg_batch_sec, 2),
        "seg_rows_match_relational": seg_rows_match,
        "seg_mismatched_hits": seg_mismatched_hits,
        "timing": "bm25_q*/seg_bm25_q*, pipe_*, seg_extended and trigram search keys are best-of-2 (VM noise); builds single-shot and control-BRACKETED (see controls/per_control)",
        # per-section phase controls for the single-shot build sections:
        # compare rounds via per_control (sec of section / sec of the
        # fixed kernel in the SAME phase), not raw seconds
        "controls": controls,
        "per_control": {
            k: round(timings[k] / controls[k], 2) for k in controls
        },
        # VM-phase control: a fixed engine-independent kernel timed before
        # and after the suite. Compare rounds via value/control ratios —
        # a suite regression with an equal control regression is phase
        # noise, not an engine regression (VERDICT r2 #3).
        "control_sec_start": control_start,
        "control_sec_end": control_end,
        "control_sec": round((control_start + control_end) / 2, 4),
        "suite_per_control": round(
            total / ((control_start + control_end) / 2), 2
        ),
        "cpus": cpus,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
