"""InvertedIndex — the engine facade (build → stats → search).

Bundles the materialized artifacts of an index build:
  - ``postings``   (doc_id, field, term, tf, positions, dl)
  - ``term_stats`` (field, term, df, sum_tf)
  - ``field_stats``(field, doc_count, sum_dl, avgdl)  — 2 rows, collected
  - ``docs_meta``  (doc_id, path, is_redirect)

and exposes ``search(query, k)`` with the reference's semantics (SURVEY.md
§2.1). This is the v1 *relational* engine: scoring reads the postings
DataFrame directly. The compressed-segment engine (operators/segments.py)
reuses the same compiler/scorer math over decoded segments.

The reference equivalents: build = Main.java MapReduce job; search =
Searcher.searchForMerge + DocTermInfoHandler.mergeAndRank collapsed into one
Spark plan (no HTTP scatter/gather — the shuffle is the scatter).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fuzzy_wiki_spark.operators import postings as P
from fuzzy_wiki_spark.operators.topk import score_query
from fuzzy_wiki_spark.plans.query import B, K1, Clause, compile_query


def _memo_term_df(
    owner, term_stats: DataFrame, terms: list[str], fetch=None
) -> dict[tuple[str, str], int]:
    """Per-index-instance memoized (field, term) → df lookup.

    Both engines' stats are an immutable snapshot per instance
    (InvertedIndex assigns term_stats once at build; SegmentIndex docs its
    segments as an immutable snapshot — same contract as its tombstone
    cache), so a term's df never changes under the cache. One filtered
    collect fetches ONLY never-seen terms; terms absent from the corpus
    are remembered too (absence is an answer — repeat misses must not
    re-scan). This is the in-memory term dictionary a Lucene/Zoekt
    searcher holds per open index: per-query cost drops from one Spark
    job to a dict probe for every repeated term, and the cache holds only
    the QUERIED vocabulary subset."""
    cache: dict[tuple[str, str], int] = getattr(owner, "_tdf_cache", None)
    if cache is None:
        cache = owner._tdf_cache = {}
        owner._tdf_seen = set()
    seen: set[str] = owner._tdf_seen
    missing = sorted(set(terms) - seen)
    if missing:
        if fetch is not None:
            # engine-supplied direct reader (e.g. SegmentIndex's
            # driver-side pyarrow read of the on-disk term_stats — a
            # dictionary probe should not cost a Spark job)
            for f, t, d in fetch(missing):
                cache[(f, t)] = int(d)
        else:
            from fuzzy_wiki_spark.operators.segment_query import term_in

            rows = term_stats.where(term_in(missing)).collect()
            for r in rows:
                cache[(r["field"], r["term"])] = r["df"]
        seen.update(missing)
    want = set(terms)
    return {ft: df for ft, df in cache.items() if ft[1] in want}


def _synonym_groups(
    query: str, synonyms: dict[str, list[str]]
) -> list[list[str]]:
    """Analyze the query and the synonym map with the index analyzer
    chain and emit per-query-term synonym groups (groups[i][0] is the
    query term) — the shared front half of both engines'
    search_synonyms. Raises on a synonym key that analyzes to ≠1 term
    (a multi-token key has no single dictionary slot to expand)."""
    from fuzzy_wiki_spark.analyzer import tokenize_text

    q_terms = tokenize_text(query)
    if not q_terms:
        return []
    norm: dict[str, list[str]] = {}
    for kraw, vals in synonyms.items():
        kt = tokenize_text(kraw)
        if len(kt) != 1:
            raise ValueError(
                f"synonym key must analyze to one term: {kraw!r} -> {kt}"
            )
        mem: list[str] = []
        for v in vals:
            mem.extend(tokenize_text(v))
        norm[kt[0]] = mem
    return [[t, *norm.get(t, [])] for t in q_terms]


def _corrected_clauses(
    clauses: list[Clause],
    term_df: dict[tuple[str, str], int],
    term_stats: DataFrame,
    max_dist: int = 2,
) -> list[Clause]:
    """Shared auto-correction rewrite (both engines' search_corrected):
    every zero-df (field, term) is replaced by its top spell suggestion
    (edit distance asc, df desc, term asc, within ``max_dist`` —
    operators/term_expansion.correct_term); in-vocabulary terms are
    untouched; unfixable terms drop from their clause, and a phrase
    losing any member drops entirely (a phrase with a hole matches
    nothing sensible)."""
    from fuzzy_wiki_spark.operators.term_expansion import correct_term

    pairs = sorted({(c.field, t) for c in clauses for t in c.terms})
    fixed: dict[tuple[str, str], str | None] = {}
    for fld, t in pairs:
        if term_df.get((fld, t), 0) > 0:
            fixed[(fld, t)] = t
        else:
            fixed[(fld, t)] = correct_term(
                term_stats, fld, t, max_dist=max_dist
            )
    new_clauses = []
    for c in clauses:
        nt = tuple(
            fixed[(c.field, t)]
            for t in c.terms
            if fixed[(c.field, t)] is not None
        )
        if not nt or (c.is_phrase and len(nt) < len(c.terms)):
            continue  # an unfixable member breaks a phrase entirely
        new_clauses.append(
            Clause(c.clause_id, c.field, nt, c.boost, c.slop, c.is_phrase)
        )
    return new_clauses


def _explain_factors(
    clauses: list[Clause],
    term_df: dict[tuple[str, str], int],
    field_stats: dict[str, tuple[int, float]],
    rows,
) -> list[tuple]:
    """Per-clause factor rows for one (query, doc) — the shared back
    half of both engines' explain(): ``rows`` is the doc's postings
    restricted to the query terms (any frame with field/term/tf/dl and
    wire-format positions — the relational postings schema and the
    term-pruned segment decode both qualify). Returns (clause_id, field,
    kind, terms, weight, freq, dl, tf_norm, contrib) tuples;
    sum(contrib) == the doc's search() score."""
    from fuzzy_wiki_spark.operators.phrase import row_matches
    from fuzzy_wiki_spark.operators.topk import idf as _idf

    by_ft = {(r["field"], r["term"]): r for r in rows}
    out = []
    for cl in clauses:
        doc_count, avgdl = field_stats[cl.field]
        w = cl.boost * sum(
            _idf(term_df.get((cl.field, t), 0), doc_count)
            for t in cl.terms
        )
        hit = [by_ft.get((cl.field, t)) for t in cl.terms]
        dl = next((int(r["dl"]) for r in hit if r is not None), 0)
        if cl.is_phrase and len(cl.terms) > 1:
            # the doc's rows as one relational candidate row: positions
            # stay in wire format for the shared phrase kernel
            matched = not any(r is None for r in hit) and row_matches(
                [[by_ft[(cl.field, t)] for t in set(cl.terms)]],
                [cl.terms],
                [cl.slop],
            )[0]
            freq = float(sum(int(r["tf"]) for r in hit)) if matched else 0.0
        else:
            freq = float(hit[0]["tf"]) if hit[0] is not None else 0.0
        tfn = (
            freq / (freq + K1 * (1 - B + B * dl / avgdl))
            if freq > 0
            else 0.0
        )
        out.append(
            (
                cl.clause_id,
                cl.field,
                "phrase" if cl.is_phrase and len(cl.terms) > 1 else "term",
                " ".join(cl.terms),
                float(w),
                freq,
                dl,
                float(tfn),
                float(w * tfn),
            )
        )
    return out


EXPLAIN_SCHEMA = (
    "clause_id int, field string, kind string, terms string,"
    " weight double, freq double, dl long, tf_norm double,"
    " contrib double"
)


class InvertedIndex:
    def __init__(
        self,
        spark: SparkSession,
        postings: DataFrame,
        term_stats: DataFrame,
        docs_meta: DataFrame,
        field_stats: dict[str, tuple[int, float]],
    ):
        self.spark = spark
        self.postings = postings
        self.term_stats = term_stats
        self.docs_meta = docs_meta
        self.field_stats = field_stats

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs_df: DataFrame,
        mode: str = "porter",
        fields: dict[str, str] | None = None,
        persist: bool = True,
    ) -> "InvertedIndex":
        """Tokenize + materialize stats. ``persist=True`` caches postings and
        term_stats for a multi-query session (the reference's Cache/
        DocumentsStorage O26/O27 analog, done the Spark way)."""
        postings = P.build_postings(docs_df, fields=fields, mode=mode)
        if persist:
            postings = postings.persist()
        tstats = P.term_stats(postings)
        if persist:
            tstats = tstats.persist()
        fstats = {
            r["field"]: (r["doc_count"], float(r["avgdl"]))
            for r in P.field_stats(postings).collect()
        }
        docs_meta = docs_df.select(
            "doc_id",
            "path",
            F.upper(F.coalesce(F.col("content"), F.lit(""))).startswith(
                "REDIRECT"
            ).alias("is_redirect"),
        )
        if persist:
            docs_meta = docs_meta.persist()
        return cls(spark, postings, tstats, docs_meta, fstats)

    def lookup_term_df(self, terms: list[str]) -> dict[tuple[str, str], int]:
        """Point-lookup df for the query's few terms (the O20 stats
        side-channel), memoized driver-side per index instance — the
        in-memory term-dictionary a Lucene searcher keeps open. Stats are
        immutable for an instance (term_stats is assigned once at build),
        so repeat terms cost ZERO jobs; only never-seen terms run the
        filtered collect. Entries are df ints keyed by (field, term):
        even a 100 M-term vocabulary's QUERIED subset stays trivially
        driver-sized."""
        return _memo_term_df(self, self.term_stats, terms)

    def search(
        self, query: str, k: int = 10, query_analyzer: str = "porter"
    ) -> DataFrame:
        """BM25 top-k → DataFrame (doc_id, path, score).

        ``query_analyzer="standard"`` reproduces the reference's
        query-side StandardAnalyzer asymmetry (compile_query docstring;
        golden in tests/test_analyzer.py pins the ranking difference)."""
        clauses = compile_query(query, query_analyzer=query_analyzer)
        terms = sorted({t for c in clauses for t in c.terms})
        term_df = self.lookup_term_df(terms)
        return score_query(
            self.spark,
            self.postings,
            clauses,
            term_df,
            self.field_stats,
            docs_meta=self.docs_meta,
            k=k,
        )

    def search_after(
        self, query: str, after: tuple[float, int], k: int = 10
    ) -> DataFrame:
        """Cursor pagination (Lucene IndexSearcher.searchAfter): the next k
        results strictly after ``after = (score, doc_id)`` in
        (score desc, doc_id asc) order — page p+1 given page p's last hit.
        Deep pages stay O(matching docs) per query (stateless cursor, no
        offset re-collection): the full candidate set is scored once and
        the cursor predicate filters before the top-k cut.

        Cursor comparison uses a 1e-9 tie band, not exact float equality:
        the cursor score comes from a PREVIOUS job, and double-sum
        aggregation order across partitions is not guaranteed stable
        between jobs, so a last-ulp difference under ``==`` could drop or
        duplicate a hit at the page boundary. Scores within the band are
        treated as the cursor tie and ordered by doc_id (the same
        deterministic tiebreak search() uses); the band is ~1000x finer
        than the 6-dp rounding the driver oracle applies."""
        from fuzzy_wiki_spark.operators.topk import score_queries_batch

        clauses = compile_query(query)
        terms = sorted({t for c in clauses for t in c.terms})
        term_df = self.lookup_term_df(terms)
        full = score_queries_batch(
            self.spark,
            self.postings,
            {0: clauses},
            term_df,
            self.field_stats,
            docs_meta=self.docs_meta,
            k=None,
        )
        s, d = after
        eps = 1e-9
        is_tie = (F.col("score") >= s - eps) & (F.col("score") <= s + eps)
        return (
            full.where(
                (F.col("score") < s - eps)
                | (is_tie & (F.col("doc_id") > d))
            )
            .select("doc_id", "path", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_synonyms(
        self, query: str, synonyms: dict[str, list[str]], k: int = 10
    ) -> DataFrame:
        """Query-time synonym expansion with Lucene SynonymQuery
        semantics (operators/topk.py:synonym_search — blended max-df idf,
        summed member tf). ``synonyms`` maps raw words to raw synonym
        words; BOTH sides pass through the index analyzer chain first
        (Lucene's SynonymGraphFilter likewise operates on the analyzed
        stream), so {"merging": ["joining"]} lands on the stemmed
        vocabulary. Expansion applies to the per-term clauses (the
        reference's path ^1.1 / content ^0.8); phrase clauses don't
        compose with synonym groups (Lucene's QueryBuilder likewise
        abandons the plain phrase when a term has synonyms)."""
        from fuzzy_wiki_spark.operators.topk import synonym_search
        from fuzzy_wiki_spark.plans.query import (
            BOOST_CONTENT_TERM,
            BOOST_PATH_TERM,
        )

        groups = _synonym_groups(query, synonyms)
        if not groups:
            return self.spark.createDataFrame(
                [], "doc_id long, path string, score double"
            )
        all_terms = sorted({t for g in groups for t in g})
        return synonym_search(
            self.spark,
            self.postings,
            groups,
            self.lookup_term_df(all_terms),
            self.field_stats,
            field_boosts=[
                ("path", BOOST_PATH_TERM),
                ("content", BOOST_CONTENT_TERM),
            ],
            docs_meta=self.docs_meta,
            k=k,
        )

    def count_matches(self, query: str) -> int:
        """Total hit count (Lucene TotalHitCountCollector): how many docs
        the query matches, WITHOUT scoring — a distinct-doc count over the
        term-filtered postings scan, honoring the same redirect exclusion
        as search(). The result-size probe UIs issue before paginating."""
        clauses = compile_query(query)
        pairs = {(c.field, t) for c in clauses for t in c.terms}
        if not pairs:
            return 0
        cond = None
        for fld, t in sorted(pairs):
            p = (F.col("field") == fld) & (F.col("term") == t)
            cond = p if cond is None else (cond | p)
        hits = self.postings.where(cond).select("doc_id").distinct()
        if self.docs_meta is not None:
            hits = hits.join(self.docs_meta, "doc_id").where(
                ~F.col("is_redirect")
            )
        return hits.count()

    def search_filtered(
        self, query: str, filter_df: DataFrame, k: int = 10
    ) -> DataFrame:
        """Filtered query (Lucene FilteredQuery/BooleanClause.FILTER
        semantics): top-k among the docs in ``filter_df`` (a one-column
        doc_id frame from ANY predicate over the docs table). The filter
        restricts RESULTS only — df/avgdl stats and scores are unchanged.
        Fully distributed (semi-join before the cut), any selectivity."""
        from fuzzy_wiki_spark.operators.topk import score_queries_batch

        clauses = compile_query(query)
        terms = sorted({t for c in clauses for t in c.terms})
        term_df = self.lookup_term_df(terms)
        full = score_queries_batch(
            self.spark,
            self.postings,
            {0: clauses},
            term_df,
            self.field_stats,
            docs_meta=self.docs_meta,
            k=None,
        )
        return (
            full.join(
                filter_df.select("doc_id").distinct(), "doc_id", "left_semi"
            )
            .select("doc_id", "path", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def search_collapse(
        self, query: str, group_df: DataFrame, k: int = 10,
        group_col: str = "group",
    ) -> DataFrame:
        """Field-collapsed top-k (Lucene CollapsingTopDocsCollector /
        Elasticsearch ``collapse``): at most ONE hit per group —
        ``group_df`` maps doc_id → group (e.g. best file per repo).
        Scores and stats stay corpus-wide (collapse prunes results, not
        stats); docs without a group row are dropped. Returns
        (group, doc_id, path, score) in (score desc, doc_id asc) order."""
        from fuzzy_wiki_spark.operators.collapse import collapse_topk
        from fuzzy_wiki_spark.operators.topk import score_queries_batch

        clauses = compile_query(query)
        terms = sorted({t for c in clauses for t in c.terms})
        term_df = self.lookup_term_df(terms)
        full = score_queries_batch(
            self.spark,
            self.postings,
            {0: clauses},
            term_df,
            self.field_stats,
            docs_meta=self.docs_meta,
            k=None,
        )
        return collapse_topk(
            full.select("doc_id", "path", "score"),
            group_df,
            k=k,
            group_col=group_col,
        )

    def search_corrected(
        self, query: str, k: int = 10, max_dist: int = 2
    ) -> DataFrame:
        """Auto-correcting search — the suggest-and-retry UX fused into
        one call (Elasticsearch's "search with suggest" flow): every
        query term with ZERO document frequency is replaced by its top
        spell suggestion (suggest_terms rule: edit distance asc, df
        desc, term asc, within ``max_dist``) before scoring; terms that
        hit the index are untouched; unfixable terms (nothing within
        max_dist) drop from their clause like analyzed-away stopwords.
        Phrase clauses correct member-wise. Result shape == search()."""
        clauses = compile_query(query)
        term_df = self.lookup_term_df(
            sorted({t for c in clauses for t in c.terms})
        )
        new_clauses = _corrected_clauses(
            clauses, term_df, self.term_stats, max_dist=max_dist
        )
        if not new_clauses:
            return self.spark.createDataFrame(
                [], "doc_id long, path string, score double"
            )
        all_terms = sorted({t for c in new_clauses for t in c.terms})
        return score_query(
            self.spark,
            self.postings,
            new_clauses,
            self.lookup_term_df(all_terms),
            self.field_stats,
            docs_meta=self.docs_meta,
            k=k,
        )

    def rescore_phrase(
        self,
        query: str,
        phrase: tuple[str, ...],
        k: int = 10,
        first_k: int = 100,
        weight: float = 1.0,
        field: str = "content",
    ) -> DataFrame:
        """Two-phase retrieval (Lucene QueryRescorer): BM25 first pass cut
        to a ``first_k`` window, exact-phrase occurrence counts computed
        for the WINDOW ONLY (positional postings, semi-join bound), final
        score = bm25 + weight·occurrences. Returns (doc_id, path,
        first_score, signal, score) top-k. The expensive proximity signal
        never touches docs outside the window — O(first_k), not
        O(corpus). ``phrase`` is RAW words; each passes the index
        analyzer chain (the stored vocabulary is the analyzed one), like
        every other query surface."""
        from fuzzy_wiki_spark.analyzer import tokenize_text
        from fuzzy_wiki_spark.operators.rescore import (
            phrase_occurrences,
            rescore_topk,
        )
        from fuzzy_wiki_spark.operators.topk import score_queries_batch

        phrase = tuple(t for w in phrase for t in tokenize_text(w))
        if not phrase:
            raise ValueError("rescore phrase analyzed to zero terms")

        clauses = compile_query(query)
        terms = sorted({t for c in clauses for t in c.terms})
        term_df = self.lookup_term_df(terms)
        full = score_queries_batch(
            self.spark,
            self.postings,
            {0: clauses},
            term_df,
            self.field_stats,
            docs_meta=self.docs_meta,
            k=None,
        ).select("doc_id", "path", "score")
        # materialize the window ONCE and feed the same frame to both the
        # signal's candidate bound and the combine: the scoring groupBy
        # sums float partials in shuffle-fetch order, so two separate
        # evaluations could disagree at the first_k boundary (a doc inside
        # one window but outside the other would combine with a silently
        # missing signal); persist also avoids paying the corpus-scale
        # first pass twice
        window = (
            full.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(first_k)
            .persist()
        )
        sig = phrase_occurrences(
            self.postings, field, phrase, candidates=window
        )
        # the combined result is ≤ k rows: materialize it eagerly and
        # release the window cache deterministically (a long-lived index
        # instance would otherwise accumulate one cached window per
        # rescore call), handing back a local-backed frame with no
        # lineage into the unpersisted plan — same pattern as
        # SegmentIndex.extended()
        try:
            res = rescore_topk(
                window, sig, first_k=first_k, k=k, weight=weight
            )
            rows = res.collect()
            return self.spark.createDataFrame(rows, res.schema)
        finally:
            window.unpersist()

    def explain(self, query: str, doc_id: int) -> DataFrame:
        """Score explanation for one (query, doc) — the Lucene
        IndexSearcher.explain surface: one row per clause with the exact
        factors the scorer used, (clause_id, field, kind, terms, weight,
        freq, dl, tf_norm, contrib); sum(contrib) == the doc's score in
        ``search(query)`` (pinned by tests/test_explain.py).

        The data touched is |query terms| postings rows of ONE doc — a
        point lookup — so the factor math runs driver-side on the
        collected rows (_explain_factors: phrase freq via the same phrase
        kernel the distributed scorers run, operators/phrase.py)."""
        clauses = compile_query(query)
        all_terms = sorted({t for c in clauses for t in c.terms})
        term_df = self.lookup_term_df(all_terms)
        rows = self.postings.where(
            (F.col("doc_id") == doc_id) & F.col("term").isin(all_terms)
        ).collect()
        return self.spark.createDataFrame(
            _explain_factors(clauses, term_df, self.field_stats, rows),
            EXPLAIN_SCHEMA,
        )

    def search_many(self, queries: list[str], k: int = 10) -> DataFrame:
        """Batch query replay: ALL queries scored in one Spark job →
        (query_id, doc_id, path, score, rank). query_id = index into
        ``queries``. This is the scale path for a query-set workload (the
        reference's k6 load test fires 10k queries, LoadTest.ts:6-14):
        fixed job overhead is paid once, not per query."""
        from fuzzy_wiki_spark.operators.topk import score_queries_batch

        compiled = {i: compile_query(q) for i, q in enumerate(queries)}
        terms = sorted(
            {t for cls in compiled.values() for c in cls for t in c.terms}
        )
        term_df = self.lookup_term_df(terms)
        return score_queries_batch(
            self.spark,
            self.postings,
            compiled,
            term_df,
            self.field_stats,
            docs_meta=self.docs_meta,
            k=k,
        )

    def get_by_path(self, path: str, docs_df: DataFrame) -> DataFrame:
        """Exact point lookup (O21, Searcher.java:49-63): predicate-pushdown
        point query instead of a top-1 search + string check."""
        return docs_df.where(F.col("path") == F.lit(path)).limit(1)

    def unpersist(self) -> None:
        for df in (self.postings, self.term_stats, self.docs_meta):
            try:
                df.unpersist()
            except Exception:
                pass


def write_index_stats(spark: SparkSession, path: str) -> None:
    """Derive + write term_stats/ and stats/ from the written segments'
    METADATA columns (per-group df/sum_tf; the ``_dl`` meta rows carry
    doc_count/sum_dl as df/sum_tf) — MBs of metadata instead of two more
    full passes over the postings table. Shared by the one-shot build
    (SegmentIndex.from_postings) and generation compaction
    (streaming/incremental.py compact_generations)."""
    from fuzzy_wiki_spark.operators.segment_query import META_DL
    from fuzzy_wiki_spark.operators.segments import META_TERMS

    segs_r = spark.read.parquet(f"{path}/segments")
    (
        segs_r.where(~F.col("term").isin(META_TERMS))
        .groupBy("field", "term")
        .agg(F.sum("df").alias("df"), F.sum("sum_tf").alias("sum_tf"))
        .write.mode("overwrite")
        .parquet(f"{path}/term_stats")
    )
    (
        segs_r.where(F.col("term") == META_DL)
        .groupBy("field")
        .agg(
            F.sum("df").alias("doc_count"),
            F.sum("sum_tf").alias("sum_dl"),
        )
        .write.mode("overwrite")
        .parquet(f"{path}/stats")
    )


class SegmentIndex:
    """v2 engine: compressed, bucket-partitioned on-disk segments
    (operators/segments.py) queried via per-bucket DAAT + MaxScore
    (operators/segment_query.py). Same query semantics as InvertedIndex —
    the golden suite runs both against the oracle.

    On-disk layout under ``path``:
      segments/   bucket-partitioned parquet, term-sorted within files
      term_stats/ (field, term, df, sum_tf) parquet
      stats/      (field, doc_count, sum_dl) parquet
    (Iceberg tables with the same spec in production.)
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        self.segments = spark.read.parquet(f"{path}/segments")
        self.term_stats = spark.read.parquet(f"{path}/term_stats")
        self.field_stats = {
            r["field"]: (r["doc_count"], float(r["sum_dl"]) / r["doc_count"])
            for r in spark.read.parquet(f"{path}/stats").collect()
        }

    @classmethod
    def from_parts(
        cls,
        spark: SparkSession,
        segments: DataFrame,
        term_stats: DataFrame,
        field_stats: dict[str, tuple[int, float]],
    ) -> "SegmentIndex":
        """Wrap already-materialized parts (e.g. the union of incremental
        generations with cross-generation re-aggregated stats —
        streaming/incremental.py open_incremental) without touching disk."""
        idx = cls.__new__(cls)
        idx.spark = spark
        idx.path = None
        idx.segments = segments
        idx.term_stats = term_stats
        idx.field_stats = field_stats
        return idx

    @classmethod
    def build(
        cls,
        spark: SparkSession,
        docs_df: DataFrame,
        path: str,
        n_buckets: int = 32,
        mode: str = "porter",
        fields: dict[str, str] | None = None,
    ) -> "SegmentIndex":
        postings = P.build_postings(docs_df, fields=fields, mode=mode).persist()
        docs_meta = docs_df.select(
            "doc_id",
            F.upper(F.coalesce(F.col("content"), F.lit(""))).startswith(
                "REDIRECT"
            ).alias("is_redirect"),
        )
        # the closed indexed-field set is known here from the fields
        # mapping — thread it to the segment encoder so non-default
        # layouts (e.g. title/content) encode without manual plumbing
        field_names = (
            tuple(sorted(fields)) if fields is not None else None
        )
        idx = cls.from_postings(
            spark,
            postings,
            docs_meta,
            path,
            n_buckets=n_buckets,
            field_names=field_names,
        )
        postings.unpersist()
        return idx

    @classmethod
    def from_postings(
        cls,
        spark: SparkSession,
        postings: DataFrame,
        docs_meta: DataFrame | None,
        path: str,
        n_buckets: int = 32,
        field_names: tuple[str, ...] | None = None,
    ) -> "SegmentIndex":
        """Materialize the segment layout from an existing postings DF —
        the path the checkpointed build takes (checkpoint.py writes postings
        group-by-group; segment encoding restarts from those, never from
        re-tokenization).

        term_stats and field stats are aggregated from the SEGMENT
        metadata columns (per-group df/sum_tf; the ``_dl`` meta rows carry
        doc_count/sum_dl as df/sum_tf) — MBs of metadata instead of two
        more full passes over the postings table."""
        from fuzzy_wiki_spark.operators.segments import (
            build_index_segments,
            write_segments,
        )

        # two consumers of postings below (dl meta rows + posting rows);
        # persist avoids recomputing the upstream scan per branch. At
        # 10^12-doc scale drop this and accept the second scan.
        postings = postings.persist()
        if field_names is None:
            from fuzzy_wiki_spark.operators.segments import (
                FIELD_NAMES_DEFAULT,
            )

            field_names = FIELD_NAMES_DEFAULT
        segs = build_index_segments(
            postings, docs_meta, n_buckets=n_buckets, field_names=field_names
        )
        write_segments(segs, f"{path}/segments", n_buckets=n_buckets)
        postings.unpersist()
        write_index_stats(spark, path)
        return cls(spark, path)

    def _term_df(self, terms: list[str]) -> dict[tuple[str, str], int]:
        if not terms:
            return {}
        return _memo_term_df(
            self, self.term_stats, terms,
            fetch=self._local_term_stats_fetch(),
        )

    def _local_term_stats_fetch(self):
        """Direct driver-side pyarrow reader for the on-disk term_stats
        table, or None when the index has no plain local directory (a
        from_parts incremental union, or object-store paths) — then the
        Spark-collect path in _memo_term_df applies. The term dictionary
        lookup is a driver-side probe of a small side-channel table;
        reading the parquet files directly with a term filter costs
        ~0.6 s for 4k terms where the equivalent Spark job costs ~3.5 s
        (job scheduling + task launch), which was the largest chunk of
        the batch-replay prologue (BENCH.md §3i). Row-group statistics
        prune on the term predicate exactly as the Spark scan would."""
        import glob
        import os

        path = getattr(self, "path", None)
        if not path:
            return None
        d = os.path.join(path, "term_stats")
        if not os.path.isdir(d):
            return None
        files = sorted(glob.glob(os.path.join(d, "*.parquet")))
        if not files:
            return None

        def fetch(missing):
            import pyarrow.parquet as pq

            out = []
            for f in files:
                t = pq.read_table(
                    f,
                    filters=[("term", "in", list(missing))],
                    columns=["field", "term", "df"],
                )
                out.extend(
                    zip(
                        t.column("field").to_pylist(),
                        t.column("term").to_pylist(),
                        t.column("df").to_pylist(),
                    )
                )
            return out

        return fetch

    def search(self, query: str, k: int = 10) -> DataFrame:
        from fuzzy_wiki_spark.operators.segment_query import search_segments

        clauses = compile_query(query)
        term_df = self._term_df(sorted({t for c in clauses for t in c.terms}))
        return search_segments(
            self.spark,
            self.segments,
            clauses,
            term_df,
            self.field_stats,
            k=k,
        )

    def search_after(
        self, query: str, after: tuple[float, int], k: int = 10
    ) -> DataFrame:
        """Cursor pagination over the compressed segments (Lucene
        searchAfter): next k hits strictly after (score, doc_id). The
        cursor filters per bucket BEFORE the local top-k cut (a bucket may
        hold many pre-cursor docs). MaxScore pruning stays ACTIVE for the
        page: bucket_topk seeds θ exclusively from guaranteed-eligible
        docs (partial + remaining clause upper bounds < cursor score), the
        same way Lucene's paging collector keeps WAND live on page N
        (operators/segment_query.py bucket_topk, tests/test_blockmax.py)."""
        from fuzzy_wiki_spark.operators.segment_query import search_segments

        clauses = compile_query(query)
        term_df = self._term_df(sorted({t for c in clauses for t in c.terms}))
        return search_segments(
            self.spark,
            self.segments,
            clauses,
            term_df,
            self.field_stats,
            k=k,
            after=after,
        )

    def search_filtered(
        self, query: str, allowed_ids, k: int = 10
    ) -> DataFrame:
        """Filtered query over the segments for a SELECTIVE filter:
        ``allowed_ids`` (an iterable of doc_ids, broadcast to every bucket
        task) restricts the CANDIDATE SET before scoring — MaxScore stays
        active with θ seeded from allowed docs only, so a selective filter
        makes the query cheaper, not exact-scored.
        For non-selective predicates use the relational
        ``InvertedIndex.search_filtered`` (distributed semi-join) or bake
        the attribute into a meta exclusion row at build time the way
        redirects/tombstones are."""
        import numpy as np

        from fuzzy_wiki_spark.operators.segment_query import search_segments

        clauses = compile_query(query)
        term_df = self._term_df(sorted({t for c in clauses for t in c.terms}))
        return search_segments(
            self.spark,
            self.segments,
            clauses,
            term_df,
            self.field_stats,
            k=k,
            allowed=np.asarray(sorted(allowed_ids), dtype=np.int64),
        )

    def search_collapse(
        self, query: str, group_df: DataFrame, k: int = 10,
        group_col: str = "group",
    ) -> DataFrame:
        """Field-collapsed top-k over the compressed segments (the same
        Lucene CollapsingTopDocsCollector surface as the relational
        engine). Collapse needs EVERY group's best doc, so the bucket
        scorer runs in full-set mode (k=None: MaxScore off — a θ bound
        tuned for a groupless top-k could prune some group's best hit);
        the combinable struct-max groupBy then reduces each partition to
        ≤|groups| rows before the exchange. Returns (group, doc_id,
        score). Parity with InvertedIndex.search_collapse is pinned in
        tests/test_collapse.py."""
        from fuzzy_wiki_spark.operators.collapse import collapse_topk
        from fuzzy_wiki_spark.operators.segment_query import (
            search_segments_batch,
        )

        clauses = compile_query(query)
        term_df = self._term_df(sorted({t for c in clauses for t in c.terms}))
        full = search_segments_batch(
            self.spark,
            self.segments,
            {0: clauses},
            term_df,
            self.field_stats,
            k=None,
        ).select("doc_id", "score")
        return collapse_topk(full, group_df, k=k, group_col=group_col)

    def count_matches(self, query: str) -> int:
        """Total hit count on the serving path (Lucene
        TotalHitCountCollector; parity with InvertedIndex.count_matches
        pinned in tests/test_segment_surfaces.py): decodes ONLY the query
        terms' posting doc_ids — a term-pruned row-group scan, no
        scoring, no dl join — with the same redirect exclusion as
        search() (tombstones are already excluded inside
        term_postings)."""
        from functools import reduce

        from fuzzy_wiki_spark.operators.segment_query import META_REDIRECT
        from fuzzy_wiki_spark.streaming.incremental import (
            segments_to_postings,
        )

        clauses = compile_query(query)
        by_field: dict[str, set] = {}
        for c in clauses:
            for t in c.terms:
                by_field.setdefault(c.field, set()).add(t)
        if not by_field:
            return 0
        frames = [
            self.term_postings(f, sorted(ts), with_dl=False).select("doc_id")
            for f, ts in sorted(by_field.items())
        ]
        hits = reduce(lambda a, b: a.unionByName(b), frames).distinct()
        red = (
            segments_to_postings(
                self.segments.where(F.col("term") == META_REDIRECT)
            )
            .select("doc_id")
            .distinct()
        )
        return hits.join(red, "doc_id", "left_anti").count()

    def rescore_phrase(
        self,
        query: str,
        phrase: tuple[str, ...],
        k: int = 10,
        first_k: int = 100,
        weight: float = 1.0,
        field: str = "content",
    ) -> DataFrame:
        """Two-phase retrieval on the segment serving path (Lucene
        QueryRescorer; same semantics as InvertedIndex.rescore_phrase).
        Unlike collapse, the rescore window IS a plain top-k, so the
        first pass keeps block-max WAND pruning ON; the phrase signal
        then decodes ONLY the phrase terms' postings (term-pruned
        row-group scan, positions stay wire-format) restricted to the
        window by a broadcast semi-join. Returns (doc_id, first_score,
        signal, score) top-k."""
        from fuzzy_wiki_spark.analyzer import tokenize_text
        from fuzzy_wiki_spark.operators.rescore import (
            phrase_occurrences,
            rescore_topk,
        )

        phrase = tuple(t for w in phrase for t in tokenize_text(w))
        if not phrase:
            raise ValueError("rescore phrase analyzed to zero terms")
        # one materialized window for both the signal bound and the
        # combine (see InvertedIndex.rescore_phrase: float-partial sums
        # make re-evaluated windows boundary-unstable, and the first pass
        # shouldn't run twice)
        window = self.search(query, k=first_k).persist()
        sig = phrase_occurrences(
            self.term_postings(field, sorted(set(phrase)), with_dl=False),
            field,
            phrase,
            candidates=window,
        )
        # ≤ k rows: materialize, then release the window cache so a
        # long-lived index never accumulates per-call cached windows
        # (same pattern as InvertedIndex.rescore_phrase / extended())
        try:
            res = rescore_topk(
                window, sig, first_k=first_k, k=k, weight=weight
            )
            rows = res.collect()
            return self.spark.createDataFrame(rows, res.schema)
        finally:
            window.unpersist()

    def search_many(self, queries: list[str], k: int = 10) -> DataFrame:
        """Batch replay over compressed segments: one job for the whole
        query set; per-bucket decode is shared across queries →
        (query_id, doc_id, score, rank)."""
        from fuzzy_wiki_spark.operators.segment_query import (
            search_segments_batch,
        )

        compiled = {i: compile_query(q) for i, q in enumerate(queries)}
        terms = sorted(
            {t for cls in compiled.values() for c in cls for t in c.terms}
        )
        return search_segments_batch(
            self.spark,
            self.segments,
            compiled,
            self._term_df(terms),
            self.field_stats,
            k=k,
        )

    # -- term-pruned decode adapter: every postings-level query operator
    #    (boolean / phrase / prefix / fuzzy / wildcard) serves straight
    #    from the compressed on-disk segments ------------------------------

    def term_postings(
        self,
        field: str,
        terms: "list[str] | DataFrame",
        with_dl: bool = True,
    ) -> DataFrame:
        """Postings-DataFrame view of the compressed index, decoded ONLY
        for the given terms.

        The segment files are term-sorted within each bucket partition
        (operators/segments.py write contract), so the term predicate —
        `term_in` for a literal list, a broadcast join for a DataFrame of
        expanded terms — prunes parquet row-groups before any byte is
        decoded; decode cost is Σ|posting list(term)|, never the corpus.
        Positions stay in wire format, so phrase matching works unchanged.
        Multi-generation segment unions (streaming/incremental.py) decode
        to the plain union of their disjoint doc sets — correct by the
        append-only contract.

        ``with_dl`` joins each row's field length from the ``_dl`` meta
        rows (needed by BM25-scoring consumers; the join is doc_id-keyed
        against a doc_count-sized side — the same cost profile as the
        relational engine's doc_lens join).
        """
        from fuzzy_wiki_spark.operators.segment_query import term_in
        from fuzzy_wiki_spark.streaming.incremental import (
            segments_to_postings,
        )

        seg_f = self.segments.where(F.col("field") == field)
        if isinstance(terms, DataFrame):
            matched = seg_f.join(F.broadcast(terms), "term")
        else:
            matched = seg_f.where(term_in(list(terms)))
        posts = segments_to_postings(matched)
        # tombstoned docs (incremental deletes) never reach consumers;
        # redirect docs stay — indexed-but-filtered is the searcher's
        # policy (O22), not the adapter's. The tombstone set is decoded
        # ONCE per index instance (persisted, usually empty → the anti-join
        # is skipped entirely), not once per term_postings call.
        tombs = self._tombstones()
        if tombs is not None:
            posts = posts.join(tombs, "doc_id", "left_anti")
        if not with_dl:
            return posts
        return posts.join(self._dls(field), "doc_id")

    def _tombstones(self):
        """Decoded tombstone doc_ids, cached per instance (segments are an
        immutable snapshot per SegmentIndex). None when the index has no
        deletes — the common case, which then costs zero scans/joins on
        every query instead of a pruned scan + anti-join per call."""
        from fuzzy_wiki_spark.operators.segment_query import META_DELETED
        from fuzzy_wiki_spark.streaming.incremental import (
            segments_to_postings,
        )

        if not hasattr(self, "_tombs_cache"):
            t = segments_to_postings(
                self.segments.where(F.col("term") == META_DELETED)
            ).select("doc_id").persist()
            self._tombs_cache = t if t.count() else None
            if self._tombs_cache is None:
                t.unpersist()
        return self._tombs_cache

    def _dls(self, field: str):
        """(doc_id, dl) for one field, decoded once per instance and
        persisted — a doc_count-sized frame every with_dl consumer joins."""
        from fuzzy_wiki_spark.operators.segments import META_DL
        from fuzzy_wiki_spark.streaming.incremental import (
            segments_to_postings,
        )

        if not hasattr(self, "_dls_cache"):
            self._dls_cache = {}
        if field not in self._dls_cache:
            self._dls_cache[field] = (
                segments_to_postings(
                    self.segments.where(
                        (F.col("field") == field) & (F.col("term") == META_DL)
                    )
                )
                .select("doc_id", F.col("tf").cast("int").alias("dl"))
                .persist()
            )
        return self._dls_cache[field]

    def boolean(
        self,
        must: tuple[str, ...],
        should: tuple[str, ...] = (),
        must_not: tuple[str, ...] = (),
        field: str = "content",
        k: int = 10,
    ) -> DataFrame:
        """MUST/SHOULD/MUST_NOT retrieval over the compressed segments
        (operators/boolean.py on the term-pruned decode)."""
        from fuzzy_wiki_spark.operators.boolean import boolean_topk

        all_terms = list(dict.fromkeys(must + should + must_not))
        posts = self.term_postings(field, all_terms)
        term_df = self._term_df(list(dict.fromkeys(must + should)))
        return boolean_topk(
            posts, field, must, should, must_not, term_df,
            self.field_stats, k=k,
        )

    def phrase(
        self,
        phrase: tuple[str, ...],
        field: str = "content",
        slop: int = 0,
        k: int = 15,
    ) -> DataFrame:
        """Sloppy/exact phrase top-docs over the compressed segments —
        positions decode straight from the wire format."""
        from fuzzy_wiki_spark.operators.topk import phrase_topdocs

        posts = self.term_postings(field, list(phrase), with_dl=False)
        return phrase_topdocs(posts, field, phrase, slop=slop, k=k)

    def prefix(
        self, prefix: str, field: str = "content", k: int = 20
    ) -> DataFrame:
        """Prefix term query: dictionary range scan on term_stats, then
        term-pruned decode + doc agg."""
        from fuzzy_wiki_spark.operators.term_expansion import (
            expanded_topdocs,
        )

        ex = self.term_stats.where(
            (F.col("field") == field) & F.col("term").startswith(prefix)
        ).select("term")
        return expanded_topdocs(
            self.term_postings(field, ex, with_dl=False), field, ex, k
        )

    def fuzzy(
        self,
        query_term: str,
        max_dist: int = 1,
        field: str = "content",
        k: int = 20,
    ) -> DataFrame:
        """Fuzzy term query (levenshtein dictionary expansion) over the
        compressed segments."""
        from fuzzy_wiki_spark.operators.term_expansion import (
            expand_fuzzy,
            expanded_topdocs,
        )

        ex = expand_fuzzy(self.term_stats, field, query_term, max_dist)
        return expanded_topdocs(
            self.term_postings(field, ex, with_dl=False), field, ex, k
        )

    def extended(
        self, query: str, k: int = 10, analyze=None, relational: bool = False
    ) -> DataFrame:
        """Run an extended-language query (plans/qlang.py — the Lucene
        QueryParser subset) over the compressed segments.

        Serving path (default): atoms are compiled driver-side into
        AtomSpecs (idf weights from a term_stats point lookup, dictionary
        expansions from the vocabulary-sized term_stats scan), then ONE
        score_buckets job evaluates every atom in numpy inside each bucket
        (a doc's postings live entirely in its bucket, so per-bucket scores
        are final) — the same single-pruned-scan shape that makes seg BM25
        fast. Decode cost is Σ|posting lists(query terms)|, never the index.

        ``relational=True`` routes through the decoded-postings adapter +
        plans/qlang.execute_extended instead — the SQL-comparable
        differential path; parity between the two is pinned by
        tests/test_segment_surfaces.py.
        """
        from functools import reduce

        from fuzzy_wiki_spark.operators.segment_query import (
            compile_extended,
            search_segments_extended,
        )
        from fuzzy_wiki_spark.plans.qlang import (
            _expansion,
            atom_terms,
            execute_extended,
            parse_extended,
        )

        eq = parse_extended(query, analyze=analyze)
        atoms = eq.must + eq.should + eq.must_not
        if not atoms:
            return self.spark.createDataFrame(
                [], "doc_id long, score double"
            )
        if not relational:
            specs = compile_extended(eq, self.term_stats, self.field_stats)
            return search_segments_extended(
                self.spark, self.segments, specs, self.field_stats, k=k
            )
        parts = []
        for fld in sorted({a.field for a in atoms}):
            lit = sorted(atom_terms(eq).get(fld, ()))
            term_dfs = [
                _expansion(self.term_stats, a)
                for a in atoms
                if a.field == fld
                and a.kind in ("prefix", "wildcard", "fuzzy", "regexp")
            ]
            if lit:
                term_dfs.append(
                    self.spark.createDataFrame(
                        [(t,) for t in lit], "term string"
                    )
                )
            terms = reduce(
                lambda a, b: a.unionByName(b), term_dfs
            ).distinct()
            parts.append(self.term_postings(fld, terms))
        posts = reduce(lambda a, b: a.unionByName(b), parts)
        # execute_extended consumes the decoded base once per atom frame
        # plus once per gating match set (up to 2·atoms scans) — persist it
        # for the query's duration or every scan re-runs the segment decode.
        # The result is ≤ k rows, so materialize it eagerly, release the
        # cache deterministically, and hand back a local-backed DataFrame
        # (no lineage into the unpersisted plan).
        posts = posts.persist()
        try:
            # populate the cache BEFORE the multi-scan aggregate job: the
            # atom frames all scan `posts`, and scans racing inside one
            # not-yet-cached job each re-run the segment decode — one
            # cheap count() turns those into cache reads (bench: the
            # seg_extended section dropped ~2× at sf0.1)
            posts.count()
            res = execute_extended(
                self.spark, posts, self.term_stats, self.field_stats, eq, k=k
            )
            rows = res.collect()
            return self.spark.createDataFrame(rows, res.schema)
        finally:
            posts.unpersist()

    def wildcard(
        self, pattern: str, field: str = "content", k: int = 20
    ) -> DataFrame:
        """Wildcard term query (SQL-LIKE dictionary expansion) over the
        compressed segments."""
        from fuzzy_wiki_spark.operators.term_expansion import (
            expand_wildcard,
            expanded_topdocs,
        )

        ex = expand_wildcard(self.term_stats, field, pattern)
        return expanded_topdocs(
            self.term_postings(field, ex, with_dl=False), field, ex, k
        )

    def regexp(
        self, pattern: str, field: str = "content", k: int = 20
    ) -> DataFrame:
        """ES `regexp` term query: anchored-regex dictionary expansion
        off the term_stats side-channel, constant-score match summary
        (operators/term_expansion.expand_regexp + expanded_topdocs)."""
        from fuzzy_wiki_spark.operators.term_expansion import (
            expand_regexp,
            expanded_topdocs,
        )

        ex = expand_regexp(self.term_stats, field, pattern)
        return expanded_topdocs(
            self.term_postings(field, ex, with_dl=False), field, ex, k
        )

    def match_bool_prefix(
        self,
        words: list[str],
        prefix: str,
        field: str = "content",
        k: int = 10,
    ) -> DataFrame:
        """ES match_bool_prefix on the serving path: the complete-word
        decode prunes by isin, the fragment by the term-sorted
        startswith range (operators/term_expansion
        .match_bool_prefix_topk)."""
        from fuzzy_wiki_spark.operators.term_expansion import (
            match_bool_prefix_topk,
        )

        ex = self.term_stats.where(
            (F.col("field") == field)
            & (
                F.col("term").isin(list(words))
                | F.col("term").startswith(prefix)
            )
        ).select("term")
        posts = self.term_postings(field, ex)
        return match_bool_prefix_topk(
            posts,
            field,
            list(words),
            prefix,
            self._term_df(sorted(set(words))),
            self.field_stats,
            k=k,
        )

    # -- round-4 serving surfaces: every remaining relational-only query
    #    now has a segment-path twin (facets, snippets, synonyms,
    #    corrected, MLT, span, grouped, explain) ---------------------------

    def _bucket_count(self) -> int:
        """Observed bucket count (max bucket + 1), probed once per
        instance from the bucket column — parquet min/max stats answer
        it without decoding a posting byte. Used only to ROUTE doc-keyed
        lookups (a doc's postings live entirely in bucket
        doc_id % n_buckets, operators/segments.py:400); doc_postings
        falls back to a full decode if the routed bucket misses (only
        possible when the top buckets are empty — a corpus smaller than
        its bucket count)."""
        if not hasattr(self, "_nb_cache"):
            self._nb_cache = (
                self.segments.agg(F.max("bucket").alias("b")).first()["b"]
                + 1
            )
        return self._nb_cache

    def doc_postings(
        self, field: str, doc_id: int, with_dl: bool = True
    ) -> DataFrame:
        """ONE document's postings from the compressed segments — the
        forward-index (Lucene term-vector) lookup MLT needs. The segment
        layout is doc-bucketed, so the decode prunes to the doc's single
        bucket (1/n_buckets of the field's index) before filtering
        doc_id; there is no per-term pruning for a doc-keyed question —
        exactly why Lucene stores term vectors for MLT. Cost is one
        bucket's decode, bounded by index_size/n_buckets at any corpus
        scale (size n_buckets so a bucket fits an executor)."""
        from fuzzy_wiki_spark.operators.segments import META_TERMS
        from fuzzy_wiki_spark.streaming.incremental import (
            segments_to_postings,
        )

        def _decode(seg):
            # meta rows (_dl/_redirect/_deleted) ride the same layout —
            # they are bookkeeping, not document vocabulary
            seg = seg.where(~F.col("term").isin(META_TERMS))
            posts = segments_to_postings(seg).where(
                F.col("doc_id") == doc_id
            )
            tombs = self._tombstones()
            if tombs is not None:
                posts = posts.join(tombs, "doc_id", "left_anti")
            if with_dl:
                posts = posts.join(self._dls(field), "doc_id")
            return posts

        seg_f = self.segments.where(F.col("field") == field)
        b = int(doc_id) % self._bucket_count()
        routed = _decode(seg_f.where(F.col("bucket") == b))
        if routed.take(1):
            return routed
        # tiny-corpus fallback: empty top buckets make the probe
        # undercount, mis-routing the modulo — scan all buckets
        return _decode(seg_f)

    def facet_counts(
        self,
        terms: list[str],
        docs: DataFrame,
        facet_col: str,
        field: str = "content",
    ) -> DataFrame:
        """Faceted match counts on the serving path (the "refine by"
        panel): distinct docs matching ANY query term, counted per facet
        value. The match set comes from the term-pruned segment decode
        (no positions/dl needed); the facet attribute joins from the
        docs table — segments store postings, not stored fields, the
        same split Lucene makes between the index and doc values."""
        from fuzzy_wiki_spark.operators.facets import (
            facet_counts as _facet_counts,
        )

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return _facet_counts(posts, docs, sorted(set(terms)), facet_col)

    def terms_with_metrics(
        self,
        terms: list[str],
        docs: DataFrame,
        facet_col: str,
        metrics: list,
        field: str = "content",
    ) -> DataFrame:
        """ES terms bucket agg with metric sub-aggregations on the
        serving path: term-pruned segment decode for the match set, ONE
        combinable groupBy for bucket count + every sub-metric
        (operators/facets.terms_with_metrics)."""
        from fuzzy_wiki_spark.operators.facets import (
            terms_with_metrics as _twm,
        )

        posts = self.term_postings(
            field, sorted(set(terms)), with_dl=False
        )
        return _twm(posts, docs, sorted(set(terms)), facet_col, metrics)

    def facet_topk(
        self,
        query: str,
        docs: DataFrame,
        facet_col: str,
        k: int = 3,
    ) -> DataFrame:
        """Per-facet top-k hits on the serving path: full-set bucket
        scoring (k=None — every facet needs ITS best hits, a global-k θ
        bound could prune a small facet's winners), facet attribute
        joined from the docs table, window rank within each facet
        (operators/facets.grouped_topk — partitioned by facet, never
        global)."""
        from fuzzy_wiki_spark.operators.facets import (
            grouped_topk as _facet_topk,
        )
        from fuzzy_wiki_spark.operators.segment_query import (
            search_segments_batch,
        )

        clauses = compile_query(query)
        term_df = self._term_df(sorted({t for c in clauses for t in c.terms}))
        full = search_segments_batch(
            self.spark,
            self.segments,
            {0: clauses},
            term_df,
            self.field_stats,
            k=None,
        ).select("doc_id", "score")
        scored = full.join(docs.select("doc_id", facet_col), "doc_id")
        return _facet_topk(scored, facet_col=facet_col, k=k)

    def range_facets(
        self,
        terms: list[str],
        docs: DataFrame,
        ranges: list[tuple],
        value,
        field: str = "content",
    ) -> DataFrame:
        """Range-bucket match counts on the serving path (the ES `range`
        aggregation — e.g. file-size buckets): the match set comes from
        the term-pruned segment decode, the numeric joins from the docs
        table (operators/facets.range_facets)."""
        from fuzzy_wiki_spark.operators.facets import (
            range_facets as _range_facets,
        )

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return _range_facets(posts, docs, sorted(set(terms)), ranges, value)

    def histogram_facet(
        self,
        terms: list[str],
        docs: DataFrame,
        interval: int,
        value,
        field: str = "content",
    ) -> DataFrame:
        """Fixed-interval histogram of a numeric over the match set on
        the serving path (the ES `histogram` aggregation;
        operators/facets.histogram_facet)."""
        from fuzzy_wiki_spark.operators.facets import (
            histogram_facet as _histogram_facet,
        )

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return _histogram_facet(posts, docs, sorted(set(terms)), interval, value)

    def facet_stats(
        self,
        terms: list[str],
        docs: DataFrame,
        facet_col: str,
        value,
        field: str = "content",
    ) -> DataFrame:
        """Per-facet numeric stats over the match set on the serving path
        (the ES `terms` + `stats` sub-aggregation;
        operators/facets.facet_stats)."""
        from fuzzy_wiki_spark.operators.facets import (
            facet_stats as _facet_stats,
        )

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return _facet_stats(posts, docs, sorted(set(terms)), facet_col, value)

    def facet_cardinality(
        self,
        terms: list[str],
        docs: DataFrame,
        facet_col: str,
        of_col: str,
        exact: bool = True,
        field: str = "content",
    ) -> DataFrame:
        """Distinct-value count per facet over the match set on the
        serving path (the ES `cardinality` sub-aggregation;
        operators/facets.facet_cardinality — HyperLogLog++ via
        exact=False at corpus scale)."""
        from fuzzy_wiki_spark.operators.facets import (
            facet_cardinality as _facet_cardinality,
        )

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return _facet_cardinality(
            posts, docs, sorted(set(terms)), facet_col, of_col, exact=exact
        )

    def facet_percentiles(
        self,
        terms: list[str],
        docs: DataFrame,
        facet_col: str,
        value,
        percentiles: tuple = (0.5, 0.9, 0.99),
        exact: bool = True,
        field: str = "content",
    ) -> DataFrame:
        """Per-facet percentiles over the match set on the serving path
        (the ES `percentiles` sub-aggregation;
        operators/facets.facet_percentiles — exact interpolation by
        default, t-digest via exact=False at corpus scale)."""
        from fuzzy_wiki_spark.operators.facets import (
            facet_percentiles as _facet_percentiles,
        )

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return _facet_percentiles(
            posts, docs, sorted(set(terms)), facet_col, value,
            percentiles=percentiles, exact=exact,
        )

    def significant_terms(
        self,
        terms: list[str],
        k: int = 10,
        min_doc_count: int = 3,
        field: str = "content",
    ) -> DataFrame:
        """Terms unusually common in the match set vs the corpus on the
        serving path (the ES `significant_terms` aggregation, JLH score;
        operators/facets.significant_terms).

        The background side comes free from the term_stats side-channel
        (df IS the distinct-doc count) and the corpus total from
        field_stats. The foreground is doc-keyed — every matched doc's
        full vocabulary — so like MLT it pays a forward lookup; a match
        set spanning many buckets decodes them all (ES answers this from
        its inverted index the same way: one lookup per candidate term
        over the fg doc set). Cost class: one field decode semi-joined
        to the matches, combinable distinct-count after."""
        from fuzzy_wiki_spark.operators.facets import (
            significant_terms as _significant_terms,
        )
        from fuzzy_wiki_spark.operators.segments import META_TERMS
        from fuzzy_wiki_spark.streaming.incremental import (
            segments_to_postings,
        )

        seg_f = self.segments.where(
            (F.col("field") == field) & ~F.col("term").isin(META_TERMS)
        )
        posts = segments_to_postings(seg_f)
        tombs = self._tombstones()
        if tombs is not None:
            posts = posts.join(tombs, "doc_id", "left_anti")
        bg = self.term_stats.where(F.col("field") == field)
        return _significant_terms(
            posts,
            sorted(set(terms)),
            k=k,
            min_doc_count=min_doc_count,
            bg_stats=bg,
            bg_total=self.field_stats[field][0],
        )

    def significant_text(
        self,
        terms: list[str],
        docs: DataFrame,
        text_col: str = "content",
        sample_n: int = 200,
        k: int = 10,
        min_doc_count: int = 3,
        field: str = "content",
        analyzer_mode: str = "simple",
    ) -> DataFrame:
        """significant_text on the serving path (operators/facets
        .significant_text): match set from the term-pruned decode, the
        sampled docs' SOURCE text re-analyzed on the fly
        (``analyzer_mode`` must match the mode the index was built
        with), background df from the term_stats side-channel — no
        corpus re-tokenize."""
        from fuzzy_wiki_spark.operators.facets import (
            significant_text as _significant_text,
        )

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        bg = self.term_stats.where(F.col("field") == field)
        return _significant_text(
            posts,
            docs,
            sorted(set(terms)),
            text_col=text_col,
            sample_n=sample_n,
            k=k,
            min_doc_count=min_doc_count,
            bg_stats=bg,
            bg_total=self.field_stats[field][0],
            analyzer_mode=analyzer_mode,
        )

    def categorize_text(
        self,
        terms: list[str],
        docs: DataFrame,
        text_col: str = "content",
        n_tokens: int = 10,
        k: int = 10,
        field: str = "content",
    ) -> DataFrame:
        """Log-template clustering on the serving path (the ES
        `categorize_text` aggregation; operators/facets.categorize_text
        — match set from the term-pruned decode, templates masked from
        the docs table's source text)."""
        from fuzzy_wiki_spark.operators.facets import (
            categorize_text as _categorize_text,
        )

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return _categorize_text(
            posts, docs, sorted(set(terms)), text_col, n_tokens, k
        )

    def frequent_item_sets(
        self,
        terms: list[str],
        min_support: int,
        k: int = 10,
        field: str = "content",
    ) -> DataFrame:
        """Frequent term pairs on the serving path (the ES
        `frequent_item_sets` aggregation at size 2;
        operators/facets.frequent_item_sets). The agg reads the matched
        docs' FULL vocabulary, so the decode is term-pruned by the
        vocabulary table (term_stats — a broadcast join over every
        field term) rather than the query terms; the apriori single-
        frequency cut then bounds the pair join."""
        from fuzzy_wiki_spark.operators.facets import (
            frequent_item_sets as _fis,
        )

        vocab = self.term_stats.where(F.col("field") == field).select(
            "term"
        )
        full = self.term_postings(field, vocab, with_dl=False)
        return _fis(full, sorted(set(terms)), min_support, k)

    def date_histogram(
        self,
        terms: list[str],
        docs: DataFrame,
        value,
        interval: str = "month",
        field: str = "content",
    ) -> DataFrame:
        """Calendar-bucket match counts on the serving path (the ES
        `date_histogram` aggregation — the hits-over-time chart;
        operators/facets.date_histogram). Match set from the term-pruned
        segment decode, timestamp joins from the docs table."""
        from fuzzy_wiki_spark.operators.facets import (
            date_histogram as _date_histogram,
        )

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return _date_histogram(
            posts, docs, sorted(set(terms)), value, interval=interval
        )

    def auto_date_histogram(
        self,
        terms: list[str],
        docs: DataFrame,
        value,
        target_buckets: int = 10,
        field: str = "content",
    ):
        """Auto-interval calendar buckets on the serving path (the ES
        `auto_date_histogram` aggregation; operators/facets
        .auto_date_histogram). Match set from the term-pruned segment
        decode; the interval ladder walk is the same 1-row aggregate."""
        from fuzzy_wiki_spark.operators.facets import (
            auto_date_histogram as _auto_dh,
        )

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return _auto_dh(
            posts, docs, sorted(set(terms)), value,
            target_buckets=target_buckets,
        )

    def filters_agg(
        self, filters: dict, field: str = "content"
    ) -> DataFrame:
        """Named-filter match counts on the serving path (the ES
        `filters` aggregation; operators/facets.filters_agg). The union
        of all filter terms prunes the segment decode, then the tiny
        (name, term) mapping broadcasts."""
        from fuzzy_wiki_spark.operators.facets import (
            filters_agg as _filters_agg,
        )

        all_terms = sorted({t for ts in filters.values() for t in ts})
        posts = self.term_postings(field, all_terms, with_dl=False)
        return _filters_agg(posts, filters)

    def adjacency_matrix(
        self, filters: dict, field: str = "content"
    ) -> DataFrame:
        """Filter-intersection counts on the serving path (the ES
        `adjacency_matrix` aggregation; operators/facets
        .adjacency_matrix) over the same pruned decode as filters_agg."""
        from fuzzy_wiki_spark.operators.facets import (
            adjacency_matrix as _adjacency_matrix,
        )

        all_terms = sorted({t for ts in filters.values() for t in ts})
        posts = self.term_postings(field, all_terms, with_dl=False)
        return _adjacency_matrix(posts, filters)

    def composite_agg(
        self,
        terms: list[str],
        docs: DataFrame,
        sources: list[str],
        size: int = 10,
        after: tuple | None = None,
        field: str = "content",
    ) -> DataFrame:
        """Key-ordered composite bucket page on the serving path (the ES
        `composite` aggregation with after-key pagination;
        operators/facets.composite_agg)."""
        from fuzzy_wiki_spark.operators.facets import (
            composite_agg as _composite_agg,
        )

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return _composite_agg(
            posts, docs, sorted(set(terms)), sources, size=size, after=after
        )

    def top_metrics(
        self,
        terms: list[str],
        docs: DataFrame,
        facet_col: str,
        sort_col: str,
        metrics: list[str],
        field: str = "content",
    ) -> DataFrame:
        """Per-bucket metrics from the top-sorted doc on the serving path
        (the ES `top_metrics` aggregation; operators/facets
        .top_metrics — one combinable max_by, no per-group sort)."""
        from fuzzy_wiki_spark.operators.facets import (
            top_metrics as _top_metrics,
        )

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return _top_metrics(
            posts, docs, sorted(set(terms)), facet_col, sort_col, metrics
        )

    def matrix_stats(
        self,
        terms: list[str],
        docs: DataFrame,
        col_a,
        col_b,
        field: str = "content",
    ) -> DataFrame:
        """Two-field moment statistics over the match set on the serving
        path (the ES `matrix_stats` aggregation; operators/facets
        .matrix_stats — one algebraic aggregation)."""
        from fuzzy_wiki_spark.operators.facets import (
            matrix_stats as _matrix_stats,
        )

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return _matrix_stats(posts, docs, sorted(set(terms)), col_a, col_b)

    def snippets(
        self,
        query: str,
        docs: DataFrame,
        k: int = 10,
        window: int = 10,
        terms: list[str] | None = None,
        text_col: str = "text",
    ) -> DataFrame:
        """Highlighted snippets for the segment top-k: best ``window``-
        token span per hit by (distinct query terms, matched tokens,
        earliest), matches bracket-wrapped (functions/text.snippet_struct
        — pure higher-order Column exprs). Runs AFTER the top-k cut, so
        the text join touches k docs, never the corpus (text lives in
        the docs table — the docstore split). ``terms`` overrides the
        highlight set when the displayed text's tokens differ from the
        indexed (analyzed) vocabulary."""
        from fuzzy_wiki_spark.functions.text import snippet_struct

        clauses = compile_query(query)
        hl = terms or sorted({t for c in clauses for t in c.terms})
        hits = self.search(query, k=k).select("doc_id")
        snip = snippet_struct(F.col(text_col), hl, window=window)
        return (
            hits.join(docs.select("doc_id", text_col), "doc_id")
            .select("doc_id", snip.alias("s"))
            .select(
                "doc_id", "s.snippet", "s.n_terms", "s.n_matches", "s.start"
            )
        )

    def search_synonyms(
        self,
        query: str,
        synonyms: dict[str, list[str]],
        k: int = 10,
        field_boosts: list[tuple[str, float]] | None = None,
    ) -> DataFrame:
        """Query-time synonym expansion on the serving path (Lucene
        SynonymQuery semantics — blended max-df idf, summed member tf;
        same contract as InvertedIndex.search_synonyms, parity pinned in
        tests/test_segment_surfaces.py). The group-blended tf aggregate
        is relational by nature, so the postings come from the
        term-pruned segment decode: cost is Σ df(member terms), never
        the index. Default boosts are the reference's path^1.1 /
        content^0.8, restricted to fields this index actually has."""
        from fuzzy_wiki_spark.operators.topk import synonym_search
        from fuzzy_wiki_spark.plans.query import (
            BOOST_CONTENT_TERM,
            BOOST_PATH_TERM,
        )

        groups = _synonym_groups(query, synonyms)
        if not groups:
            return self.spark.createDataFrame(
                [], "doc_id long, score double"
            )
        if field_boosts is None:
            field_boosts = [
                (f, b)
                for f, b in (
                    ("path", BOOST_PATH_TERM),
                    ("content", BOOST_CONTENT_TERM),
                )
                if f in self.field_stats
            ]
        all_terms = sorted({t for g in groups for t in g})
        from functools import reduce

        posts = reduce(
            lambda a, b: a.unionByName(b),
            [
                self.term_postings(fld, all_terms)
                for fld, _ in field_boosts
            ],
        )
        return synonym_search(
            self.spark,
            posts,
            groups,
            self._term_df(all_terms),
            self.field_stats,
            field_boosts=field_boosts,
            k=k,
        )

    def search_corrected(
        self, query: str, k: int = 10, max_dist: int = 2
    ) -> DataFrame:
        """Auto-correcting search on the serving path (same rewrite rule
        as InvertedIndex.search_corrected via _corrected_clauses); the
        corrected clauses then run the normal block-max segment search —
        correction changes the query, not the execution strategy."""
        from fuzzy_wiki_spark.operators.segment_query import search_segments

        clauses = compile_query(query)
        term_df = self._term_df(sorted({t for c in clauses for t in c.terms}))
        new_clauses = _corrected_clauses(
            clauses, term_df, self.term_stats, max_dist=max_dist
        )
        if not new_clauses:
            return self.spark.createDataFrame([], "doc_id long, score double")
        return search_segments(
            self.spark,
            self.segments,
            new_clauses,
            self._term_df(
                sorted({t for c in new_clauses for t in c.terms})
            ),
            self.field_stats,
            k=k,
        )

    def more_like_this(
        self, doc_id: int, field: str = "content", m: int = 10, k: int = 10
    ) -> DataFrame:
        """Related-document retrieval on the serving path (Lucene
        MoreLikeThis): the source doc's top-m tf·idf terms (doc_postings
        — the bucket-pruned forward lookup) become an OR query served by
        the normal block-max segment search, source excluded. Selection
        rule is identical to operators/topk.more_like_this (tf·idf desc,
        term asc) — parity pinned in tests/test_segment_surfaces.py."""
        from fuzzy_wiki_spark.operators.segment_query import search_segments
        from fuzzy_wiki_spark.operators.topk import idf as _idf

        doc_count, _ = self.field_stats[field]
        d0 = {
            r["term"]: r["tf"]
            for r in self.doc_postings(field, doc_id, with_dl=False)
            .select("term", "tf")
            .collect()
        }
        if not d0:
            return self.spark.createDataFrame([], "doc_id long, score double")
        tdf = self._term_df(sorted(d0))
        dfm = {t: tdf.get((field, t), 0) for t in d0}
        interesting = sorted(
            d0, key=lambda t: (-d0[t] * _idf(dfm.get(t, 0), doc_count), t)
        )[:m]
        clauses = [
            Clause(i, field, (t,), 1.0, 0, False)
            for i, t in enumerate(interesting)
        ]
        res = search_segments(
            self.spark,
            self.segments,
            clauses,
            {(field, t): dfm.get(t, 0) for t in interesting},
            self.field_stats,
            k=k + 1,
        )
        return (
            res.where(F.col("doc_id") != doc_id)
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def more_like_this_text(
        self,
        text_terms: list[str],
        field: str = "content",
        m: int = 10,
        k: int = 10,
    ) -> DataFrame:
        """MLT from free text on the serving path (ES more_like_this
        with like:"<text>") — top-m input terms by qtf·idf (qtf counted
        in the input; stats from the term_stats side-channel), served by
        the normal block-max segment search. Selection rule identical to
        operators/topk.more_like_this_text."""
        from collections import Counter

        from fuzzy_wiki_spark.operators.segment_query import search_segments
        from fuzzy_wiki_spark.operators.topk import idf as _idf

        doc_count, _ = self.field_stats[field]
        qtf = Counter(text_terms)
        tdf = self._term_df(sorted(qtf))
        dfm = {t: tdf.get((field, t), 0) for t in qtf}
        interesting = sorted(
            (t for t in qtf if dfm[t] > 0),
            key=lambda t: (-qtf[t] * _idf(dfm[t], doc_count), t),
        )[:m]
        if not interesting:
            return self.spark.createDataFrame(
                [], "doc_id long, score double"
            )
        clauses = [
            Clause(i, field, (t,), 1.0, 0, False)
            for i, t in enumerate(interesting)
        ]
        return search_segments(
            self.spark,
            self.segments,
            clauses,
            {(field, t): dfm[t] for t in interesting},
            self.field_stats,
            k=k,
        )

    def span_near(
        self,
        terms: tuple[str, ...],
        field: str = "content",
        slop: int = 0,
        k: int = 15,
    ) -> DataFrame:
        """Ordered proximity (Lucene SpanNearQuery in_order=true) over
        the compressed segments — positions decode straight from the
        wire format in the term-pruned scan."""
        from fuzzy_wiki_spark.operators.topk import span_near_topdocs

        posts = self.term_postings(
            field, sorted(set(terms)), with_dl=False
        )
        return span_near_topdocs(posts, field, terms, slop=slop, k=k)

    def search_grouped(
        self,
        query: str,
        group_df: DataFrame,
        m: int = 3,
        k: int = 10,
        group_col: str = "group",
    ) -> DataFrame:
        """Grouped results on the serving path (Lucene TopGroups /
        collapse-with-inner_hits; the m>1 sibling of search_collapse):
        full-set bucket scoring (k=None — every group needs its m best,
        a global θ bound could prune them), then
        operators/collapse.grouped_topk (per-group window + partial
        top-k group ranking)."""
        from fuzzy_wiki_spark.operators.collapse import grouped_topk
        from fuzzy_wiki_spark.operators.segment_query import (
            search_segments_batch,
        )

        clauses = compile_query(query)
        term_df = self._term_df(sorted({t for c in clauses for t in c.terms}))
        full = search_segments_batch(
            self.spark,
            self.segments,
            {0: clauses},
            term_df,
            self.field_stats,
            k=None,
        ).select("doc_id", "score")
        return grouped_topk(full, group_df, m=m, k=k, group_col=group_col)

    def explain(self, query: str, doc_id: int) -> DataFrame:
        """Score explanation on the serving path (Lucene
        IndexSearcher.explain): the term-pruned segment decode filtered
        to ONE doc — Σ|posting lists(query terms)| rows scanned, |query
        terms| rows collected — then the shared driver-side factor math
        (_explain_factors; sum(contrib) == the doc's search() score,
        parity pinned in tests/test_segment_surfaces.py)."""
        from functools import reduce

        clauses = compile_query(query)
        all_terms = sorted({t for c in clauses for t in c.terms})
        term_df = self._term_df(all_terms)
        by_field: dict[str, set] = {}
        for c in clauses:
            for t in c.terms:
                by_field.setdefault(c.field, set()).add(t)
        frames = [
            self.term_postings(f, sorted(ts)).where(
                F.col("doc_id") == doc_id
            )
            for f, ts in sorted(by_field.items())
        ]
        rows = reduce(lambda a, b: a.unionByName(b), frames).collect()
        return self.spark.createDataFrame(
            _explain_factors(clauses, term_df, self.field_stats, rows),
            EXPLAIN_SCHEMA,
        )

    def _multi_field_postings(
        self, fields: list[str], terms: list[str]
    ) -> DataFrame:
        """Term-pruned decode unioned across the queried fields — the
        shared input of every multi-field serving surface; cost is
        Σ_f Σ_t |posting list(f, t)|, never the index."""
        from functools import reduce

        return reduce(
            lambda a, b: a.unionByName(b),
            [self.term_postings(f, terms) for f in fields],
        )

    def multi_match(
        self,
        words: list[str],
        field_boosts: list[tuple[str, float]],
        mode: str = "best_fields",
        tie_breaker: float = 0.3,
        k: int = 10,
    ) -> DataFrame:
        """Multi-field retrieval on the serving path
        (operators/multi_match.py semantics — best_fields dis_max /
        most_fields sum / cross_fields blended-idf term-centric dis_max —
        over the term-pruned segment decode; relational≡segment parity
        pinned in tests/test_multi_match.py)."""
        from fuzzy_wiki_spark.operators.multi_match import multi_match

        posts = self._multi_field_postings(
            [f for f, _ in field_boosts], sorted(set(words))
        )
        return multi_match(
            self.spark,
            posts,
            field_boosts,
            list(words),
            self._term_df(sorted(set(words))),
            self.field_stats,
            mode=mode,
            tie_breaker=tie_breaker,
            k=k,
        )

    def combined_fields(
        self,
        words: list[str],
        field_weights: list[tuple[str, float]],
        k: int = 10,
    ) -> DataFrame:
        """combined_fields (BM25F over the synthetic merged field) on
        the serving path (operators/multi_match.combined_fields_topk):
        term-pruned decode per queried field; merged doc lengths come
        from the ``_dl`` meta store, never the corpus body."""
        from fuzzy_wiki_spark.operators.multi_match import (
            combined_fields_topk,
        )

        fields = [f for f, _ in field_weights]
        posts = self._multi_field_postings(fields, sorted(set(words)))
        dls = None
        for f in fields:
            part = self._dls(f).withColumn("field", F.lit(f))
            dls = part if dls is None else dls.unionByName(part)
        return combined_fields_topk(
            self.spark, posts, dls, field_weights, list(words), k=k
        )

    def min_should_match(
        self, words: list[str], msm: int, field: str = "content", k: int = 10
    ) -> DataFrame:
        """minimum_should_match OR retrieval on the serving path — docs
        matching ≥ msm distinct query terms, BM25-sum scored."""
        from fuzzy_wiki_spark.operators.multi_match import (
            min_should_match_topk,
        )

        posts = self.term_postings(field, sorted(set(words)))
        return min_should_match_topk(
            self.spark,
            posts,
            field,
            list(words),
            msm,
            self._term_df(sorted(set(words))),
            self.field_stats,
            k=k,
        )

    def dis_max(
        self,
        words: list[str],
        field: str = "content",
        tie_breaker: float = 0.3,
        k: int = 10,
    ) -> DataFrame:
        """dis_max over per-term sub-queries on the serving path
        (operators/multi_match.dis_max_topk over the term-pruned
        decode): best term's BM25 + tie_breaker · the rest."""
        from fuzzy_wiki_spark.operators.multi_match import dis_max_topk

        posts = self.term_postings(field, sorted(set(words)))
        return dis_max_topk(
            self.spark,
            posts,
            field,
            list(words),
            self._term_df(sorted(set(words))),
            self.field_stats,
            tie_breaker=tie_breaker,
            k=k,
        )

    def constant_score(
        self,
        terms: list[str],
        field: str = "content",
        boost: float = 1.0,
        k: int = 10,
    ) -> DataFrame:
        """constant_score filter on the serving path (operators/scoring
        .constant_score_topk — term-pruned decode, no stats reads)."""
        from fuzzy_wiki_spark.operators.scoring import constant_score_topk

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return constant_score_topk(posts, field, list(terms), boost, k=k)

    def boosting(
        self,
        positive: list[str],
        negative: list[str],
        field: str = "content",
        negative_boost: float = 0.5,
        k: int = 10,
    ) -> DataFrame:
        """ES boosting query on the serving path: positive BM25 score ×
        negative_boost when the doc matches any negative term."""
        from fuzzy_wiki_spark.operators.multi_match import boosting_topk

        all_terms = sorted(set(positive) | set(negative))
        posts = self.term_postings(field, all_terms)
        return boosting_topk(
            self.spark,
            posts,
            field,
            list(positive),
            list(negative),
            self._term_df(sorted(set(positive))),
            self.field_stats,
            negative_boost=negative_boost,
            k=k,
        )

    def terms_set(
        self,
        words: list[str],
        doc_required: DataFrame,
        required_col: str,
        field: str = "content",
        k: int = 10,
    ) -> DataFrame:
        """ES terms_set on the serving path: docs matching >= a
        per-document doc-values threshold (minimum_should_match_field)
        distinct query terms, BM25-sum scored over the term-pruned
        segment decode (operators/multi_match.py:terms_set_topk)."""
        from fuzzy_wiki_spark.operators.multi_match import terms_set_topk

        posts = self.term_postings(field, sorted(set(words)))
        return terms_set_topk(
            self.spark,
            posts,
            field,
            list(words),
            doc_required,
            required_col,
            self._term_df(sorted(set(words))),
            self.field_stats,
            k=k,
        )

    def pinned(
        self,
        words: list[str],
        pinned_ids: list[int],
        docs: DataFrame,
        field: str = "content",
        k: int = 10,
        pin_base: float = 1.0e9,
    ) -> DataFrame:
        """ES pinned query on the serving path: the ordered promoted-id
        ladder first, organic BM25 results (pins excluded) after
        (operators/multi_match.py:pinned_topk)."""
        from fuzzy_wiki_spark.operators.multi_match import pinned_topk

        posts = self.term_postings(field, sorted(set(words)))
        return pinned_topk(
            self.spark,
            posts,
            field,
            list(words),
            list(pinned_ids),
            docs,
            self._term_df(sorted(set(words))),
            self.field_stats,
            k=k,
            pin_base=pin_base,
        )

    def sort_by_field(
        self,
        words: list[str],
        docs: DataFrame,
        sort_col: str,
        field: str = "content",
        k: int = 10,
        ascending: bool = False,
        after: tuple | None = None,
    ) -> DataFrame:
        """Sort-by-doc-value retrieval on the serving path (ES sort
        without _score): term-pruned decode (no dl — no scoring at all) →
        distinct match set → doc-value join → TakeOrderedAndProject.
        ``after`` = the previous page's last (sort_value, doc_id) for
        search_after field-sort pagination."""
        from fuzzy_wiki_spark.operators.multi_match import (
            sort_by_field_topk,
        )

        posts = self.term_postings(field, sorted(set(words)), with_dl=False)
        return sort_by_field_topk(
            posts, field, list(words), docs, sort_col, k=k,
            ascending=ascending, after=after,
        )

    def sort_by_fields(
        self,
        words: list[str],
        docs: DataFrame,
        sort_spec: list,
        field: str = "content",
        k: int = 10,
        after: tuple | None = None,
    ) -> DataFrame:
        """Multi-field doc-value sort with lexicographic search_after on
        the serving path (operators/multi_match.sort_by_fields_topk)."""
        from fuzzy_wiki_spark.operators.multi_match import (
            sort_by_fields_topk,
        )

        posts = self.term_postings(
            field, sorted(set(words)), with_dl=False
        )
        return sort_by_fields_topk(
            posts, field, list(words), docs, sort_spec, k=k, after=after
        )

    def _full_scores(self, query: str) -> DataFrame:
        """FULL (unranked) scored match set of a query — the shared first
        pass of the sampler aggs (k=None: the sample cut happens in the
        agg, so a global-k θ bound could prune docs the sample needs)."""
        from fuzzy_wiki_spark.operators.segment_query import (
            search_segments_batch,
        )

        clauses = compile_query(query)
        term_df = self._term_df(sorted({t for c in clauses for t in c.terms}))
        return search_segments_batch(
            self.spark, self.segments, {0: clauses}, term_df,
            self.field_stats, k=None,
        ).select("doc_id", "score")

    def sampler_terms(
        self, query: str, docs: DataFrame, facet_col: str,
        sample_n: int = 100,
    ) -> DataFrame:
        """ES sampler agg on the serving path: sub-agg over only the
        sample_n best-scoring matches (operators/facets.py)."""
        from fuzzy_wiki_spark.operators.facets import sampler_terms

        return sampler_terms(
            self._full_scores(query), docs, facet_col, sample_n=sample_n
        )

    def diversified_terms(
        self,
        query: str,
        docs: DataFrame,
        facet_col: str,
        diversify_col: str,
        max_per: int = 3,
        sample_n: int = 100,
    ) -> DataFrame:
        """ES diversified_sampler agg on the serving path: ≤ max_per docs
        per diversify_col value enter the sample (operators/facets.py)."""
        from fuzzy_wiki_spark.operators.facets import diversified_terms

        return diversified_terms(
            self._full_scores(query), docs, facet_col, diversify_col,
            max_per=max_per, sample_n=sample_n,
        )

    def nested_terms(
        self,
        terms: list[str],
        docs: DataFrame,
        outer_col: str,
        inner_col: str,
        inner_k: int = 2,
        field: str = "content",
    ) -> DataFrame:
        """Two-level terms agg on the serving path (term-pruned decode →
        one combinable pair groupBy → bucket-frame window)."""
        from fuzzy_wiki_spark.operators.facets import nested_terms

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return nested_terms(
            posts, docs, sorted(set(terms)), outer_col, inner_col,
            inner_k=inner_k,
        )

    def rare_terms(
        self,
        terms: list[str],
        docs: DataFrame,
        facet_col: str,
        max_doc_count: int,
        field: str = "content",
    ) -> DataFrame:
        """Long-tail buckets on the serving path (the ES `rare_terms`
        aggregation; operators/facets.rare_terms — exact post-aggregation
        filter on the bucket frame over the term-pruned decode)."""
        from fuzzy_wiki_spark.operators.facets import rare_terms

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return rare_terms(
            posts, docs, sorted(set(terms)), facet_col, max_doc_count
        )

    def multi_terms(
        self,
        terms: list[str],
        docs: DataFrame,
        facet_cols: list[str],
        k: int,
        field: str = "content",
    ) -> DataFrame:
        """Compound-key top-k buckets on the serving path (the ES
        `multi_terms` aggregation; operators/facets.multi_terms — one
        combinable groupBy + TakeOrderedAndProject bucket cut)."""
        from fuzzy_wiki_spark.operators.facets import multi_terms

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return multi_terms(posts, docs, sorted(set(terms)), facet_cols, k)

    def weighted_avg(
        self,
        terms: list[str],
        docs: DataFrame,
        value_col,
        weight_col,
        field: str = "content",
    ) -> DataFrame:
        """Weighted average over the match set on the serving path (the
        ES `weighted_avg` aggregation; operators/facets.weighted_avg —
        one exact-integer combinable aggregation)."""
        from fuzzy_wiki_spark.operators.facets import weighted_avg

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return weighted_avg(
            posts, docs, sorted(set(terms)), value_col, weight_col
        )

    def string_stats(
        self,
        terms: list[str],
        docs: DataFrame,
        field_col: str,
        field: str = "content",
    ) -> DataFrame:
        """String length moments + Shannon entropy over the match set on
        the serving path (the ES `string_stats` aggregation;
        operators/facets.string_stats)."""
        from fuzzy_wiki_spark.operators.facets import string_stats

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return string_stats(posts, docs, sorted(set(terms)), field_col)

    def median_abs_dev(
        self,
        terms: list[str],
        docs: DataFrame,
        value_col: str,
        field: str = "content",
    ) -> DataFrame:
        """Exact median absolute deviation over the match set on the
        serving path (the ES `median_absolute_deviation` aggregation;
        operators/facets.median_abs_dev)."""
        from fuzzy_wiki_spark.operators.facets import median_abs_dev

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return median_abs_dev(posts, docs, sorted(set(terms)), value_col)

    def boxplot_agg(
        self,
        terms: list[str],
        docs: DataFrame,
        value_col: str,
        field: str = "content",
    ) -> DataFrame:
        """Exact quartile boxplot over the match set on the serving path
        (the ES `boxplot` aggregation; operators/facets.boxplot_agg —
        one aggregation, exact type-7 percentiles)."""
        from fuzzy_wiki_spark.operators.facets import boxplot_agg

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return boxplot_agg(posts, docs, sorted(set(terms)), value_col)

    def percentile_ranks(
        self,
        terms: list[str],
        docs: DataFrame,
        facet_col: str,
        value,
        at_values: tuple = (1000.0, 4000.0),
        field: str = "content",
    ) -> DataFrame:
        """Exact empirical-CDF percentile ranks over the match set on the
        serving path (the ES `percentile_ranks` aggregation;
        operators/facets.percentile_ranks — one combinable groupBy, one
        conditional average per probe value)."""
        from fuzzy_wiki_spark.operators.facets import percentile_ranks

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return percentile_ranks(
            posts, docs, sorted(set(terms)), facet_col, value, at_values
        )

    def t_test(
        self,
        terms_a: list[str],
        terms_b: list[str],
        docs: DataFrame,
        value,
        field: str = "content",
    ) -> DataFrame:
        """Welch's t-test between two filter populations on the serving
        path (the ES `t_test` aggregation, heteroscedastic form;
        operators/facets.t_test). ONE term-pruned decode covers both
        filters (terms A ∪ B), then one combinable aggregation."""
        from fuzzy_wiki_spark.operators.facets import t_test

        both = sorted(set(terms_a) | set(terms_b))
        posts = self.term_postings(field, both, with_dl=False)
        return t_test(posts, docs, sorted(set(terms_a)),
                      sorted(set(terms_b)), value)

    def date_range_agg(
        self,
        terms: list[str],
        docs: DataFrame,
        ranges: list[tuple],
        value,
        field: str = "content",
    ) -> DataFrame:
        """Named date buckets on the serving path (the ES `date_range`
        aggregation; operators/facets.date_range_agg over the
        term-pruned segment decode)."""
        from fuzzy_wiki_spark.operators.facets import date_range_agg

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return date_range_agg(posts, docs, sorted(set(terms)), ranges, value)

    def missing_agg(
        self,
        terms: list[str],
        docs: DataFrame,
        value_field,
        field: str = "content",
    ) -> DataFrame:
        """Null-field counts on the serving path (the ES `missing`
        aggregation; operators/facets.missing_agg)."""
        from fuzzy_wiki_spark.operators.facets import missing_agg

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return missing_agg(posts, docs, sorted(set(terms)), value_field)

    def value_count_agg(
        self,
        terms: list[str],
        docs: DataFrame,
        facet_col: str,
        value,
        field: str = "content",
    ) -> DataFrame:
        """Non-null value counts per bucket on the serving path (the ES
        `value_count` metric; operators/facets.value_count_agg)."""
        from fuzzy_wiki_spark.operators.facets import value_count_agg

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return value_count_agg(
            posts, docs, sorted(set(terms)), facet_col, value
        )

    def global_agg(
        self,
        terms: list[str],
        docs: DataFrame,
        facet_col: str,
        field: str = "content",
    ) -> DataFrame:
        """Query-scoped next to corpus-wide bucket counts on the serving
        path (the ES `global` bucket; operators/facets.global_agg — the
        corpus side reads only the facet column of the docs table, the
        match side comes from the term-pruned decode)."""
        from fuzzy_wiki_spark.operators.facets import global_agg

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return global_agg(posts, docs, sorted(set(terms)), facet_col)

    def cumulative_cardinality(
        self,
        terms: list[str],
        docs: DataFrame,
        value,
        interval: str = "month",
        field: str = "content",
    ) -> DataFrame:
        """Exact unique-docs-to-date curve on the serving path (the ES
        `cumulative_cardinality` pipeline agg;
        operators/facets.cumulative_cardinality — first-seen bucket per
        doc, then an ordered window over the bucket frame only)."""
        from fuzzy_wiki_spark.operators.facets import cumulative_cardinality

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return cumulative_cardinality(
            posts, docs, sorted(set(terms)), value, interval=interval
        )

    def variable_width_histogram(
        self,
        terms: list[str],
        docs: DataFrame,
        value,
        buckets: int,
        field: str = "content",
    ) -> DataFrame:
        """Equal-frequency adaptive buckets on the serving path (the ES
        `variable_width_histogram`, pinned to the deterministic
        quantile-edge spec; operators/facets.variable_width_histogram)."""
        from fuzzy_wiki_spark.operators.facets import (
            variable_width_histogram,
        )

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return variable_width_histogram(
            posts, docs, sorted(set(terms)), value, buckets
        )

    def span_within(
        self,
        terms: tuple[str, ...],
        window: int,
        field: str = "content",
        k: int = 15,
    ) -> DataFrame:
        """Unordered proximity on the serving path (SpanNearQuery
        in_order=false): all terms within a covering window, tightest
        first (operators/topk.py:span_within_topdocs over the term-pruned
        decode — positions stay wire-format until the Arrow kernel)."""
        from fuzzy_wiki_spark.operators.topk import span_within_topdocs

        posts = self.term_postings(field, sorted(set(terms)), with_dl=False)
        return span_within_topdocs(posts, field, tuple(terms), window, k=k)

    def span_or(
        self,
        slots,
        max_gaps: int,
        ordered: bool = True,
        field: str = "content",
        k: int = 15,
    ) -> DataFrame:
        """Slot-alternative span chain on the serving path (SpanNear
        over SpanOr clauses; operators/spans.span_or_topdocs over the
        term-pruned decode of the union of slot terms)."""
        from fuzzy_wiki_spark.operators.spans import span_or_topdocs

        all_terms = sorted({t for slot in slots for t in slot})
        posts = self.term_postings(field, all_terms, with_dl=False)
        return span_or_topdocs(
            posts, field, slots, max_gaps, ordered=ordered, k=k
        )

    def span_first(
        self, term: str, end: int, field: str = "content", k: int = 15
    ) -> DataFrame:
        """SpanFirstQuery on the serving path (operators/spans
        .span_first_topdocs — a single-term pruned decode)."""
        from fuzzy_wiki_spark.operators.spans import span_first_topdocs

        posts = self.term_postings(field, [term], with_dl=False)
        return span_first_topdocs(posts, field, term, end, k=k)

    def span_not(
        self,
        include: str,
        exclude: str,
        pre: int = 0,
        post: int = 0,
        field: str = "content",
        k: int = 15,
    ) -> DataFrame:
        """SpanNotQuery on the serving path (operators/spans
        .span_not_topdocs — a two-term pruned decode)."""
        from fuzzy_wiki_spark.operators.spans import span_not_topdocs

        posts = self.term_postings(
            field, sorted({include, exclude}), with_dl=False
        )
        return span_not_topdocs(
            posts, field, include, exclude, pre=pre, post=post, k=k
        )

    def span_containing(
        self,
        big: tuple,
        little: str,
        slop: int = 0,
        inside: bool = False,
        field: str = "content",
        k: int = 15,
    ) -> DataFrame:
        """Lucene SpanContainingQuery / SpanWithinQuery (``inside=True``)
        on the serving path: big = ordered two-term chain with gap ≤
        slop, little = one term (operators/spans
        .span_containing_topdocs over the three terms' pruned decode)."""
        from fuzzy_wiki_spark.operators.spans import span_containing_topdocs

        a, b = big
        posts = self.term_postings(
            field, sorted({a, b, little}), with_dl=False
        )
        return span_containing_topdocs(
            posts, field, (a, b), little, slop=slop, inside=inside, k=k
        )

    def span_multi(
        self,
        anchor: str,
        prefix: str,
        max_gaps: int,
        field: str = "content",
        max_expansions: int = 10,
        k: int = 15,
    ) -> DataFrame:
        """SpanMultiTermQueryWrapper(prefix) inside an ordered span chain
        on the serving path: the prefix resolves against the term_stats
        side-channel (bounded, lex order — Lucene's rewrite), then the
        slot matcher runs over the anchors∪expansions pruned decode
        (operators/spans.span_multi_topdocs)."""
        from fuzzy_wiki_spark.operators.spans import span_multi_topdocs

        exps = self.resolve_prefix(
            prefix, field=field, max_expansions=max_expansions
        )
        if not exps:
            return self.spark.createDataFrame([], "doc_id long, gaps long")
        posts = self.term_postings(
            field, sorted({anchor, *exps}), with_dl=False
        )
        return span_multi_topdocs(posts, field, anchor, exps, max_gaps, k=k)

    def intervals(
        self, spec: dict, field: str = "content", k: int = 15
    ) -> DataFrame:
        """The ES intervals query on the serving path (operators/spans
        .intervals_topdocs — rule tree compiled to slots, decode pruned
        to the union of slot terms)."""
        from fuzzy_wiki_spark.operators.spans import (
            compile_intervals,
            intervals_topdocs,
        )

        slots, _, _ = compile_intervals(spec)
        all_terms = sorted({t for slot in slots for t in slot})
        posts = self.term_postings(field, all_terms, with_dl=False)
        return intervals_topdocs(posts, field, spec, k=k)

    def field_caps(self) -> DataFrame:
        """The ES `_field_caps` analog: per indexed field, its type and
        searchability plus the index-level stats a client plans with
        (doc_count, avgdl, distinct terms) — assembled ENTIRELY from
        the driver-held field_stats and the vocabulary-sized term_stats
        side-channel; no posting is decoded. Returns (field, type,
        searchable, doc_count, avgdl, n_terms)."""
        vocab = self.term_stats.groupBy("field").agg(
            F.count(F.lit(1)).alias("n_terms")
        )
        meta = self.spark.createDataFrame(
            [
                (f, int(dc), float(avgdl))
                for f, (dc, avgdl) in sorted(self.field_stats.items())
            ],
            "field string, doc_count long, avgdl double",
        )
        return (
            meta.join(vocab, "field", "left")
            .select(
                "field",
                F.lit("text").alias("type"),
                F.lit(True).alias("searchable"),
                "doc_count",
                F.round("avgdl", 6).alias("avgdl"),
                F.col("n_terms").cast("long").alias("n_terms"),
            )
            .orderBy("field")
        )

    def terms_enum(
        self,
        prefix: str = "",
        field: str = "content",
        size: int = 10,
        search_after: str | None = None,
        case_insensitive: bool = False,
    ) -> DataFrame:
        """The ES `_terms_enum` API: page the term dictionary — terms
        starting with ``prefix``, lexicographic order, ``search_after``
        as the page cursor (strictly-greater predicate, no offset
        scan). Pure vocabulary-sized term_stats work: the prefix is a
        range predicate on the term-sorted layout and the cursor is a
        second range predicate, so a page never reads past its slice
        regardless of index size. Returns (term, df)."""
        ts = self.term_stats.where(F.col("field") == field)
        if case_insensitive:
            pred = F.lower(F.col("term")).startswith(prefix.lower())
        else:
            pred = F.col("term").startswith(prefix)
        out = ts.where(pred)
        if search_after is not None:
            out = out.where(F.col("term") > search_after)
        return (
            out.select("term", F.col("df").cast("long").alias("df"))
            .orderBy("term")
            .limit(size)
        )

    def resolve_prefix(
        self, prefix: str, field: str = "content", max_expansions: int = 50
    ) -> list[str]:
        """First ``max_expansions`` index terms starting with ``prefix``
        in lexicographic order (ES's term-dict expansion order) — a
        bounded collect off the vocabulary-sized term_stats side-channel,
        never the postings."""
        rows = (
            self.term_stats.where(
                (F.col("field") == field)
                & F.col("term").startswith(prefix)
            )
            .select("term")
            .orderBy("term")
            .limit(max_expansions)
            .collect()
        )
        return [r["term"] for r in rows]

    def match_phrase_prefix(
        self,
        anchors: tuple[str, ...],
        prefix: str,
        field: str = "content",
        max_expansions: int = 50,
        k: int = 15,
    ) -> DataFrame:
        """ES match_phrase_prefix on the serving path: resolve the prefix
        against the term dictionary (bounded), then the multi-phrase freq
        kernel over the anchors∪expansions pruned decode
        (operators/topk.py:match_phrase_prefix_topdocs)."""
        from fuzzy_wiki_spark.operators.topk import (
            match_phrase_prefix_topdocs,
        )

        exps = self.resolve_prefix(
            prefix, field=field, max_expansions=max_expansions
        )
        if not exps:
            return self.spark.createDataFrame(
                [], "doc_id long, phrase_freq long"
            )
        posts = self.term_postings(
            field, sorted(set(list(anchors) + exps)), with_dl=False
        )
        return match_phrase_prefix_topdocs(
            posts, field, tuple(anchors), exps, k=k
        )

    def phrase_suggest(
        self,
        words: list[str],
        field: str = "content",
        max_dist: int = 2,
        per_term: int = 5,
        k: int = 3,
    ) -> DataFrame:
        """ES phrase suggester on the serving path, INDEX-NATIVE: the
        collation bigram counts come from the candidate terms' own
        position lists (term-pruned decode, cost Σ df(candidates)) —
        c(a,b) = Σ_docs |{p : p ∈ L_a, p+1 ∈ L_b}| — so no docs table
        and no corpus scan is touched, exactly the way ES collates
        against the index. Candidates/unigrams/|V| ride the term_stats
        side-channel; the final rank is driver math over ≤ per_term^n
        phrases (operators/term_expansion.score_candidate_phrases)."""
        from fuzzy_wiki_spark.operators.term_expansion import (
            candidate_terms,
            score_candidate_phrases,
        )

        cands = [
            candidate_terms(
                self.term_stats, field, w, max_dist=max_dist,
                per_term=per_term,
            )
            or [w]
            for w in words
        ]
        pairs = sorted(
            {
                (a, b)
                for i in range(len(cands) - 1)
                for a in cands[i]
                for b in cands[i + 1]
            }
        )
        if not pairs:
            return self.spark.createDataFrame(
                [], "suggestion string, score double"
            )
        all_terms = sorted({t for p in pairs for t in p})
        posts = self.term_postings(field, all_terms, with_dl=False)
        pair_keys = [f"{a}\x00{b}" for a, b in pairs]

        from fuzzy_wiki_spark.operators.term_expansion import (
            adjacency_counts_kernel,
        )

        adj_udf = adjacency_counts_kernel(pair_keys)
        per_doc = (
            posts.groupBy("doc_id")
            .agg(
                F.collect_list(
                    F.struct(F.col("term"), F.col("positions"))
                ).alias("mtps")
            )
            .select(adj_udf(F.col("mtps")).alias("cnts"))
        )
        sums = per_doc.select(
            *[
                F.sum(F.col("cnts")[i]).alias(f"_c{i}")
                for i in range(len(pairs))
            ]
        ).collect()[0]
        bigram_counts = {
            pairs[i]: int(sums[f"_c{i}"] or 0) for i in range(len(pairs))
        }
        stats = self.term_stats.where(F.col("field") == field)
        firsts = sorted({a for a, _ in pairs})
        uni = {
            r["term"]: int(r["sum_tf"])
            for r in stats.where(F.col("term").isin(firsts)).collect()
        }
        vocab_size = stats.count()
        out = score_candidate_phrases(
            cands, bigram_counts, uni, vocab_size, k=k
        )
        return self.spark.createDataFrame(
            [(s, round(v, 6)) for s, v in out],
            "suggestion string, score double",
        )
