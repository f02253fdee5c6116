"""BM25 top-k scoring over the postings DataFrame (reference O13-O15, O17, O19).

Spark-first plan (one scan of postings, SURVEY.md §3 E2):

    postings ──where(term ∈ query)──> join(broadcast clause_terms)
        ├─ term clauses:   freq = tf                        (no shuffle)
        └─ phrase clauses: groupBy(clause,doc) → vectorized sloppy match
    union ──> contrib = weight · freq/(freq + k1(1−b+b·dl/avgdl))
          ──> groupBy(doc_id).sum ──> anti-REDIRECT filter
          ──> orderBy(score desc, doc_id).limit(k)   [TakeOrderedAndProject]

Scale notes:
- the clause-term table is a handful of rows → broadcast join, never a
  shuffle; the `term.isin(...)` predicate is applied *before* the join so
  parquet/Iceberg row-group stats prune non-matching files (postings are
  written sorted by term — see segments.py).
- per-term idf/weight math happens driver-side from a point-lookup of
  term_stats (a few rows) — exactly the reference's stats side-channel (O20)
  without the side channel.
- the final top-k is Spark's TakeOrderedAndProject: per-partition partial
  top-k then a driver merge — the same scatter/partial-k/gather shape as the
  reference's distributed search (Searcher.java:66-68 + DocTermInfoHandler),
  with the shuffle replacing HTTP.

BM25 math (MyBM25Similarity.java:65-71, SearchResult.java:46-48):
    idf      = ln(1 + (N − df + 0.5)/(df + 0.5))
    tf_norm  = freq / (freq + k1·(1 − b + b·dl/avgdl))      [exact dl]
    score    = Σ_clauses boost · idf_clause · tf_norm
phrase idf = Σ member idfs (MyBM25Similarity.java:88-96); phrase freq = Σ
member tfs if the sloppy phrase matches else 0 (myTermStats.java:28-67).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fuzzy_wiki_spark.codec import positions_by_term
from fuzzy_wiki_spark.operators.phrase import (
    anchor_counts,
    row_groups,
    row_matches,
    row_positions,
)
from fuzzy_wiki_spark.operators.spans import (
    _min_cover_unordered,
    _min_gap_ordered,
    _slot_lists,
)
from fuzzy_wiki_spark.plans.query import B, K1, Clause, compile_query


def idf(df_count: int, doc_count: int) -> float:
    return math.log(1.0 + (doc_count - df_count + 0.5) / (df_count + 0.5))


def sloppy_match_batch(
    tp_col: pd.Series, phrase_col: pd.Series, slop_col: pd.Series
) -> pd.Series:
    """Vectorized-batch sloppy-phrase matcher (O17). Each row is one
    (clause, doc) candidate that already contains ALL phrase terms;
    ``tp_col`` rows are lists of {term, positions} structs — ONE
    collect_list, so term↔positions pairing is structural, never dependent
    on row-order correspondence between two separate aggregates (Spark does
    not guarantee that two collect_lists in the same agg see rows in the
    same order; SURVEY.md §7 item 5).

    A row matches iff some anchor's phrase cost is ≤ its slop: the batch
    goes through the shared phrase kernel (operators/phrase.py) in one
    pass, repeated phrase terms included."""
    return pd.Series(row_matches(tp_col, phrase_col, slop_col) > 0)


_sloppy_udf = F.pandas_udf(sloppy_match_batch, T.BooleanType())


def docs_with_all(scan: DataFrame, terms, *aggs) -> DataFrame:
    """The docs of ``scan`` holding every one of ``terms`` → (doc_id,
    mtps, n_found, *aggs): ``mtps`` is the doc's ONE
    collect_list(struct(term, positions)), the input row of the
    relational phrase and span kernels."""
    return (
        scan.groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(F.col("term"), F.col("positions"))
            ).alias("mtps"),
            F.countDistinct("term").alias("n_found"),
            *aggs,
        )
        .where(F.col("n_found") == len(set(terms)))
    )


def phrase_topdocs(
    postings: DataFrame,
    field: str,
    phrase: tuple[str, ...],
    slop: int = 0,
    k: int = 15,
) -> DataFrame:
    """Standalone O17 surface: docs matching a sloppy phrase, ranked by the
    reference's phrase frequency — Σ of the member terms' tfs when the
    phrase matches, else excluded (``myTermStats.java:28-67``: slop window
    ``:36-40``, member-tf sum ``:56-63``).

    Plan: one postings scan filtered to the member terms (pushdown-able;
    segments are term-sorted on disk), one (doc)-keyed partial-agg groupBy
    collecting ``struct(term, positions)`` pairs (single collect_list — the
    term↔positions pairing is structural), then the vectorized sloppy
    matcher over candidates that contain ALL member terms. No shuffle other
    than the one doc-keyed agg; candidate count ≤ df(rarest member term).

    Returns (doc_id, phrase_freq) — top-k by freq desc, doc_id asc.
    Requires pairwise-distinct member terms (this Σ tf counts each member
    once; the clause scorer counts a repeated member once per occurrence).
    """
    if len(set(phrase)) != len(phrase):
        raise ValueError("phrase_topdocs requires pairwise-distinct terms")
    cand = docs_with_all(
        postings.where(
            (F.col("field") == field) & F.col("term").isin(list(phrase))
        ),
        phrase,
        F.sum("tf").cast("long").alias("phrase_freq"),
    )
    matched = cand.withColumn(
        "matched",
        _sloppy_udf(
            F.col("mtps"),
            F.array(*[F.lit(t) for t in phrase]),
            F.lit(slop),
        ),
    ).where(F.col("matched"))
    return (
        matched.select("doc_id", "phrase_freq")
        .orderBy(F.desc("phrase_freq"), F.asc("doc_id"))
        .limit(k)
    )


def span_min_gap_batch(
    tp_col: pd.Series, terms_col: pd.Series
) -> pd.Series:
    """Vectorized-batch ORDERED span matcher (Lucene SpanNearQuery with
    in_order=true). Per row: minimal gap of an ordered occurrence chain
    p_1 < p_2 < … < p_n of the span terms, where
    gap = (p_n − p_1) − (n − 1); −1 when no ordered chain exists.

    The DP is spans._min_gap_ordered, shared with the slot spans. Strict
    ordering makes position-distinctness automatic, so repeated span
    terms need no special casing."""
    out = []
    for tps, terms in zip(tp_col, terms_col):
        lists = _slot_lists(positions_by_term(tps), [(t,) for t in terms])
        out.append(-1 if lists is None else _min_gap_ordered(lists))
    return pd.Series(out, dtype="int64")


_span_udf = F.pandas_udf(span_min_gap_batch, T.LongType())


def span_near_topdocs(
    postings: DataFrame,
    field: str,
    terms: tuple[str, ...],
    slop: int = 0,
    k: int = 15,
) -> DataFrame:
    """Ordered proximity query: docs where the terms occur IN ORDER within
    ``slop`` total gap, ranked by tightness (min_gap asc, doc_id asc) —
    proximity ranking, the piece Lucene exposes as SpanNearQuery that the
    unordered sloppy phrase (O17) cannot express ("A before B" ≠ "A near
    B"). Same single-scan + doc-keyed-agg plan as phrase_topdocs."""
    cand = docs_with_all(
        postings.where(
            (F.col("field") == field) & F.col("term").isin(list(set(terms)))
        ),
        terms,
    )
    gapped = cand.withColumn(
        "min_gap",
        _span_udf(F.col("mtps"), F.array(*[F.lit(t) for t in terms])),
    ).where((F.col("min_gap") >= 0) & (F.col("min_gap") <= slop))
    return (
        gapped.select("doc_id", "min_gap")
        .orderBy(F.asc("min_gap"), F.asc("doc_id"))
        .limit(k)
    )


def prefix_topdocs(
    postings: DataFrame, field: str, prefix: str, k: int = 20
) -> DataFrame:
    """Prefix term query (Lucene PrefixQuery surface — the reference's
    engine family exposes it even though Searcher.java never builds one).
    Lucene rewrites prefix queries constant-score over the expanded term
    set; this returns the doc-level match summary: every doc containing ≥1
    term with the prefix, with the distinct matched-term count and summed
    tf, ranked by total_tf.

    Scale: `term.startswith(p)` compiles to a range predicate
    (StringStartsWith → `term >= p AND term < p⁺`) that parquet row-group
    stats answer on the term-sorted segment layout — the term-dictionary
    range scan, not a full postings scan. One doc-keyed partial agg after.
    """
    return (
        postings.where(
            (F.col("field") == field) & F.col("term").startswith(prefix)
        )
        .groupBy("doc_id")
        .agg(
            F.countDistinct("term").alias("n_terms"),
            F.sum("tf").cast("long").alias("total_tf"),
        )
        .orderBy(F.desc("total_tf"), F.asc("doc_id"))
        .limit(k)
    )


def more_like_this(
    spark: SparkSession,
    postings: DataFrame,
    term_stats_df: DataFrame,
    field_stats: dict[str, tuple[int, float]],
    field: str,
    doc_id: int,
    m: int = 10,
    k: int = 10,
) -> DataFrame:
    """Related-document retrieval — Lucene's MoreLikeThis surface, rebuilt
    on the batch scorer.

    MLT's public algorithm: pick the source doc's top-m "interesting" terms
    by tf·idf, build an OR query of them, score the corpus. Driver-side
    work is two point lookups (the source doc's posting rows and their df
    from the O20 stats side-channel — both bounded by one doc's vocabulary,
    never corpus-sized); the corpus-side work is exactly one
    score_queries_batch run, so the plan is the same single-scan broadcast
    shape as any other query. Ties in tf·idf break by term (ascending) for
    cross-engine determinism. The source doc is excluded from the result.
    """
    doc_count, _ = field_stats[field]
    d0 = {
        r["term"]: r["tf"]
        for r in postings.where(
            (F.col("field") == field) & (F.col("doc_id") == doc_id)
        )
        .select("term", "tf")
        .collect()
    }
    if not d0:
        return spark.createDataFrame([], "doc_id long, score double")
    dfm = {
        r["term"]: r["df"]
        for r in term_stats_df.where(
            (F.col("field") == field) & F.col("term").isin(list(d0))
        )
        .select("term", "df")
        .collect()
    }
    interesting = sorted(
        d0, key=lambda t: (-d0[t] * idf(dfm.get(t, 0), doc_count), t)
    )[:m]
    clauses = [
        Clause(i, field, (t,), 1.0, 0, False)
        for i, t in enumerate(interesting)
    ]
    term_df = {(field, t): dfm.get(t, 0) for t in interesting}
    res = score_queries_batch(
        spark, postings, {0: clauses}, term_df, field_stats, k=k + 1
    )
    return (
        res.where(F.col("doc_id") != doc_id)
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "score")
    )


def clause_weights(
    clauses: list[Clause],
    term_df: dict[tuple[str, str], int],
    doc_counts: dict[str, int],
) -> list[dict]:
    """Driver-side weight computation: one dict row per clause for the
    broadcast clause-term table. weight = boost · Σ idf(member terms)."""
    rows = []
    for cl in clauses:
        w = cl.boost * sum(
            idf(term_df.get((cl.field, t), 0), doc_counts.get(cl.field, 0))
            for t in cl.terms
        )
        for t in cl.terms:
            rows.append(
                {
                    "clause_id": cl.clause_id,
                    "field": cl.field,
                    "term": t,
                    "weight": w,
                    "is_phrase": cl.is_phrase and len(cl.terms) > 1,
                    "slop": cl.slop,
                    "n_terms": len(set(cl.terms)),
                    "phrase_terms": list(cl.terms),
                }
            )
    return rows


def score_query(
    spark: SparkSession,
    postings: DataFrame,
    clauses: list[Clause],
    term_df: dict[tuple[str, str], int],
    field_stats: dict[str, tuple[int, float]],  # field -> (doc_count, avgdl)
    docs_meta: DataFrame | None = None,
    k: int = 10,
) -> DataFrame:
    """Score compiled clauses → top-k ``(doc_id, score)`` (+path if meta)."""
    out = score_queries_batch(
        spark,
        postings,
        {0: clauses},
        term_df,
        field_stats,
        docs_meta=docs_meta,
        k=k,
    )
    cols = ["doc_id", "path", "score"] if docs_meta is not None else ["doc_id", "score"]
    return out.select(*cols)


def score_queries_batch(
    spark: SparkSession,
    postings: DataFrame,
    queries: dict[int, list[Clause]],  # query_id -> compiled clauses
    term_df: dict[tuple[str, str], int],
    field_stats: dict[str, tuple[int, float]],
    docs_meta: DataFrame | None = None,
    k: int | None = 10,
) -> DataFrame:
    """Score MANY queries in ONE Spark job → (query_id, doc_id, score, rank).
    ``k=None`` returns the full scored candidate set (query_id, doc_id,
    score) without the top-k truncation or rank column.

    The per-query path costs a full job's fixed overhead per query; a replay
    of Q queries (the reference's load envelope is 10k, LoadTest.ts:6-14) is
    better expressed as one plan: the broadcast clause table carries
    ``query_id``, the postings scan matches the UNION of all query terms
    once, and the final per-query top-k is a window rank — so wall time is
    ~one job regardless of Q, and the work parallelizes across the cluster
    instead of serializing on job scheduling."""
    q_schema = (
        "query_id int, doc_id long, score double, rank int"
        + (", path string" if docs_meta is not None else "")
    )
    doc_counts = {f: dc for f, (dc, _) in field_stats.items()}
    rows = []
    for qid, clauses in queries.items():
        for r in clause_weights(clauses, term_df, doc_counts):
            rows.append({"query_id": qid, **r})
    if not rows:
        return spark.createDataFrame([], q_schema)
    cterms = spark.createDataFrame(
        pd.DataFrame(rows),
        schema=(
            "query_id int, clause_id int, field string, term string, "
            "weight double, is_phrase boolean, slop int, n_terms int, "
            "phrase_terms array<string>"
        ),
    )
    all_terms = sorted({r["term"] for r in rows})

    # avgdl as a literal map (2 fields) — keeps the scorer join-free here
    avgdl_expr = F.create_map(
        *[x for f, (_, a) in field_stats.items() for x in (F.lit(f), F.lit(a))]
    )

    matched = (
        postings.where(F.col("term").isin(all_terms))  # pushdown-able
        .join(F.broadcast(cterms), ["field", "term"])
        .withColumn("avgdl", avgdl_expr[F.col("field")])
    )

    def tf_norm(freq, dl, avgdl):
        return freq / (freq + K1 * (1 - B + B * dl / avgdl))

    term_contrib = matched.where(~F.col("is_phrase")).select(
        "query_id",
        "doc_id",
        (
            F.col("weight")
            * tf_norm(
                F.col("tf").cast("double"), F.col("dl").cast("double"), F.col("avgdl")
            )
        ).alias("contrib"),
    )

    phrase_cand = (
        matched.where(F.col("is_phrase"))
        .groupBy("query_id", "clause_id", "doc_id")
        .agg(
            F.collect_list(
                F.struct(F.col("term"), F.col("positions"))
            ).alias("mtps"),
            F.sum("tf").alias("freq"),
            F.countDistinct("term").alias("n_found"),
            F.first("dl").alias("dl"),
            F.first("avgdl").alias("avgdl"),
            F.first("weight").alias("weight"),
            F.first("slop").alias("slop"),
            F.first("n_terms").alias("n_terms"),
            F.first("phrase_terms").alias("phrase_terms"),
        )
        .where(F.col("n_found") == F.col("n_terms"))
    )
    phrase_contrib = (
        phrase_cand.withColumn(
            "matched",
            _sloppy_udf(F.col("mtps"), F.col("phrase_terms"), F.col("slop")),
        )
        .where(F.col("matched"))
        .select(
            "query_id",
            "doc_id",
            (
                F.col("weight")
                * tf_norm(
                    F.col("freq").cast("double"),
                    F.col("dl").cast("double"),
                    F.col("avgdl"),
                )
            ).alias("contrib"),
        )
    )

    scored = (
        term_contrib.unionByName(phrase_contrib)
        .groupBy("query_id", "doc_id")
        .agg(F.sum("contrib").alias("score"))
    )

    if docs_meta is not None:
        scored = (
            scored.join(docs_meta, "doc_id")
            .where(~F.col("is_redirect"))
            .select("query_id", "doc_id", "path", "score")
        )

    if k is None:
        # full scored candidate set, no truncation — for consumers that
        # re-aggregate matches (facet counts, per-facet top-k) rather than
        # taking a flat global top-k
        return scored

    # Per-key TakeOrderedAndProject: window-rank alone would sort each
    # query's FULL candidate set in one partition (a hot query at corpus
    # scale = billions of rows on one task). Shrink first with a shuffle-free
    # per-partition top-k per query — the global top-k is a subset of the
    # union of partition-local top-ks — then rank the <= partitions·Q·k
    # survivors with the window.
    out_schema = scored.schema

    def partial_topk(pdfs):
        for pdf in pdfs:
            if len(pdf):
                yield (
                    pdf.sort_values(
                        ["query_id", "score", "doc_id"],
                        ascending=[True, False, True],
                    )
                    .groupby("query_id", sort=False)
                    .head(k)
                )

    pruned = scored.mapInPandas(partial_topk, out_schema)

    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    return (
        pruned.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def synonym_search(
    spark: SparkSession,
    postings: DataFrame,
    groups: list[list[str]],  # analyzed terms; groups[i][0] is the query term
    term_df: dict[tuple[str, str], int],
    field_stats: dict[str, tuple[int, float]],
    field_boosts: list[tuple[str, float]] | None = None,
    docs_meta: DataFrame | None = None,
    k: int = 10,
) -> DataFrame:
    """Query-time synonym expansion with Lucene SynonymQuery semantics
    (the scoring contract SynonymQuery documents publicly): a synonym
    group scores as ONE pseudo-term — its df is the MAX over the members'
    dfs (Lucene's docFreq blend, so a rare synonym cannot inflate idf),
    its per-doc tf is the SUM of member tfs, and idf is computed once
    from the blended df. This is NOT an OR of term clauses: an OR would
    add idf(t) per member and double-count documents matching several
    spellings of the same concept.

    Plan: one postings scan filtered to the union of all member terms
    (pushdown-able), broadcast join to the (field, term → group, weight)
    mapping, ONE combinable groupBy (field, group, doc) summing member
    tfs, BM25 norm as Column math, then the doc-level sum + top-k. Adding
    synonyms widens only the scan's IN filter — the shuffled rows stay
    ≤ Σ df(members), exactly like adding a query term."""
    doc_counts = {f: dc for f, (dc, _) in field_stats.items()}
    boosts = field_boosts or [("content", 1.0)]
    rows = []
    for fld, boost in boosts:
        for gid, members in enumerate(groups):
            df_g = max(term_df.get((fld, t), 0) for t in members)
            w = boost * idf(df_g, doc_counts.get(fld, 0))
            for t in dict.fromkeys(members):  # dedup, keep order
                rows.append(
                    {
                        "field": fld,
                        "term": t,
                        "group_id": gid,
                        "weight": w,
                    }
                )
    if not rows:
        return spark.createDataFrame([], "doc_id long, score double")
    mapping = spark.createDataFrame(
        pd.DataFrame(rows),
        schema="field string, term string, group_id int, weight double",
    )
    avgdl_expr = F.create_map(
        *[
            x
            for f, (_, a) in field_stats.items()
            for x in (F.lit(f), F.lit(a))
        ]
    )
    all_terms = sorted({r["term"] for r in rows})
    grouped = (
        postings.where(F.col("term").isin(all_terms))
        .join(F.broadcast(mapping), ["field", "term"])
        .groupBy("field", "group_id", "doc_id")
        .agg(
            F.sum("tf").alias("tf_g"),
            F.first("dl").alias("dl"),
            F.first("weight").alias("weight"),
        )
        .withColumn("avgdl", avgdl_expr[F.col("field")])
    )
    contrib = grouped.select(
        "doc_id",
        (
            F.col("weight")
            * (
                F.col("tf_g").cast("double")
                / (
                    F.col("tf_g").cast("double")
                    + K1
                    * (1 - B + B * F.col("dl").cast("double") / F.col("avgdl"))
                )
            )
        ).alias("contrib"),
    )
    scored = contrib.groupBy("doc_id").agg(F.sum("contrib").alias("score"))
    if docs_meta is not None:
        scored = (
            scored.join(docs_meta, "doc_id")
            .where(~F.col("is_redirect"))
            .select("doc_id", "path", "score")
        )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def span_cover_batch(tp_col: pd.Series, terms_col: pd.Series) -> pd.Series:
    """Vectorized-batch UNORDERED proximity matcher (Lucene SpanNearQuery
    with in_order=false / ES intervals `unordered`): per row, the minimal
    covering window max(p_i) − min(p_i) over one occurrence choice of
    EVERY span term, any order; −1 when a term is absent.

    The sweep is spans._min_cover_unordered, shared with the slot
    spans."""
    out = []
    for tps, terms in zip(tp_col, terms_col):
        slots = [(t,) for t in dict.fromkeys(terms)]
        lists = _slot_lists(positions_by_term(tps), slots)
        out.append(-1 if lists is None else _min_cover_unordered(lists))
    return pd.Series(out, dtype="int64")


_cover_udf = F.pandas_udf(span_cover_batch, T.LongType())


def span_within_topdocs(
    postings: DataFrame,
    field: str,
    terms: tuple[str, ...],
    window: int,
    k: int = 15,
) -> DataFrame:
    """Unordered proximity query: docs where ALL span terms co-occur
    within a ``window``-token covering range (any order), ranked by
    tightness (min_cover asc, doc_id asc). Same single pruned scan +
    doc-keyed combinable agg + Arrow batch kernel plan as
    span_near_topdocs; the UDF touches only candidate docs that contain
    every term."""
    uniq = list(dict.fromkeys(terms))
    cand = docs_with_all(
        postings.where(
            (F.col("field") == field) & F.col("term").isin(uniq)
        ),
        uniq,
    )
    covered = cand.withColumn(
        "min_cover",
        _cover_udf(F.col("mtps"), F.array(*[F.lit(t) for t in uniq])),
    ).where((F.col("min_cover") >= 0) & (F.col("min_cover") <= window))
    return (
        covered.select("doc_id", "min_cover")
        .orderBy(F.asc("min_cover"), F.asc("doc_id"))
        .limit(k)
    )


def mpp_freq_batch(
    tp_col: pd.Series, anchors_col: pd.Series, exps_col: pd.Series
) -> pd.Series:
    """match_phrase_prefix freq kernel: per candidate row, the summed
    phrase frequency over all prefix EXPANSIONS whose exact phrase
    (anchor_1 … anchor_{n−1} expansion) occurs — each matched expansion
    contributes Σ anchor tfs + tf(expansion), the engine's pinned phrase
    freq form (Σ member tfs gated by the match, myTermStats.java:56-63
    semantics); 0 when nothing matches.

    Each expansion's phrase is one exact (slop 0) pass of the shared
    phrase kernel over the batch (operators/phrase.py)."""
    flat = row_positions(tp_col)
    n = len(tp_col)
    tf = {t: np.bincount(c, minlength=n) for t, (c, _) in flat.items()}
    out = np.zeros(n, dtype=np.int64)
    keys = ((tuple(a), tuple(e)) for a, e in zip(anchors_col, exps_col))
    for (anchors, exps), sub in row_groups(flat, keys):
        anchor_tf = sum(tf.get(t, 0) for t in anchors)
        for e in exps:
            hit = anchor_counts(sub, anchors + (e,), 0, n) > 0
            out += np.where(hit, anchor_tf + tf.get(e, 0), 0)
    return pd.Series(out, dtype="int64")


_mpp_udf = F.pandas_udf(mpp_freq_batch, T.LongType())


def match_phrase_prefix_topdocs(
    postings: DataFrame,
    field: str,
    anchors: tuple[str, ...],
    expansions: list[str],
    k: int = 15,
) -> DataFrame:
    """ES ``match_phrase_prefix`` (Lucene MultiPhraseQuery over a prefix's
    expansions): docs where the exact phrase (anchors…, e) occurs for any
    expansion e, ranked by the summed matched-expansion phrase freq
    (freq desc, doc_id asc) → (doc_id, phrase_freq).

    ``expansions`` is the BOUNDED expansion list (the caller resolves the
    prefix against term_stats — first ``max_expansions`` index terms in
    lexicographic order, ES's term-dict order); the scan predicate is
    anchors ∪ expansions, so decode cost is Σ their posting lists. Docs
    missing any anchor never reach the kernel."""
    uniq_anchor = list(dict.fromkeys(anchors))
    all_terms = list(dict.fromkeys(list(anchors) + list(expansions)))
    cand = (
        postings.where(
            (F.col("field") == field) & F.col("term").isin(all_terms)
        )
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(F.col("term"), F.col("positions"))
            ).alias("mtps"),
            F.countDistinct(
                F.when(F.col("term").isin(uniq_anchor), F.col("term"))
            ).alias("n_anchor"),
        )
        .where(F.col("n_anchor") == len(uniq_anchor))
    )
    scored = cand.withColumn(
        "phrase_freq",
        _mpp_udf(
            F.col("mtps"),
            F.array(*[F.lit(t) for t in anchors]),
            F.array(*[F.lit(e) for e in expansions]),
        ),
    ).where(F.col("phrase_freq") > 0)
    return (
        scored.select("doc_id", "phrase_freq")
        .orderBy(F.desc("phrase_freq"), F.asc("doc_id"))
        .limit(k)
    )


def more_like_this_text(
    spark: SparkSession,
    postings: DataFrame,
    term_stats_df: DataFrame,
    field_stats: dict[str, tuple[int, float]],
    field: str,
    text_terms: list[str],
    m: int = 10,
    k: int = 10,
) -> DataFrame:
    """MoreLikeThis from FREE TEXT (ES `more_like_this` with `like:
    "<text>"` — no source doc required): the analyzed input's top-m
    terms by qtf·idf (qtf = the term's count IN THE INPUT TEXT; ties by
    term asc; zero-df terms can't select — they score nothing) become an
    OR query over the corpus. Driver-side work is one Counter over the
    input and one bounded stats lookup; corpus-side is one
    score_queries_batch run. Unlike the doc variant nothing is excluded
    from the result set."""
    from collections import Counter

    doc_count, _ = field_stats[field]
    qtf = Counter(text_terms)
    dfm = {
        r["term"]: r["df"]
        for r in term_stats_df.where(
            (F.col("field") == field) & F.col("term").isin(list(qtf))
        )
        .select("term", "df")
        .collect()
    }
    interesting = sorted(
        (t for t in qtf if dfm.get(t, 0) > 0),
        key=lambda t: (-qtf[t] * idf(dfm[t], doc_count), t),
    )[:m]
    if not interesting:
        return spark.createDataFrame([], "doc_id long, score double")
    clauses = [
        Clause(i, field, (t,), 1.0, 0, False)
        for i, t in enumerate(interesting)
    ]
    return score_query(
        spark,
        postings,
        clauses,
        {(field, t): dfm[t] for t in interesting},
        field_stats,
        k=k,
    )
