"""Multi-field and structured-boolean query shapes: ``multi_match``
(best_fields / most_fields / cross_fields), ``minimum_should_match``,
the ``boosting`` query, sort-by-field retrieval, ``terms_set`` and the
``pinned`` query.

These are the Elasticsearch query forms a user of the reference engine
reaches for the moment their corpus has more than one searchable field
(Fuzzy-Wiki itself hardcodes one two-field shape, Searcher.java:79-97 —
title^1.5/content^1.2 phrases + per-term boosts; ``multi_match`` is that
idea made general). Pinned semantics, mirrored 1:1 by the DuckDB oracles
in driver_queries.py:

- **best_fields** (the ES default, a dis_max over per-field queries):
  per (doc, field) BM25 score ``s_f = Σ_t boost_f · idf_f(t) ·
  tf_norm_f(t)``, combined as ``max_f s_f + tie_breaker · (Σ_f s_f −
  max_f s_f)``.
- **most_fields**: the plain sum ``Σ_f s_f`` (every field's evidence
  counts — ES's bool-should over per-field matches).
- **cross_fields** (term-centric): for each term, per-field partials
  ``p_f = boost_f · tf_norm_f`` combine as a per-term dis_max
  ``max_f p_f + tie_breaker·(Σ−max)``, weighted by a BLENDED idf computed
  from ``df_blend(t) = max_f df_f(t)`` against ``max_f doc_count`` — so a
  term that is rare in every field cannot double-dip idf across fields.
  (ES blends term statistics the same way in spirit; its exact blend is
  version-dependent, so the rule above is this engine's pinned spec.)
- **minimum_should_match**: an OR query that keeps only docs matching at
  least ``msm`` distinct query terms, scored by the standard BM25 sum
  over the terms they do match.
- **boosting**: positive-query score, demoted by ``negative_boost``
  (multiplied) when the doc also matches any negative term — ES's
  soft-NOT.
- **sort_by_field**: match (ANY term) then rank by a doc-value column,
  not by score — ES ``sort`` on a field. No scoring work is done at all
  (ES likewise skips scoring when ``_score`` isn't in the sort).
- **terms_set**: ``minimum_should_match`` whose threshold is a
  PER-DOCUMENT doc-values column (ES ``minimum_should_match_field``) —
  docs matching >= required(doc) distinct query terms, BM25-sum scored.
- **pinned**: an ordered promoted-id list ranks first (descending
  constant-score ladder ``pin_base − position``, mirroring ES's
  1.7e38-based ladder), organic BM25 results follow with the pinned ids
  excluded; nonexistent pins are dropped.

Scale notes (100 TB): every shape is one pruned postings scan (the
``term.isin`` predicate reaches the parquet/segment row-group stats
before any decode) joined to a broadcast weight table of |query terms| ×
|fields| rows, followed by map-side-combinable groupBys whose keys are
(doc), (doc, field) or (doc, term) — never wider than the match set — and
a final TakeOrderedAndProject top-k. No window over an unbounded set, no
driver collect, no Python in the hot path. The boosting query's negative
set is a distinct-doc_id semi-join (AQE broadcasts it when small);
sort_by_field touches postings only for doc_ids and never computes a
score.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from fuzzy_wiki_spark.plans.query import B, K1


def _idf(df_count: int, doc_count: int) -> float:
    return math.log(1.0 + (doc_count - df_count + 0.5) / (df_count + 0.5))


def _tf_norm(tf_col, dl_col, avgdl_col):
    return tf_col / (tf_col + K1 * (1.0 - B + B * dl_col / avgdl_col))


def _matched_contrib(
    spark,
    postings: DataFrame,
    field_boosts: list[tuple[str, float]],
    words: list[str],
    term_df: dict[tuple[str, str], int],
    field_stats: dict[str, tuple[int, float]],
    weight_of,
) -> DataFrame:
    """(doc_id, field, term, c) where ``c = weight_of(field, term) ·
    tf_norm`` — the shared pruned-scan + broadcast-weights + per-posting
    contribution stage of every multi_match mode."""
    import pandas as pd

    rows = [
        {
            "field": f,
            "term": t,
            "w": float(weight_of(f, t)),
            "avgdl": float(field_stats[f][1]),
        }
        for f, _ in field_boosts
        for t in words
    ]
    wtab = spark.createDataFrame(
        pd.DataFrame(rows), schema="field string, term string, w double, avgdl double"
    )
    fields = [f for f, _ in field_boosts]
    return (
        postings.where(
            F.col("term").isin(list(words)) & F.col("field").isin(fields)
        )
        .join(F.broadcast(wtab), ["field", "term"])
        .select(
            "doc_id",
            "field",
            "term",
            (
                F.col("w")
                * _tf_norm(
                    F.col("tf").cast("double"),
                    F.col("dl").cast("double"),
                    F.col("avgdl"),
                )
            ).alias("c"),
        )
    )


def multi_match(
    spark,
    postings: DataFrame,
    field_boosts: list[tuple[str, float]],
    words: list[str],
    term_df: dict[tuple[str, str], int],
    field_stats: dict[str, tuple[int, float]],
    mode: str = "best_fields",
    tie_breaker: float = 0.3,
    k: int = 10,
) -> DataFrame:
    """Multi-field retrieval → top-k ``(doc_id, score)``; see module
    docstring for the pinned per-mode combination rules."""
    # The field set and the query's term set are both closed and tiny, so
    # every mode pivots into per-(field[,term]) CONDITIONAL sums inside ONE
    # map-side-combinable groupBy(doc_id) — a single doc-keyed exchange —
    # instead of the naive groupBy(doc,field) → groupBy(doc) two-shuffle
    # chain. BM25 contributions are ≥ 0, so a doc missing a field pivots to
    # a 0.0 sum that changes neither max nor Σ.
    fields = [f for f, _ in field_boosts]

    def _dismax(cols):
        total = cols[0]
        for c in cols[1:]:
            total = total + c
        mx = F.greatest(*cols) if len(cols) > 1 else cols[0]
        return mx + F.lit(tie_breaker) * (total - mx), total

    if mode in ("best_fields", "most_fields"):

        def weight_of(f, t):
            return dict(field_boosts)[f] * _idf(
                term_df.get((f, t), 0), field_stats[f][0]
            )

        contrib = _matched_contrib(
            spark, postings, field_boosts, words, term_df, field_stats, weight_of
        )
        aggs = [
            F.sum(
                F.when(F.col("field") == f, F.col("c")).otherwise(0.0)
            ).alias(f"_s{i}")
            for i, f in enumerate(fields)
        ]
        g = contrib.groupBy("doc_id").agg(*aggs)
        cols = [F.col(f"_s{i}") for i in range(len(fields))]
        dm, total = _dismax(cols)
        scored = g.select(
            "doc_id",
            (total if mode == "most_fields" else dm).alias("score"),
        )
    elif mode == "cross_fields":
        # blended idf rides per-term (not per weight row): dis_max the
        # boost·tf_norm partials across fields first, then scale once.
        doc_count = max(field_stats[f][0] for f, _ in field_boosts)
        blend = {
            t: _idf(
                max(term_df.get((f, t), 0) for f, _ in field_boosts), doc_count
            )
            for t in words
        }

        def weight_of(f, t):
            return dict(field_boosts)[f]

        contrib = _matched_contrib(
            spark, postings, field_boosts, words, term_df, field_stats, weight_of
        )
        # |terms|×|fields| conditional sums in one groupBy(doc_id)
        aggs = [
            F.sum(
                F.when(
                    (F.col("term") == t) & (F.col("field") == f), F.col("c")
                ).otherwise(0.0)
            ).alias(f"_p{ti}_{fi}")
            for ti, t in enumerate(words)
            for fi, f in enumerate(fields)
        ]
        g = contrib.groupBy("doc_id").agg(*aggs)
        score = None
        for ti, t in enumerate(words):
            cols = [
                F.col(f"_p{ti}_{fi}") for fi in range(len(fields))
            ]
            dm, _ = _dismax(cols)
            part = F.lit(blend[t]) * dm
            score = part if score is None else score + part
        scored = g.select("doc_id", score.alias("score"))
    else:
        raise ValueError(f"unknown multi_match mode: {mode}")
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def min_should_match_topk(
    spark,
    postings: DataFrame,
    field: str,
    words: list[str],
    msm: int,
    term_df: dict[tuple[str, str], int],
    field_stats: dict[str, tuple[int, float]],
    k: int = 10,
) -> DataFrame:
    """OR query gated by ``minimum_should_match``: keep docs matching at
    least ``msm`` distinct query terms, score = BM25 sum over matched
    terms → top-k ``(doc_id, score)``. One pruned scan, one combinable
    groupBy, one top-k. The distinct-term count pivots to a Σ of per-term
    max-indicators over the CLOSED query term set — fully map-side
    combinable, unlike countDistinct's expand + second aggregate."""
    contrib = _matched_contrib(
        spark,
        postings,
        [(field, 1.0)],
        words,
        term_df,
        field_stats,
        lambda f, t: _idf(term_df.get((f, t), 0), field_stats[f][0]),
    )
    n_matched = None
    for t in dict.fromkeys(words):
        ind = F.max(F.when(F.col("term") == t, 1).otherwise(0))
        n_matched = ind if n_matched is None else n_matched + ind
    return (
        contrib.groupBy("doc_id")
        .agg(F.sum("c").alias("score"), n_matched.alias("n_matched"))
        .where(F.col("n_matched") >= msm)
        .select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def boosting_topk(
    spark,
    postings: DataFrame,
    field: str,
    positive: list[str],
    negative: list[str],
    term_df: dict[tuple[str, str], int],
    field_stats: dict[str, tuple[int, float]],
    negative_boost: float = 0.5,
    k: int = 10,
) -> DataFrame:
    """ES ``boosting`` query: positive-query BM25 score, multiplied by
    ``negative_boost`` when the doc also matches ANY negative term (a
    demotion, not an exclusion — must_not's soft sibling). The negative
    set is a distinct-doc_id frame off the same pruned scan; the demotion
    is a left join + CASE, so matched-negative docs stay cheap to carry."""
    contrib = _matched_contrib(
        spark,
        postings,
        [(field, 1.0)],
        positive,
        term_df,
        field_stats,
        lambda f, t: _idf(term_df.get((f, t), 0), field_stats[f][0]),
    )
    pos = contrib.groupBy("doc_id").agg(F.sum("c").alias("s"))
    neg = (
        postings.where(
            F.col("term").isin(list(negative)) & (F.col("field") == field)
        )
        .select("doc_id")
        .distinct()
        .withColumn("_neg", F.lit(True))
    )
    return (
        pos.join(neg, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("_neg"), F.col("s") * F.lit(negative_boost))
            .otherwise(F.col("s"))
            .alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def sort_by_field_topk(
    postings: DataFrame,
    field: str,
    words: list[str],
    docs: DataFrame,
    sort_col: str,
    k: int = 10,
    ascending: bool = False,
    id_col: str = "doc_id",
    after: tuple | None = None,
) -> DataFrame:
    """Match (ANY term) then top-k by a doc-value column instead of by
    score — ES ``sort: [{field: desc}]``. No scoring math runs at all:
    the plan is pruned-scan → distinct doc_ids → join doc values →
    TakeOrderedAndProject, so a sorted page over a 10^12-file corpus
    costs a thin distinct on the match set and nothing else.

    ``after`` = the previous page's last ``(sort_value, doc_id)`` —
    ES's ``search_after`` on a field sort: the next page is a plain
    strict-inequality predicate on the (sort, id) ORDER, evaluated
    scan-side, so page N costs the same as page 1 (no deep-paging
    offset scan — the exact reason ES deprecated from+size)."""
    matched = (
        postings.where(
            F.col("term").isin(list(words)) & (F.col("field") == field)
        )
        .select(id_col)
        .distinct()
    )
    order = (
        [F.asc(sort_col), F.asc(id_col)]
        if ascending
        else [F.desc(sort_col), F.asc(id_col)]
    )
    out = matched.join(docs.select(id_col, sort_col), id_col)
    if after is not None:
        av, aid = after
        s, i = F.col(sort_col), F.col(id_col)
        if ascending:
            out = out.where((s > F.lit(av)) | ((s == F.lit(av)) & (i > aid)))
        else:
            out = out.where((s < F.lit(av)) | ((s == F.lit(av)) & (i > aid)))
    return out.orderBy(*order).limit(k)


def sort_by_fields_topk(
    postings: DataFrame,
    field: str,
    words: list[str],
    docs: DataFrame,
    sort_spec: list,
    k: int = 10,
    id_col: str = "doc_id",
    after: tuple | None = None,
) -> DataFrame:
    """Multi-field doc-value sort — ES ``sort: [{f1: ...}, {f2: ...}]``
    with ``search_after``. Same plan as sort_by_field_topk (pruned scan
    → distinct match set → doc-value join → TakeOrderedAndProject);
    ``sort_spec`` is [(col, ascending)], doc_id is always the final
    tiebreak, and the cursor is the previous page's
    (v1, ..., vn, doc_id) applied as the LEXICOGRAPHIC strict
    inequality over the mixed-direction key — evaluated scan-side, so
    page N costs page 1 (no deep-paging offset)."""
    matched = (
        postings.where(
            F.col("term").isin(list(words)) & (F.col("field") == field)
        )
        .select(id_col)
        .distinct()
    )
    cols = [c for c, _ in sort_spec]
    out = matched.join(docs.select(id_col, *cols), id_col)
    keys = [(F.col(c), asc) for c, asc in sort_spec] + [
        (F.col(id_col), True)
    ]
    if after is not None:
        if len(after) != len(keys):
            raise ValueError(
                "search_after cursor must carry one value per sort "
                "key plus doc_id"
            )
        pred = F.lit(False)
        eq = F.lit(True)
        for (col, asc), val in zip(keys, after):
            cmp = col > F.lit(val) if asc else col < F.lit(val)
            pred = pred | (eq & cmp)
            eq = eq & (col == F.lit(val))
        out = out.where(pred)
    order = [
        (F.asc(c) if asc else F.desc(c))
        for (c, asc) in [(c, a) for c, a in sort_spec]
    ] + [F.asc(id_col)]
    return out.orderBy(*order).limit(k)


def terms_set_topk(
    spark,
    postings: DataFrame,
    field: str,
    words: list[str],
    doc_required: DataFrame,
    required_col: str,
    term_df: dict[tuple[str, str], int],
    field_stats: dict[str, tuple[int, float]],
    k: int = 10,
    id_col: str = "doc_id",
) -> DataFrame:
    """ES ``terms_set`` query: like ``terms``, but the number of distinct
    query terms a document must match comes from a PER-DOCUMENT doc-values
    column (ES's ``minimum_should_match_field``) instead of a query-level
    constant. Docs matching >= required(doc) distinct terms of ``words``
    are kept, scored by the standard BM25 sum over the terms they match,
    top-k ``(doc_id, score)``.

    Plan shape (100 TB): the same pruned scan + closed-set indicator
    pivot as ``min_should_match_topk`` (one map-side-combinable groupBy,
    never wider than the match set), then ONE equi-join of that match
    set against the single-column doc-values read of ``required_col`` —
    AQE broadcasts the match set when the query terms are selective, and
    the doc-values scan is column-pruned to (id, required). No window,
    no driver collect."""
    contrib = _matched_contrib(
        spark,
        postings,
        [(field, 1.0)],
        words,
        term_df,
        field_stats,
        lambda f, t: _idf(term_df.get((f, t), 0), field_stats[f][0]),
    )
    n_matched = None
    for t in dict.fromkeys(words):
        ind = F.max(F.when(F.col("term") == t, 1).otherwise(0))
        n_matched = ind if n_matched is None else n_matched + ind
    return (
        contrib.groupBy(id_col)
        .agg(F.sum("c").alias("score"), n_matched.alias("n_matched"))
        .join(doc_required.select(id_col, required_col), id_col)
        .where(F.col("n_matched") >= F.col(required_col))
        .select(id_col, "score")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def pinned_topk(
    spark,
    postings: DataFrame,
    field: str,
    words: list[str],
    pinned_ids: list[int],
    docs: DataFrame,
    term_df: dict[tuple[str, str], int],
    field_stats: dict[str, tuple[int, float]],
    k: int = 10,
    id_col: str = "doc_id",
    pin_base: float = 1.0e9,
) -> DataFrame:
    """ES ``pinned`` query: an ordered list of promoted document ids
    ranks FIRST (in list order, whether or not they match the organic
    query — ES assigns them a descending constant-score ladder far above
    any BM25 score; ours is ``pin_base - position``), followed by the
    organic BM25-sum results with the pinned ids excluded. Pinned ids
    that don't exist in the corpus are dropped (ES behaves the same —
    a pin is a doc lookup, not an insert). Top-k ``(doc_id, score)``.

    Plan shape (100 TB): the pinned list is a driver-side literal —
    existence is ONE broadcast join of the |pins|-row frame against the
    id-pruned doc scan; the organic pass is the usual pruned postings
    scan with the exclusion applied as a literal ``NOT isin`` predicate
    (pushed to the scan, zero extra shuffle); the union is k+|pins| rows
    into a TakeOrderedAndProject."""
    import pandas as pd

    pins = spark.createDataFrame(
        pd.DataFrame(
            {
                id_col: list(pinned_ids),
                "score": [pin_base - i for i in range(len(pinned_ids))],
            }
        ),
        schema=f"{id_col} long, score double",
    )
    pinned_existing = docs.select(id_col).join(F.broadcast(pins), id_col)
    contrib = _matched_contrib(
        spark,
        postings,
        [(field, 1.0)],
        words,
        term_df,
        field_stats,
        lambda f, t: _idf(term_df.get((f, t), 0), field_stats[f][0]),
    )
    organic = (
        contrib.where(~F.col(id_col).isin(list(pinned_ids)))
        .groupBy(id_col)
        .agg(F.sum("c").alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )
    return (
        pinned_existing.select(id_col, "score")
        .unionByName(organic)
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def dis_max_topk(
    spark,
    postings: DataFrame,
    field: str,
    words: list[str],
    term_df: dict[tuple[str, str], int],
    field_stats: dict[str, tuple[int, float]],
    tie_breaker: float = 0.3,
    k: int = 10,
) -> DataFrame:
    """The ES `dis_max` query over per-term sub-queries on ONE field:
    score = best sub-query + tie_breaker · (others) — "pick the best
    matching term, don't let synonyms/aliases pile up" (contrast the
    bool/should SUM the 4-clause path computes). Per-term BM25
    contributions come from the same pruned-scan + broadcast-weights
    stage as multi_match; the dis_max combination pivots |terms|
    conditional sums into ONE map-side-combinable groupBy(doc_id) — a
    single doc-keyed exchange, no window, no per-row Python."""

    def weight_of(f, t):
        return _idf(term_df.get((f, t), 0), field_stats[f][0])

    contrib = _matched_contrib(
        spark, postings, [(field, 1.0)], words, term_df, field_stats,
        weight_of,
    )
    aggs = [
        F.sum(
            F.when(F.col("term") == t, F.col("c")).otherwise(0.0)
        ).alias(f"_t{i}")
        for i, t in enumerate(words)
    ]
    g = contrib.groupBy("doc_id").agg(*aggs)
    cols = [F.col(f"_t{i}") for i in range(len(words))]
    total = cols[0]
    for c in cols[1:]:
        total = total + c
    mx = F.greatest(*cols) if len(cols) > 1 else cols[0]
    score = mx + F.lit(float(tie_breaker)) * (total - mx)
    return (
        g.select("doc_id", F.round(score, 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def combined_fields_topk(
    spark,
    postings: DataFrame,
    doc_lens: DataFrame,
    field_weights: list[tuple[str, float]],
    words: list[str],
    k: int = 10,
) -> DataFrame:
    """The ES `combined_fields` query — term-centric BM25F over a
    SYNTHETIC combined field (the published ES semantics: field term
    frequencies and lengths are merged with per-field weights into one
    pseudo-field, then plain BM25 runs on the merged statistics):

      tf_c(t,d)  = Σ_f  w_f · tf_f(t,d)
      dl_c(d)    = Σ_f  w_f · dl_f(d)
      avgdl_c    = mean of dl_c over docs with dl_c > 0
      df_c(t)    = |{d : t appears in ANY queried field of d}|
      score(d)   = Σ_t idf(df_c) · tf_c / (tf_c + k1·(1−b+b·dl_c/avgdl_c))

    Contrast multi_match cross_fields (per-field tf_norms dis_maxed,
    blended idf): combined_fields normalizes tf against the MERGED
    length, the Robertson BM25F form.

    Plan: pruned (field,term) scan → one (doc,term)-keyed combinable
    weighted-tf agg; dl_c is one combinable agg over the doc_lens side-
    channel (never the corpus body) whose 1-row stats collect to the
    driver; df_c broadcasts. ``doc_lens`` is (doc_id, field, dl) —
    P.doc_lens(postings) relationally, segments.doc_lengths on segments."""
    fields = [f for f, _ in field_weights]
    wmap = dict(field_weights)
    w_of = F.lit(None).cast("double")
    for f, w in field_weights:
        w_of = F.when(F.col("field") == f, float(w)).otherwise(w_of)

    dlc = (
        doc_lens.where(F.col("field").isin(fields))
        .groupBy("doc_id")
        .agg(F.sum(w_of * F.col("dl")).alias("dlc"))
        .where(F.col("dlc") > 0)
    )
    st = dlc.agg(
        F.count(F.lit(1)).alias("n"), F.avg("dlc").alias("avgdl")
    ).collect()[0]
    doc_count, avgdl = int(st["n"]), float(st["avgdl"])

    pruned = postings.where(
        F.col("field").isin(fields) & F.col("term").isin(list(words))
    )
    tfc = pruned.groupBy("doc_id", "term").agg(
        F.sum(w_of * F.col("tf")).alias("tfc")
    )
    dfc = pruned.groupBy("term").agg(
        F.countDistinct("doc_id").alias("dfc")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(doc_count)) - F.col("dfc") + 0.5)
        / (F.col("dfc") + 0.5)
    )
    contrib = (
        tfc.join(F.broadcast(dfc), "term")
        .join(dlc, "doc_id")
        .select(
            "doc_id",
            (
                idf
                * F.col("tfc")
                / (
                    F.col("tfc")
                    + K1 * (1.0 - B + B * F.col("dlc") / F.lit(avgdl))
                )
            ).alias("c"),
        )
    )
    return (
        contrib.groupBy("doc_id")
        .agg(F.round(F.sum("c"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
