"""Multi-term (expanded) queries: fuzzy and wildcard — Lucene's
FuzzyQuery / WildcardQuery surface on the Spark engine.

Lucene answers these by enumerating the term dictionary (an automaton
intersection over the FST), then running the expanded OR-query. The Spark
shape mirrors that split exactly:

  1. EXPAND against the term dictionary — the O20 ``term_stats`` table,
     which is vocabulary-sized (Zipf: tiny vs the corpus; its distinct
     terms fit comfortably in one broadcast even at 10^12 docs since
     vocabulary grows sub-linearly). Predicate: levenshtein ≤ d (fuzzy) or
     contains/like (wildcard). This never touches postings.
  2. MATCH: broadcast the expanded term set into one postings-scan
     semi-join + doc-keyed agg (same plan as prefix_topdocs).

Result shape matches prefix_topdocs: (doc_id, n_terms, total_tf) ranked by
total_tf — Lucene's default rewrite for these queries is constant-score
over the expanded set, so the match summary (not BM25) is the faithful
surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def expand_fuzzy(
    term_stats_df: DataFrame, field: str, query_term: str, max_dist: int = 1
) -> DataFrame:
    """Dictionary terms within levenshtein distance ``max_dist`` of
    ``query_term`` (Lucene FuzzyQuery expansion). Scan cost = |vocabulary|,
    never |postings|."""
    return term_stats_df.where(
        (F.col("field") == field)
        & (
            F.levenshtein(F.col("term"), F.lit(query_term))
            <= max_dist
        )
    ).select("term")


def expand_wildcard(
    term_stats_df: DataFrame, field: str, pattern: str
) -> DataFrame:
    """Dictionary terms matching a SQL-LIKE wildcard pattern (% / _ —
    Lucene's * / ? map 1:1). Leading-wildcard patterns are allowed (the
    scan is vocabulary-sized, so the Lucene reverse-term trick is
    unnecessary here)."""
    return term_stats_df.where(
        (F.col("field") == field) & F.col("term").like(pattern)
    ).select("term")


def expanded_topdocs(
    postings: DataFrame,
    field: str,
    expanded_terms: DataFrame,
    k: int = 20,
) -> DataFrame:
    """Constant-score match summary over an expanded term set: broadcast
    the (small) term set into the postings scan, one doc-keyed agg →
    (doc_id, n_terms, total_tf) top-k by total_tf, doc_id."""
    return (
        postings.where(F.col("field") == field)
        .join(F.broadcast(expanded_terms), "term")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("term").alias("n_terms"),
            F.sum("tf").cast("long").alias("total_tf"),
        )
        .orderBy(F.desc("total_tf"), F.asc("doc_id"))
        .limit(k)
    )


def suggest_terms(
    term_stats_df: DataFrame,
    field: str,
    query_term: str,
    max_dist: int = 2,
    k: int = 5,
) -> DataFrame:
    """Did-you-mean spell suggestion (Lucene's DirectSpellChecker shape):
    dictionary terms ranked by (edit distance asc, df desc, term asc) —
    closer corrections first, popular corrections break ties. Vocabulary-
    sized scan, returns (term, df, dist)."""
    return (
        term_stats_df.where(F.col("field") == field)
        .withColumn(
            "dist",
            F.levenshtein(F.col("term"), F.lit(query_term.lower())),
        )
        .where(F.col("dist") <= max_dist)
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .select("term", "df", F.col("dist").cast("long").alias("dist"))
        .limit(k)
    )


def correct_term(
    term_stats_df: DataFrame,
    field: str,
    query_term: str,
    max_dist: int = 2,
) -> str | None:
    """Top spell correction for one term, or None when nothing lies
    within ``max_dist`` — the (dist asc, df desc, term asc) head of
    suggest_terms; the deterministic rule an auto-correcting search and
    its SQL oracle both replay."""
    row = suggest_terms(
        term_stats_df, field, query_term, max_dist=max_dist, k=1
    ).head(1)
    return row[0]["term"] if row else None


def related_terms(
    postings: DataFrame,
    term_stats_df: DataFrame,
    field: str,
    seed: str,
    k: int = 10,
    min_co: int = 2,
) -> DataFrame:
    """Search-analytics co-occurrence: terms that appear in the seed
    term's documents, ranked by lift = co_df / df (how concentrated the
    term is in the seed's doc set vs the corpus) — the "related searches"
    primitive.

    Plan: seed posting list → distinct doc set (≤ df(seed) rows) →
    semi-join back into the postings scan → one term-keyed partial agg →
    broadcast-join df from the O20 stats table. No full self-join: the
    co-occurrence space is bounded by the seed's documents."""
    base = postings.where(F.col("field") == field)
    seed_docs = (
        base.where(F.col("term") == seed).select("doc_id").distinct()
    )
    co = (
        base.where(F.col("term") != seed)
        .join(seed_docs, "doc_id")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").cast("long").alias("co_df"))
        .where(F.col("co_df") >= min_co)
    )
    stats = term_stats_df.where(F.col("field") == field).select(
        "term", "df"
    )
    return (
        co.join(stats, "term")
        .select(
            "term",
            "co_df",
            F.col("df").cast("long").alias("df"),
            F.round(F.col("co_df") / F.col("df"), 6).alias("lift"),
        )
        .orderBy(F.desc("lift"), F.desc("co_df"), F.asc("term"))
        .limit(k)
    )


def fuzzy_topdocs(
    postings: DataFrame,
    term_stats_df: DataFrame,
    field: str,
    query_term: str,
    max_dist: int = 1,
    k: int = 20,
) -> DataFrame:
    return expanded_topdocs(
        postings,
        field,
        expand_fuzzy(term_stats_df, field, query_term, max_dist),
        k,
    )


def wildcard_topdocs(
    postings: DataFrame,
    term_stats_df: DataFrame,
    field: str,
    pattern: str,
    k: int = 20,
) -> DataFrame:
    return expanded_topdocs(
        postings,
        field,
        expand_wildcard(term_stats_df, field, pattern),
        k,
    )


def candidate_terms(
    term_stats_df: DataFrame,
    field: str,
    word: str,
    max_dist: int = 2,
    per_term: int = 5,
) -> list[str]:
    """Per-word correction candidates for the phrase suggester: the
    ``per_term`` best dictionary terms by (edit distance asc, df desc,
    term asc) within ``max_dist`` — the word itself rides along at
    dist 0 when in-vocabulary, so valid words can still be re-ranked by
    the language model (the ES phrase-suggester behavior, unlike the
    single-term corrector which only fires on zero-df terms).
    Vocabulary-sized scan, ``per_term``-row collect."""
    rows = (
        term_stats_df.where(F.col("field") == field)
        .withColumn(
            "dist", F.levenshtein(F.col("term"), F.lit(word.lower()))
        )
        .where(F.col("dist") <= max_dist)
        .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
        .limit(per_term)
        .collect()
    )
    return [r["term"] for r in rows]


def score_candidate_phrases(
    cands: list[list[str]],
    bigram_counts: dict[tuple[str, str], int],
    unigram_counts: dict[str, int],
    vocab_size: int,
    k: int = 3,
) -> list[tuple[str, float]]:
    """Rank every candidate phrase (cross product of per-slot candidate
    lists, bounded by per_term^n — query-sized) by a Laplace-smoothed
    bigram LM:

        score = Σ_i ln( (c(w_i, w_{i+1}) + 1) / (c(w_i) + |V|) )

    — ES's phrase-suggester collation idea with a pinned, SQL-mirrorable
    smoothing rule (stupid backoff needs no tuning constant this way).
    Ties break on the suggestion string asc. Pure driver math over a
    bounded set."""
    import itertools
    import math

    scored = []
    for combo in itertools.product(*cands):
        s = 0.0
        for a, b in zip(combo, combo[1:]):
            s += math.log(
                (bigram_counts.get((a, b), 0) + 1.0)
                / (unigram_counts.get(a, 0) + float(vocab_size))
            )
        scored.append((" ".join(combo), s))
    scored.sort(key=lambda t: (-t[1], t[0]))
    return scored[:k]


def phrase_suggest(
    spark,
    docs: DataFrame,
    term_stats_df: DataFrame,
    field: str,
    words: list[str],
    max_dist: int = 2,
    per_term: int = 5,
    k: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """ES phrase suggester ("did you mean", whole-query): per-word
    candidates from the term dictionary, candidate phrases re-ranked by
    the corpus bigram LM → (suggestion, score) top-k.

    Jobs: one vocabulary-sized candidate scan per word (bounded
    collects), ONE bigram-count job restricted to the candidate pairs
    (the (w1, w2) isin predicate prunes before the groupBy, so the
    exchange carries only candidate-pair rows), and a driver-side rank
    over ≤ per_term^n phrases."""
    from fuzzy_wiki_spark.operators.corpus_stats import bigrams

    cands = [
        candidate_terms(
            term_stats_df, field, w, max_dist=max_dist, per_term=per_term
        )
        or [w]
        for w in words
    ]
    pairs = {
        (a, b)
        for i in range(len(cands) - 1)
        for a in cands[i]
        for b in cands[i + 1]
    }
    firsts = sorted({a for a, _ in pairs})
    bg = (
        bigrams(docs, text_col=text_col)
        .where(
            F.col("w1").isin(firsts)
            & F.col("w2").isin(sorted({b for _, b in pairs}))
        )
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    bigram_counts = {(r["w1"], r["w2"]): r["c"] for r in bg}
    stats = term_stats_df.where(F.col("field") == field)
    uni = {
        r["term"]: int(r["sum_tf"])
        for r in stats.where(F.col("term").isin(firsts)).collect()
    }
    vocab_size = stats.count()
    out = score_candidate_phrases(cands, bigram_counts, uni, vocab_size, k=k)
    return spark.createDataFrame(
        [(s, round(v, 6)) for s, v in out], "suggestion string, score double"
    )


def adjacency_counts_kernel(pair_keys: list[str]):
    """Arrow batch kernel factory for the segment-native phrase
    suggester: per candidate doc row (collect_list of (term, positions)
    structs), count adjacent occurrences for every requested pair —
    c_row(a,b) = |{p : p ∈ L_a, p+1 ∈ L_b}| — returning one long per
    pair: the shared phrase kernel's exact count of the phrase (a, b)
    (operators/phrase.py). Built per query (the pair list is a
    query-sized literal closed over by the kernel); the module-level
    ``pd`` import keeps the type hints resolvable for pandas_udf."""
    import pandas as pd  # noqa: F401 (resolves the kernel's type hints)
    from pyspark.sql import types as T

    _pairs = tuple(pair_keys)

    def _adj_counts(tp_col):
        import numpy as np
        import pandas as pd

        from fuzzy_wiki_spark.operators.phrase import (
            anchor_counts,
            row_positions,
        )

        flat = row_positions(tp_col)
        n = len(tp_col)
        cnts = [
            anchor_counts(flat, tuple(pk.split("\x00")), 0, n)
            for pk in _pairs
        ]
        return pd.Series(
            list(np.stack(cnts, axis=1)) if cnts else [[]] * n
        )

    return F.pandas_udf(_adj_counts, T.ArrayType(T.LongType()))


def expand_regexp(
    term_stats_df: DataFrame, field: str, pattern: str
) -> DataFrame:
    """Dictionary terms matching an ANCHORED regex — the ES/Lucene
    `regexp` query semantics: the pattern must match the WHOLE term
    (ES anchors implicitly; `rlike` doesn't, so the anchor is applied
    here). Vocabulary-sized scan off the term_stats side-channel, never
    the postings. Contrast operators/trigram.regex_search, which
    regex-matches document CONTENT — this matches index TERMS."""
    return term_stats_df.where(
        (F.col("field") == field)
        & F.col("term").rlike(f"^(?:{pattern})$")
    ).select("term")


def match_bool_prefix_topk(
    postings: DataFrame,
    field: str,
    words: list[str],
    prefix: str,
    term_df: dict[tuple[str, str], int],
    field_stats: dict[str, tuple[int, float]],
    k: int = 10,
) -> DataFrame:
    """The ES `match_bool_prefix` query — the type-ahead form of match:
    every complete word becomes a BM25 SHOULD term, the trailing
    fragment a PREFIX clause. Pinned scoring (ES rewrites the prefix
    constant-score): score = BM25 sum over matched complete words
    + 1.0 if the doc contains ANY term with the prefix; docs matching
    neither are absent. One pruned scan (term isin ∪ startswith — both
    reach the scan), one doc-keyed combinable agg."""
    import math

    doc_count, avgdl = field_stats[field]
    idf = {
        t: math.log(
            1.0
            + (doc_count - term_df.get((field, t), 0) + 0.5)
            / (term_df.get((field, t), 0) + 0.5)
        )
        for t in words
    }
    contrib = F.lit(0.0)
    for t in words:
        tf = F.col("tf").cast("double")
        contrib = contrib + F.when(
            F.col("term") == t,
            F.lit(idf[t])
            * tf
            / (tf + 1.2 * (1.0 - 0.75 + 0.75 * F.col("dl") / avgdl)),
        ).otherwise(0.0)
    pruned = postings.where(
        (F.col("field") == field)
        & (F.col("term").isin(list(words)) | F.col("term").startswith(prefix))
    )
    return (
        pruned.groupBy("doc_id")
        .agg(
            F.sum(contrib).alias("_s"),
            F.max(
                F.col("term").startswith(prefix).cast("int")
            ).alias("_p"),
        )
        .select(
            "doc_id",
            F.round(F.col("_s") + F.col("_p").cast("double"), 6).alias(
                "score"
            ),
        )
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )
