"""Two-phase retrieval — the Lucene QueryRescorer surface.

First pass: cheap BM25 over the whole corpus, cut to a rescore window of
``first_k`` candidates. Second pass: an expensive signal computed ONLY
for the window (here: exact-phrase occurrence counts from positional
postings), linearly combined into the final score
(``score = first + weight·signal`` — Lucene's
``QueryRescorer.combine``). This is how production rankers afford
proximity/semantic signals: the window is O(first_k), never O(corpus).

Not in the reference (its ranking is single-pass BM25); standard
Lucene/Elasticsearch ``rescore`` semantics.

Scale notes (100 TB): the first-pass cut is Spark's partial-top-k
(TakeOrdered/WindowGroupLimit) — each partition contributes ≤ first_k
rows to the exchange. The signal job scans postings filtered to the
phrase terms (pushdown onto term-sorted segments) and semi-joins the
window doc ids (broadcast — first_k rows), so second-pass cost is
bounded by df(rarest phrase term) ∩ window regardless of corpus size.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fuzzy_wiki_spark.operators.phrase import row_matches
from fuzzy_wiki_spark.operators.topk import docs_with_all


def rescore_topk(
    scored: DataFrame,
    signal_df: DataFrame,
    first_k: int = 100,
    k: int = 10,
    weight: float = 1.0,
    score_col: str = "score",
    id_col: str = "doc_id",
) -> DataFrame:
    """Generic combine step: cut ``scored`` to the top-``first_k`` window
    (score desc, doc_id asc — the engine-wide deterministic order), left
    join ``signal_df`` (doc_id, signal; missing → 0), and re-rank by
    ``score + weight·signal``. Returns (doc_id, ...payload, first_score,
    signal, score) top-k."""
    window = (
        scored.orderBy(F.desc(score_col), F.asc(id_col))
        .limit(first_k)
        .withColumnRenamed(score_col, "first_score")
    )
    sig = signal_df.select(
        id_col, F.col("signal").cast("double").alias("signal")
    )
    combined = (
        window.join(sig, id_col, "left")
        .withColumn("signal", F.coalesce(F.col("signal"), F.lit(0.0)))
        .withColumn(
            score_col,
            F.col("first_score") + F.lit(float(weight)) * F.col("signal"),
        )
    )
    return combined.orderBy(F.desc(score_col), F.asc(id_col)).limit(k)


def phrase_count_batch(tp_col: pd.Series, phrase_col: pd.Series) -> pd.Series:
    """Vectorized exact-phrase OCCURRENCE counter: per candidate row
    (a {term, positions} struct list from one collect_list), the number
    of positions p with p+i ∈ positions(term_i) for every phrase member —
    the PhraseQuery freq a rescorer uses, not the reference's
    member-tf-sum (O17) semantics. That is the phrase kernel's count of
    anchors costing 0 at slop 0 (operators/phrase.py)."""
    return pd.Series(row_matches(tp_col, phrase_col, [0] * len(tp_col)))


_phrase_count_udf = F.pandas_udf(phrase_count_batch, T.IntegerType())


def phrase_occurrences(
    postings: DataFrame,
    field: str,
    phrase: tuple[str, ...],
    candidates: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, signal): exact-phrase occurrence counts from positional
    postings. ``candidates`` (a doc_id frame) restricts the scan output
    via a semi-join BEFORE the per-doc aggregation — the rescore-window
    bound. Docs lacking any member term are absent (signal 0 downstream)."""
    scan = postings.where(
        (F.col("field") == field) & F.col("term").isin(list(phrase))
    )
    if candidates is not None:
        scan = scan.join(
            F.broadcast(candidates.select("doc_id")), "doc_id", "left_semi"
        )
    return docs_with_all(scan, phrase).select(
        "doc_id",
        _phrase_count_udf(
            F.col("mtps"), F.array(*[F.lit(t) for t in phrase])
        ).alias("signal"),
    )
