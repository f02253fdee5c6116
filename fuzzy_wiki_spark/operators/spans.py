"""Span-query family completion + the ES ``intervals`` query.

Closes the remaining Lucene span surface next to span_near
(operators/topk.py:span_near_topdocs, ordered) and span_within
(span_within_topdocs, unordered):

- **span_or (composed into span_near)** — Lucene's SpanOrQuery is only
  meaningful inside an enclosing span: each SLOT of the chain accepts a
  set of alternative terms, and the slot's position list is the merged
  union of its members' lists (exactly how SpanOrQuery.getSpans unions
  sub-spans). ``span_or_topdocs`` is span_near/span_within generalized
  to slots.
- **span_first** — SpanFirstQuery: matches whose span ends before a
  position bound (``end``), i.e. hits near the start of the document;
  ranked earliest-first (the reference surface ranks by position, not
  score, for this navigational query).
- **span_not** — SpanNotQuery with pre/post: occurrences of the include
  term with NO exclude-term occurrence within ``pre`` tokens before or
  ``post`` tokens after; docs ranked by surviving-occurrence count
  ("join but not near merge").
- **intervals** — the ES ``intervals`` query: ``match`` /
  ``any_of`` / ``all_of`` rules with ``ordered`` and ``max_gaps``.
  The pinned spec supports the two-level shape that covers ES's
  documented examples — a top-level ``all_of`` (or bare ``match``)
  whose sub-intervals are single-term ``match`` rules or ``any_of``
  over single-term matches — and compiles it to the slot machinery
  (minimal-interval semantics: the tightest window choosing one
  occurrence per slot, ordered or not; gaps = window_width − (n−1),
  match iff gaps ≤ max_gaps).

Plan shape (identical to the proven span_near path): ONE postings scan
filtered to the union of slot terms (predicate reaches the term-sorted
scan), one doc-keyed combinable groupBy collecting struct(term,
positions) with a slot-coverage filter, then an Arrow-batched kernel
over only the candidate docs that hit every slot. Positions stay
wire-format until the kernel. Candidate count ≤ df(rarest slot union) —
at 100 TB the same bound that keeps span_near serviceable.

Reference parity: Lucene SpanOrQuery/SpanFirstQuery/SpanNotQuery
semantics (public Lucene docs); ES intervals rule semantics (public ES
docs). The reference engine (Searcher.java) exposes the phrase/slop
subset; the full family is the serving surface its engine class
implies.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _slot_lists(posmap: dict, slots) -> list[list[int]] | None:
    """Per-slot merged sorted position lists; None if a slot is empty."""
    lists = []
    for slot in slots:
        merged: set[int] = set()
        for t in slot:
            merged.update(posmap.get(t, ()))
        if not merged:
            return None
        lists.append(sorted(merged))
    return lists


def _min_gap_ordered(lists: list[list[int]]) -> int:
    """Tightest ordered chain p_1 < p_2 < … < p_n choosing one position
    per slot: gap = (p_n − p_1) − (n − 1); −1 if no chain. DP over the
    lists: each chain end keeps its maximal feasible chain start (prefix
    max over earlier ends). Also behind topk.span_min_gap_batch."""
    import bisect

    cur = {p: p for p in lists[0]}
    for li in lists[1:]:
        ends = sorted(cur)
        pmax, m = [], -(1 << 62)
        for p in ends:
            m = max(m, cur[p])
            pmax.append(m)
        nxt = {}
        for q in li:
            i = bisect.bisect_left(ends, q) - 1
            if i >= 0:
                nxt[q] = pmax[i]
        cur = nxt
        if not cur:
            return -1
    n = len(lists)
    return min(q - s - (n - 1) for q, s in cur.items())


def _min_cover_unordered(lists: list[list[int]]) -> int:
    """Minimal covering width max(p_i) − min(p_i) over one choice per
    slot, any order: the k-sorted-lists sweep (advance the minimum's
    pointer). Also behind topk.span_cover_batch."""
    ptr = [0] * len(lists)
    best = 1 << 62
    while True:
        fronts = [li[p] for li, p in zip(lists, ptr)]
        lo, hi = min(fronts), max(fronts)
        if hi - lo < best:
            best = hi - lo
        i = fronts.index(lo)
        ptr[i] += 1
        if ptr[i] >= len(lists[i]):
            break
    return best


def span_slots_batch(
    tp_col: pd.Series, slots_col: pd.Series, ordered_col: pd.Series
) -> pd.Series:
    """Vectorized slot-span matcher: per row, the minimal GAP COUNT of a
    window containing one occurrence of every slot (ordered chain or
    unordered cover per the flag) — gaps = width − (n−1) in both modes,
    so ordered and unordered results are directly comparable; −1 when a
    slot has no occurrence."""
    from fuzzy_wiki_spark.codec import positions_by_term

    out = []
    for tps, slots, ordered in zip(tp_col, slots_col, ordered_col):
        posmap = positions_by_term(tps)
        lists = _slot_lists(posmap, slots)
        if lists is None:
            out.append(-1)
            continue
        if len(lists) == 1:
            out.append(0)
            continue
        if ordered:
            out.append(_min_gap_ordered(lists))
        else:
            w = _min_cover_unordered(lists)
            out.append(w - (len(lists) - 1))
    return pd.Series(out, dtype="int64")


_slots_udf = F.pandas_udf(span_slots_batch, T.LongType())


def _slot_candidates(
    postings: DataFrame, field: str, slots
) -> DataFrame:
    """Docs containing ≥1 term of EVERY slot, with the collected
    struct(term, positions) pairs — one pruned scan, one combinable
    doc-keyed agg. Slot coverage counts distinct slot INDICES (a term
    appearing in several slots covers each of them)."""
    all_terms = sorted({t for slot in slots for t in slot})
    cover = [
        F.max(
            F.when(F.col("term").isin(list(slot)), 1).otherwise(0)
        ).alias(f"_c{i}")
        for i, slot in enumerate(slots)
    ]
    cand = (
        postings.where(
            (F.col("field") == field) & F.col("term").isin(all_terms)
        )
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(F.col("term"), F.col("positions"))
            ).alias("mtps"),
            *cover,
        )
    )
    pred = None
    for i in range(len(slots)):
        c = F.col(f"_c{i}") == 1
        pred = c if pred is None else (pred & c)
    return cand.where(pred)


def span_or_topdocs(
    postings: DataFrame,
    field: str,
    slots,
    max_gaps: int,
    ordered: bool = True,
    k: int = 15,
) -> DataFrame:
    """Span chain whose slots accept alternatives (span_near over
    span_or clauses): docs where one occurrence per slot fits in a
    window with ≤ ``max_gaps`` internal gaps (ordered chain or
    unordered cover), ranked tightest-first (gaps asc, doc_id asc).
    Returns (doc_id, gaps)."""
    slots = [tuple(s) for s in slots]
    cand = _slot_candidates(postings, field, slots)
    slots_lit = F.array(
        *[F.array(*[F.lit(t) for t in slot]) for slot in slots]
    )
    gapped = cand.withColumn(
        "gaps", _slots_udf(F.col("mtps"), slots_lit, F.lit(bool(ordered)))
    ).where((F.col("gaps") >= 0) & (F.col("gaps") <= max_gaps))
    return (
        gapped.select("doc_id", "gaps")
        .orderBy(F.asc("gaps"), F.asc("doc_id"))
        .limit(k)
    )


def first_pos_batch(tp_col: pd.Series, term_col: pd.Series) -> pd.Series:
    """Per row: the earliest position of ``term`` (−1 if absent)."""
    from fuzzy_wiki_spark.codec import positions_by_term

    out = []
    for tps, term in zip(tp_col, term_col):
        pl = positions_by_term(tps).get(term, ())
        out.append(min(pl) if len(pl) else -1)
    return pd.Series(out, dtype="int64")


_first_udf = F.pandas_udf(first_pos_batch, T.LongType())


def span_first_topdocs(
    postings: DataFrame,
    field: str,
    term: str,
    end: int,
    k: int = 15,
) -> DataFrame:
    """SpanFirstQuery: docs whose earliest ``term`` occurrence ends
    before position ``end`` (0-based; a single-term span at position p
    ends at p+1, so the match condition is p < end), ranked earliest-
    first (first_pos asc, doc_id asc). Returns (doc_id, first_pos).

    One (field, term) point lookup on the term-sorted scan — the
    thinnest possible candidate set — then a first-position decode."""
    cand = (
        postings.where(
            (F.col("field") == field) & (F.col("term") == term)
        )
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(F.col("term"), F.col("positions"))
            ).alias("mtps")
        )
    )
    pos = cand.withColumn(
        "first_pos", _first_udf(F.col("mtps"), F.lit(term))
    ).where((F.col("first_pos") >= 0) & (F.col("first_pos") < end))
    return (
        pos.select("doc_id", "first_pos")
        .orderBy(F.asc("first_pos"), F.asc("doc_id"))
        .limit(k)
    )


def span_not_batch(
    tp_col: pd.Series,
    inc_col: pd.Series,
    exc_col: pd.Series,
    pre_col: pd.Series,
    post_col: pd.Series,
) -> pd.Series:
    """Per row: count of include-term positions p with NO exclude-term
    position in [p − pre, p + post] (0 when the include term is absent
    or every occurrence is vetoed). Two-pointer sweep over the sorted
    lists — O(|inc| + |exc|) per doc."""
    import bisect

    from fuzzy_wiki_spark.codec import positions_by_term

    out = []
    for tps, inc, exc, pre, post in zip(
        tp_col, inc_col, exc_col, pre_col, post_col
    ):
        posmap = positions_by_term(tps)
        inc_l = sorted(posmap.get(inc, ()))
        exc_l = sorted(posmap.get(exc, ()))
        if not exc_l:
            out.append(len(inc_l))
            continue
        n = 0
        for p in inc_l:
            i = bisect.bisect_left(exc_l, p - pre)
            if i >= len(exc_l) or exc_l[i] > p + post:
                n += 1
        out.append(n)
    return pd.Series(out, dtype="int64")


_not_udf = F.pandas_udf(span_not_batch, T.LongType())


def span_not_topdocs(
    postings: DataFrame,
    field: str,
    include: str,
    exclude: str,
    pre: int = 0,
    post: int = 0,
    k: int = 15,
) -> DataFrame:
    """SpanNotQuery with pre/post slack: occurrences of ``include`` with
    no ``exclude`` within ``pre`` tokens before / ``post`` after; docs
    ranked by surviving-occurrence count desc, doc_id asc. Docs without
    the exclude term keep every occurrence (no join against exclude-only
    docs — they can't contain a match). Returns (doc_id, n_spans)."""
    cand = (
        postings.where(
            (F.col("field") == field)
            & F.col("term").isin([include, exclude])
        )
        .groupBy("doc_id")
        .agg(
            F.collect_list(
                F.struct(F.col("term"), F.col("positions"))
            ).alias("mtps"),
            F.max(
                F.when(F.col("term") == include, 1).otherwise(0)
            ).alias("_has_inc"),
        )
        .where(F.col("_has_inc") == 1)
    )
    counted = cand.withColumn(
        "n_spans",
        _not_udf(
            F.col("mtps"),
            F.lit(include),
            F.lit(exclude),
            F.lit(pre),
            F.lit(post),
        ),
    ).where(F.col("n_spans") > 0)
    return (
        counted.select("doc_id", "n_spans")
        .orderBy(F.desc("n_spans"), F.asc("doc_id"))
        .limit(k)
    )


def compile_intervals(spec: dict):
    """ES intervals rule → (slots, ordered, max_gaps). Accepted shapes
    (the pinned two-level subset):

    - {"match": {"query": "a b c", "ordered": bool, "max_gaps": g}}
    - {"all_of": {"ordered": bool, "max_gaps": g, "intervals": [
          {"match": {"query": "one-term"}},
          {"any_of": {"intervals": [{"match": ...}, ...]}},
      ]}}

    ES defaults mirrored: max_gaps −1 means unbounded (any window),
    ordered defaults false for match/all_of.
    """
    if set(spec) == {"match"}:
        m = spec["match"]
        words = m["query"].split()
        return (
            [(w,) for w in words],
            bool(m.get("ordered", False)),
            int(m.get("max_gaps", -1)),
        )
    if set(spec) == {"all_of"}:
        a = spec["all_of"]
        slots = []
        for iv in a["intervals"]:
            if set(iv) == {"match"}:
                words = iv["match"]["query"].split()
                if len(words) != 1:
                    raise ValueError(
                        "all_of sub-match must be single-term in the "
                        "pinned two-level subset"
                    )
                slots.append((words[0],))
            elif set(iv) == {"any_of"}:
                alts = []
                for sub in iv["any_of"]["intervals"]:
                    words = sub["match"]["query"].split()
                    if len(words) != 1:
                        raise ValueError(
                            "any_of alternatives must be single-term"
                        )
                    alts.append(words[0])
                slots.append(tuple(alts))
            else:
                raise ValueError(f"unsupported interval rule: {set(iv)}")
        return (
            slots,
            bool(a.get("ordered", False)),
            int(a.get("max_gaps", -1)),
        )
    raise ValueError(f"unsupported intervals spec: {set(spec)}")


def intervals_topdocs(
    postings: DataFrame,
    field: str,
    spec: dict,
    k: int = 15,
) -> DataFrame:
    """The ES ``intervals`` query over the pinned two-level rule subset:
    compile the rule tree to slots and run the minimal-interval matcher
    (gaps = window − (n−1), match iff gaps ≤ max_gaps; max_gaps −1 =
    unbounded). Returns (doc_id, gaps) tightest-first."""
    slots, ordered, max_gaps = compile_intervals(spec)
    bound = (1 << 60) if max_gaps < 0 else max_gaps
    return span_or_topdocs(
        postings, field, slots, bound, ordered=ordered, k=k
    )


def span_containing_batch(
    tp_col: pd.Series,
    a_col: pd.Series,
    b_col: pd.Series,
    c_col: pd.Series,
    slop_col: pd.Series,
    inside_col: pd.Series,
) -> pd.Series:
    """Per row: the Lucene SpanContaining/SpanWithin counters over a
    two-term ordered big span (a before b, internal gap ≤ slop) and a
    single-term little span c.

    - inside=False (SpanContainingQuery): count of big spans (p, q),
      p ∈ L_a, q ∈ L_b, p < q, q−p−1 ≤ slop, that contain a c
      occurrence (∃ r ∈ L_c with p ≤ r ≤ q).
    - inside=True (SpanWithinQuery): count of c occurrences contained
      in ≥1 such big span.

    Big-pair enumeration is O(|L_a|·|L_b|) per doc with an early break
    on the slop bound (lists are sorted) — per-doc position lists are
    tiny next to the decode itself, and only candidate docs holding all
    three terms reach the kernel."""
    import bisect

    from fuzzy_wiki_spark.codec import positions_by_term

    out = []
    for tps, a, b, c, slop, inside in zip(
        tp_col, a_col, b_col, c_col, slop_col, inside_col
    ):
        posmap = positions_by_term(tps)
        la = sorted(posmap.get(a, ()))
        lb = sorted(posmap.get(b, ()))
        lc = sorted(posmap.get(c, ()))
        if not la or not lb or not lc:
            out.append(0)
            continue
        n = 0
        if inside:
            hit = set()
            for p in la:
                j = bisect.bisect_right(lb, p)
                for q in lb[j:]:
                    if q - p - 1 > slop:
                        break
                    i0 = bisect.bisect_left(lc, p)
                    while i0 < len(lc) and lc[i0] <= q:
                        hit.add(lc[i0])
                        i0 += 1
            n = len(hit)
        else:
            for p in la:
                j = bisect.bisect_right(lb, p)
                for q in lb[j:]:
                    if q - p - 1 > slop:
                        break
                    i0 = bisect.bisect_left(lc, p)
                    if i0 < len(lc) and lc[i0] <= q:
                        n += 1
        out.append(n)
    return pd.Series(out, dtype="int64")


_containing_udf = F.pandas_udf(span_containing_batch, T.LongType())


def span_containing_topdocs(
    postings: DataFrame,
    field: str,
    big: tuple,
    little: str,
    slop: int = 0,
    inside: bool = False,
    k: int = 15,
) -> DataFrame:
    """Lucene SpanContainingQuery (``inside=False``: big spans that
    contain the little span) / SpanWithinQuery (``inside=True``: little
    spans inside a big span) with big = an ordered two-term chain
    (a before b, gap ≤ slop) and little = one term. Docs ranked by the
    matching-span count (n_spans desc, doc_id asc); docs missing any of
    the three terms never reach the kernel (slot-coverage filter on the
    same one-scan doc-keyed agg every span operator uses). Returns
    (doc_id, n_spans)."""
    a, b = big
    cand = _slot_candidates(postings, field, [(a,), (b,), (little,)])
    counted = cand.withColumn(
        "n_spans",
        _containing_udf(
            F.col("mtps"),
            F.lit(a),
            F.lit(b),
            F.lit(little),
            F.lit(int(slop)),
            F.lit(bool(inside)),
        ),
    ).where(F.col("n_spans") > 0)
    return (
        counted.select("doc_id", "n_spans")
        .orderBy(F.desc("n_spans"), F.asc("doc_id"))
        .limit(k)
    )


def span_multi_topdocs(
    postings: DataFrame,
    field: str,
    anchor: str,
    expansions: list,
    max_gaps: int,
    k: int = 15,
) -> DataFrame:
    """Lucene SpanMultiTermQueryWrapper composed into a span chain: a
    two-slot ordered span_near whose second slot is the (already
    resolved, bounded) multi-term expansion — e.g. a prefix inside a
    span. The expansion happens against the vocabulary-sized term
    dictionary BEFORE this call (engine: resolve_prefix; relational:
    term_stats range scan), exactly Lucene's rewrite-then-wrap; the
    span machinery itself is the verified slot matcher
    (span_or_topdocs). Returns (doc_id, gaps) tightest-first."""
    if not expansions:
        sess = postings.sparkSession
        return sess.createDataFrame([], "doc_id long, gaps long")
    return span_or_topdocs(
        postings,
        field,
        ((anchor,), tuple(expansions)),
        max_gaps,
        ordered=True,
        k=k,
    )
