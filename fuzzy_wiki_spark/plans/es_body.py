"""ES `_search` request-body compiler — one ES-shaped entry point over
the whole engine surface.

A user of the reference ecosystem speaks Elasticsearch's JSON request
body; this module compiles the PINNED SUBSET below onto the engine's
already-verified operators, so every request form maps to a code path
that carries its own hash-green oracle entry. Unsupported rules raise
``ValueError`` loudly — a request either maps onto a verified operator
or is rejected, never silently re-interpreted.

``query`` (exactly one rule):

*Full-text*
- ``{"match": {field: text | {"query": text, "operator": "or"|"and",
  "minimum_should_match": n}}}`` — analyzed terms, BM25 sum;
  ``operator: and`` requires every term (clauses become musts),
  integer ``minimum_should_match`` keeps docs holding ≥ n distinct
  terms (one more conditional count in the same combinable
  aggregate). ``bool`` accepts body-level ``minimum_should_match``
  the same way.
- ``{"match_phrase": {field: text}}`` — exact phrase
  (SegmentIndex.phrase).
- ``{"match_phrase_prefix": {field: text}}`` — last analyzed word is
  the prefix, the rest anchor the phrase
  (SegmentIndex.match_phrase_prefix).
- ``{"match_bool_prefix": {field: text}}`` — last word prefix-expands,
  the rest are complete should terms
  (SegmentIndex.match_bool_prefix).
- ``{"multi_match": {"query": text, "fields": ["title^2", ...],
  "type": best_fields|most_fields|cross_fields, "tie_breaker": t}}``
  (SegmentIndex.multi_match).
- ``{"combined_fields": {"query": text, "fields": [...]}}`` — BM25F
  over the synthetic merged field (SegmentIndex.combined_fields).
- ``{"more_like_this": {"fields": [f], "like": text | {"_id": N},
  "max_query_terms": m}}`` — free text routes to
  SegmentIndex.more_like_this_text; the document form seeds from the
  stored doc's top-m tf·idf terms (SegmentIndex.more_like_this, the
  bucket-pruned forward lookup, source excluded).
- ``{"query_string": {"query": "<Lucene syntax>"}}`` — the full
  QueryParser subset (+must/-veto, sloppy phrases, wildcard/fuzzy/
  regexp atoms, field selectors, boosts) on the segment-native
  extended executor (SegmentIndex.extended).

*Term-level* (``value`` may be bare or ``{"value": v}``):
- ``{"term": {field: v}}`` — single unanalyzed term, BM25-scored (the
  Lucene TermQuery).
- ``{"terms": {field: [v, ...]}}`` — constant-score any-of (Lucene
  TermInSetQuery rewrites constant; SegmentIndex.constant_score).
- ``{"prefix"|"wildcard"|"fuzzy"|"regexp": {field: spec}}`` —
  dictionary expansion off the term_stats side-channel
  (SegmentIndex.prefix/wildcard/fuzzy/regexp). ES wildcard ``*``/``?``
  translate to SQL-LIKE ``%``/``_`` (literal ``%``/``_``/``\\`` in the
  term are backslash-escaped first, so they match literally);
  ``fuzzy`` honors ``{"fuzziness": d}``.

*Compound*
- ``{"bool": {"must": [...], "should": [...], "must_not": [...],
  "filter": [...]}}`` — must/should/must_not are ``match`` or
  unanalyzed ``term`` leaves on ONE field (Lucene BooleanQuery via operators/boolean.boolean_topk);
  ``filter`` is the term-level DSL (operators/boolean.compile_filter)
  over the ``docs`` table, applied BEFORE ranking with corpus-wide
  stats (ES filter context: restricts, never scores).
- ``{"dis_max": {"queries": [match leaves], "tie_breaker": t}}``.
- ``{"constant_score": {"filter": <rule>, "boost": b}}`` — a
  ``terms`` filter serves from the index (TermInSetQuery rewrite); any
  other rule runs as the doc-value filter DSL over ``docs``.
- ``{"boosting": {"positive": match, "negative": match,
  "negative_boost": b}}`` (SegmentIndex.boosting).
- ``{"pinned": {"ids": [...], "organic": match}}`` — needs ``docs``
  (SegmentIndex.pinned).
- ``{"terms_set": {field: {"terms": [...],
  "minimum_should_match_field": col}}}`` — needs ``docs``
  (SegmentIndex.terms_set).
- ``{"script_score": {"query": match, "script": {"source": expr}}}`` —
  re-scores the inner match's FULL rounded score set with a Spark SQL
  expression over doc values + ``_score``; needs ``docs``.
- ``{"wrapper": {"query": b64}}`` — base64 query JSON, decoded and
  re-dispatched.
- ``{"percolate": {"document(s)": ...}}`` — literal document(s)
  matched against the registered ``rules`` frame (reverse search via
  operators/percolate).

*Doc-value* (needs ``docs``; constant score = boost, first-k by id)
- ``{"range": {field: {"gt"/"gte"/"lt"/"lte": v, "boost": b}}}`` /
  ``{"exists": {"field": f}}`` / ``{"ids": {"values": [...]}}`` —
  query-context forms of the filter DSL (compile_filter; the predicate
  folds into the docs scan).

*Join-field* (the repo→file hierarchy; needs ``docs``)
- ``{"has_child": {"type": join_col, "query": match,
  "score_mode": max|sum|avg, "min_children"/"max_children": n,
  "inner_hits": {"size": m}}}`` — parents ranked by combined child
  scores (parent_child.has_child_topk); with ``inner_hits`` the top-m
  matching children within each of the k best parents
  (collapse.grouped_topk). ``type`` names the join-field column (ES
  keeps the relation in the mapping).
- ``{"has_parent": {"parent_type": join_col, "query": filter-DSL on
  ``parent``, "boost": b}}`` — children of matching parents, constant
  score (parent_child.has_parent_topk).
- ``{"nested": {"path": array_col, "query": term|range on
  "path.sub", "score_mode": "none", "inner_hits": {"size": m}}}`` —
  docs whose nested objects contain a matching element (F.exists —
  no explode); ``inner_hits`` adds the matching elements.

*Positional*
- ``{"intervals": {field: rule}}`` — the two-level intervals subset.
- ``{"span_near": {"clauses": [span_term | span_or...], "slop": s,
  "in_order": bool}}`` — all-span_term ordered chains route to
  SegmentIndex.span_near; unordered to span_within with
  window = |terms| + slop (the Lucene slop→cover-window identity);
  span_or clauses make slot alternatives (SegmentIndex.span_or,
  ordered only); span_multi clauses wrap a prefix query whose
  dictionary expansion (bounded, lex order — Lucene's rewrite)
  becomes the slot (SegmentIndex.span_multi machinery).
- ``{"span_containing": {"big": span_near, "little": span_term}}`` /
  ``{"span_within": {...}}`` — big spans containing the little span /
  little spans inside a big span, big pinned to an ordered
  two-span_term chain (SegmentIndex.span_containing).
- ``{"span_first": {"match": {"span_term": {field: t}}, "end": e}}``.
- ``{"span_not": {"include": span_term, "exclude": span_term,
  "pre": p, "post": q}}``.

Top level:
- ``retriever``: ``{"rrf": {"retrievers": [{"standard": {"query":
  match}}, {"knn": {...}}], "rank_constant": c,
  "rank_window_size": w}}`` — the ES hybrid retriever: each side
  ranks within its own window (full-set lexical scoring / cosine
  top-k), fused by reciprocal-rank fusion
  (operators/hybrid.rrf_fuse). Exclusive with ``query``/``knn``.
- ``size`` → k (default 10); ``from`` → offset (re-ranked on the
  (from+size)-row frame — ES's shallow-paging shape; scored frames
  only).
- ``min_score`` → post-filter on the scored hits.
- ``track_total_hits: true`` → ``result["total"]`` (exact count of
  the query's own match set — same field, same analyzed terms, same
  redirect exclusion and filter context as the hits; match/bool/term).
- ``sort``: default ``_score``; ``[{field: {"order": ...}}, ...]``
  routes to sort_by_field / sort_by_fields (no scoring; multi-field =
  lexicographic mixed-direction key), with ``search_after`` as the
  strict-inequality page cursor — one value per sort key plus doc_id
  for multi-field.
- ``collapse``: ``{"field": f}`` → field collapsing on the full scored
  set (SegmentIndex.search_collapse semantics via collapse_topk).
- ``rescore``: ``{"window_size": w, "query": {"rescore_query":
  {"match_phrase": {field: text}}, "rescore_query_weight": wgt}}`` →
  SegmentIndex.rescore_phrase (Lucene QueryRescorer) — match-leaf
  first pass only.
- ``knn``: ``{"field": vec_col, "query_vector": [...], "k": kk,
  "filter": term-level DSL, "num_candidates": n}`` — exact cosine
  top-k over the ``vectors`` frame (PRE-filter semantics); with
  ``num_candidates`` the two-phase quantized-scan + exact-rerank
  route (operators/similarity.quantized_rerank_topk — the Lucene
  int8+rescore shape). knn-only bodies (no ``query``) return the
  vector hits as ``hits`` and need no index (``idx=None`` works).
- ``runtime_mappings``: ``{name: {"script": expr}}`` — query-time
  computed doc-value columns (Spark SQL expression over docs
  columns), visible to filter context / sort / aggs / ``_source``.
- ``collapse.inner_hits``: ``{"size": m}`` → grouped top-k (top-m per
  group, k groups by lead hit; operators/collapse.grouped_topk).
- ``explain: true`` → ``result["explanation"]``: the per-term BM25
  factor frame of the best hit. ``profile: true`` →
  ``result["profile"]``: the executed physical plan string.
- ``suggest``: ``{name: {"text": t, "term": {"field": f,
  "max_edits": d, "size": s}}}`` → operators/term_expansion
  .suggest_terms off the index's term_stats side-channel;
  ``{"phrase": {...}}`` → SegmentIndex.phrase_suggest. Results in
  ``result["suggest"][name]``.
- ``_source``: [cols] → stored fields joined from ``docs`` onto the
  k-row hits frame (docstore split — never the corpus).
- ``aggs``: ``terms`` (with metric sub-``aggs`` — avg/sum/min/max/
  value_count/cardinality, all inside ONE combinable groupBy — or a
  ``top_hits`` sub-agg: top-m hits within each bucket via
  facet-partitioned window rank over the full scored set, for ``term``
  and OR ``match`` queries only — other kinds raise ValueError) /
  ``stats`` / ``date_histogram`` / ``range`` /
  ``histogram`` / ``cardinality`` / ``percentiles`` / ``value_count``
  / ``missing`` / ``global`` / ``filters`` / ``significant_terms`` /
  ``top_metrics`` / ``date_range`` / ``auto_date_histogram`` /
  ``composite`` / ``adjacency_matrix`` / ``rare_terms`` /
  ``multi_terms`` / ``weighted_avg`` / ``string_stats`` /
  ``median_absolute_deviation`` / ``boxplot`` sub-bodies, computed
  over the query's match set exactly like the corresponding
  hash-verified agg entries (the bucketed metrics take the same
  ``group_by`` extension key the ``stats`` form already used).

Returns ``{"hits": DataFrame, "aggregations": {name: DataFrame},
"suggest": {name: DataFrame}, "total": int | None, "explanation":
DataFrame | None, "profile": str | None}``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _match_words(rule: dict, analyze) -> tuple[str, list[str]]:
    """{"match": {field: text|{"query": text}}} → (field, words)."""
    if set(rule) != {"match"}:
        raise ValueError(f"expected a match leaf, got: {sorted(rule)}")
    (field, body), = rule["match"].items()
    text = body["query"] if isinstance(body, dict) else body
    return field, list(analyze(text))


def _leaf_words(leaf: dict, analyze) -> tuple[str, list[str]]:
    """bool-slot leaf → (field, words): an analyzed ``match`` leaf or a
    single-term unanalyzed ``term`` leaf (the Lucene TermQuery form ES
    users mix freely into bool slots)."""
    if set(leaf) == {"term"}:
        (field, spec), = leaf["term"].items()
        return field, [_value(spec)]
    return _match_words(leaf, analyze)


def _value(spec) -> str:
    """Term-level leaf value: bare or {"value": v}."""
    return spec["value"] if isinstance(spec, dict) else spec


def _field_boosts(fields: list[str]) -> list[tuple[str, float]]:
    """["title^2.0", "content"] → [("title", 2.0), ("content", 1.0)]."""
    out = []
    for f in fields:
        name, _, boost = f.partition("^")
        out.append((name, float(boost) if boost else 1.0))
    return out


def _sqs_to_extended(q: str, default_op: str = "or") -> str:
    """ES simple_query_string → the extended language. Pinned subset:
    whitespace-separated tokens — ``-tok`` negation, quoted phrases
    with optional ``~slop``, trailing-``*`` prefix, ``~n`` fuzzy;
    infix ``+``/``|`` and parentheses are NOT in the subset (raise
    loudly — their precedence semantics need a real boolean tree).
    ``default_operator: "and"`` prefixes every non-negated atom with
    ``+`` (all must match), mirroring ES."""
    import re

    toks = re.findall(r'-?"[^"]*"(?:~\d+)?|\S+', q)
    out = []
    for t in toks:
        quoted = t.startswith('"') or t.startswith('-"')
        if not quoted and (
            "|" in t or "(" in t or ")" in t or "+" in t[1:] or t == "+"
        ):
            # attached forms like a|b / a+b would otherwise pass through
            # as literal terms, silently changing semantics vs ES's
            # operator parse — reject them as loudly as parentheses
            raise ValueError(
                "simple_query_string subset: no infix +/| or parentheses"
            )
        if t.startswith("-"):
            out.append(t)
        elif default_op == "and":
            out.append("+" + t)
        else:
            out.append(t)
    return " ".join(out)


def _span_term(clause: dict) -> tuple[str, str]:
    if set(clause) != {"span_term"}:
        raise ValueError(f"expected span_term, got: {sorted(clause)}")
    (field, spec), = clause["span_term"].items()
    return field, _value(spec)


def _nested_elem_pred(path: str, dsl: dict):
    """Inner predicate of the pinned ``nested`` subset → a lambda over
    one array element, usable by both F.exists (match) and F.filter
    (inner_hits). Field names are ``path.sub``; term = equality,
    range = gt/gte/lt/lte bounds."""
    (kind, spec), = dsl.items()
    (fname, arg), = spec.items()
    prefix = path + "."
    if not fname.startswith(prefix):
        raise ValueError(
            f"nested field {fname!r} must live under path {path!r}"
        )
    sub = fname[len(prefix):]
    if kind == "term":
        val = arg["value"] if isinstance(arg, dict) else arg
        return lambda e: e[sub] == F.lit(val)
    if kind == "range":
        ops = {
            "gt": lambda c, v: c > v,
            "gte": lambda c, v: c >= v,
            "lt": lambda c, v: c < v,
            "lte": lambda c, v: c <= v,
        }

        def pred(e):
            conds = [ops[o](e[sub], F.lit(v)) for o, v in arg.items()]
            out = conds[0]
            for c in conds[1:]:
                out = out & c
            return out

        return pred
    raise ValueError("nested inner query pinned to term/range leaves")


def _total_hits(
    idx, field, must, should, must_not, filter_ids=None, msm=0
) -> int:
    """Exact total for the pinned match/bool/term kinds: the distinct
    doc count of the query's OWN match set — the caller's
    already-analyzed terms on the query's own field. (Routing through
    ``idx.count_matches`` would re-analyze with the porter chain and OR
    over both path and content fields, disagreeing with the hits on
    simple-mode indexes.) Lucene-TotalHitCountCollector shape: a
    term-pruned posting decode, one combinable groupBy — no scoring, no
    dl join — with the same redirect exclusion and filter context as
    the hits path. Match set mirrors ``boolean_topk``: all ``must``
    terms AND no ``must_not`` term AND (≥1 ``should`` term when there
    is no ``must``)."""
    from fuzzy_wiki_spark.operators.segment_query import META_REDIRECT
    from fuzzy_wiki_spark.streaming.incremental import (
        segments_to_postings,
    )

    terms = sorted(set(must) | set(should) | set(must_not))
    if not terms:
        return 0
    posts = idx.term_postings(field, terms, with_dl=False).select(
        "doc_id", "term"
    )
    if filter_ids is not None:
        posts = posts.join(filter_ids, "doc_id", "left_semi")
    agg = posts.groupBy("doc_id").agg(
        F.count_distinct(
            F.when(F.col("term").isin(list(must)), F.col("term"))
        ).alias("_nm"),
        F.max(
            F.when(F.col("term").isin(list(should)), 1).otherwise(0)
        ).alias("_hs"),
        F.count_distinct(
            F.when(F.col("term").isin(list(should)), F.col("term"))
        ).alias("_ns"),
        F.max(
            F.when(F.col("term").isin(list(must_not)), 1).otherwise(0)
        ).alias("_hn"),
    )
    cond = F.col("_hn") == 0
    if must:
        cond &= F.col("_nm") == len(set(must))
    else:
        cond &= F.col("_hs") == 1
    if msm:
        cond &= F.col("_ns") >= int(msm)
    red = (
        segments_to_postings(
            idx.segments.where(F.col("term") == META_REDIRECT)
        )
        .select("doc_id")
        .distinct()
    )
    return (
        agg.where(cond)
        .select("doc_id")
        .join(red, "doc_id", "left_anti")
        .count()
    )


def es_search(
    idx,
    body: dict,
    docs: DataFrame | None = None,
    vectors: DataFrame | None = None,
    rules: DataFrame | None = None,
    analyze=str.split,
) -> dict:
    """Execute an ES `_search` request body against a SegmentIndex.
    ``docs`` supplies doc values for filter context / sorts / aggs /
    ``_source``; ``vectors`` supplies the embedding frame for ``knn``
    (knn-only bodies never touch the inverted index, so ``idx`` may be
    None for them); ``analyze`` maps query text to index terms (must
    match the mode the index was built with — default whitespace for
    simple-mode)."""
    from fuzzy_wiki_spark.operators.boolean import (
        boolean_topk,
        compile_filter,
    )

    k = int(body.get("size", 10))
    offset = int(body.get("from", 0))
    k_fetch = k + offset

    # --- runtime_mappings (ES runtime fields): computed doc-value
    # columns, visible to filter context / sort / aggs / _source. The
    # pinned script language is a Spark SQL expression over the docs
    # columns (ES uses painless; the capability — a query-time computed
    # field that never materializes in the index — is the same), so the
    # column folds into the scan projection: zero extra passes. --------
    if "runtime_mappings" in body:
        if docs is None:
            raise ValueError("runtime_mappings require the docs table")
        for name, spec in body["runtime_mappings"].items():
            script = spec["script"] if not isinstance(
                spec["script"], dict
            ) else spec["script"]["source"]
            docs = docs.withColumn(name, F.expr(script))

    # --- retriever.rrf (the ES hybrid retriever): fuse a standard
    # (lexical) retriever and a knn retriever by reciprocal-rank fusion.
    # Each side ranks within its own rank_window_size cut; fusion is the
    # verified operators/hybrid.rrf_fuse (one combinable groupBy-sum).
    # The standard side scores the FULL match set (k=None, rounded 6 —
    # a top-k θ bound could reorder the window tail) exactly like the
    # hash-verified seg_hybrid entry; the knn side's ids are fused as
    # doc ids (the pinned vec_id == doc_id contract of the hybrid
    # entries). ---------------------------------------------------------
    if "retriever" in body:
        rr = body["retriever"]["rrf"]
        window = int(rr.get("rank_window_size", 50))
        rank_c = int(rr.get("rank_constant", 60))
        from fuzzy_wiki_spark.operators.boolean import compile_filter
        from fuzzy_wiki_spark.operators.hybrid import rank_topn, rrf_fuse
        from fuzzy_wiki_spark.operators.segment_query import (
            search_segments_batch,
        )
        from fuzzy_wiki_spark.plans.query import Clause

        ranked = []
        for r in rr["retrievers"]:
            if set(r) == {"standard"}:
                f2, words = _match_words(r["standard"]["query"], analyze)
                clauses = [
                    Clause(i, f2, (t,), 1.0, 0, False)
                    for i, t in enumerate(words)
                ]
                full = search_segments_batch(
                    idx.spark,
                    idx.segments,
                    {0: clauses},
                    idx._term_df(list(words)),
                    idx.field_stats,
                    k=None,
                ).select("doc_id", F.round("score", 6).alias("score"))
                ranked.append(rank_topn(full, "score", window))
            elif set(r) == {"knn"}:
                if vectors is None:
                    raise ValueError("knn retriever needs vectors")
                from fuzzy_wiki_spark.operators.similarity import (
                    cosine_topk,
                    filtered_cosine_topk,
                )

                kn = r["knn"]
                qv = list(kn["query_vector"])
                kk = int(kn.get("k", window))
                vc = kn.get("field", "embedding")
                if "filter" in kn:
                    cos = filtered_cosine_topk(
                        vectors, qv, compile_filter(kn["filter"]),
                        k=kk, vec_col=vc,
                    )
                else:
                    cos = cosine_topk(vectors, qv, k=kk, vec_col=vc)
                cos = cos.select(
                    F.col("vec_id").alias("doc_id"), "cos_sim"
                )
                ranked.append(rank_topn(cos, "cos_sim", window))
            else:
                raise ValueError(f"unsupported retriever: {sorted(r)}")
        return {
            "hits": rrf_fuse(ranked, k=rank_c, topk=k),
            "aggregations": {},
            "suggest": {},
            "total": None,
        }

    query = body.get("query")
    if query is None and "knn" not in body and "suggest" not in body:
        query = {"match_all": {}}
    aggs_out: dict[str, DataFrame] = {}
    suggest_out: dict[str, DataFrame] = {}
    total = None

    # --- knn (vector section; exclusive with query in the pinned subset)
    if "knn" in body:
        if query is not None:
            raise ValueError(
                "hybrid query+knn not in the pinned subset — use "
                "operators/hybrid.rrf_fuse on the two result frames"
            )
        if vectors is None:
            raise ValueError("knn requires the vectors frame")
        from fuzzy_wiki_spark.operators.similarity import cosine_topk

        knn = body["knn"]
        qv = list(knn["query_vector"])
        # default to k_fetch: with a nonzero `from`, the page is cut out
        # of the first from+size rows, so the knn cut must fetch them
        kk = int(knn.get("k", k_fetch))
        if offset and kk < k_fetch:
            raise ValueError(
                "knn.k smaller than from+size cannot serve the page"
            )
        vec_col = knn.get("field", "embedding")
        vecs = vectors
        if "filter" in knn:
            # PRE-filter semantics: the predicate pushes into the scan
            # before any scoring (filtered_cosine_topk's contract)
            vecs = vectors.where(compile_filter(knn["filter"]))
        if "num_candidates" in knn:
            # the ES num_candidates contract → the two-phase
            # compressed-scan + exact-rerank route: first pass reads
            # only the 1-byte/dim quantized store, raw vectors are
            # touched for num_candidates rows
            from fuzzy_wiki_spark.operators.similarity import (
                quantized_rerank_topk,
            )

            hits = quantized_rerank_topk(
                vecs,
                qv,
                k=kk,
                num_candidates=int(knn["num_candidates"]),
                vec_col=vec_col,
            )
        else:
            hits = cosine_topk(vecs, qv, k=kk, vec_col=vec_col)
        if "similarity" in knn:
            # ES knn similarity floor: drop hits below the cutoff
            hits = hits.where(
                F.col("cos_sim") >= float(knn["similarity"])
            )
        qterms: list[str] = []
        kind = "knn"
    elif query is None:
        # suggest-only body: no retrieval section at all
        hits = None
        qterms = []
        kind = "none"
    else:
        kind = next(iter(query))

    # --- wrapper (base64-encoded query JSON — ES's escape hatch for
    # clients that must ship opaque query strings): decode and
    # re-dispatch the whole body with the inner query --------------------
    if kind == "wrapper":
        import base64
        import json as _json

        inner = _json.loads(base64.b64decode(query["wrapper"]["query"]))
        return es_search(
            idx,
            {**body, "query": inner},
            docs=docs,
            vectors=vectors,
            rules=rules,
            analyze=analyze,
        )

    # --- resolve the query to (terms used, hits frame) -----------------
    filter_ids = None
    field = "content"
    if kind == "bool" and query["bool"].get("filter"):
        if docs is None:
            raise ValueError("bool.filter requires the docs table")
        pred = None
        for clause in query["bool"]["filter"]:
            c = compile_filter(clause)
            pred = c if pred is None else (pred & c)
        filter_ids = docs.where(pred).select("doc_id")

    def _boolean(must, should, must_not, msm=0):
        all_terms = list(dict.fromkeys(must + should + must_not))
        posts = idx.term_postings(field, sorted(set(all_terms)))
        if filter_ids is not None:
            # ES filter context: restrict candidates BEFORE ranking;
            # df/avgdl stats stay corpus-wide (scores unchanged)
            posts = posts.join(filter_ids, "doc_id", "left_semi")
        term_df = idx._term_df(list(dict.fromkeys(must + should)))
        return boolean_topk(
            posts,
            field,
            tuple(must),
            tuple(should),
            tuple(must_not),
            term_df,
            idx.field_stats,
            k=k_fetch,
            min_should_match=msm,
        )

    if kind in ("knn", "none"):
        pass
    elif kind == "match_all":
        if docs is None:
            raise ValueError("match_all requires the docs table")
        hits = (
            docs.select("doc_id", F.lit(1.0).alias("score"))
            .orderBy("doc_id")
            .limit(k_fetch)
        )
        qterms = []
    elif kind == "match":
        field, words = _match_words(query, analyze)
        (_, mspec), = query["match"].items()
        op = (
            mspec.get("operator", "or")
            if isinstance(mspec, dict)
            else "or"
        )
        msm = (
            int(mspec.get("minimum_should_match", 0))
            if isinstance(mspec, dict)
            else 0
        )
        if op == "and":
            # ES operator=and: every analyzed term is required (the
            # clauses become musts); scoring is unchanged BM25 sum
            hits = _boolean(tuple(words), (), ())
        else:
            hits = _boolean((), tuple(words), (), msm)
        qterms = words
    elif kind == "match_phrase":
        (field, text), = query["match_phrase"].items()
        words = list(analyze(text if isinstance(text, str) else text["query"]))
        hits = idx.phrase(tuple(words), field=field, k=k_fetch)
        qterms = words
    elif kind == "match_phrase_prefix":
        (field, spec), = query["match_phrase_prefix"].items()
        text = spec["query"] if isinstance(spec, dict) else spec
        maxexp = (
            int(spec.get("max_expansions", 50))
            if isinstance(spec, dict)
            else 50
        )
        words = list(analyze(text))
        hits = idx.match_phrase_prefix(
            tuple(words[:-1]),
            words[-1],
            field=field,
            max_expansions=maxexp,
            k=k_fetch,
        )
        qterms = words[:-1]
    elif kind == "match_bool_prefix":
        (field, spec), = query["match_bool_prefix"].items()
        text = spec["query"] if isinstance(spec, dict) else spec
        words = list(analyze(text))
        hits = idx.match_bool_prefix(
            words[:-1], words[-1], field=field, k=k_fetch
        )
        qterms = words[:-1]
    elif kind == "multi_match":
        mm = query["multi_match"]
        words = list(analyze(mm["query"]))
        hits = idx.multi_match(
            words,
            _field_boosts(mm["fields"]),
            mode=mm.get("type", "best_fields"),
            tie_breaker=float(mm.get("tie_breaker", 0.3)),
            k=k_fetch,
        )
        qterms = words
    elif kind == "combined_fields":
        cf = query["combined_fields"]
        words = list(analyze(cf["query"]))
        hits = idx.combined_fields(
            words, _field_boosts(cf["fields"]), k=k_fetch
        )
        qterms = words
    elif kind == "more_like_this":
        mlt = query["more_like_this"]
        field = mlt.get("fields", ["content"])[0]
        like = mlt["like"]
        if isinstance(like, dict):
            # ES document form {"like": {"_id": N}}: seed terms come
            # from the stored doc's own top-m tf·idf terms via the
            # bucket-pruned forward lookup, source doc excluded
            # (SegmentIndex.more_like_this — Lucene MoreLikeThis)
            hits = idx.more_like_this(
                int(like["_id"]),
                field=field,
                m=int(mlt.get("max_query_terms", 10)),
                k=k_fetch,
            )
            qterms = []
        else:
            words = list(analyze(like))
            hits = idx.more_like_this_text(
                words,
                field=field,
                m=int(mlt.get("max_query_terms", 10)),
                k=k_fetch,
            )
            qterms = words
    elif kind == "term":
        (field, spec), = query["term"].items()
        val = _value(spec)
        hits = _boolean((val,), (), ())
        qterms = [val]
    elif kind == "terms":
        spec = dict(query["terms"])
        boost = float(spec.pop("boost", 1.0))
        (field, vals), = spec.items()
        hits = idx.constant_score(
            list(vals), field=field, boost=boost, k=k_fetch
        )
        qterms = list(vals)
    elif kind == "prefix":
        (field, spec), = query["prefix"].items()
        hits = idx.prefix(_value(spec), field=field, k=k_fetch)
        qterms = [_value(spec)]
    elif kind == "wildcard":
        (field, spec), = query["wildcard"].items()
        # escape literal \ % _ (Spark LIKE's escape char is backslash)
        # BEFORE mapping ES's * / ? onto SQL-LIKE % / _ , so terms that
        # contain %/_ match literally instead of as wildcards
        pattern = (
            _value(spec)
            .replace("\\", "\\\\")
            .replace("%", "\\%")
            .replace("_", "\\_")
            .replace("*", "%")
            .replace("?", "_")
        )
        hits = idx.wildcard(pattern, field=field, k=k_fetch)
        qterms = []
    elif kind == "fuzzy":
        (field, spec), = query["fuzzy"].items()
        dist = (
            int(spec.get("fuzziness", 1)) if isinstance(spec, dict) else 1
        )
        hits = idx.fuzzy(
            _value(spec), max_dist=dist, field=field, k=k_fetch
        )
        qterms = [_value(spec)]
    elif kind == "regexp":
        (field, spec), = query["regexp"].items()
        hits = idx.regexp(_value(spec), field=field, k=k_fetch)
        qterms = []
    elif kind == "bool":
        b = query["bool"]

        def slot(name):
            words: list[str] = []
            for leaf in b.get(name, []):
                f2, ws = _leaf_words(leaf, analyze)
                nonlocal field, seen_field
                if seen_field is not None and f2 != seen_field:
                    raise ValueError(
                        "bool leaves must target ONE field in the pinned "
                        f"subset (got {seen_field!r} and {f2!r}) — use "
                        "multi_match/combined_fields for multi-field"
                    )
                seen_field = field = f2
                words.extend(ws)
            return tuple(dict.fromkeys(words))

        seen_field = None

        must, should, must_not = slot("must"), slot("should"), slot("must_not")
        hits = _boolean(
            must,
            should,
            must_not,
            int(b.get("minimum_should_match", 0)),
        )
        qterms = list(must + should)
    elif kind == "dis_max":
        words = []
        for leaf in query["dis_max"]["queries"]:
            field, ws = _leaf_words(leaf, analyze)
            words.extend(ws)
        hits = idx.dis_max(
            list(dict.fromkeys(words)),
            field=field,
            tie_breaker=float(query["dis_max"].get("tie_breaker", 0.0)),
            k=k_fetch,
        )
        qterms = words
    elif kind == "constant_score":
        flt = query["constant_score"]["filter"]
        boost = float(query["constant_score"].get("boost", 1.0))
        if set(flt) == {"terms"}:
            # index-served any-of (Lucene TermInSetQuery rewrite)
            (field, terms), = flt["terms"].items()
            hits = idx.constant_score(
                list(terms), field="content", boost=boost, k=k_fetch
            )
            qterms = list(terms)
        else:
            # any other filter rule runs as the doc-value DSL over the
            # docs table (compile_filter), constant score = boost —
            # ES's constant_score over arbitrary filter context
            if docs is None:
                raise ValueError(
                    "constant_score over a non-terms filter requires "
                    "the docs table"
                )
            hits = (
                docs.where(compile_filter(flt))
                .select(
                    "doc_id", F.lit(float(boost)).alias("score")
                )
                .orderBy(F.asc("doc_id"))
                .limit(k_fetch)
            )
            qterms = []
    elif kind == "boosting":
        bq = query["boosting"]
        field, pos = _leaf_words(bq["positive"], analyze)
        _, neg = _leaf_words(bq["negative"], analyze)
        hits = idx.boosting(
            pos,
            neg,
            field=field,
            negative_boost=float(bq.get("negative_boost", 0.5)),
            k=k_fetch,
        )
        qterms = pos
    elif kind == "pinned":
        if docs is None:
            raise ValueError("pinned requires the docs table")
        pq = query["pinned"]
        field, words = _leaf_words(pq["organic"], analyze)
        hits = idx.pinned(
            words, [int(i) for i in pq["ids"]], docs, field=field, k=k_fetch
        )
        qterms = words
    elif kind == "terms_set":
        if docs is None:
            raise ValueError("terms_set requires the docs table")
        (field, spec), = query["terms_set"].items()
        req_col = spec["minimum_should_match_field"]
        hits = idx.terms_set(
            list(spec["terms"]),
            docs.select("doc_id", req_col),
            req_col,
            field=field,
            k=k_fetch,
        )
        qterms = list(spec["terms"])
    elif kind == "script_score":
        # ES script_score: re-score the inner query's matches with a
        # script over doc values and _score. Pinned script language: a
        # Spark SQL expression over the docs columns plus `_score` (the
        # inner match's BM25). The script may REORDER matches, so the
        # inner query scores its FULL match set (k=None, rounded 6 —
        # same construction as collapse) before the scripted top-k cut.
        if docs is None:
            raise ValueError("script_score requires the docs table")
        ss = query["script_score"]
        field, words = _match_words(ss["query"], analyze)
        spec = ss["script"]
        source = spec["source"] if isinstance(spec, dict) else spec
        from fuzzy_wiki_spark.operators.segment_query import (
            search_segments_batch,
        )
        from fuzzy_wiki_spark.plans.query import Clause

        clauses = [
            Clause(i, field, (t,), 1.0, 0, False)
            for i, t in enumerate(words)
        ]
        full = search_segments_batch(
            idx.spark,
            idx.segments,
            {0: clauses},
            idx._term_df(list(words)),
            idx.field_stats,
            k=None,
        ).select("doc_id", F.round("score", 6).alias("_score"))
        hits = (
            full.join(docs, "doc_id")
            .withColumn("score", F.expr(source))
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k_fetch)
            .select("doc_id", "score")
        )
        qterms = words
    elif kind == "query_string":
        # the ES query_string query: the Lucene QueryParser subset
        # (plans/qlang.py — +must/-must_not, "phrase"~slop, wildcards,
        # fuzzy, /regexp/, field: selectors, ^boosts) served by the
        # segment-native extended executor (SegmentIndex.extended — ONE
        # pruned-scan score_buckets job)
        qs = query["query_string"]
        text = qs["query"] if isinstance(qs, dict) else qs
        hits = idx.extended(text, k=k_fetch, analyze=analyze)
        from fuzzy_wiki_spark.plans.qlang import parse_extended

        eq = parse_extended(text, analyze=analyze)
        qterms = [
            t
            for a in (eq.must + eq.should)
            if a.kind in ("term", "phrase")
            for t in a.terms
        ]
    elif kind == "function_score":
        # the ES function_score query: shape the inner match's FULL
        # rounded score set with doc-value factor functions
        # (operators/scoring.function_score — factors combine by
        # product, boost_mode multiply/sum mirrors ES, the shaped score
        # rounds 6 before ranking). Pinned functions:
        # field_value_factor, linear decay (signed age days from
        # origin), rank_feature saturation, distance_feature (abs days
        # from origin). Field-free scripts are Spark SQL expressions
        # over the docs columns.
        if docs is None:
            raise ValueError("function_score requires the docs table")
        import fuzzy_wiki_spark.operators.scoring as SC
        from fuzzy_wiki_spark.operators.segment_query import (
            search_segments_batch,
        )
        from fuzzy_wiki_spark.plans.query import Clause

        fs_ = query["function_score"]
        field, words = _match_words(fs_["query"], analyze)
        clauses = [
            Clause(i, field, (t,), 1.0, 0, False)
            for i, t in enumerate(words)
        ]
        full = search_segments_batch(
            idx.spark,
            idx.segments,
            {0: clauses},
            idx._term_df(list(words)),
            idx.field_stats,
            k=None,
        ).select("doc_id", F.round("score", 6).alias("score"))
        factors, doc_cols = [], []

        def _vcol(b):
            return (
                F.expr(b["script"]) if "script" in b else F.col(b["field"])
            )

        for fn in fs_["functions"]:
            (fkind, b), = fn.items()
            if fkind == "field_value_factor":
                factors.append(
                    SC.field_value_factor(
                        b["field"],
                        b.get("modifier", "log1p"),
                        float(b.get("factor", 1.0)),
                    )
                )
                doc_cols.append(b["field"])
            elif fkind in ("linear", "gauss"):
                age = F.datediff(
                    F.lit(b["origin"]).cast("date"), _vcol(b)
                ).cast("double")
                if fkind == "linear":
                    factors.append(
                        SC.decay_linear(
                            age, float(b["scale"]),
                            offset=float(b.get("offset", 0.0)),
                        )
                    )
                else:
                    factors.append(
                        SC.decay_gauss(
                            age, float(b["scale"]),
                            decay=float(b.get("decay", 0.5)),
                            offset=float(b.get("offset", 0.0)),
                        )
                    )
                if "field" in b:
                    doc_cols.append(b["field"])
            elif fkind == "rank_feature":
                form = next(
                    f for f in ("saturation", "log", "sigmoid") if f in b
                )
                spec2 = b[form]
                factors.append(
                    SC.rank_feature_factor(
                        b["field"],
                        form,
                        pivot=float(spec2.get("pivot", 10.0)),
                        scaling=float(spec2.get("scaling_factor", 1.0)),
                        exponent=float(spec2.get("exponent", 1.0)),
                        boost=float(b.get("boost", 1.0)),
                    )
                )
                doc_cols.append(b["field"])
            elif fkind == "distance_feature":
                dist = F.abs(
                    F.datediff(_vcol(b), F.lit(b["origin"]).cast("date"))
                )
                factors.append(
                    SC.distance_feature_factor(
                        dist, float(b["pivot"]), float(b.get("boost", 1.0))
                    )
                )
                if "field" in b:
                    doc_cols.append(b["field"])
            else:
                raise ValueError(f"unsupported score function: {fkind}")
        hits = SC.function_score(
            full,
            docs,
            factors,
            doc_cols,
            k=k_fetch,
            boost_mode=fs_.get("boost_mode", "multiply"),
        )
        qterms = words
    elif kind == "simple_query_string":
        # translated onto the extended language (same executor as
        # query_string; _sqs_to_extended documents the pinned subset)
        sq = query["simple_query_string"]
        text = sq["query"] if isinstance(sq, dict) else sq
        default_op = (
            sq.get("default_operator", "or") if isinstance(sq, dict)
            else "or"
        ).lower()
        hits = idx.extended(
            _sqs_to_extended(text, default_op), k=k_fetch, analyze=analyze
        )
        from fuzzy_wiki_spark.plans.qlang import parse_extended

        eq = parse_extended(
            _sqs_to_extended(text, default_op), analyze=analyze
        )
        qterms = [
            t
            for a in (eq.must + eq.should)
            if a.kind in ("term", "phrase")
            for t in a.terms
        ]
    elif kind == "percolate":
        # the ES percolate query: match literal document(s) against the
        # registered-rule frame (query_id, terms, min_match) — the
        # reverse-search surface (operators/percolate.percolate:
        # broadcast rule join for rule sets under the size gate, the
        # two-phase term-keyed shuffle join past it; the matched-pairs
        # agg is the only other shuffle). Document text analyzes with
        # the same chain as the rules; multiple documents carry their
        # list index (or "_id") as doc_id.
        if rules is None:
            raise ValueError("percolate requires the rules frame")
        from fuzzy_wiki_spark.operators.percolate import (
            percolate as _percolate,
        )

        pc = query["percolate"]
        docs_lit = pc.get("documents") or [pc["document"]]
        fname = pc.get("field", "text")
        rows_ = [
            (int(d.get("_id", i)), " ".join(analyze(str(d[fname]))))
            for i, d in enumerate(docs_lit)
        ]
        ddf = rules.sparkSession.createDataFrame(
            rows_, "doc_id long, text string"
        )
        hits = _percolate(ddf, rules)
        qterms = []
    elif kind == "intervals":
        (field, rule), = query["intervals"].items()
        hits = idx.intervals(rule, field=field, k=k_fetch)
        from fuzzy_wiki_spark.operators.spans import compile_intervals

        slots, _, _ = compile_intervals(rule)
        qterms = [t for s in slots for t in s]
    elif kind == "span_near":
        sn = query["span_near"]
        slop = int(sn.get("slop", 0))
        ordered = bool(sn.get("in_order", True))
        clauses = sn["clauses"]
        if any(set(c) in ({"span_or"}, {"span_multi"}) for c in clauses):
            if not ordered:
                raise ValueError(
                    "span_or/span_multi chains are ordered-only"
                )
            slots = []
            for c in clauses:
                if set(c) == {"span_or"}:
                    alt = [
                        _span_term(sc) for sc in c["span_or"]["clauses"]
                    ]
                    field = alt[0][0]
                    slots.append(tuple(t for _, t in alt))
                elif set(c) == {"span_multi"}:
                    # Lucene SpanMultiTermQueryWrapper: rewrite the
                    # multi-term query against the term dictionary
                    # (bounded, lex order), the expansion becomes the
                    # slot's alternatives
                    m = c["span_multi"]["match"]
                    if set(m) != {"prefix"}:
                        raise ValueError(
                            "span_multi subset wraps a prefix query"
                        )
                    (field, spec), = m["prefix"].items()
                    maxexp = (
                        int(spec.get("max_expansions", 10))
                        if isinstance(spec, dict)
                        else 10
                    )
                    exps = idx.resolve_prefix(
                        _value(spec), field=field, max_expansions=maxexp
                    )
                    if not exps:
                        hits = idx.spark.createDataFrame(
                            [], "doc_id long, gaps long"
                        )
                        qterms = []
                        slots = None
                        break
                    slots.append(tuple(exps))
                else:
                    field, t = _span_term(c)
                    slots.append((t,))
            if slots is not None:
                hits = idx.span_or(
                    tuple(slots), slop, ordered=True, field=field,
                    k=k_fetch,
                )
                qterms = [t for s in slots for t in s]
        else:
            pairs = [_span_term(c) for c in clauses]
            field = pairs[0][0]
            terms = tuple(t for _, t in pairs)
            if ordered:
                hits = idx.span_near(
                    terms, field=field, slop=slop, k=k_fetch
                )
            else:
                # Lucene unordered slop == covering window of
                # |terms| + slop positions
                hits = idx.span_within(
                    terms, len(terms) + slop, field=field, k=k_fetch
                )
            qterms = list(terms)
    elif kind == "span_first":
        sf_ = query["span_first"]
        field, t = _span_term(sf_["match"])
        hits = idx.span_first(t, int(sf_["end"]), field=field, k=k_fetch)
        qterms = [t]
    elif kind in ("span_containing", "span_within"):
        sc = query[kind]
        big = sc["big"]
        if set(big) != {"span_near"}:
            raise ValueError(f"{kind}.big subset: a span_near chain")
        bn = big["span_near"]
        pairs = [_span_term(c) for c in bn["clauses"]]
        if len(pairs) != 2 or not bn.get("in_order", True):
            raise ValueError(
                f"{kind}.big subset: an ordered two-span_term chain"
            )
        field = pairs[0][0]
        _, lt = _span_term(sc["little"])
        hits = idx.span_containing(
            (pairs[0][1], pairs[1][1]),
            lt,
            slop=int(bn.get("slop", 0)),
            inside=(kind == "span_within"),
            field=field,
            k=k_fetch,
        )
        qterms = [pairs[0][1], pairs[1][1], lt]
    elif kind == "span_not":
        sn = query["span_not"]
        field, inc = _span_term(sn["include"])
        _, exc = _span_term(sn["exclude"])
        hits = idx.span_not(
            inc,
            exc,
            pre=int(sn.get("pre", 0)),
            post=int(sn.get("post", 0)),
            field=field,
            k=k_fetch,
        )
        qterms = [inc]
    elif kind in ("range", "exists", "ids"):
        # ES doc-value queries in QUERY context: the match set comes
        # from the same term-level DSL filter context uses
        # (operators/boolean.compile_filter — the predicate folds into
        # the docs scan, pushdown-able), scored constant 1·boost like
        # ES scores range/exists/ids matches. First-k by doc_id.
        if docs is None:
            raise ValueError(f"{kind} requires the docs table")
        qspec = query[kind]
        if kind == "range":
            (fld, bounds), = qspec.items()
            bounds = dict(bounds)
            boost = float(bounds.pop("boost", 1.0))
            flt = {"range": {fld: bounds}}
        elif kind == "exists":
            boost = float(qspec.get("boost", 1.0))
            flt = {"exists": {"field": qspec["field"]}}
        else:
            boost = float(qspec.get("boost", 1.0))
            flt = {"ids": {"values": list(qspec["values"])}}
        hits = (
            docs.where(compile_filter(flt))
            .select(
                "doc_id", F.lit(float(boost)).alias("score")
            )
            .orderBy(F.asc("doc_id"))
            .limit(k_fetch)
        )
        qterms = []
    elif kind == "has_child":
        # ES has_child: return PARENTS whose children match the inner
        # query. Pinned subset: ``type`` names the join-field column on
        # the docs table (ES keeps the relation in the index mapping;
        # this compiler takes the column name directly), the inner
        # query is a match leaf, scored over its FULL match set (a
        # top-k θ bound could prune some parent's best child — same
        # k=None rationale as collapse). Routes to the hash-verified
        # operators/parent_child.has_child_topk; ``inner_hits`` gives
        # the Lucene TopGroups surface via the likewise-verified
        # grouped_topk (top-m matching children within each of the k
        # best parents).
        if docs is None:
            raise ValueError("has_child requires the docs table")
        from fuzzy_wiki_spark.operators.parent_child import (
            has_child_topk,
        )
        from fuzzy_wiki_spark.operators.segment_query import (
            search_segments_batch,
        )
        from fuzzy_wiki_spark.plans.query import Clause

        hc = query["has_child"]
        inner = hc["query"]
        if set(inner) != {"match"}:
            raise ValueError("has_child inner query pinned to a match leaf")
        field, words = _match_words(inner, analyze)
        clauses = [
            Clause(i, field, (t,), 1.0, 0, False)
            for i, t in enumerate(words)
        ]
        full = search_segments_batch(
            idx.spark,
            idx.segments,
            {0: clauses},
            idx._term_df(list(words)),
            idx.field_stats,
            k=None,
        ).select("doc_id", F.round("score", 6).alias("score"))
        if "inner_hits" in hc:
            from fuzzy_wiki_spark.operators.collapse import grouped_topk

            if offset:
                # m child rows per parent: a row-offset page has no ES
                # meaning (same rule as collapse.inner_hits)
                raise ValueError(
                    "from cannot combine with has_child.inner_hits"
                )
            hits = grouped_topk(
                full,
                docs.select(
                    "doc_id", F.col(hc["type"]).alias("group")
                ),
                m=int(hc["inner_hits"].get("size", 3)),
                k=k,
            )
        else:
            hits = has_child_topk(
                full,
                docs,
                hc["type"],
                k=k_fetch,
                score_mode=hc.get("score_mode", "max"),
                min_children=int(hc.get("min_children", 1)),
                max_children=(
                    int(hc["max_children"])
                    if "max_children" in hc
                    else None
                ),
            )
        qterms = words
    elif kind == "has_parent":
        # ES has_parent: return CHILDREN whose parent value satisfies
        # the inner predicate. Pinned subset: ``parent_type`` names the
        # join-field column; the inner query is the term-level filter
        # DSL over the parent value exposed as the ``parent`` column
        # (the parent match filters — never relevance-scores — the
        # children, so score is the constant ``boost``, per ES).
        # Routes to the hash-verified parent_child.has_parent_topk.
        if docs is None:
            raise ValueError("has_parent requires the docs table")
        from fuzzy_wiki_spark.operators.parent_child import (
            has_parent_topk,
        )

        hp = query["has_parent"]
        hits = has_parent_topk(
            docs,
            hp["parent_type"],
            compile_filter(hp["query"]),
            boost=float(hp.get("boost", 1.0)),
            k=k_fetch,
        )
        qterms = []
    elif kind == "nested":
        # ES nested: parents whose nested objects — an array<struct>
        # column on the docs table, the ``path`` — contain an element
        # matching the inner predicate. Pinned subset: score_mode
        # "none" (ES filter-context nested: constant score 1·boost)
        # and a term/range leaf on one ``path.field``. The predicate
        # compiles to F.exists over the array column — zero explode,
        # zero shuffle, folds into the scan — and ``inner_hits``
        # returns the matching elements via F.filter on the same
        # lambda (the k-row frame only).
        if docs is None:
            raise ValueError("nested requires the docs table")
        ne = query["nested"]
        if ne.get("score_mode", "none") != "none":
            raise ValueError("nested subset: score_mode none only")
        path = ne["path"]
        pred = _nested_elem_pred(path, ne["query"])
        base = (
            docs.where(F.exists(F.col(path), pred))
            .select(
                "doc_id",
                F.lit(float(ne.get("boost", 1.0))).alias("score"),
            )
            .orderBy(F.asc("doc_id"))
            .limit(k_fetch)
        )
        if "inner_hits" in ne:
            m = int(ne["inner_hits"].get("size", 3))
            base = base.join(
                docs.select(
                    "doc_id",
                    F.slice(F.filter(F.col(path), pred), 1, m).alias(
                        "inner_hits"
                    ),
                ),
                "doc_id",
            )
        hits = base
        qterms = []
    else:
        raise ValueError(f"unsupported query rule: {kind}")

    # --- total hit count ------------------------------------------------
    if body.get("track_total_hits"):
        tt_msm = 0
        if kind == "match":
            (_, _mspec), = query["match"].items()
            if isinstance(_mspec, dict) and _mspec.get(
                "operator", "or"
            ) == "and":
                tt = (tuple(qterms), (), ())
            else:
                tt = ((), tuple(qterms), ())
                tt_msm = (
                    int(_mspec.get("minimum_should_match", 0))
                    if isinstance(_mspec, dict)
                    else 0
                )
        elif kind == "term":
            tt = (tuple(qterms), (), ())
        elif kind == "bool":
            b = query["bool"]
            slots = {}
            for name in ("must", "should", "must_not"):
                ws: list[str] = []
                for leaf in b.get(name, []):
                    _, lws = _leaf_words(leaf, analyze)
                    ws.extend(lws)
                slots[name] = tuple(dict.fromkeys(ws))
            tt = (slots["must"], slots["should"], slots["must_not"])
            tt_msm = int(b.get("minimum_should_match", 0))
        else:
            raise ValueError(
                "track_total_hits pinned to match/bool/term queries"
            )
        total = _total_hits(
            idx, field, *tt, filter_ids=filter_ids, msm=tt_msm
        )

    # --- rescore (Lucene QueryRescorer; replaces the first-pass hits).
    # Built from the compiler's own analyzed terms — NOT
    # SegmentIndex.rescore_phrase, whose string-query path re-analyzes
    # with the porter chain (wrong for simple-mode indexes). Same
    # construction as the hash-verified seg_rescore entry: full-set
    # scores rounded 6 BEFORE the window cut (the oracle's tie
    # handling), window materialized once, phrase signal from a
    # term-pruned decode restricted to the window. ---------------------
    if "rescore" in body:
        if kind != "match":
            raise ValueError("rescore pinned to a match first pass")
        rs = body["rescore"]
        rq = rs["query"]["rescore_query"]
        if set(rq) != {"match_phrase"}:
            raise ValueError("rescore_query subset: match_phrase")
        (rfield, rtext), = rq["match_phrase"].items()
        phrase = tuple(analyze(rtext))
        first_k = int(rs.get("window_size", 100))
        weight = float(rs["query"].get("rescore_query_weight", 1.0))
        from fuzzy_wiki_spark.operators.rescore import (
            phrase_occurrences,
            rescore_topk,
        )
        from fuzzy_wiki_spark.operators.segment_query import (
            search_segments_batch,
        )
        from fuzzy_wiki_spark.plans.query import Clause

        clauses = [
            Clause(i, field, (t,), 1.0, 0, False)
            for i, t in enumerate(qterms)
        ]
        full = search_segments_batch(
            idx.spark,
            idx.segments,
            {0: clauses},
            idx._term_df(list(qterms)),
            idx.field_stats,
            k=None,
        ).select("doc_id", F.round("score", 6).alias("score"))
        window = (
            full.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(first_k)
            .persist()
        )
        sig = phrase_occurrences(
            idx.term_postings(rfield, sorted(set(phrase)), with_dl=False),
            rfield,
            phrase,
            candidates=window,
        )
        try:
            res = rescore_topk(
                window, sig, first_k=first_k, k=k_fetch, weight=weight
            )
            collected = res.collect()
            hits = idx.spark.createDataFrame(collected, res.schema)
        finally:
            window.unpersist()

    # --- sort / collapse ----------------------------------------------
    sort = body.get("sort")
    if sort and sort != [{"_score": "desc"}] and sort != ["_score"]:
        if docs is None:
            raise ValueError("field sort requires the docs table")
        spec_list = []
        for entry in sort:
            (sf, spec), = entry.items()
            if sf == "_score":
                raise ValueError(
                    "mixed _score sorts not in the pinned subset"
                )
            asc = (
                spec.get("order", "asc")
                if isinstance(spec, dict)
                else spec
            ) == "asc"
            spec_list.append((sf, asc))
        after = (
            tuple(body["search_after"])
            if "search_after" in body
            else None
        )
        if len(spec_list) == 1:
            sf, asc = spec_list[0]
            hits = idx.sort_by_field(
                qterms,
                docs.select("doc_id", sf),
                sf,
                k=k,
                ascending=asc,
                after=after,
            )
        else:
            # multi-field sort: lexicographic key over the doc values,
            # search_after = (v1, ..., vn, doc_id) strict-inequality
            # cursor (sort_by_fields_topk — same pruned-scan plan)
            hits = idx.sort_by_fields(
                qterms,
                docs.select(
                    "doc_id", *[c for c, _ in spec_list]
                ),
                spec_list,
                k=k,
                after=after,
            )
    if "collapse" in body:
        if docs is None:
            raise ValueError("collapse requires the docs table")
        from fuzzy_wiki_spark.operators.collapse import (
            collapse_topk,
            grouped_topk,
        )
        from fuzzy_wiki_spark.operators.segment_query import (
            search_segments_batch,
        )
        from fuzzy_wiki_spark.plans.query import Clause

        grp = body["collapse"]["field"]
        # collapse needs EVERY group's best hit: full-set scoring with
        # the same per-term should clauses the hits path used (k=None —
        # a top-k θ bound could prune some group's best doc)
        clauses = [
            Clause(i, field, (t,), 1.0, 0, False)
            for i, t in enumerate(qterms)
        ]
        full = search_segments_batch(
            idx.spark,
            idx.segments,
            {0: clauses},
            idx._term_df(list(qterms)),
            idx.field_stats,
            k=None,
        ).select("doc_id", F.round("score", 6).alias("score"))
        if "inner_hits" in body["collapse"]:
            # collapse + inner_hits == the Lucene grouping/TopGroups
            # surface: top-m hits WITHIN each group, k groups ranked by
            # their best hit (operators/collapse.grouped_topk — group
            # ranking is a partial top-k, never a full-frame window)
            m = int(body["collapse"]["inner_hits"].get("size", 3))
            if offset:
                # grouped hits carry m rows per group — a row-offset
                # page over that frame has no ES meaning; reject loudly
                raise ValueError(
                    "from cannot combine with collapse.inner_hits"
                )
            hits = grouped_topk(
                full,
                docs.select("doc_id", F.col(grp).alias("group")),
                m=m,
                k=k,
            )
        else:
            hits = collapse_topk(
                full,
                docs.select("doc_id", F.col(grp).alias("group")),
                k=k_fetch,
            )

    # --- min_score / from (shallow paging on the scored frame) ---------
    if "min_score" in body:
        if "score" not in hits.columns:
            raise ValueError("min_score needs a scored hits frame")
        hits = hits.where(F.col("score") >= float(body["min_score"]))
    if offset:
        # hits are keyed by doc_id, or by parent for has_child
        key = next(
            (c for c in ("doc_id", "parent") if c in hits.columns), None
        )
        if key is None or "score" not in hits.columns:
            raise ValueError(
                "from/offset pinned to scored (doc_id|parent, score)"
            )
        from pyspark.sql import Window

        # the frame is ≤ from+size rows (already cut by the operator) —
        # the rank window is driver-trivial, never corpus-sized
        w = Window.orderBy(F.desc("score"), F.asc(key))
        hits = (
            hits.withColumn("_r", F.row_number().over(w))
            .where(F.col("_r") > offset)
            .drop("_r")
        )

    # --- _source (stored fields join the ≤k hits, never the corpus) ----
    if "_source" in body:
        if docs is None:
            raise ValueError("_source requires the docs table")
        cols = list(body["_source"])
        hits = hits.join(docs.select("doc_id", *cols), "doc_id")

    # --- highlight (runs AFTER the cut: text joins k docs, never the
    # corpus — the docstore split) --------------------------------------
    if "highlight" in body:
        if docs is None:
            raise ValueError("highlight requires the docs table")
        from fuzzy_wiki_spark.functions.text import snippet_struct

        hbody = body["highlight"]
        window = int(hbody.get("fragment_size", 10))
        snip = snippet_struct(
            F.col(hbody.get("field", "text")), sorted(set(qterms)),
            window=window,
            pre_tag=hbody.get("pre_tags", ["["])[0],
            post_tag=hbody.get("post_tags", ["]"])[0],
        )
        hits = hits.join(
            docs.select("doc_id", hbody.get("field", "text")), "doc_id"
        ).select(
            *[c for c in hits.columns], snip["snippet"].alias("snippet")
        )

    # --- suggesters (term_stats side-channel / index-native collation) -
    for name, sbody in body.get("suggest", {}).items():
        text = sbody["text"]
        if "term" in sbody:
            from fuzzy_wiki_spark.operators.term_expansion import (
                suggest_terms,
            )

            t = sbody["term"]
            suggest_out[name] = suggest_terms(
                idx.term_stats,
                t.get("field", "content"),
                text,
                max_dist=int(t.get("max_edits", 2)),
                k=int(t.get("size", 5)),
            )
        elif "phrase" in sbody:
            p = sbody["phrase"]
            suggest_out[name] = idx.phrase_suggest(
                list(analyze(text)),
                field=p.get("field", "content"),
                per_term=int(p.get("candidates", 5)),
                k=int(p.get("size", 3)),
            )
        else:
            raise ValueError(f"unsupported suggester: {sorted(sbody)}")

    # --- aggregations over the query's match set ----------------------
    for name, spec in body.get("aggs", {}).items():
        # the sub-agg body ("aggs") sits BESIDE the kind key in ES
        akind = next(k for k in spec if k != "aggs")
        abody = spec[akind]
        if docs is None and akind not in ("filters", "significant_terms"):
            raise ValueError("aggs require the docs table")

        def _val(ab):
            return F.expr(ab["script"]) if "script" in ab else ab["field"]

        if akind == "terms":
            sub = spec.get("aggs")
            if sub and any("top_hits" in m for m in sub.values()):
                # ES top_hits sub-agg: the top-m hits WITHIN each bucket
                # — full-set scoring (a global-k θ bound could prune a
                # small bucket's winners), facet join, window rank
                # partitioned by facet (facets.grouped_topk)
                if len(sub) != 1:
                    raise ValueError(
                        "top_hits must be the only sub-agg in the "
                        "pinned subset"
                    )
                # bucket hits are the OR-match over qterms: only term
                # and OR match queries have those main hits
                if not (kind == "term" or kind == "match" and not any(
                    isinstance(v, dict) and (
                        v.get("operator", "or") != "or"
                        or v.get("minimum_should_match")
                    )
                    for v in query["match"].values()
                )):
                    raise ValueError(
                        "top_hits is pinned to term and OR match queries"
                    )
                (th_body,), = [list(sub.values())[0].values()]
                m = int(th_body.get("size", 3))
                from fuzzy_wiki_spark.operators.facets import (
                    grouped_topk as _fgt,
                )
                from fuzzy_wiki_spark.operators.segment_query import (
                    search_segments_batch,
                )
                from fuzzy_wiki_spark.plans.query import Clause

                clauses = [
                    Clause(i, field, (t,), 1.0, 0, False)
                    for i, t in enumerate(qterms)
                ]
                full = search_segments_batch(
                    idx.spark,
                    idx.segments,
                    {0: clauses},
                    idx._term_df(list(qterms)),
                    idx.field_stats,
                    k=None,
                ).select(
                    "doc_id", F.round("score", 6).alias("score")
                )
                scored = full.join(
                    docs.select("doc_id", abody["field"]), "doc_id"
                )
                aggs_out[name] = _fgt(
                    scored, facet_col=abody["field"], k=m
                )
            elif sub:
                # metric sub-aggregations: each rides the SAME single
                # combinable groupBy as the bucket count
                metrics = []
                for mname, mspec in sub.items():
                    (mkind, mb), = mspec.items()
                    metrics.append((mname, mkind, mb["field"]))
                aggs_out[name] = idx.terms_with_metrics(
                    qterms, docs, abody["field"], metrics
                )
            else:
                aggs_out[name] = idx.facet_counts(
                    qterms, docs, abody["field"]
                )
        elif akind == "stats":
            aggs_out[name] = idx.facet_stats(
                qterms, docs, abody.get("group_by", "lang"), _val(abody)
            )
        elif akind == "date_histogram":
            aggs_out[name] = idx.date_histogram(
                qterms,
                docs,
                _val(abody),
                interval=abody.get("calendar_interval", "month"),
            )
        elif akind == "range":
            ranges = [
                (r["key"], r.get("from"), r.get("to"))
                for r in abody["ranges"]
            ]
            aggs_out[name] = idx.range_facets(
                qterms, docs, ranges, _val(abody)
            )
        elif akind == "histogram":
            aggs_out[name] = idx.histogram_facet(
                qterms, docs, int(abody["interval"]), _val(abody)
            )
        elif akind == "cardinality":
            aggs_out[name] = idx.facet_cardinality(
                qterms,
                docs,
                facet_col=abody.get("group_by", "lang"),
                of_col=abody["field"],
            )
        elif akind == "percentiles":
            aggs_out[name] = idx.facet_percentiles(
                qterms,
                docs,
                abody.get("group_by", "lang"),
                _val(abody),
                percentiles=tuple(
                    p / 100.0 for p in abody.get("percents", (50, 90, 99))
                ),
            )
        elif akind == "value_count":
            aggs_out[name] = idx.value_count_agg(
                qterms, docs, abody.get("group_by", "lang"), _val(abody)
            )
        elif akind == "missing":
            aggs_out[name] = idx.missing_agg(qterms, docs, _val(abody))
        elif akind == "global":
            aggs_out[name] = idx.global_agg(qterms, docs, abody["field"])
        elif akind == "filters":
            aggs_out[name] = idx.filters_agg(
                {
                    fname: list(f["terms"][next(iter(f["terms"]))])
                    for fname, f in abody["filters"].items()
                }
            )
        elif akind == "significant_terms":
            aggs_out[name] = idx.significant_terms(
                qterms,
                k=int(abody.get("size", 10)),
                min_doc_count=int(abody.get("min_doc_count", 3)),
            )
        elif akind == "date_range":
            ranges = [
                (r["key"], r.get("from"), r.get("to"))
                for r in abody["ranges"]
            ]
            aggs_out[name] = idx.date_range_agg(
                qterms, docs, ranges, _val(abody)
            )
        elif akind == "auto_date_histogram":
            # engine returns (chosen_interval, frame); the frame is the
            # aggregation result
            _, aggs_out[name] = idx.auto_date_histogram(
                qterms, docs, _val(abody),
                target_buckets=int(abody.get("buckets", 10)),
            )
        elif akind == "composite":
            # sources: [{name: {"terms": {"field": f}}}, ...] → [f, ...]
            fields_ = []
            for s in abody["sources"]:
                (_, srule), = s.items()
                fields_.append(srule["terms"]["field"])
            aggs_out[name] = idx.composite_agg(
                qterms,
                docs,
                fields_,
                size=int(abody.get("size", 10)),
                after=tuple(abody["after"]) if "after" in abody else None,
            )
        elif akind == "adjacency_matrix":
            aggs_out[name] = idx.adjacency_matrix(
                {fname: list(f["terms"][next(iter(f["terms"]))])
                 for fname, f in abody["filters"].items()}
            )
        elif akind == "rare_terms":
            aggs_out[name] = idx.rare_terms(
                qterms, docs, abody["field"],
                max_doc_count=int(abody.get("max_doc_count", 1)),
            )
        elif akind == "multi_terms":
            aggs_out[name] = idx.multi_terms(
                qterms, docs,
                [t["field"] for t in abody["terms"]],
                int(abody.get("size", 10)),
            )
        elif akind == "weighted_avg":
            aggs_out[name] = idx.weighted_avg(
                qterms, docs,
                abody["value"]["field"], abody["weight"]["field"],
            )
        elif akind == "string_stats":
            aggs_out[name] = idx.string_stats(qterms, docs, abody["field"])
        elif akind == "median_absolute_deviation":
            aggs_out[name] = idx.median_abs_dev(
                qterms, docs, abody["field"]
            )
        elif akind == "boxplot":
            aggs_out[name] = idx.boxplot_agg(qterms, docs, abody["field"])
        elif akind == "top_metrics":
            (sort_col, _), = abody["sort"].items() if isinstance(
                abody["sort"], dict
            ) else abody["sort"][0].items()
            aggs_out[name] = idx.top_metrics(
                qterms,
                docs,
                abody.get("group_by", "lang"),
                sort_col,
                [m["field"] for m in abody["metrics"]],
            )
        else:
            raise ValueError(f"unsupported agg: {akind}")

    # --- explain (per-request, ES _explain for the top hit): the
    # per-term BM25 factor breakdown of the best-scoring document —
    # a one-doc filter over the term-pruned decode, |qterms| rows ------
    explanation = None
    if body.get("explain"):
        if kind not in ("match", "bool", "term"):
            raise ValueError("explain pinned to match/bool/term queries")
        from fuzzy_wiki_spark.operators.topk import idf as _idf

        top = hits.orderBy(F.desc("score"), F.asc("doc_id")).head(1)
        if top:
            top1 = top[0]["doc_id"]
            doc_count, avgdl = idx.field_stats[field]
            term_df = idx._term_df(list(qterms))
            found = {
                r["term"]: (int(r["tf"]), int(r["dl"]))
                for r in idx.term_postings(field, sorted(set(qterms)))
                .where(F.col("doc_id") == top1)
                .collect()
            }
            dl = next(iter(found.values()), (0, 0))[1]
            k1, b = 1.2, 0.75
            rows_ = []
            for t in qterms:
                w = _idf(term_df.get((field, t), 0), doc_count)
                freq = float(found.get(t, (0, 0))[0])
                tfn = (
                    freq / (freq + k1 * (1 - b + b * dl / avgdl))
                    if freq > 0
                    else 0.0
                )
                rows_.append(
                    (t, round(w, 6), freq, dl, round(tfn, 6),
                     round(w * tfn, 6))
                )
            explanation = idx.spark.createDataFrame(
                rows_,
                "term string, weight double, freq double, dl long,"
                " tf_norm double, contrib double",
            )

    # --- profile (ES profile API analog): the executed physical plan of
    # the hits frame — what actually runs, for plan-shape inspection ---
    profile = None
    if body.get("profile"):
        profile = hits._jdf.queryExecution().executedPlan().toString()

    return {
        "hits": hits,
        "aggregations": aggs_out,
        "suggest": suggest_out,
        "total": total,
        "explanation": explanation,
        "profile": profile,
    }


def render_template(node, params: dict):
    """Mustache-subset search-template rendering (the ES
    `_search/template` surface): a string that IS exactly ``{{name}}``
    takes the parameter's raw value (so numbers and lists inject
    typed); any other string substitutes each ``{{name}}`` occurrence
    textually. Dict/list structures recurse; unknown parameters raise
    (ES renders empty — silently broken queries — the loud contract is
    deliberate)."""
    if isinstance(node, dict):
        return {k: render_template(v, params) for k, v in node.items()}
    if isinstance(node, list):
        return [render_template(v, params) for v in node]
    if isinstance(node, str):
        import re

        names = re.findall(r"\{\{(\w+)\}\}", node)
        for n in names:
            if n not in params:
                raise ValueError(f"unbound template parameter: {n}")
        if len(names) == 1 and node == "{{" + names[0] + "}}":
            return params[names[0]]
        for n in names:
            node = node.replace("{{" + n + "}}", str(params[n]))
        return node
    return node


def es_search_template(
    idx,
    template: dict,
    params: dict,
    docs: DataFrame | None = None,
    vectors: DataFrame | None = None,
    analyze=str.split,
) -> dict:
    """ES `_search/template`: render the mustache-subset template with
    ``params``, then execute the resulting body through es_search."""
    return es_search(
        idx,
        render_template(template, params),
        docs=docs,
        vectors=vectors,
        analyze=analyze,
    )


def es_msearch(
    idx,
    bodies: list,
    docs: DataFrame | None = None,
    vectors: DataFrame | None = None,
    rules: DataFrame | None = None,
    analyze=str.split,
) -> list:
    """ES `_msearch`: execute a batch of request bodies. The batchable
    subset — bodies that are a bare ``match`` leaf on ONE shared field
    plus ``size`` — compiles into a SINGLE segment job
    (operators/segment_query.search_segments_batch): every query's
    clauses ride one term-pruned bucket decode, so the per-bucket scan
    and decode cost is paid once for the whole batch instead of once
    per query (the scale path for query-set replay; same machinery as
    SegmentIndex.search_many). Mixed batches fall back to per-body
    es_search calls, which is ES's own execution model (msearch is a
    transport batch, not a plan batch). Returns one result dict per
    body, in order; batched hits carry (doc_id, score, rank)."""
    from fuzzy_wiki_spark.plans.query import Clause

    def _batchable(b):
        q = b.get("query", {})
        if not (set(b) <= {"query", "size"} and set(q) == {"match"}):
            return None
        f, words = _match_words(q, analyze)
        return f, words

    parsed = [_batchable(b) for b in bodies]
    fields = {p[0] for p in parsed if p}
    if all(parsed) and len(fields) == 1:
        from fuzzy_wiki_spark.operators.segment_query import (
            search_segments_batch,
        )

        field = fields.pop()
        ks = [int(b.get("size", 10)) for b in bodies]
        compiled = {
            i: [
                Clause(j, field, (t,), 1.0, 0, False)
                for j, t in enumerate(words)
            ]
            for i, (_, words) in enumerate(parsed)
        }
        all_terms = sorted({t for _, ws in parsed for t in ws})
        res = search_segments_batch(
            idx.spark,
            idx.segments,
            compiled,
            idx._term_df(all_terms),
            idx.field_stats,
            k=max(ks),
        )
        return [
            {
                "hits": res.where(
                    (F.col("query_id") == i) & (F.col("rank") <= ks[i])
                ).select("doc_id", "score", "rank"),
                "aggregations": {},
                "suggest": {},
                "total": None,
            }
            for i in range(len(bodies))
        ]
    return [
        es_search(
            idx, b, docs=docs, vectors=vectors, rules=rules,
            analyze=analyze,
        )
        for b in bodies
    ]
