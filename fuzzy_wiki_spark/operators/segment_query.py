"""Segment-backed BM25 top-k: per-bucket DAAT scoring with MaxScore pruning.

The v2 query path (SURVEY.md §7 step 6). The v1 engine (topk.py) scores the
raw postings DataFrame; this one reads the compressed ``index_segments``
layout (segments.py) and executes the reference's scatter / partial-top-k /
gather shape (Searcher.java:66-68 + WikiSearcher O23/O24 + merge O15)
entirely inside Spark:

    segments.where(term IN query ∪ META_*)           ← partition+rowgroup prune
      → repartitionById(n, bucket)                   ← bucket b → task b mod n,
        sortWithinPartitions(bucket)                   n = min(shuffle
        mapInPandas(bucket_topk per bucket)            partitions, buckets)
      → single query: TakeOrderedAndProject(k)
        batch: row_number() per query_id, rank ≤ k

Inside a bucket, one ``BucketView`` reads the segment rows column-wise
and serves both kernels (``bucket_topk`` for BM25 clauses,
``extended_bucket_topk`` for the extended query language); everything is
vectorized numpy over decoded arrays:
- delta+varint decode of doc_ids/tfs (codec.py), memoised per
  (field, term) and k-way-merged across incremental generations,
- per-doc dl from the bucket's ``META_DL`` meta rows (same codec), and
  the redirect and tombstone sets from its ``META_REDIRECT``/
  ``META_DELETED`` rows (segments.py owns the keys; this is their only
  in-task reader); each kernel applies its own exclusion policy to them,
- term-clause contributions via searchsorted joins,
- sloppy-phrase via the shared phrase kernel (operators/phrase.py):
  positions are decoded lazily into one flat array per (field, term), and
  only the docs containing ALL phrase terms reach the kernel,
- **MaxScore pruning** (WAND family, bounds from the stored block-max/max_tf
  metadata): score the highest-upper-bound clause first → θ = its k-th best
  partial score (a valid lower bound on the final k-th score); clauses whose
  suffix upper-bound sum is < θ are non-essential — docs appearing ONLY in
  non-essential clauses can never enter the top-k, so the candidate set is
  the union of essential clauses' postings and non-essential lists are only
  probed at candidate positions. Exact top-k, skew-proof (hot terms are
  split across buckets by construction).

At 10^12-file scale each scoring task holds the buckets b ≡ i (mod n) and
reads only the query terms' segment rows for them — the scan is pruned by
partition (bucket) and by parquet row-group stats on the sorted ``term``
column.
"""

from __future__ import annotations

import math
import re
from collections.abc import Iterator
from dataclasses import dataclass
from functools import reduce

import numpy as np
import pandas as pd

from fuzzy_wiki_spark.codec import (
    decode_doc_block,
    decode_tf_block,
    decode_tfs,
    delta_decode_blocked,
    varint_decode,
)
from fuzzy_wiki_spark.operators.segments import (
    BLOCK,
    META_DELETED,
    META_DL,
    META_REDIRECT,
    decode_positions,
)
from fuzzy_wiki_spark.operators.phrase import phrase_costs
from fuzzy_wiki_spark.plans.query import B, K1, Clause

# hive-style partition directory of one bucket in a written segment table
_BUCKET_DIR = re.compile(r"/bucket=(\d+)/")


def _tf_norm(freq: np.ndarray, dl: np.ndarray, avgdl: float) -> np.ndarray:
    return freq / (freq + K1 * (1.0 - B + B * dl / avgdl))


def _clause_ub(weight: float, max_tf: int) -> float:
    """Upper bound of a clause's contribution: tf_norm is increasing in tf
    and decreasing in dl; bound with dl→0 ⇒ tf/(tf + k1(1−b))."""
    if max_tf <= 0:
        return 0.0
    return weight * max_tf / (max_tf + K1 * (1.0 - B))


_EMPTY = pd.DataFrame({"doc_id": [], "score": []}).astype(
    {"doc_id": "int64", "score": "float64"}
)

# per-process decode accounting (tests + bench read this after driver-side
# calls; on executors it's worker-local and unused)
PRUNE_STATS = {"blocks_decoded": 0, "blocks_total": 0, "cands_skipped": 0}


def _runs(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Indices of the ranges [starts[j], starts[j] + lens[j]), in order."""
    return np.repeat(starts - np.cumsum(lens) + lens, lens) + np.arange(
        lens.sum()
    )


class BucketView:
    """One bucket's segment rows, read column-wise once and shared by the
    segment kernels.

    ``cols`` maps each column to its numpy array and ``rows`` each
    (field, term) key to its row positions (for ``max_tf`` and block-max
    metadata). Meta rows are decoded up front: ``dl[field]`` is (sorted
    doc ids, doc lengths); ``redirects`` and ``deleted`` are sorted doc id
    sets that each kernel applies by its own policy. ``postings`` and
    ``positions`` are decoded on first use and memoised.

    A key has one row per incremental generation holding the term
    (streaming/incremental.py load_generations); decodes k-way-merge them
    by doc_id. A doc_id lives in exactly one generation (append_batch's
    contract), so the merge sorts disjoint runs.

    ``meta`` (``self.meta`` of an earlier view of the same frame) skips the
    meta decode; the posting memo always starts empty.
    """

    def __init__(self, seg_pdf: pd.DataFrame, meta: tuple | None = None):
        self.cols = {c: seg_pdf[c].to_numpy() for c in seg_pdf.columns}
        self.meta = self._read_meta() if meta is None else meta
        self.rows, self.dl, self.redirects, self.deleted = self.meta
        self._arrays: dict = {}
        self._positions: dict = {}

    def _read_meta(self):
        rows: dict[tuple[str, str], list[int]] = {}
        for i, key in enumerate(zip(self.cols["field"], self.cols["term"])):
            rows.setdefault(key, []).append(i)
        dl = {}
        excluded = {META_REDIRECT: [], META_DELETED: []}
        for f, t in list(rows):
            if t == META_DL:
                dl[f] = self._decode(rows.pop((f, t)))[:2]
            elif t in excluded:
                excluded[t] += [
                    delta_decode_blocked(self.cols["doc_ids"][i], BLOCK)
                    for i in rows.pop((f, t))
                ]
        redirects, deleted = (
            np.unique(np.concatenate(p).astype(np.int64))
            if p
            else np.empty(0, dtype=np.int64)
            for p in excluded.values()
        )
        return rows, dl, redirects, deleted

    def _decode(self, rl: list[int]):
        """Rows → (merged sorted doc ids, aligned tfs, merge order or None
        for a single row)."""
        c = self.cols
        ids = [
            delta_decode_blocked(c["doc_ids"][i], BLOCK).astype(np.int64)
            for i in rl
        ]
        tfs = [decode_tfs(c["tfs"][i]).astype(np.float64) for i in rl]
        if len(rl) == 1:
            return ids[0], tfs[0], None
        ids, tfs = np.concatenate(ids), np.concatenate(tfs)
        order = np.argsort(ids, kind="stable")
        return ids[order], tfs[order], order

    def postings(self, field: str, term: str):
        """→ (sorted doc ids, aligned tfs) of one key, or None."""
        key = (field, term)
        if key not in self._arrays:
            rl = self.rows.get(key)
            self._arrays[key] = None if rl is None else self._decode(rl)
        got = self._arrays[key]
        return None if got is None else got[:2]

    def positions(self, field: str, term: str):
        """→ (posting offsets, flat positions): posting j's positions are
        ``flat[offs[j]:offs[j + 1]]``, aligned with ``postings``' ids.
        Decoded on first use (only phrase matching pays for them)."""
        key = (field, term)
        if key not in self._positions:
            self.postings(field, term)
            order = self._arrays[key][2]
            lens, flat = map(np.concatenate, zip(*(
                decode_positions(
                    self.cols["pos_lens"][i], self.cols["positions"][i]
                )
                for i in self.rows[key]
            )))
            offs = np.concatenate(([0], np.cumsum(lens)))
            if order is not None:
                flat = flat[_runs(offs[order], lens[order])]
                offs = np.concatenate(([0], np.cumsum(lens[order])))
            self._positions[key] = offs, flat.astype(np.int64)
        return self._positions[key]

    def phrase_candidates(self, field: str, terms, slop: int):
        """Docs where the phrase ``terms`` matches within ``slop`` →
        (sorted doc ids, {distinct term: aligned tfs}), or None. Each
        term's positions for the docs holding every term go to the
        phrase kernel as one flat (candidate, position) pair."""
        arrs = {t: self.postings(field, t) for t in dict.fromkeys(terms)}
        if any(a is None for a in arrs.values()):
            return None
        cand = reduce(
            lambda a, b: a[np.isin(a, b, assume_unique=True)],
            (ids for ids, _ in arrs.values()),
        )
        if cand.size == 0:
            return None
        tfs, flat = {}, {}
        for t, (ids, tf) in arrs.items():
            sel = np.searchsorted(ids, cand)
            tfs[t] = tf[sel]
            offs, pos = self.positions(field, t)
            lens = offs[sel + 1] - offs[sel]
            flat[t] = (
                np.repeat(np.arange(cand.size), lens),
                pos[_runs(offs[sel], lens)],
            )
        hit = np.zeros(cand.size, dtype=bool)
        hit[flat[terms[0]][0][phrase_costs(flat, terms, slop) <= slop]] = True
        if not hit.any():
            return None
        return cand[hit], {t: tf[hit] for t, tf in tfs.items()}

    def doc_len(self, field: str, ids: np.ndarray) -> np.ndarray:
        all_ids, dls = self.dl[field]
        return dls[np.searchsorted(all_ids, ids)]


def bucket_topk(
    seg_pdf: pd.DataFrame,
    clauses: list[Clause],
    weights: dict[int, float],
    avgdl: dict[str, float],
    k: int,
    use_maxscore: bool = True,
    cache: dict | None = None,
    after: tuple[float, int] | None = None,
    allowed: np.ndarray | None = None,
) -> pd.DataFrame:
    """Score one bucket's segment rows → local top-k (doc_id, score).
    Redirect and tombstoned docs are both excluded.

    Block-max WAND execution order (exact top-k, lazy decode):
      1. clause upper bounds from STORED max_tf (no posting decode),
      2. decode only the essential prefix (MaxScore split at θ = k-th best
         partial of the largest-ub clause),
      3. tighten θ to the k-th best partial score of the candidate set,
      4. probe non-essential clauses per candidate through the block-max
         metadata: a candidate whose partial + Σ block-ub < θ is dropped
         without touching posting bytes, and only the specific 128-doc
         blocks containing surviving candidates are varint-decoded
         (block-local delta restarts make each block self-contained).
    A hot term (df ≈ 50% of the bucket) that lands non-essential therefore
    costs O(candidates) block decodes, not O(df) — the decode-bandwidth win
    block-max WAND exists for.

    ``cache`` (one dict per bucket, shared by a query set) keeps the
    bucket's ``BucketView`` under "view", so postings are decoded once for
    the set, and the view's meta part under "meta": a new cache seeded
    with only "meta" skips the meta decode but decodes postings again.
    """
    if cache is None:
        cache = {}
    view = cache.get("view")
    if view is None:
        view = cache["view"] = BucketView(seg_pdf, cache.get("meta"))
        cache["meta"] = view.meta
    col = view.cols

    # ---- pass 1: clause descriptors + upper bounds, NO posting decode ----
    # each: (ub, clause, row positions of its first term, which pass 3
    # probes for a non-phrase clause). A doc lives in exactly one
    # generation row, so a multi-row key's max_tf bound is the MAX over
    # rows, not the sum.
    descs: list[tuple[float, Clause, list[int]]] = []
    for cl in clauses:
        w = weights.get(cl.clause_id, 0.0)
        if w == 0.0:
            continue
        terms = cl.terms if cl.is_phrase else cl.terms[:1]
        rls = [view.rows.get((cl.field, t)) for t in terms]
        if any(rl is None for rl in rls):
            continue
        max_tf = sum(int(col["max_tf"][rl].max()) for rl in rls)
        descs.append((_clause_ub(w, max_tf), cl, rls[0]))
    if not descs:
        return _EMPTY.copy()
    descs.sort(key=lambda x: -x[0])

    def eval_clause(cl: Clause) -> tuple[np.ndarray, np.ndarray] | None:
        """Full evaluation → (sorted doc_ids, contribution)."""
        w = weights[cl.clause_id]
        if cl.is_phrase and len(cl.terms) > 1:
            got = view.phrase_candidates(cl.field, cl.terms, cl.slop)
            if got is None:
                return None
            ids, tfs = got
            freq = sum(tfs[t] for t in cl.terms)  # Σ member tf (O17)
        else:
            ids, freq = view.postings(cl.field, cl.terms[0])
        return ids, w * _tf_norm(
            freq, view.doc_len(cl.field, ids), avgdl[cl.field]
        )

    # ---- pass 2: progressive essential evaluation + θ-driven split ----
    #
    # θ must only ever be fed by docs GUARANTEED eligible for the result
    # set, or pruning over-prunes:
    #  - ``allowed`` (filter): eligibility is id-based and known a priori,
    #    so θ seeding masks to allowed ids (and the candidate set itself is
    #    restricted below) — standard MaxScore stays exact.
    #  - ``after`` (cursor): eligibility depends on the FINAL score
    #    (< cursor s, or tie with doc_id > d), unknowable from a partial.
    #    But partial + Σ remaining clause ubs < s ⟹ final < s ⟹ eligible,
    #    so θ = k-th best partial among those guaranteed-eligible docs is a
    #    valid lower bound on the k-th eligible final score (Lucene's
    #    paging collector keeps WAND live the same way: the queue only
    #    admits eligible hits). Tie-band docs (final == s) always survive
    #    pruning since their upper bound ≥ s > θ.
    # PROGRESSIVE essential evaluation (MaxScore with θ updated between
    # clause evaluations): clauses are walked in ub-descending order; after
    # each full evaluation θ is re-tightened from the accumulated partials,
    # and as soon as the remaining ub mass suffix[i] drops below θ every
    # later (non-phrase) clause flips to a block-max probe. Updating θ
    # mid-walk (not once, from the top clause alone) is what lets a CURSOR
    # page bootstrap: the eligibility certificate ``partial + suffix < s``
    # is unsatisfiable while suffix is the full ub mass, but shrinks to
    # exact as clauses accumulate — so page-N queries still prune.
    _CURSOR_EPS = 1e-9
    theta = 0.0
    nonessential: list[int] = []
    cand_ids = np.empty(0, dtype=np.int64)
    scores = np.empty(0, dtype=np.float64)
    ubs = [ub for ub, _, _ in descs]
    suffix = np.cumsum([0.0] + ubs[::-1])[::-1]  # suffix[i] = Σ ub[i:]
    maxscore_on = use_maxscore and len(descs) > 1
    for i in range(len(descs)):
        if maxscore_on and suffix[i] < theta and not descs[i][1].is_phrase:
            # docs found only in clauses i.. can't reach θ; phrase clauses
            # need positions anyway → keep them essential
            nonessential.append(i)
            continue
        got = eval_clause(descs[i][1])
        if got is None:
            continue
        ids, c = got
        if allowed is not None:
            # id-based eligibility: restrict the candidate set itself —
            # every downstream θ tighten / probe / cut then operates
            # eligible-only, and the filter makes the query CHEAPER.
            keep = np.isin(ids, allowed, assume_unique=True)
            ids, c = ids[keep], c[keep]
            if ids.size == 0:
                continue
        if cand_ids.size == 0:
            cand_ids = ids
            scores = np.asarray(c, dtype=np.float64).copy()
        else:
            merged = np.union1d(cand_ids, ids)
            ns = np.zeros(merged.size)
            ns[np.searchsorted(merged, cand_ids)] = scores
            np.add.at(ns, np.searchsorted(merged, ids), c)
            cand_ids, scores = merged, ns
        if maxscore_on:
            th = scores
            if after is not None:
                # cursor-safe: only docs GUARANTEED eligible (their final
                # can't reach the cursor score) may feed θ
                th = scores[scores + suffix[i + 1] < after[0] - _CURSOR_EPS]
            if th.size > k:
                theta = max(theta, float(np.partition(th, -k)[-k]))
    if cand_ids.size == 0:
        return _EMPTY.copy()

    # ---- pass 3: block-max probe of non-essential clauses ----
    if nonessential:
        # each probe: (field, w, [(bj, ub_r, row) per generation row]);
        # a candidate's clause upper bound is the element-wise MAX over
        # rows (its postings live in exactly one generation)
        probes = []
        upper = scores.copy()
        for i in nonessential:
            _, cl, rl = descs[i]
            w = weights[cl.clause_id]
            ub_c = np.zeros(cand_ids.size)
            row_probes = []
            for r in rl:
                blast = varint_decode(col["block_last"][r]).astype(np.int64)
                bmax = varint_decode(col["block_maxtf"][r]).astype(np.float64)
                bj = np.searchsorted(blast, cand_ids)  # cand → block idx
                in_range = bj < blast.size
                ub_r = np.zeros(cand_ids.size)
                mt = bmax[np.minimum(bj, blast.size - 1)]
                ub_r[in_range] = (
                    w * mt[in_range] / (mt[in_range] + K1 * (1.0 - B))
                )
                np.maximum(ub_c, ub_r, out=ub_c)
                row_probes.append((bj, ub_r, r))
            upper += ub_c
            probes.append((cl.field, w, row_probes))
        # tighten θ: k-th best current partial is a valid lower bound on the
        # final k-th score (partial ≤ full, and those k docs get fully
        # scored). With a cursor, only GUARANTEED-eligible partials may
        # feed θ: upper < s ⟹ final < s ⟹ the doc lands after the cursor.
        th_scores = scores
        if after is not None:
            th_scores = scores[upper < after[0] - _CURSOR_EPS]
        if th_scores.size > k:
            theta = max(theta, float(np.partition(th_scores, -k)[-k]))
        alive = upper >= theta  # strict-< skip is safe (see docstring)
        PRUNE_STATS["cands_skipped"] += int((~alive).sum())
        for field, w, row_probes in probes:
            for bj, ub_r, r in row_probes:
                PRUNE_STATS["blocks_total"] += int(col["n_blocks"][r])
                sub = np.flatnonzero(alive & (ub_r > 0))
                if sub.size == 0:
                    continue
                doffs = varint_decode(col["block_doc_off"][r]).astype(np.int64)
                toffs = varint_decode(col["block_tf_off"][r]).astype(np.int64)
                needed = np.unique(bj[sub])
                PRUNE_STATS["blocks_decoded"] += int(needed.size)
                for j in needed:
                    in_j = sub[bj[sub] == j]
                    ids_j = decode_doc_block(
                        col["doc_ids"][r], doffs, int(j)
                    ).astype(np.int64)
                    tfs_j = decode_tf_block(
                        col["tfs"][r], toffs, int(j)
                    ).astype(np.float64)
                    pos = np.searchsorted(ids_j, cand_ids[in_j])
                    pos_c = np.minimum(pos, ids_j.size - 1)
                    hit = ids_j[pos_c] == cand_ids[in_j]
                    if not hit.any():
                        continue
                    hit_idx = in_j[hit]
                    freq = tfs_j[pos_c[hit]]
                    scores[hit_idx] += w * _tf_norm(
                        freq,
                        view.doc_len(field, cand_ids[hit_idx]),
                        avgdl[field],
                    )
        # drop candidates that could never reach θ (their score is partial)
        if scores.size > k:
            cand_ids, scores = cand_ids[alive], scores[alive]

    for excluded in (view.redirects, view.deleted):
        if excluded.size:
            keep = ~np.isin(cand_ids, excluded, assume_unique=True)
            cand_ids, scores = cand_ids[keep], scores[keep]
    if after is not None:
        # search-after cursor: keep only docs after (s, d) in (score desc,
        # doc_id asc) order. MaxScore stays ON — θ was seeded exclusively
        # from guaranteed-eligible docs above, so no page-2 doc was pruned.
        # The comparison uses a 1e-9 tie band (cursor scores may come from
        # a different job; see engine.InvertedIndex.search_after).
        s, d = after
        tie = (scores >= s - _CURSOR_EPS) & (scores <= s + _CURSOR_EPS)
        elig = (scores < s - _CURSOR_EPS) | (tie & (cand_ids > d))
        cand_ids, scores = cand_ids[elig], scores[elig]
    if allowed is not None:
        # filtered query (Lucene filter semantics: restricts RESULTS, not
        # stats/scoring). On the MaxScore path candidates were already
        # restricted to ``allowed``; this keeps the non-MaxScore path exact.
        keep = np.isin(cand_ids, allowed)
        cand_ids, scores = cand_ids[keep], scores[keep]
    if cand_ids.size == 0:
        return _EMPTY.copy()
    order = np.lexsort((cand_ids, -scores))[:k]
    return pd.DataFrame(
        {"doc_id": cand_ids[order], "score": scores[order]}
    )


def _query_weights(
    clauses: list[Clause],
    term_df: dict[tuple[str, str], int],
    doc_counts: dict[str, int],
) -> dict[int, float]:
    return {
        cl.clause_id: cl.boost
        * sum(
            math.log(
                1.0
                + (doc_counts.get(cl.field, 0) - term_df.get((cl.field, t), 0) + 0.5)
                / (term_df.get((cl.field, t), 0) + 0.5)
            )
            for t in cl.terms
        )
        for cl in clauses
    }


def term_in(terms):
    """``term IN (...)`` as one parsed SQL expression: a single JVM call,
    where ``F.col("term").isin(terms)`` makes one py4j literal per term.
    Pushes down as the same parquet ``In`` filter. Quote, backslash and
    ``$`` (variable substitution) are written as ``\\uXXXX`` escapes, so
    an unanalysed term (an ES ``term`` leaf) matches itself. No terms
    match no rows, as with ``isin([])``."""
    from pyspark.sql import functions as F

    if not terms:
        return F.lit(False)

    def lit(t: str) -> str:
        return "'" + "".join(
            f"\\u{ord(c):04x}" if c in "'\\$" or ord(c) < 32 else c
            for c in t
        ) + "'"

    return F.expr(f"term IN ({', '.join(map(lit, terms))})")


def score_buckets(spark, segments_df, terms, score_bucket, schema: str):
    """Run ``score_bucket(one bucket's rows of terms) → pdf`` once per
    bucket, one Spark task per exchange partition; None or empty results
    are dropped.

    ``repartitionById`` sends bucket b to partition b mod n directly (no
    hash collisions), and its REPARTITION_BY_NUM exchange is never
    coalesced by AQE, so the buckets are scored in parallel. n is the
    shuffle partition count capped at the bucket span of the scanned
    ``bucket=`` directories: every Python task costs tens of ms to run
    even with no rows, so no partition is planned that can hold no
    bucket. Rows are sorted by bucket within a partition, so a task that
    serves several buckets holds one bucket's rows at a time. Segments are
    written partitioned by bucket, so the exchange moves only the pruned
    (bucket × matched term) rows."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    # listed on the unfiltered frame: listing the filtered one would
    # optimise its IN list first (~30 ms at 300 terms)
    ids = [
        int(m[1])
        for f in segments_df.inputFiles()
        if (m := _BUCKET_DIR.search(f))
    ]
    if ids:
        n = min(n, max(ids) + 1)

    def buckets(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        held: list[pd.DataFrame] = []
        for pdf in batches:
            for b, g in pdf.groupby("bucket", sort=False):
                if held and held[0]["bucket"].iat[0] != b:
                    yield pd.concat(held, ignore_index=True)
                    held = []
                held.append(g)
        if held:
            yield pd.concat(held, ignore_index=True)

    def per_task(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for g in buckets(batches):
            out = score_bucket(g)
            if out is not None and len(out):
                yield out

    return (
        segments_df.where(term_in(terms))
        .repartitionById(n, "bucket")
        .sortWithinPartitions("bucket")
        .mapInPandas(per_task, schema)
    )


def _topk_rows(scored, k: int):
    """Single-query finish: plans as TakeOrderedAndProject."""
    from pyspark.sql import functions as F

    return (
        scored.select("doc_id", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(k)
    )


def search_segments(
    spark,
    segments_df,
    clauses: list[Clause],
    term_df: dict[tuple[str, str], int],
    field_stats: dict[str, tuple[int, float]],
    k: int = 10,
    after: tuple[float, int] | None = None,
    allowed: np.ndarray | None = None,
):
    """Distributed segment search → global top-k (doc_id, score) DataFrame.

    ``after=(score, doc_id)`` is a search-after cursor: only docs ranked
    strictly after it count. ``allowed`` (sorted doc ids) restricts the
    candidates to a filter. MaxScore stays on for both: bucket_topk seeds
    θ only from guaranteed-eligible docs (cursor) or from allowed docs."""
    if not clauses:
        return spark.createDataFrame([], "doc_id long, score double")
    return _topk_rows(
        _bucket_hits(
            spark, segments_df, {0: clauses}, term_df, field_stats,
            k, after, allowed,
        ),
        k,
    )


def search_segments_batch(
    spark,
    segments_df,
    queries: dict[int, list[Clause]],  # query_id -> compiled clauses
    term_df: dict[tuple[str, str], int],
    field_stats: dict[str, tuple[int, float]],
    k: int | None = 10,
):
    """Batch replay over the segment index → (query_id, doc_id, score, rank).

    One job for the whole query set: each bucket receives the union of
    all queries' segment rows and scores every query against them — a
    bucket's meta rows (dl map) and any shared term's postings are decoded
    ONCE for the set, not once per query. Per-bucket partial top-k per
    query, then a global window rank (tiny input: ≤ buckets·Q·k rows).

    ``k=None`` = the FULL scored match set (every matching doc, ranked):
    MaxScore is disabled (a θ bound tuned for a top-k cut would drop docs
    a full-set consumer — collapse, export — still needs) and no rank
    filter applies. A doc's postings live entirely in its bucket, so
    per-bucket scores are final either way."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    queries = {qid: cls for qid, cls in queries.items() if cls}
    if not queries:
        return spark.createDataFrame(
            [], "query_id int, doc_id long, score double, rank int"
        )
    local = _bucket_hits(
        spark, segments_df, queries, term_df, field_stats, k
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    out = local.withColumn("rank", F.row_number().over(w))
    return out if k is None else out.where(F.col("rank") <= k)


def _bucket_hits(
    spark, segments_df, queries, term_df, field_stats, k,
    after=None, allowed=None,
):
    """Per-bucket partial top-k of every (non-empty) query →
    (query_id, doc_id, score), unranked."""
    full_set = k is None
    # a sentinel larger than any bucket's doc count: every size>k guard in
    # bucket_topk stays False and the final [:k] slice keeps everything
    eff_k = (1 << 31) if full_set else k

    doc_counts = {f: dc for f, (dc, _) in field_stats.items()}
    avgdl = {f: a for f, (_, a) in field_stats.items()}
    weights = {
        qid: _query_weights(cls, term_df, doc_counts)
        for qid, cls in queries.items()
    }
    all_terms = sorted(
        {t for cls in queries.values() for c in cls for t in c.terms}
    ) + [META_DL, META_REDIRECT, META_DELETED]

    def per_bucket(g):
        outs = []
        cache: dict = {}  # shared decode across the query set
        for qid, cls in queries.items():
            r = bucket_topk(
                g,
                cls,
                weights[qid],
                avgdl,
                eff_k,
                # MaxScore stays ON for cursor pages and filtered queries
                # (search_segments); OFF for full-set mode (docstring).
                use_maxscore=not full_set,
                cache=cache,
                after=after,
                allowed=allowed,
            )
            if len(r):
                r.insert(0, "query_id", np.int32(qid))
                outs.append(r)
        return pd.concat(outs, ignore_index=True) if outs else None

    return score_buckets(
        spark,
        segments_df,
        all_terms,
        per_bucket,
        "query_id int, doc_id long, score double",
    )


# ---------------------------------------------------------------------------
# Extended-query (Lucene QueryParser subset) segment-native execution.
#
# plans/qlang.execute_extended runs the same semantics over the relational
# postings DataFrame (one frame per atom unioned into a single aggregate) —
# that stays as the SQL-comparable differential path. This executor is the
# SERVING path: one score_buckets job over the bucket-partitioned segments,
# every atom evaluated in numpy inside the bucket (a doc's postings live
# entirely in its bucket, so per-bucket scores are final), local top-k,
# TakeOrderedAndProject finish — the same shape as search_segments.
# Parity with execute_extended is pinned by tests/test_segment_surfaces.py.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class AtomSpec:
    """One compiled extended-query atom, fully resolved driver-side:
    dictionary expansions (prefix/wildcard/fuzzy/regexp) arrive as a
    ``const`` spec whose ``terms`` is the expanded term tuple; weights are
    precomputed (boost × idf for term/phrase, plain boost for const —
    Lucene's constant-score rewrite, qlang.py)."""

    atom_id: int
    role: str  # "must" | "should" | "veto"
    field: str
    kind: str  # "term" | "phrase" | "const"
    terms: tuple
    weight: float
    slop: int = 0


def compile_extended(
    eq, term_stats_df, field_stats: dict[str, tuple[int, float]]
) -> list[AtomSpec]:
    """Resolve an ExtendedQuery (plans/qlang.py) into executor-ready
    AtomSpecs, driver-side: literal-term idf weights from one point lookup
    on term_stats, dictionary expansions (prefix/wildcard/fuzzy/regexp)
    collected from the vocabulary-sized term_stats scan — the SAME
    ``_expansion`` predicate execute_extended broadcasts, so both paths see
    identical term sets. Weights mirror execute_extended exactly:
    boost·idf (term), boost·Σ-member-idf (phrase), plain boost (const —
    Lucene's constant-score rewrite)."""
    from fuzzy_wiki_spark.operators.topk import idf
    from fuzzy_wiki_spark.plans.qlang import _expansion, atom_terms

    lit = atom_terms(eq)
    all_lit = sorted({t for ts in lit.values() for t in ts})
    df_map = {
        (r["field"], r["term"]): r["df"]
        for r in term_stats_df.where(term_in(all_lit)).collect()
    } if all_lit else {}

    specs: list[AtomSpec] = []
    aid = 0
    for role, atoms in (
        ("must", eq.must), ("should", eq.should), ("veto", eq.must_not)
    ):
        for a in atoms:
            doc_count, _ = field_stats[a.field]
            if a.kind == "term":
                w = a.boost * idf(
                    df_map.get((a.field, a.terms[0]), 0), doc_count
                )
                specs.append(
                    AtomSpec(aid, role, a.field, "term", a.terms, w)
                )
            elif a.kind == "phrase":
                w = a.boost * sum(
                    idf(df_map.get((a.field, t), 0), doc_count)
                    for t in a.terms
                )
                specs.append(
                    AtomSpec(
                        aid, role, a.field, "phrase", a.terms, w, a.slop
                    )
                )
            else:
                terms = tuple(
                    sorted(
                        r["term"]
                        for r in _expansion(term_stats_df, a).collect()
                    )
                )
                specs.append(
                    AtomSpec(
                        aid, role, a.field, "const", terms, float(a.boost)
                    )
                )
            aid += 1
    return specs


def extended_bucket_topk(
    seg_pdf: pd.DataFrame,
    specs: list[AtomSpec],
    avgdl: dict[str, float],
    k: int,
    n_must: int,
) -> pd.DataFrame:
    """Evaluate every atom against one bucket's segment rows → local top-k
    (doc_id, score), through the same ``BucketView`` as bucket_topk.
    Tombstoned docs (``view.deleted``) are excluded; redirect docs are NOT
    (matching the relational term_postings adapter policy —
    indexed-but-filtered is the searcher's O22 concern, not the query
    language's)."""
    view = BucketView(seg_pdf)

    def eval_atom(spec: AtomSpec):
        """→ (sorted unique doc_ids, contrib array) or None (no match)."""
        if spec.kind == "const":
            parts = []
            for t in spec.terms:
                got = view.postings(spec.field, t)
                if got is not None:
                    parts.append(got[0])
            if not parts:
                return None
            ids = np.unique(np.concatenate(parts))
            return ids, np.full(ids.size, spec.weight)
        if spec.kind == "term":
            got = view.postings(spec.field, spec.terms[0])
        else:
            # phrase: freq = Σ tf over the distinct terms (as
            # execute_extended)
            got = view.phrase_candidates(spec.field, spec.terms, spec.slop)
            got = got and (got[0], sum(got[1].values()))
        if got is None:
            return None
        ids, freq = got
        return ids, spec.weight * _tf_norm(
            freq, view.doc_len(spec.field, ids), avgdl[spec.field]
        )

    results = [(s, eval_atom(s)) for s in specs]
    # candidate set: docs matching EVERY must atom (or any scoring atom
    # when there are no musts)
    cand = None
    if n_must:
        for s, got in results:
            if s.role != "must":
                continue
            if got is None:
                return _EMPTY.copy()
            cand = (
                got[0]
                if cand is None
                else cand[np.isin(cand, got[0], assume_unique=True)]
            )
            if cand.size == 0:
                return _EMPTY.copy()
    else:
        parts = [got[0] for s, got in results if s.role == "should" and got]
        if not parts:
            return _EMPTY.copy()
        cand = np.unique(np.concatenate(parts))
    # vetoes + tombstones
    for s, got in results:
        if s.role == "veto" and got is not None:
            cand = cand[~np.isin(cand, got[0], assume_unique=True)]
    if view.deleted.size:
        cand = cand[~np.isin(cand, view.deleted, assume_unique=True)]
    if cand.size == 0:
        return _EMPTY.copy()
    scores = np.zeros(cand.size)
    for s, got in results:
        if s.role == "veto" or got is None:
            continue
        ids, contrib = got
        sel = np.searchsorted(ids, cand)
        sel_c = np.minimum(sel, ids.size - 1)
        hit = ids[sel_c] == cand
        scores[hit] += contrib[sel_c[hit]]
    order = np.lexsort((cand, -scores))[:k]
    return pd.DataFrame({"doc_id": cand[order], "score": scores[order]})


def search_segments_extended(
    spark,
    segments_df,
    specs: list[AtomSpec],
    field_stats: dict[str, tuple[int, float]],
    k: int = 10,
):
    """Distributed extended query over the segment layout: ONE job — prune
    the scan to the union of every atom's terms (+ meta rows), per-bucket
    numpy evaluation (extended_bucket_topk), TakeOrderedAndProject
    finish."""
    schema = "doc_id long, score double"
    if not specs:
        return spark.createDataFrame([], schema)
    avgdl = {f: a for f, (_, a) in field_stats.items()}
    n_must = sum(1 for s in specs if s.role == "must")
    all_terms = sorted(
        {t for s in specs for t in s.terms}
    ) + [META_DL, META_DELETED]
    local = score_buckets(
        spark,
        segments_df,
        all_terms,
        lambda g: extended_bucket_topk(g, specs, avgdl, k, n_must),
        schema,
    )
    return _topk_rows(local, k)
