"""Extended query language — the public Lucene QueryParser subset, compiled
onto this engine's operators.

Syntax (all combinable, whitespace-separated; default field ``content``):

    merge join            bare terms             SHOULD, BM25-scored
    +merge  -stream       must / must_not        gate / veto
    "merge join"~3        phrase with slop       reference O17 scoring
    mer*  or?er           wildcard (*, ?)        dictionary expansion
    part~  part~2         fuzzy (levenshtein)    dictionary expansion
    /me.ge/               regexp over TERMS      dictionary expansion
    path:merge            field selector
    merge^2  "a b"~1^0.5  boost                  multiplies the atom score

Semantics follow Lucene's documented defaults:
- term and phrase atoms score BM25 (idf·tf_norm; phrases use the
  reference's Σ-member-idf · tf_norm(Σ member tf) gated on the sloppy
  match — operators/topk.py);
- multi-term atoms (wildcard/fuzzy/regexp/prefix) use the CONSTANT-SCORE
  rewrite: a matching doc gets contribution 1.0 per atom, regardless of tf
  (Lucene MultiTermQuery.CONSTANT_SCORE_REWRITE);
- ``+`` atoms must all match, ``-`` atoms must not match; both gate the
  candidate set, and ``+`` atoms also score (Lucene BooleanQuery);
- wildcard/fuzzy/regexp values are lowercased but NOT analyzed (Lucene
  QueryParser behavior); term/phrase text runs through the analyzer.

Execution shape (execute_extended): each atom derives a (doc_id, contrib)
frame from a term-filtered postings scan (the term predicate pushes down
per atom; expanded atoms resolve against the vocabulary-sized term_stats
dictionary first). ALL frames — scoring and gating — union into ONE
groupBy that computes the score, the must-coverage count, and the veto
flag in a single shuffle (the same single-scan conditional-aggregate
shape as operators/boolean.py; the naive plan would add one semi-join
per + atom and an anti-join for -). Queries are a handful of atoms, so
the plan stays a few scans wide regardless of corpus size; callers
serving hot query streams should persist the postings AND term_stats (or
use SegmentIndex.extended, which decodes once) so atom scans share one
materialization.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field as dfield

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fuzzy_wiki_spark.plans.query import B, K1


@dataclass(frozen=True)
class Atom:
    kind: str  # term | phrase | prefix | wildcard | fuzzy | regexp
    field: str
    terms: tuple[str, ...]  # analyzed terms (term/phrase) or raw value
    slop: int = 0  # phrase only
    dist: int = 2  # fuzzy only (Lucene default max edits)
    boost: float = 1.0  # ^boost suffix; multiplies the atom score


@dataclass
class ExtendedQuery:
    must: list[Atom] = dfield(default_factory=list)
    should: list[Atom] = dfield(default_factory=list)
    must_not: list[Atom] = dfield(default_factory=list)


_TOKEN_RE = re.compile(
    r"""
    (?P<occur>[+-])?
    (?:(?P<field>[A-Za-z_][A-Za-z0-9_]*):)?
    (?:
        "(?P<phrase>[^"]*)"(?:~(?P<pslop>\d+))?(?:\^(?P<pboost>\d+(?:\.\d+)?))?
      | /(?P<regex>[^/]*)/(?:\^(?P<rboost>\d+(?:\.\d+)?))?
      | (?P<word>[^\s"/^]+)(?:\^(?P<wboost>\d+(?:\.\d+)?))?
    )
    """,
    re.VERBOSE,
)


def parse_extended(
    query: str,
    default_field: str = "content",
    analyze=None,
) -> ExtendedQuery:
    """Parse the QueryParser subset into an ExtendedQuery.

    ``analyze``: callable str -> list[str] applied to term/phrase text
    (defaults to the pinned porter chain, analyzer.tokenize_text; pass
    ``str.split`` for the simple-mode corpora). Atoms whose analyzed text
    is empty (all stop words) are dropped, as Lucene does.
    """
    if analyze is None:
        from fuzzy_wiki_spark.analyzer import tokenize_text as analyze

    eq = ExtendedQuery()
    for m in _TOKEN_RE.finditer(query):
        occur = m.group("occur")
        fld = m.group("field") or default_field
        dest = (
            eq.must if occur == "+" else
            eq.must_not if occur == "-" else eq.should
        )
        boost = float(
            m.group("pboost") or m.group("rboost") or m.group("wboost")
            or 1.0
        )
        if m.group("phrase") is not None:
            terms = tuple(analyze(m.group("phrase")))
            if not terms:
                continue
            slop = int(m.group("pslop") or 0)
            if len(terms) == 1:
                dest.append(Atom("term", fld, terms, boost=boost))
            else:
                dest.append(
                    Atom("phrase", fld, terms, slop=slop, boost=boost)
                )
            continue
        if m.group("regex") is not None:
            dest.append(
                Atom(
                    "regexp", fld, (m.group("regex").lower(),), boost=boost
                )
            )
            continue
        word = m.group("word")
        fz = re.fullmatch(r"(.+?)~(\d*)", word)
        if fz:
            dist = int(fz.group(2)) if fz.group(2) else 2
            dest.append(
                Atom(
                    "fuzzy",
                    fld,
                    (fz.group(1).lower(),),
                    dist=dist,
                    boost=boost,
                )
            )
            continue
        if "*" in word or "?" in word:
            low = word.lower()
            if re.fullmatch(r"[^*?]+\*", low):
                dest.append(Atom("prefix", fld, (low[:-1],), boost=boost))
            else:
                dest.append(Atom("wildcard", fld, (low,), boost=boost))
            continue
        terms = tuple(analyze(word))
        if not terms:
            continue
        for t in terms:
            dest.append(Atom("term", fld, (t,), boost=boost))
    return eq


def _expansion(term_stats_df: DataFrame, atom: Atom) -> DataFrame:
    """Dictionary term set for a multi-term atom (vocabulary-sized scan)."""
    base = term_stats_df.where(F.col("field") == atom.field)
    v = atom.terms[0]
    if atom.kind == "prefix":
        return base.where(F.col("term").startswith(v)).select("term")
    if atom.kind == "wildcard":
        like = v.replace("%", r"\%").replace("_", r"\_")
        like = like.replace("*", "%").replace("?", "_")
        return base.where(F.col("term").like(like)).select("term")
    if atom.kind == "fuzzy":
        return base.where(
            F.levenshtein(F.col("term"), F.lit(v)) <= atom.dist
        ).select("term")
    if atom.kind == "regexp":
        # Lucene RegexpQuery anchors the pattern to the WHOLE term
        return base.where(
            F.col("term").rlike(f"^(?:{v})$")
        ).select("term")
    raise ValueError(atom.kind)


def atom_terms(eq: ExtendedQuery) -> dict[str, set[str]]:
    """field -> literal terms referenced by term/phrase atoms (expanded
    atoms resolve against term_stats instead)."""
    out: dict[str, set[str]] = {}
    for atom in eq.must + eq.should + eq.must_not:
        if atom.kind in ("term", "phrase"):
            out.setdefault(atom.field, set()).update(atom.terms)
    return out


def execute_extended(
    spark: SparkSession,
    postings: DataFrame,
    term_stats_df: DataFrame,
    field_stats: dict[str, tuple[int, float]],
    eq: ExtendedQuery,
    k: int = 10,
) -> DataFrame:
    """Run an ExtendedQuery → top-k (doc_id, score).

    Per-atom frames: (doc_id, contrib) for scoring atoms (must + should),
    (doc_id,) match sets for gating. Scoring semantics per module
    docstring. Ties: score desc, doc_id asc.
    """
    from fuzzy_wiki_spark.operators.topk import _sloppy_udf, docs_with_all, idf

    # ---- driver-side stats for literal terms (point lookups, tiny)
    lit_terms = atom_terms(eq)
    all_lit = sorted({t for ts in lit_terms.values() for t in ts})
    df_map = {
        (r["field"], r["term"]): r["df"]
        for r in term_stats_df.where(F.col("term").isin(all_lit)).collect()
    } if all_lit else {}

    def scored_frame(atom: Atom) -> DataFrame:
        """(doc_id, contrib) for one atom."""
        doc_count, avgdl = field_stats[atom.field]
        base = postings.where(F.col("field") == atom.field)
        tf, dl = F.col("tf").cast("double"), F.col("dl").cast("double")
        tfn = tf / (tf + K1 * (1 - B + B * dl / F.lit(avgdl)))
        if atom.kind == "term":
            t = atom.terms[0]
            w = atom.boost * idf(df_map.get((atom.field, t), 0), doc_count)
            return base.where(F.col("term") == t).select(
                "doc_id", (F.lit(w) * tfn).alias("contrib")
            )
        if atom.kind == "phrase":
            w = atom.boost * sum(
                idf(df_map.get((atom.field, t), 0), doc_count)
                for t in atom.terms
            )
            cand = docs_with_all(
                base.where(F.col("term").isin(list(atom.terms))),
                atom.terms,
                F.sum("tf").alias("freq"),
                F.first("dl").alias("dl"),
            )
            freq, dlc = (
                F.col("freq").cast("double"),
                F.col("dl").cast("double"),
            )
            pfn = freq / (
                freq + K1 * (1 - B + B * dlc / F.lit(avgdl))
            )
            return (
                cand.withColumn(
                    "m",
                    _sloppy_udf(
                        F.col("mtps"),
                        F.array(*[F.lit(t) for t in atom.terms]),
                        F.lit(atom.slop),
                    ),
                )
                .where(F.col("m"))
                .select("doc_id", (F.lit(w) * pfn).alias("contrib"))
            )
        # multi-term atoms: constant-score rewrite (boost × 1.0 per doc)
        ex = _expansion(term_stats_df, atom)
        return (
            base.join(F.broadcast(ex), "term")
            .select("doc_id")
            .distinct()
            .select("doc_id", F.lit(float(atom.boost)).alias("contrib"))
        )

    scoring = eq.must + eq.should
    if not scoring and not eq.must:
        return spark.createDataFrame([], "doc_id long, score double")

    # One union of every atom frame — scoring (must + should) AND gating
    # (must_not) — tagged with (atom_id, role), then a SINGLE groupBy
    # computes the score, the must-coverage count, and the veto flag
    # (same single-scan conditional-aggregate shape as operators/boolean.py).
    # vs the naive plan (groupBy + one semi-join per must atom + one
    # anti-join for vetoes) this is 1 shuffle instead of 2+|must|: each
    # frame emits ≤ one row per (doc, atom), so the union is
    # Σ|posting lists| rows and the aggregate state is O(1) per doc.
    frames = [
        scored_frame(a).select(
            "doc_id",
            "contrib",
            F.lit(i).alias("atom_id"),
            F.lit(True).alias("is_must"),
            F.lit(False).alias("is_veto"),
        )
        for i, a in enumerate(eq.must)
    ]
    frames += [
        scored_frame(a).select(
            "doc_id",
            "contrib",
            F.lit(-1).alias("atom_id"),
            F.lit(False).alias("is_must"),
            F.lit(False).alias("is_veto"),
        )
        for a in eq.should
    ]
    frames += [
        scored_frame(a).select(
            "doc_id",
            F.lit(0.0).alias("contrib"),
            F.lit(-1).alias("atom_id"),
            F.lit(False).alias("is_must"),
            F.lit(True).alias("is_veto"),
        )
        for a in eq.must_not
    ]
    from functools import reduce

    u = reduce(lambda a, b: a.unionByName(b), frames)
    scored = (
        u.groupBy("doc_id")
        .agg(
            F.sum(F.when(~F.col("is_veto"), F.col("contrib")).otherwise(0.0)).alias(
                "score"
            ),
            F.count_distinct(
                F.when(F.col("is_must"), F.col("atom_id"))
            ).alias("n_must"),
            F.max(F.col("is_veto").cast("int")).alias("veto"),
        )
        .where(
            (F.col("n_must") == F.lit(len(eq.must))) & (F.col("veto") == 0)
        )
        .select("doc_id", "score")
    )
    return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
