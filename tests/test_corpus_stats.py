"""Sampling + corpus-stats operators vs brute-force Python oracles."""

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from fuzzy_wiki_spark.operators import corpus_stats as CS
from fuzzy_wiki_spark.operators import sampling as SMP

DOCS = [
    (0, "the fast key order sort", "en", "web"),
    (1, "key order sort merge join", "en", "web"),
    (2, "spark group query row", "en", "wiki"),
    (3, "a b", "de", "wiki"),
    (4, "x", "de", "web"),
    (5, "", "fr", "books"),
    (6, "key order sort merge join extra", "en", "web"),
    (7, "the fast key order sort", "en", "books"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        DOCS, "doc_id long, text string, lang string, source string"
    ).cache()


def _hf(key: int) -> float:
    return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) / 2**32


def test_hash_sample_matches_md5_threshold(spark, docs):
    got = {r["doc_id"] for r in SMP.hash_sample(docs, 0.5).collect()}
    want = {i for i, *_ in DOCS if _hf(i) < 0.5}
    assert got == want


def test_hash_sample_layout_invariant(spark, docs):
    a = {r["doc_id"] for r in SMP.hash_sample(docs, 0.3).collect()}
    b = {
        r["doc_id"]
        for r in SMP.hash_sample(docs.repartition(7), 0.3).collect()
    }
    assert a == b


def test_stratified_sample_quota_and_determinism(spark, docs):
    res = SMP.stratified_sample(docs, "lang", k=2).collect()
    by_lang = {}
    for r in res:
        by_lang.setdefault(r["lang"], set()).add(r["doc_id"])
    # quota respected
    assert all(len(v) <= 2 for v in by_lang.values())
    # the k smallest md5 fractions per stratum win
    for lang, got in by_lang.items():
        ids = [i for i, _t, lg, _s in DOCS if lg == lang]
        want = set(sorted(ids, key=lambda i: (_hf(i), i))[:2])
        assert got == want


def test_temperature_resample_keeps_smallest_group(spark, docs):
    res = SMP.temperature_resample(docs, "source", alpha=0.5).collect()
    kept = {r["doc_id"] for r in res}
    counts = {}
    for _i, _t, _lg, s in DOCS:
        counts[s] = counts.get(s, 0) + 1
    n_min = min(counts.values())
    want = {
        i
        for i, _t, _lg, s in DOCS
        if _hf(i) < math.sqrt(n_min / counts[s])
    }
    assert kept == want
    # smallest group's acceptance is 1.0 → all its rows survive
    smallest = [s for s, n in counts.items() if n == n_min]
    assert all(
        i in kept for i, _t, _lg, s in DOCS if s in smallest
    )


def test_bigram_pmi_vs_brute_force(spark, docs):
    res = {
        (r["w1"], r["w2"]): (r["c_ab"], r["pmi"])
        for r in CS.bigram_pmi(docs, min_count=2).collect()
    }
    toks = [(i, t.split()) for i, t, *_ in DOCS]
    uni, big = {}, {}
    n_tok = 0
    for _i, ts in toks:
        for t in ts:
            uni[t] = uni.get(t, 0) + 1
            n_tok += 1
        for a, b in zip(ts, ts[1:]):
            big[(a, b)] = big.get((a, b), 0) + 1
    n_big = sum(big.values())
    want = {
        k: (c, math.log((c / n_big) / ((uni[k[0]] / n_tok) * (uni[k[1]] / n_tok))))
        for k, c in big.items()
        if c >= 2
    }
    assert set(res) == set(want)
    for k, (c, pmi) in want.items():
        assert res[k][0] == c
        assert res[k][1] == pytest.approx(pmi, abs=1e-9)


def test_tfidf_keywords_rank_and_values(spark, docs):
    res = CS.tfidf_keywords(docs, k=2).collect()
    toks = {i: t.split() for i, t, *_ in DOCS}
    n = len(DOCS)
    dfreq = {}
    for ts in toks.values():
        for t in set(ts):
            dfreq[t] = dfreq.get(t, 0) + 1
    for r in res:
        ts = toks[r["doc_id"]]
        tf = ts.count(r["term"])
        idf = math.log((1 + n) / (1 + dfreq[r["term"]])) + 1
        assert r["tf"] == tf
        assert r["tfidf"] == pytest.approx(tf * idf, abs=1e-9)
    # rank-1 term per doc == brute-force argmax (tfidf desc, term asc)
    top = {r["doc_id"]: r["term"] for r in res if r["rank"] == 1}
    for i, ts in toks.items():
        if not ts:
            continue
        scored = sorted(
            {
                t: ts.count(t) * (math.log((1 + n) / (1 + dfreq[t])) + 1)
                for t in set(ts)
            }.items(),
            key=lambda kv: (-kv[1], kv[0]),
        )
        assert top[i] == scored[0][0]


def test_contamination_overlap(spark, docs):
    ev = docs.where(F.col("doc_id").isin([0, 1, 4, 5]))
    tr = docs.where(~F.col("doc_id").isin([0, 1, 4, 5]))
    res = {
        r["doc_id"]: (r["n_shingles"], r["n_overlap"], r["contamination"])
        for r in CS.contamination_overlap(tr, ev, n=3).collect()
    }
    # doc 0 duplicates doc 7 (train) → full contamination
    n0 = len(DOCS[0][1].split()) - 2
    assert res[0] == (n0, n0, 1.0)
    # doc 1 shares 'key order sort (merge join)' prefix with train doc 6
    assert res[1][0] == 3 and res[1][1] == 3
    # short docs (<3 tokens) produce no shingles → absent from the result
    assert 4 not in res and 5 not in res


def test_repetition_stats_vs_brute_force(spark, docs):
    extra = spark.createDataFrame(
        [(100, "a a a a b", "en", "web")],
        "doc_id long, text string, lang string, source string",
    )
    res = {
        r["doc_id"]: r for r in CS.repetition_stats(docs.union(extra)).collect()
    }
    for i, t, *_ in DOCS + [(100, "a a a a b", "en", "web")]:
        ts = t.split()
        if not ts:
            assert i not in res  # zero-token docs drop out
            continue
        r = res[i]
        assert r["n_tokens"] == len(ts)
        assert r["distinct_ratio"] == pytest.approx(len(set(ts)) / len(ts))
        bgs = list(zip(ts, ts[1:]))
        if not bgs:
            assert r["dup_bigram_frac"] == 0.0 == r["top_bigram_frac"]
            continue
        counts = {}
        for b in bgs:
            counts[b] = counts.get(b, 0) + 1
        dup = sum(c for c in counts.values() if c >= 2)
        assert r["dup_bigram_frac"] == pytest.approx(dup / len(bgs))
        assert r["top_bigram_frac"] == pytest.approx(
            max(counts.values()) / len(bgs)
        )
    # the planted repetitive doc is clearly flagged: 'a a' ×3 of 4 bigrams
    assert res[100]["dup_bigram_frac"] == pytest.approx(0.75)
    assert res[100]["top_bigram_frac"] == pytest.approx(0.75)


def test_shingles_short_doc_empty(spark, docs):
    sh = CS.shingles(docs.where(F.col("doc_id").isin([3, 4, 5])), 3)
    assert sh.count() == 0


def test_duplicated_spans(spark):
    from fuzzy_wiki_spark.operators.corpus_stats import duplicated_spans

    block = "a b c d e"
    docs = [
        (0, f"x y {block} z"),
        (1, f"{block} q r {block}"),  # two occurrences in one doc
        (2, "p q r s t u"),
        (3, block),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["span"]: (r["n_occ"], r["n_docs"])
        for r in duplicated_spans(df, n=5, min_docs=2, k=10).collect()
    }
    # the block occurs 4 times (doc1 twice) across 3 distinct docs
    assert got[block] == (4, 3)
    # spans repeated only WITHIN one doc don't qualify (min_docs=2)
    for span, (_, n_docs) in got.items():
        assert n_docs >= 2, span


def _brute_lm(texts, lam=0.7, add_k=0.5, min_count=2):
    """Pure-Python mirror of lm_perplexity (self-scored)."""
    toks = {d: [t for t in txt.split(" ") if t] for d, txt in texts}
    uni: dict = {}
    for ts in toks.values():
        for t in ts:
            uni[t] = uni.get(t, 0) + 1
    T, V = sum(uni.values()), len(uni)
    bg: dict = {}
    for ts in toks.values():
        prev = CS.BOS
        for t in ts:
            bg[(prev, t)] = bg.get((prev, t), 0) + 1
            prev = t
    cv: dict = {}
    for (v, _), c in bg.items():
        cv[v] = cv.get(v, 0) + c
    out = {}
    for d, ts in toks.items():
        if not ts:
            out[d] = (0, None)
            continue
        ce = 0.0
        prev = CS.BOS
        for t in ts:
            p_bg = bg[(prev, t)] / cv[prev] if bg.get((prev, t), 0) >= min_count else 0.0
            p_uni = (uni.get(t, 0) + add_k) / (T + add_k * (V + 1))
            ce -= math.log(lam * p_bg + (1 - lam) * p_uni)
            prev = t
        out[d] = (len(ts), ce / len(ts))
    return out


def test_lm_perplexity_vs_brute_force(spark, docs):
    got = {
        r.doc_id: (r.n_tokens, r.cross_entropy, r.ppl)
        for r in CS.lm_perplexity(docs).collect()
    }
    want = _brute_lm([(d, t) for d, t, _, _ in DOCS])
    assert set(got) == set(want)  # empty doc 5 present, not dropped
    for d, (n, ce) in want.items():
        gn, gce, gppl = got[d]
        assert gn == n
        if ce is None:
            assert gce is None and gppl is None
        else:
            assert gce == pytest.approx(ce, rel=1e-9)
            assert gppl == pytest.approx(math.exp(ce), rel=1e-9)


def test_lm_perplexity_ref_corpus_and_oov(spark, docs):
    """Train on a clean slice, score everything: OOV tokens get the add-k
    floor (finite CE, no nulls/inf), and docs fluent under the reference
    score lower than alien ones."""
    ref = docs.where(F.col("doc_id").isin([0, 1, 6, 7]))
    scored = CS.lm_perplexity(docs, ref_df=ref).collect()
    by_id = {r.doc_id: r for r in scored}
    assert all(
        r.cross_entropy is not None for r in scored if r.n_tokens > 0
    )
    # doc 1 is in-reference; doc 2 is fully OOV under the reference LM
    assert by_id[1].cross_entropy < by_id[2].cross_entropy


def test_ppl_buckets_head_middle_tail(spark, docs):
    scored = CS.lm_perplexity(docs)
    b = {r.doc_id: r.bucket for r in CS.ppl_buckets(scored, 3).collect()}
    assert set(b.values()) == {1, 2, 3}
    # the empty doc (null CE) must land in the tail bucket
    assert b[5] == 3


def test_ppl_buckets_scalable_equals_ntile(spark):
    """The banded-rank scalable mode must be byte-identical to exact
    ntile — including remainder distribution (first N % n buckets get
    the extra row), null-CE docs in the tail, and N < n_buckets."""
    import random

    rng = random.Random(3)
    rows = [
        (i, float(rng.randrange(50)) if i % 7 else None)
        for i in range(101)
    ]
    scored = spark.createDataFrame(
        rows, "doc_id long, cross_entropy double"
    )
    for n in (3, 4, 7, 150):
        exact = sorted(
            (r.doc_id, r.bucket)
            for r in CS.ppl_buckets(scored, n).collect()
        )
        scal = sorted(
            (r.doc_id, r.bucket)
            for r in CS.ppl_buckets(scored, n, scalable=True).collect()
        )
        assert exact == scal, f"n_buckets={n}"


def test_ntile_of_rank_integer_division_at_boundary_rows(spark):
    """The scalable bucket id is integer arithmetic: at ranks past 2^53
    the first and last row of every bucket still get ntile's bucket
    (double division put these rows one bucket off)."""
    def ntile(rn, n_rows, n):
        base, rem = divmod(n_rows, n)
        head = rem * (base + 1)
        if rn <= head:
            return (rn - 1) // (base + 1) + 1
        return rem + (rn - 1 - head) // base + 1

    rows = []
    for n_rows, n in ((2**53 + 1, 3), (10**17 + 1, 7), (2**62 + 5, 2)):
        base, rem = divmod(n_rows, n)
        first = 1
        for j in range(n):
            size = base + 1 if j < rem else base
            rows += [(first, n_rows, n), (first + size - 1, n_rows, n)]
            first += size
    df = spark.createDataFrame(rows, "_rn long, _N long, n int")
    for n in sorted({r[2] for r in rows}):
        got = [
            (r["_rn"], r["_N"], r["b"])
            for r in df.where(F.col("n") == n)
            .select("_rn", "_N", CS.ntile_of_rank(n).alias("b"))
            .collect()
        ]
        assert got and all(b == ntile(rn, N, n) for rn, N, b in got)
