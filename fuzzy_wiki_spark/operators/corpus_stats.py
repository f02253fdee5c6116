"""Corpus-level statistics for training-data pipelines: collocations
(bigram PMI), per-document TF-IDF keywords, and test-set contamination.

Not in the reference (its only corpus statistic is per-term df for BM25,
DocTermInfoHandler.java) — these are the brief's training-pipeline
additions. Everything is a DataFrame composition over the engine's token
stream: explode → groupBy, all JVM-side codegen, no Python in the plan.

Scale notes (100 TB):
- ``bigram_pmi``: the bigram explode is the engine's posting explode with a
  second column; counts are map-side-combinable groupBys on uniform keys.
  The unigram/bigram total counts are 1-row aggregates broadcast back via
  crossJoin (Catalyst turns a 1-row cross join into a broadcast nested
  loop — no shuffle of the big side). ``min_count`` prunes the long tail
  BEFORE the join with unigram stats, so the surviving collocation table is
  tiny relative to the corpus.
- ``tfidf_keywords``: tf is a (doc, term) groupBy; df joins in from the
  term-level aggregate (vocabulary-sized, broadcast); top-k per doc is one
  window over the doc key — never materializes more than the doc's own
  vocabulary per task.
- ``contamination_overlap``: eval-set shingles (tiny) broadcast-join
  against the train shingle stream — the train side never shuffles; with a
  huge eval set, flip to a sort-merge join on the shingle hash instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _tokens(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, term) token stream — whitespace split, empties dropped
    (matches the driver oracle's string_split tokenizer)."""
    return (
        df.select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.col(text_col), " ")).alias("term"),
        )
        .where(F.col("term") != "")
    )


def bigrams(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(doc_id, w1, w2) adjacent-token pairs — the collocation stream.

    Built with zip_with over the token array (one pass, no positional
    self-join): pairs toks[i] with toks[i+1] via a slice-shift."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(pairs).alias("bg")
    ).select("doc_id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))


def bigram_pmi(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
) -> DataFrame:
    """Pointwise mutual information per bigram:

        pmi(a,b) = ln( (c_ab / N_bigrams) / ((c_a / N_tok) * (c_b / N_tok)) )

    with c_a/c_b = corpus-wide unigram occurrence counts. Returns
    (w1, w2, c_ab, pmi) for bigrams with c_ab ≥ min_count."""
    # corpus totals roll up from the COUNT tables (vocab- and vocab²-sized),
    # not from extra corpus scans; the count tables are persisted because
    # each feeds 2-3 plan subtrees and Catalyst does not reuse the exchange
    # across the differing projections — with the cache the corpus is
    # scanned exactly twice (tokens, bigrams) at any scale, and the cached
    # tables are tiny (bounded by vocabulary size, not corpus size)
    toks = _tokens(df, text_col, id_col)
    uni = toks.groupBy(F.col("term")).agg(F.count("*").alias("c")).persist()
    n_tok = uni.groupBy().agg(F.sum("c").alias("n_tok"))

    bg_all = (
        bigrams(df, text_col, id_col)
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
        .persist()
    )
    bg_counts = bg_all.where(F.col("c_ab") >= min_count)
    n_big = bg_all.groupBy().agg(F.sum("c_ab").alias("n_big"))

    u1 = uni.select(F.col("term").alias("w1"), F.col("c").alias("c_a"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("c").alias("c_b"))
    return (
        bg_counts.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_big))
        .select(
            "w1",
            "w2",
            "c_ab",
            F.log(
                (F.col("c_ab") / F.col("n_big"))
                / (
                    (F.col("c_a") / F.col("n_tok"))
                    * (F.col("c_b") / F.col("n_tok"))
                )
            ).alias("pmi"),
        )
    )


def tfidf_keywords(
    df: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k keywords per document by smoothed TF-IDF:

        idf(t)     = ln((1 + N) / (1 + df_t)) + 1      (never negative)
        tfidf(d,t) = tf_{d,t} * idf(t)

    Ties break on term ascending → fully deterministic ranking. Returns
    (doc_id, term, tf, tfidf, rank)."""
    toks = _tokens(df, text_col, id_col)
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(F.col(id_col)).distinct().count()
    idf = F.log((F.lit(1.0 + n_docs)) / (F.lit(1.0) + F.col("df"))) + F.lit(1.0)
    scored = tf.join(F.broadcast(dfreq), "term").select(
        "doc_id", "term", "tf", (F.col("tf") * idf).alias("tfidf")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "tfidf", "rank")
    )


def repetition_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style repetition signals per document:

    - ``distinct_ratio``   distinct tokens / total tokens
    - ``dup_bigram_frac``  fraction of bigram occurrences whose bigram
                           repeats (count ≥ 2) within the doc
    - ``top_bigram_frac``  occurrences of the doc's most frequent bigram
                           / total bigrams

    The standard repeated-content quality gates for training corpora
    (line-based rules collapse to n-gram rules here — the corpus text is a
    single token stream). Two map-side-combinable groupBys on (doc, key)
    — per-doc cardinality bounds every partial aggregate, no skew risk.
    Docs with < 2 tokens have no bigrams: fractions coalesce to 0."""
    toks = _tokens(df, text_col, id_col)
    tok_agg = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("term").alias("n_distinct"),
    )
    per = bigrams(df, text_col, id_col).groupBy("doc_id", "w1", "w2").agg(
        F.count("*").alias("c")
    )
    bg_agg = per.groupBy("doc_id").agg(
        F.sum("c").alias("n_bigrams"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).alias(
            "n_dup_occ"
        ),
        F.max("c").alias("top_c"),
    )
    return (
        tok_agg.join(bg_agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            (F.col("n_distinct") / F.col("n_tokens")).alias("distinct_ratio"),
            F.coalesce(
                F.col("n_dup_occ") / F.col("n_bigrams"), F.lit(0.0)
            ).alias("dup_bigram_frac"),
            F.coalesce(
                F.col("top_c") / F.col("n_bigrams"), F.lit(0.0)
            ).alias("top_bigram_frac"),
        )
    )


def shingles(
    df: DataFrame,
    n: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    distinct: bool = True,
) -> DataFrame:
    """(doc_id, shingle) n-token shingles (space-joined); ``distinct``
    dedupes per doc (set semantics), ``distinct=False`` keeps every
    occurrence (frequency semantics — ``duplicated_spans``)."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    n_sh = F.size(toks) - (n - 1)
    # sequence(1, 0) yields a DESCENDING [1, 0] in Spark, so short docs
    # must take the empty-array branch, never the sequence
    sh = F.when(
        n_sh >= 1,
        F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.array_join(F.slice(toks, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    out = df.select(
        F.col(id_col).alias("doc_id"), F.explode(sh).alias("shingle")
    )
    return out.distinct() if distinct else out


def duplicated_spans(
    df: DataFrame,
    n: int = 20,
    min_docs: int = 2,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top duplicated n-token spans across the corpus — the ExactSubstr
    signal (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better") at span granularity: which exact text runs repeat in
    MULTIPLE documents (license blocks, vendored code, templates), ranked
    by total occurrences. Doc-pair dedup (winnow/MinHash) says WHO
    overlaps; this says WHAT repeats — the actionable unit for span-level
    scrubbing.

    → (span, n_occ, n_docs) top-k by (n_occ desc, span asc). One explode
    + one map-side-combinable groupBy; ``min_docs`` keeps only cross-doc
    repetition (a doc repeating its own template is repetition_stats'
    signal, not this one). At 100 TB scale, group on a hash of the span
    first and re-join the text for the survivors."""
    occ = shingles(df, n, text_col, id_col, distinct=False)
    return (
        occ.groupBy(F.col("shingle").alias("span"))
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.count_distinct("doc_id").alias("n_docs"),
        )
        .where(F.col("n_docs") >= min_docs)
        .orderBy(F.desc("n_occ"), F.asc("span"))
        .limit(k)
    )


def remove_dup_spans(
    df: DataFrame,
    n: int = 10,
    min_count: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_spans: bool = False,
) -> DataFrame:
    """Duplicated-span REMOVAL — the ExactSubstr dedup transform (Lee et
    al. 2022): ``duplicated_spans`` says WHAT repeats; this rewrites the
    corpus with the repeats cut out. Every occurrence of an n-token span
    appearing ≥ ``min_count`` times corpus-wide is deleted EXCEPT the
    canonical occurrence — the one with the smallest (doc_id, pos) — so
    exactly one copy of each duplicated run survives, mirroring the
    paper's keep-one-byte-range policy.

    One-pass semantics: spans are matched against the ORIGINAL token
    stream; removal does not re-trigger matching on newly adjacent tokens
    (the suffix-array implementation removes byte ranges of the original
    text the same way). Overlapping duplicated occurrences union their
    covered positions.

    → (doc_id, clean_text, n_removed) — EVERY input doc appears; a doc
    whose tokens are all removed (or that had none) keeps clean_text ''.

    Scale notes (100 TB): the occurrence table is one shingle explode
    (n× the token stream); canonicalization is a window over the span key
    — ``hash_spans=True`` keys that exchange by ``xxhash64(span)``
    instead of the n-token text (≈n·8 bytes/row less shuffle; results
    identical up to a ~2⁻⁶⁴ collision, so the scale path uses it and the
    oracle-checked entry keeps the exact text key). Covered positions
    explode only from DUPLICATED
    occurrences (bounded by n × dup rows, a corpus-quality signal, not a
    corpus-sized blowup after exact dedup has run); the rebuild is one
    groupBy(doc_id) over surviving tokens with an array_sort — per-task
    memory is the document's own length."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("arr"))
    tok = base.select(
        "doc_id", F.posexplode("arr").alias("pos", "term")
    )
    n_sp = F.size("arr") - (n - 1)
    span_structs = F.when(
        n_sp >= 1,
        F.transform(
            F.sequence(F.lit(1), n_sp),
            lambda i: F.struct(
                (i - 1).cast("int").alias("pos"),
                F.array_join(F.slice("arr", i, n), " ").alias("span"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,span:string>>"))
    occ = base.select(
        "doc_id", F.explode(span_structs).alias("o")
    ).select("doc_id", F.col("o.pos").alias("pos"), F.col("o.span").alias("span"))
    if hash_spans:
        occ = occ.select("doc_id", "pos", F.xxhash64("span").alias("span"))
    w_rn = Window.partitionBy("span").orderBy("doc_id", "pos")
    w_cnt = Window.partitionBy("span")
    dup = (
        occ.withColumn("rn", F.row_number().over(w_rn))
        .withColumn("cnt", F.count(F.lit(1)).over(w_cnt))
        .where((F.col("cnt") >= min_count) & (F.col("rn") >= 2))
    )
    covered = dup.select(
        "doc_id",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias("pos"),
    ).distinct()
    kept = tok.join(covered, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "term"))),
                lambda s: s["term"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).alias("_kept"),
    )
    dl = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("_dl"))
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(dl, "doc_id", "left")
        .join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            (F.coalesce("_dl", F.lit(0)) - F.coalesce("_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
        )
    )


def contamination_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Test-set contamination: for each eval doc, the fraction of its
    distinct n-token shingles that appear anywhere in the train corpus.

    Returns (doc_id, n_shingles, n_overlap, contamination). The train
    shingle set is deduplicated once; the eval side (small by construction)
    broadcasts into the probe join, so the train stream is a single
    narrow scan at any corpus size."""
    ev = shingles(eval_df, n, text_col, id_col)
    tr = shingles(train, n, text_col, id_col).select("shingle").distinct()
    # inner join against the DISTINCT train shingle set ≡ left-semi, but
    # (unlike left-semi) lets the small eval side be the broadcast build
    hits = (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_overlap"))
    )
    totals = ev.groupBy("doc_id").agg(F.count("*").alias("n_shingles"))
    return (
        totals.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_shingles",
            F.coalesce(F.col("n_overlap"), F.lit(0)).alias("n_overlap"),
            (
                F.coalesce(F.col("n_overlap"), F.lit(0))
                / F.col("n_shingles").cast("double")
            ).alias("contamination"),
        )
    )


BOS = "<s>"


def lm_transitions(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, prev, term) token transitions with a BOS sentinel before
    the first token — every token is scored exactly once as a transition
    from its predecessor (``prev = '<s>'`` for the first). Built like
    ``bigrams``: one zip_with over the token array, no positional
    self-join. Zero-token docs contribute no rows."""
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    prevs = F.concat(
        F.array(F.lit(BOS)),
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
    )
    pairs = F.zip_with(
        prevs, toks, lambda a, b: F.struct(a.alias("prev"), b.alias("term"))
    )
    return (
        df.select(F.col(id_col).alias("doc_id"), F.explode(pairs).alias("tr"))
        .select("doc_id", F.col("tr.prev").alias("prev"), F.col("tr.term").alias("term"))
        # zip_with pads to the longer side: an empty doc yields one
        # (BOS, null) pad row — drop it
        .where(F.col("term").isNotNull())
    )


def lm_perplexity(
    df: DataFrame,
    ref_df: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    lam: float = 0.7,
    add_k: float = 0.5,
    bigram_min_count: int = 2,
) -> DataFrame:
    """Language-model quality scoring for training-data curation (the
    CCNet recipe, Wenzek et al. 2020: score documents by cross-entropy
    under a reference-corpus LM, keep/bucket by perplexity). The paper's
    5-gram KenLM is replaced by an interpolated bigram/unigram LM with
    add-k smoothing — trainable and scoreable entirely as DataFrame
    aggregations, no external model artifacts:

        p(w | v)  = lam * c(v,w)/c(v,·) + (1 - lam) * p_uni(w)
        p_uni(w)  = (c(w) + add_k) / (T + add_k * (V + 1))      # +1: OOV
        CE(doc)   = -mean_i ln p(w_i | w_{i-1})   (w_0 = BOS)
        ppl(doc)  = exp(CE)

    The LM trains on ``ref_df`` (a curated/clean slice in the CCNet
    setup); default is self-scoring on ``df``. Bigrams rarer than
    ``bigram_min_count`` are dropped from the LM (their mass backs off to
    the unigram floor), keeping the transition table compact.

    Returns (doc_id, n_tokens, cross_entropy, ppl) — one row per input
    doc; zero-token docs carry n_tokens=0 and null CE/ppl rather than
    vanishing.

    Scale (100 TB): unigram table is vocabulary-sized (broadcast); the
    pruned bigram LM is the only possibly-large build artifact — the
    score-side join on (prev, term) broadcasts when it fits and falls
    back to a hash join on the pair key otherwise (uniform keys: real
    bigram skew is capped by the prune). Training totals are 1-row
    aggregates broadcast via crossJoin. Everything is codegen'd Column
    algebra — no Python, no window, no global sort.
    """
    ref = ref_df if ref_df is not None else df
    uni = (
        _tokens(ref, text_col, id_col)
        .groupBy("term")
        .agg(F.count("*").alias("c_w"))
        .persist()
    )
    totals = uni.groupBy().agg(
        F.sum("c_w").cast("double").alias("t_tok"),
        F.count("*").cast("double").alias("v"),
    )
    bg = (
        lm_transitions(ref, text_col, id_col)
        .groupBy("prev", "term")
        .agg(F.count("*").alias("c_vw"))
        .persist()
    )
    # prefix totals BEFORE the prune: the true denominator of c(v,w)/c(v,·)
    prefix = bg.groupBy("prev").agg(F.sum("c_vw").cast("double").alias("c_v"))
    lm_bg = (
        bg.where(F.col("c_vw") >= bigram_min_count)
        .join(prefix, "prev")
        .select("prev", "term", (F.col("c_vw") / F.col("c_v")).alias("p_bg"))
    )

    tr = lm_transitions(df, text_col, id_col)
    p_uni = (F.coalesce(F.col("c_w"), F.lit(0)) + F.lit(add_k)) / (
        F.col("t_tok") + F.lit(add_k) * (F.col("v") + 1)
    )
    p = F.lit(lam) * F.coalesce(F.col("p_bg"), F.lit(0.0)) + F.lit(
        1 - lam
    ) * p_uni
    scored = (
        tr.join(F.broadcast(uni), "term", "left")
        .join(F.broadcast(lm_bg), ["prev", "term"], "left")
        .crossJoin(F.broadcast(totals))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.avg(-F.log(p)).alias("cross_entropy"),
        )
    )
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).alias("n_tokens"),
            "cross_entropy",
            F.exp("cross_entropy").alias("ppl"),
        )
    )


def ppl_buckets(
    scored: DataFrame,
    n_buckets: int = 3,
    ce_col: str = "cross_entropy",
    scalable: bool = False,
) -> DataFrame:
    """CCNet's head/middle/tail split: ntile buckets over ascending
    cross-entropy (bucket 1 = most-fluent head). Deterministic tie-break
    on doc_id. Null-CE (empty) docs sort last, landing in the tail.

    ``scalable=False`` (exact small-scale form): ntile over a single
    global sort — fine up to ~10^9 rows. ``scalable=True``: the SAME
    bucket assignment, byte-identical, computed without any single-task
    sort — the global rank comes from ``vocab.banded_row_number`` (range
    bands + per-band row_number + broadcast offsets) and the bucket is
    derived from the rank with ntile's remainder-first arithmetic: with
    N rows and n buckets, the first N % n buckets hold ceil(N/n) rows,
    the rest floor(N/n). This replaces the previously-documented
    approx-quantile mode with an exact one at the same scale story."""
    if not scalable:
        w = Window.orderBy(
            F.col(ce_col).asc_nulls_last(), F.col("doc_id")
        )
        return scored.withColumn("bucket", F.ntile(n_buckets).over(w))

    from fuzzy_wiki_spark.operators.vocab import banded_row_number

    ranked = banded_row_number(
        scored,
        [F.col(ce_col).asc_nulls_last(), F.asc("doc_id")],
        rn_col="_rn",
    )
    n_total = ranked.groupBy().agg(
        F.count(F.lit(1)).alias("_N")
    )
    return (
        ranked.crossJoin(F.broadcast(n_total))
        .withColumn("bucket", ntile_of_rank(n_buckets).cast("int"))
        .drop("_rn", "_N")
    )


def ntile_of_rank(n_buckets: int):
    """ntile's bucket for the 1-based rank ``_rn`` among ``_N`` rows, in
    integer arithmetic (``div``): ranks 1 .. rem·(base+1) fall in the
    first rem = N % n (larger) buckets. Double division misplaces bucket
    boundary rows once ranks pass 2^53."""
    base = f"(_N div {n_buckets})"
    rem = f"(_N % {n_buckets})"
    head = f"({rem} * ({base} + 1))"
    return F.expr(
        f"CASE WHEN _rn <= {head} THEN (_rn - 1) div ({base} + 1) + 1 "
        f"ELSE {rem} + (_rn - 1 - {head}) div {base} + 1 END"
    )
