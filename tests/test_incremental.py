"""Multi-generation incremental index: searchable WITHOUT compaction, and
compaction (reference O11, IndexMerger.java:18-37) produces a one-shot-
identical index.

Contract pinned here:
  gen-union search ≡ compacted search ≡ one-shot batch build (rank AND
  score identity over the golden reference queries), plus the encoder/
  decoder round-trip segments_to_postings(build) == postings.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from fuzzy_wiki_spark.corpus import REFERENCE_QUERIES, generate_docs_pdf
from fuzzy_wiki_spark.engine import SegmentIndex
from fuzzy_wiki_spark.operators.segments import vocabulary
from fuzzy_wiki_spark.streaming.incremental import (
    append_batch,
    compact_generations,
    load_generations,
    open_incremental,
    segments_to_postings,
)

N_DOCS = 200
N_EPOCHS = 3


@pytest.fixture(scope="module")
def corpus_pdf():
    return generate_docs_pdf(N_DOCS, seed=42)


@pytest.fixture(scope="module")
def oneshot(spark, corpus_pdf, tmp_path_factory):
    docs = spark.createDataFrame(corpus_pdf)
    path = str(tmp_path_factory.mktemp("oneshot"))
    return SegmentIndex.build(spark, docs, path, n_buckets=4)


@pytest.fixture(scope="module")
def inc_dir(spark, corpus_pdf, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("inc"))
    docs = spark.createDataFrame(corpus_pdf)
    for epoch in range(N_EPOCHS):
        batch = docs.where(F.col("doc_id") % N_EPOCHS == epoch)
        append_batch(spark, batch, epoch, out, n_buckets=4)
    return out


def _replay(idx, k=10):
    rows = idx.search_many(REFERENCE_QUERIES, k=k).collect()
    return sorted(
        (int(r["query_id"]), int(r["rank"]), int(r["doc_id"]), float(r["score"]))
        for r in rows
    )


def test_generations_written(spark, inc_dir):
    segs = load_generations(spark, inc_dir)
    gens = sorted(r["gen"] for r in segs.select("gen").distinct().collect())
    assert gens == list(range(N_EPOCHS))
    # duplicate (bucket, field, term) keys across generations exist — the
    # exact situation bucket_topk must k-way merge, not overwrite
    dups = (
        segs.groupBy("bucket", "field", "term")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dups > 0


def test_union_search_equals_oneshot(spark, oneshot, inc_dir):
    """The UNcompacted generation union must rank+score exactly like the
    one-shot batch build over the whole golden query set (phrases, stops,
    redirects included)."""
    inc = open_incremental(spark, inc_dir)
    assert inc.field_stats == oneshot.field_stats
    got = _replay(inc)
    want = _replay(oneshot)
    assert len(got) == len(want) > 0
    for (gq, gr, gd, gs), (wq, wr, wd, ws) in zip(got, want):
        assert (gq, gr, gd) == (wq, wr, wd)
        assert gs == pytest.approx(ws, rel=1e-9)


def test_compacted_search_equals_oneshot(spark, oneshot, inc_dir, tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("compacted"))
    comp = compact_generations(spark, inc_dir, dst, n_buckets=4)
    # compaction collapses every key to exactly one row
    dups = (
        comp.segments.groupBy("bucket", "field", "term")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dups == 0
    assert comp.field_stats == oneshot.field_stats
    got = _replay(comp)
    want = _replay(oneshot)
    assert len(got) == len(want) > 0
    for (gq, gr, gd, gs), (wq, wr, wd, ws) in zip(got, want):
        assert (gq, gr, gd) == (wq, wr, wd)
        assert gs == pytest.approx(ws, rel=1e-9)


def test_compaction_rebuckets(spark, inc_dir, tmp_path_factory):
    """Compaction can re-spread the layout: a different n_buckets target
    yields that many buckets and stays searchable."""
    dst = str(tmp_path_factory.mktemp("rebucket"))
    comp = compact_generations(spark, inc_dir, dst, n_buckets=8)
    n_buckets = comp.segments.select("bucket").distinct().count()
    assert n_buckets == 8
    assert comp.search("binary search tree", k=5).count() == 5


def test_segments_to_postings_roundtrip(spark, corpus_pdf, oneshot):
    """Decode is the encoder's exact inverse: segments → postings matches
    build_postings row-for-row (tf AND positions)."""
    from fuzzy_wiki_spark.operators.postings import build_postings

    decoded = (
        segments_to_postings(vocabulary(oneshot.segments)).toPandas()
    )
    orig = (
        build_postings(spark.createDataFrame(corpus_pdf))
        .select("doc_id", "field", "term", "tf", "positions")
        .toPandas()
    )
    key = ["doc_id", "field", "term"]
    decoded = decoded.sort_values(key).reset_index(drop=True)
    orig = orig.sort_values(key).reset_index(drop=True)
    assert len(decoded) == len(orig)
    pd.testing.assert_frame_equal(
        decoded[key + ["tf"]], orig[key + ["tf"]], check_dtype=False
    )
    # positions are wire-format varint bytes on both sides — byte identity
    # is the strongest possible roundtrip check
    for a, b in zip(decoded["positions"], orig["positions"]):
        assert bytes(a) == bytes(b)


def test_auto_compact_policy(spark, corpus_pdf, oneshot, tmp_path_factory):
    """Tiered auto-compaction (streaming/incremental.auto_compact): below
    every threshold it is a no-op; past max_generations it merges all
    generations into ONE in place; search results stay identical to the
    one-shot build; read amplification returns to 1.0; appends continue
    against the compacted index and a later delete-heavy workload trips
    the tombstone trigger."""
    from fuzzy_wiki_spark.streaming.incremental import (
        auto_compact,
        delete_docs,
        list_generations,
        read_amplification,
        tombstone_fraction,
    )

    out = str(tmp_path_factory.mktemp("autocomp"))
    docs = spark.createDataFrame(corpus_pdf)
    for epoch in range(4):
        append_batch(
            spark, docs.where(F.col("doc_id") % 4 == epoch), epoch, out,
            n_buckets=4,
        )
    assert len(list_generations(out)) == 4
    amp_before = read_amplification(spark, out)
    assert amp_before > 1.0

    # below thresholds: no-op (the steady-state cheap probe)
    assert auto_compact(spark, out, max_generations=8, n_buckets=4) is False
    assert len(list_generations(out)) == 4

    # generation-count trigger fires and folds to one generation
    assert auto_compact(spark, out, max_generations=3, n_buckets=4) is True
    gens = list_generations(out)
    assert len(gens) == 1 and gens[0].startswith("c")
    assert read_amplification(spark, out) == pytest.approx(1.0)
    from pathlib import Path

    assert not Path(out, "_trash").exists()
    assert _replay(open_incremental(spark, out)) == _replay(oneshot)

    # appends continue against the compacted index; read-amp trigger
    append_batch(
        spark,
        docs.where(F.col("doc_id") % 4 == 0).withColumn(
            "doc_id", F.col("doc_id") + 10_000
        ),
        99,
        out,
        n_buckets=4,
    )
    assert len(list_generations(out)) == 2
    assert auto_compact(
        spark, out, max_generations=8, max_read_amp=1.0, n_buckets=4
    ) is True
    assert len(list_generations(out)) == 1

    # tombstone trigger: delete >25% of docs, auto_compact purges them
    doomed = [int(i) for i in range(0, 200, 3)]
    delete_docs(spark, doomed, "del-0", out, n_buckets=4)
    assert tombstone_fraction(spark, out) > 0.25
    assert auto_compact(spark, out, max_generations=8, n_buckets=4) is True
    idx = open_incremental(spark, out)
    hits = {
        int(r["doc_id"])
        for r in idx.search_many(REFERENCE_QUERIES, k=50).collect()
    }
    assert not (hits & set(doomed))
    assert tombstone_fraction(spark, out) == 0.0
