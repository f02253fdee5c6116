"""Segment codec round-trips + segment build invariants (FIXTURES.md §5)."""

import numpy as np
import pytest

from fuzzy_wiki_spark.codec import (
    decode_doc_block,
    decode_tf_block,
    decode_tfs,
    delta_decode_blocked,
    varint_decode,
)
from fuzzy_wiki_spark.operators.segments import (
    BLOCK,
    decode_positions,
    encode_group,
)


def test_encode_group_roundtrip():
    rng = np.random.default_rng(7)
    n = 1000
    doc_ids = np.sort(rng.choice(10**9, size=n, replace=False))
    tfs = rng.integers(1, 50, size=n)
    pos_lists = [
        np.sort(rng.choice(500, size=int(t), replace=False)) for t in tfs
    ]
    enc = encode_group(doc_ids, tfs, pos_lists)
    assert enc["df"] == n
    assert enc["sum_tf"] == int(tfs.sum())
    got_ids = delta_decode_blocked(enc["doc_ids"], BLOCK)
    assert np.array_equal(got_ids, doc_ids.astype(np.uint64))
    assert np.all(np.diff(got_ids.astype(np.int64)) > 0)  # strictly increasing
    got_tfs = decode_tfs(enc["tfs"])
    assert np.array_equal(got_tfs, tfs.astype(np.uint64))
    lens, flat = decode_positions(enc["pos_lens"], enc["positions"])
    got_pos = np.split(flat, np.cumsum(lens)[:-1])
    assert len(got_pos) == n
    for want, got in zip(pos_lists, got_pos):
        assert np.array_equal(got, want.astype(np.uint64))


def test_encode_group_unsorted_input_gets_sorted():
    doc_ids = np.array([30, 10, 20])
    tfs = np.array([3, 1, 2])
    pos = [np.array([5]), np.array([0]), np.array([1, 2])]
    enc = encode_group(doc_ids, tfs, pos)
    assert np.array_equal(delta_decode_blocked(enc["doc_ids"], BLOCK), [10, 20, 30])
    assert np.array_equal(decode_tfs(enc["tfs"]), [1, 2, 3])
    lens, flat = decode_positions(enc["pos_lens"], enc["positions"])
    got_pos = np.split(flat, np.cumsum(lens)[:-1])
    assert [list(p) for p in got_pos] == [[0], [1, 2], [5]]


def test_block_max_metadata():
    n = BLOCK * 3 + 17
    doc_ids = np.arange(1, n + 1) * 2
    tfs = np.arange(1, n + 1)
    pos = [np.array([0]) for _ in range(n)]
    enc = encode_group(doc_ids, tfs, pos)
    assert enc["n_blocks"] == 4
    block_last = varint_decode(enc["block_last"])
    block_maxtf = varint_decode(enc["block_maxtf"])
    assert list(block_last) == [
        doc_ids[BLOCK - 1], doc_ids[2 * BLOCK - 1], doc_ids[3 * BLOCK - 1],
        doc_ids[-1],
    ]
    assert list(block_maxtf) == [BLOCK, 2 * BLOCK, 3 * BLOCK, n]
    assert enc["max_tf"] == n


def test_empty_positions_docs():
    enc = encode_group(
        np.array([1, 2]), np.array([1, 1]), [np.array([]), np.array([3])]
    )
    lens, flat = decode_positions(enc["pos_lens"], enc["positions"])
    got = np.split(flat, np.cumsum(lens)[:-1])
    assert list(got[0]) == [] and list(got[1]) == [3]


@pytest.mark.parametrize("n_buckets", [4])
def test_build_segments_spark(spark, n_buckets):
    from fuzzy_wiki_spark.corpus import generate_docs_pdf
    from fuzzy_wiki_spark.operators.postings import build_postings
    from fuzzy_wiki_spark.operators.segments import build_segments

    docs = spark.createDataFrame(generate_docs_pdf(100, seed=42))
    postings = build_postings(docs).persist()
    segs = build_segments(postings, n_buckets=n_buckets).collect()
    # invariant: sum(df) over segments == distinct (field,term,doc_id)
    n_postings = postings.count()
    assert sum(r["df"] for r in segs) == n_postings
    # per (bucket, field, term) unique
    keys = [(r["bucket"], r["field"], r["term"]) for r in segs]
    assert len(keys) == len(set(keys))
    # doc ids decode to the right bucket
    for r in segs[:50]:
        ids = delta_decode_blocked(r["doc_ids"], BLOCK).astype(np.int64)
        assert np.all(ids % n_buckets == r["bucket"])
        assert np.all(np.diff(ids) > 0)
    postings.unpersist()


def test_vectorized_partition_encoder_matches_per_group():
    """encode_partition_table (global vectorized, zero per-group Python)
    must produce byte-identical cells to encode_group run per group."""
    import pyarrow as pa
    from fuzzy_wiki_spark.operators.segments import (
        _SEG_PA,
        encode_partition_table,
    )

    rng = np.random.default_rng(3)
    rows = []
    for bucket in (0, 2):
        for field in ("content", "path"):
            for t in range(7):
                df = int(rng.integers(1, BLOCK * 3))
                ids = np.sort(rng.choice(10**6, size=df, replace=False))
                tfs = rng.integers(1, 9, size=df)
                for i in range(df):
                    pos = np.sort(
                        rng.choice(500, size=int(tfs[i]), replace=False)
                    )
                    rows.append(
                        (bucket, int(ids[i]), field, f"t{t}", int(tfs[i]),
                         pos.astype("int32").tolist(), 100)
                    )
    rng.shuffle(rows)
    from fuzzy_wiki_spark.codec import encode_position_list

    tbl = pa.Table.from_pydict(
        {
            "bucket": [r[0] for r in rows],
            "doc_id": [r[1] for r in rows],
            "field": [r[2] for r in rows],
            "term": [r[3] for r in rows],
            "tf": [r[4] for r in rows],
            # postings carry positions pre-encoded in the wire format
            "positions": [encode_position_list(r[5]) for r in rows],
            "dl": [r[6] for r in rows],
        },
        schema=pa.schema(
            [
                pa.field("bucket", pa.int32()),
                pa.field("doc_id", pa.int64()),
                pa.field("field", pa.string()),
                pa.field("term", pa.string()),
                pa.field("tf", pa.int32()),
                pa.field("positions", pa.binary()),
                pa.field("dl", pa.int32()),
            ]
        ),
    )
    got = encode_partition_table(tbl).to_pandas()
    assert len(got) == 2 * 2 * 7
    keys = list(zip(got["bucket"], got["field"], got["term"]))
    assert len(set(keys)) == len(keys)

    import pandas as pd

    from fuzzy_wiki_spark.codec import decode_position_list

    pdf = tbl.to_pandas()
    for _, g in pdf.groupby(["bucket", "field", "term"], sort=False):
        want = encode_group(
            g["doc_id"].to_numpy(),
            g["tf"].to_numpy(),
            [decode_position_list(p) for p in g["positions"]],
        )
        row = got[
            (got["bucket"] == g["bucket"].iloc[0])
            & (got["field"] == g["field"].iloc[0])
            & (got["term"] == g["term"].iloc[0])
        ].iloc[0]
        for k, v in want.items():
            assert row[k] == v, (g["term"].iloc[0], k)


def test_written_segment_files_are_term_sorted(spark, tmp_path):
    """The on-disk ordering contract (declared via sortWithinPartitions in
    write_segments): every segment parquet file holds rows sorted by
    (field, term), which is what lets parquet row-group min/max stats
    prune term predicates at query time."""
    from pathlib import Path

    import pyarrow.parquet as pq

    from fuzzy_wiki_spark.corpus import generate_docs_pdf
    from fuzzy_wiki_spark.engine import SegmentIndex

    docs = spark.createDataFrame(generate_docs_pdf(150, seed=42))
    path = str(tmp_path / "sorted_idx")
    SegmentIndex.build(spark, docs, path, n_buckets=4)
    files = sorted(Path(path, "segments").rglob("*.parquet"))
    assert files
    for f in files:
        t = pq.read_table(f, columns=["field", "term"])
        keys = list(zip(t.column("field").to_pylist(), t.column("term").to_pylist()))
        assert keys == sorted(keys), f"unsorted rows in {f}"
    rng = np.random.default_rng(11)
    n = BLOCK * 5 + 3
    doc_ids = np.sort(rng.choice(10**7, size=n, replace=False))
    tfs = rng.integers(1, 99, size=n)
    enc = encode_group(doc_ids, tfs, [np.array([0])] * n)
    doffs = varint_decode(enc["block_doc_off"]).astype(np.int64)
    toffs = varint_decode(enc["block_tf_off"]).astype(np.int64)
    assert doffs.size == enc["n_blocks"] + 1
    assert doffs[-1] == len(enc["doc_ids"]) and toffs[-1] == len(enc["tfs"])
    full_ids = delta_decode_blocked(enc["doc_ids"], BLOCK)
    full_tfs = decode_tfs(enc["tfs"])
    for j in range(enc["n_blocks"]):
        lo, hi = j * BLOCK, min((j + 1) * BLOCK, n)
        assert np.array_equal(decode_doc_block(enc["doc_ids"], doffs, j), full_ids[lo:hi])
        assert np.array_equal(decode_tf_block(enc["tfs"], toffs, j), full_tfs[lo:hi])
    assert np.array_equal(full_ids, doc_ids.astype(np.uint64))
