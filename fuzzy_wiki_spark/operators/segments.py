"""Compressed posting segments + segment-local top-k (reference O10/O11/O13).

Layout decision (the scale-critical one): segments are partitioned by
**doc-id bucket**, with terms sorted within each bucket's files:

    index_segments(bucket int, field string, term string,
                   df int, sum_tf long,
                   doc_ids binary,   -- delta-gap + varint (codec.py)
                   tfs binary,       -- varint
                   pos_lens binary,  -- varint: #positions per doc
                   positions binary, -- varint: per-doc delta-encoded positions
                   max_tf int, n_blocks int,
                   block_last binary, block_maxtf binary, -- block-max metadata
                   block_doc_off binary, block_tf_off binary) -- per-block byte
                                        -- offsets (selective block decode)

Why doc-bucket (not term-hash) partitioning: every bucket holds the FULL
posting lists of all terms for its doc range, so a query executes as
independent per-bucket document-at-a-time top-k (vectorized numpy inside one
Arrow stage) followed by Spark's TakeOrderedAndProject global merge — the
reference's shard scatter / partial-k / gather (Searcher.java:66-68,
WikiSearcher scatter O23, DocTermInfoHandler merge O15) with the shuffle as
the network. No query-time shuffle of postings ever happens; only (bucket ×
matched terms) rows are read, and `term` predicate pushdown prunes parquet
row groups because terms are sorted within files.

The build is the reference's reduce (Indexer.java:33-55) + merge
(IndexMerger.java:18-37) collapsed into one salted two-stage aggregation:
stage 1 groups (bucket, field, term, salt) — the salt defuses hot-term skew
(north rule; a term in 50% of docs otherwise lands on one reducer) — and
stage 2 k-way-merges the pre-sorted salted runs per (bucket, field, term)
inside an Arrow stage, then delta+varint encodes and writes.

Block-max metadata: postings are chunked into BLOCK=128-doc blocks; per block
we store the last doc_id, max tf, and the byte offset of the block in the
doc_ids/tfs buffers (delta encoding restarts at block heads, so each block
is independently decodable). segment_query.py uses these for block-max WAND:
candidates whose upper bound can't reach θ are dropped pre-probe, and only
blocks containing surviving candidates are ever varint-decoded.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

import pyarrow.compute as pc

from fuzzy_wiki_spark.codec import (
    binary_col as _binary_col,
    block_offsets,
    decode_position_runs,
    delta_encode_blocked,
    encode_tfs,
    varint_decode,
    varint_encode,
    varint_encode_with_lengths,
    varint_value_counts,
)

BLOCK = 128
# meta rows, encoded like postings and read by segment_query.BucketView:
# per-field doc lengths, redirect docs (O22 filter), and tombstones
# (streaming/incremental.py delete_docs). Tombstoned docs are dropped from
# results; they and their marker are physically removed at compaction.
# Stats (df/doc_count/avgdl) keep counting them until then, which is
# Lucene's deletes-until-merge semantics.
META_DL = "_dl"
META_REDIRECT = "_redirect"
META_DELETED = "_deleted"
META_TERMS = [META_DL, META_REDIRECT, META_DELETED]

SEGMENTS_SCHEMA_DDL = (
    "bucket int, field string, term string, df int, sum_tf long, "
    "doc_ids binary, tfs binary, pos_lens binary, positions binary, "
    "max_tf int, n_blocks int, block_last binary, block_maxtf binary, "
    "block_doc_off binary, block_tf_off binary"
)
_SEG_PA = pa.schema(
    [
        pa.field("bucket", pa.int32()),
        pa.field("field", pa.string()),
        pa.field("term", pa.string()),
        pa.field("df", pa.int32()),
        pa.field("sum_tf", pa.int64()),
        pa.field("doc_ids", pa.binary()),
        pa.field("tfs", pa.binary()),
        pa.field("pos_lens", pa.binary()),
        pa.field("positions", pa.binary()),
        pa.field("max_tf", pa.int32()),
        pa.field("n_blocks", pa.int32()),
        pa.field("block_last", pa.binary()),
        pa.field("block_maxtf", pa.binary()),
        pa.field("block_doc_off", pa.binary()),
        pa.field("block_tf_off", pa.binary()),
    ]
)


def encode_group(
    doc_ids: np.ndarray, tfs: np.ndarray, pos_lists: list[np.ndarray]
) -> dict:
    """One (bucket, field, term) group, postings sorted by doc_id →
    encoded segment row fields."""
    order = np.argsort(doc_ids, kind="stable")
    d = np.asarray(doc_ids, dtype=np.uint64)[order]
    t = np.asarray(tfs, dtype=np.uint64)[order]
    plists = [np.asarray(pos_lists[i], dtype=np.uint64) for i in order]
    pos_lens = np.array([p.size for p in plists], dtype=np.uint64)
    # per-doc delta encoding of positions, concatenated
    flat = (
        np.concatenate(plists) if plists else np.empty(0, dtype=np.uint64)
    )
    if flat.size:
        # delta within each doc's list: subtract predecessor, reset per doc
        starts = np.concatenate(([0], np.cumsum(pos_lens)))[:-1].astype(np.int64)
        deltas = flat.copy()
        deltas[1:] = flat[1:] - flat[:-1]
        deltas[starts] = flat[starts]
        pos_buf = varint_encode(deltas)
    else:
        pos_buf = b""
    n = d.size
    n_blocks = (n + BLOCK - 1) // BLOCK
    pad = n_blocks * BLOCK - n
    d_pad = np.pad(d, (0, pad), constant_values=0)
    t_pad = np.pad(t, (0, pad), constant_values=0)
    block_last = d[np.minimum(np.arange(1, n_blocks + 1) * BLOCK - 1, n - 1)]
    block_maxtf = t_pad.reshape(n_blocks, BLOCK).max(axis=1)
    doc_buf, doc_offs = delta_encode_blocked(d, BLOCK)
    tf_offs = block_offsets(t, BLOCK)
    return {
        "df": int(n),
        "sum_tf": int(t.sum()),
        "doc_ids": doc_buf,
        "tfs": encode_tfs(t),
        "pos_lens": varint_encode(pos_lens),
        "positions": pos_buf,
        "max_tf": int(t.max()) if n else 0,
        "n_blocks": int(n_blocks),
        "block_last": varint_encode(block_last),
        "block_maxtf": varint_encode(block_maxtf),
        "block_doc_off": varint_encode(doc_offs.astype(np.uint64)),
        "block_tf_off": varint_encode(tf_offs.astype(np.uint64)),
    }


def decode_positions(
    pos_lens_buf: bytes, pos_buf: bytes
) -> tuple[np.ndarray, np.ndarray]:
    """→ (per-posting position counts, flat absolute positions): one
    segment row's positions, posting after posting."""
    lens = varint_decode(pos_lens_buf).astype(np.int64)
    return lens, decode_position_runs(lens, pos_buf)


def encode_partition_table(tbl: pa.Table) -> pa.RecordBatch | None:
    """Encode ALL (bucket, field, term) groups of one partition at once.

    The per-group loop (`encode_group` × ~vocab·buckets calls — code
    corpora have near-unique path tokens, so hundreds of thousands of tiny
    groups per partition) was the build's top cost. Here every step is one
    global numpy/Arrow op over the partition: lexsort on integer codes,
    gap computation with restarts at block heads, ONE varint encode of the
    whole partition's gaps/tfs/positions/metadata, and zero-copy slicing
    of those buffers into per-group binary cells via offset arithmetic.
    Per-group Python: none.
    """
    n = tbl.num_rows
    if n == 0:
        return None
    # dtypes: narrow on purpose — every astype here is a full-array copy
    # and the concurrent-worker cost is memory traffic, not ALU (bucket/tf/
    # positions stay int32; only doc_id needs 64 bits)
    bucket = tbl.column("bucket").combine_chunks().to_numpy(zero_copy_only=False)
    doc = tbl.column("doc_id").combine_chunks().to_numpy(
        zero_copy_only=False
    ).astype(np.int64, copy=False)
    tf = tbl.column("tf").combine_chunks().to_numpy(zero_copy_only=False)
    # field may arrive pre-dictionary-encoded (build_segments ships a
    # tinyint code through the exchange and rebuilds the dictionary)
    fcol = tbl.column("field").combine_chunks()
    field_d = fcol if pa.types.is_dictionary(fcol.type) else fcol.dictionary_encode()
    term_d = tbl.column("term").combine_chunks().dictionary_encode()

    def _lex_codes(dict_arr: pa.DictionaryArray) -> np.ndarray:
        """Dictionary indices remapped to LEXICOGRAPHIC rank — dictionary
        order is insertion order, so sorting on raw codes would leave rows
        unsorted by term string; rank-remapped codes make the lexsort below
        emit true (bucket, field, term) string order, which is what lets
        the parquet write skip a Spark-side sort and still get min/max
        row-group stats that prune term predicates."""
        d = dict_arr.dictionary
        order = pc.sort_indices(d).to_numpy(zero_copy_only=False)
        ranks = np.empty(len(d), dtype=np.int64)
        ranks[order] = np.arange(len(d))
        return ranks[
            dict_arr.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        ]

    f_codes = _lex_codes(field_d)
    t_codes = _lex_codes(term_d)
    pos_col = tbl.column("positions").combine_chunks()

    order_np = np.lexsort((doc, t_codes, f_codes, bucket))
    order = pa.array(order_np, type=pa.int64())
    bucket, doc, tf = bucket[order_np], doc[order_np], tf[order_np]
    f_codes, t_codes = f_codes[order_np], t_codes[order_np]
    # positions arrive PRE-ENCODED per posting (postings.py wire format:
    # per-posting varint delta stream) — the reduce side never re-encodes:
    # take() reorders the byte cells, group cells are byte-range slices,
    # and per-row value counts come from one continuation-bit scan (the
    # counts can't be read off ``tf``: meta rows carry dl in tf with empty
    # position streams)
    pos_sorted = pos_col.take(order)
    pbufs = pos_sorted.buffers()
    pos_offs = np.frombuffer(pbufs[1], dtype=np.int32)[
        pos_sorted.offset : pos_sorted.offset + n + 1
    ].astype(np.int64)
    pos_data = pbufs[2] if pbufs[2] is not None else b""
    row_lens = varint_value_counts(pos_data, pos_offs)

    new_group = np.empty(n, dtype=bool)
    new_group[0] = True
    new_group[1:] = (
        (bucket[1:] != bucket[:-1])
        | (f_codes[1:] != f_codes[:-1])
        | (t_codes[1:] != t_codes[:-1])
    )
    group_starts = np.flatnonzero(new_group)
    n_groups = group_starts.size
    group_ends = np.append(group_starts[1:], n)
    glens = group_ends - group_starts
    row_bounds = np.append(group_starts, n)  # n_groups+1, row space

    # ---- doc gaps, restart at every block head (covers group heads) ----
    idx_in_group = np.arange(n) - np.repeat(group_starts, glens)
    block_start_mask = (idx_in_group % BLOCK) == 0
    block_starts = np.flatnonzero(block_start_mask)
    gaps = doc.copy()
    gaps[1:] -= doc[:-1]
    gaps[block_starts] = doc[block_starts]
    doc_buf, doc_nb = varint_encode_with_lengths(gaps)
    doc_cum = np.concatenate(([0], np.cumsum(doc_nb, dtype=np.int64)))
    doc_col = _binary_col(doc_buf, doc_cum[row_bounds])

    # ---- tfs ----
    tf_buf, tf_nb = varint_encode_with_lengths(tf)
    tf_cum = np.concatenate(([0], np.cumsum(tf_nb, dtype=np.int64)))
    tf_col = _binary_col(tf_buf, tf_cum[row_bounds])

    # ---- positions: group cell = byte-range concat of its rows' streams
    # (per-posting delta restarts are already in the wire format) ----
    p0 = int(pos_offs[0])
    pos_col_out = _binary_col(
        memoryview(pos_data)[p0 : int(pos_offs[-1])],
        pos_offs[row_bounds] - p0,
    )

    # pos_lens: varint of per-row list lengths, sliced per group
    rl_buf, rl_nb = varint_encode_with_lengths(row_lens)
    rl_cum = np.concatenate(([0], np.cumsum(rl_nb, dtype=np.int64)))
    pos_lens_col = _binary_col(rl_buf, rl_cum[row_bounds])

    # ---- block metadata ----
    nb_per_group = (glens + BLOCK - 1) // BLOCK
    block_ends = np.minimum(
        block_starts + BLOCK, np.repeat(group_ends, nb_per_group)
    )
    block_last = doc[block_ends - 1]
    block_maxtf = np.maximum.reduceat(tf, block_starts)
    blk_bounds = np.concatenate(([0], np.cumsum(nb_per_group)))
    bl_buf, bl_nb = varint_encode_with_lengths(block_last)
    bl_cum = np.concatenate(([0], np.cumsum(bl_nb, dtype=np.int64)))
    block_last_col = _binary_col(bl_buf, bl_cum[blk_bounds])
    bm_buf, bm_nb = varint_encode_with_lengths(block_maxtf)
    bm_cum = np.concatenate(([0], np.cumsum(bm_nb, dtype=np.int64)))
    block_maxtf_col = _binary_col(bm_buf, bm_cum[blk_bounds])

    # block byte-offset arrays: per group, n_blocks rel offsets + end
    def _block_off_col(val_cum: np.ndarray, value_bounds: np.ndarray):
        rel = val_cum[block_starts] - np.repeat(
            val_cum[value_bounds[:-1]], nb_per_group
        )
        end = val_cum[value_bounds[1:]] - val_cum[value_bounds[:-1]]
        slot_base = np.concatenate(([0], np.cumsum(nb_per_group + 1)))
        out = np.empty(int(slot_base[-1]), dtype=np.uint64)
        blk_idx_in_group = np.arange(block_starts.size) - np.repeat(
            blk_bounds[:-1], nb_per_group
        )
        out[np.repeat(slot_base[:-1], nb_per_group) + blk_idx_in_group] = rel
        out[slot_base[1:] - 1] = end
        b, nb = varint_encode_with_lengths(out)
        cum = np.concatenate(([0], np.cumsum(nb)))
        return _binary_col(b, cum[slot_base])

    block_doc_off_col = _block_off_col(doc_cum, row_bounds)
    block_tf_off_col = _block_off_col(tf_cum, row_bounds)

    # group_starts indexes the SORTED row order; field_d/term_d are in
    # original order — compose with order_np to fetch the right strings
    gs = pa.array(order_np[group_starts], type=pa.int64())
    return pa.RecordBatch.from_arrays(
        [
            pa.array(bucket[group_starts].astype(np.int32)),
            field_d.take(gs).cast(pa.string()),
            term_d.take(gs).cast(pa.string()),
            pa.array(glens.astype(np.int32)),
            pa.array(np.add.reduceat(tf, group_starts, dtype=np.int64)),
            doc_col,
            tf_col,
            pos_lens_col,
            pos_col_out,
            pa.array(
                np.maximum.reduceat(tf, group_starts).astype(np.int32)
            ),
            pa.array(nb_per_group.astype(np.int32)),
            block_last_col,
            block_maxtf_col,
            block_doc_off_col,
            block_tf_off_col,
        ],
        schema=_SEG_PA,
    )


FIELD_NAMES_DEFAULT = ("content", "path")


def build_segments(
    postings_df,
    n_buckets: int = 32,
    field_names: tuple[str, ...] = FIELD_NAMES_DEFAULT,
):
    """postings (doc_id, field, term, tf, positions, dl) → segments DF.

    Hot-term skew (SURVEY.md §4, north rule "salted-key shuffle"): the
    doc-bucket IS the salt. The shuffle key is (bucket, field, term), and
    ``bucket = doc_id % n_buckets``, so a term occurring in 50% of all docs
    is split into n_buckets independent groups of ~hot_df/n_buckets postings
    each — no single reducer ever sees a full hot posting list. This is the
    salted two-stage pattern with the second (merge) stage made unnecessary
    by construction, because bucket-local posting lists are exactly the
    persisted layout we want (segment-local top-k never needs the global
    list, and global df/idf come from term_stats aggregation instead).

    The bucket is ``doc_id % n_buckets``: at 10^12 docs, n_buckets is sized
    so a bucket's postings fit an executor (e.g. 2^14 buckets → ~60M
    docs/bucket).

    ``field_names`` (the closed set of indexed fields, known at plan time
    from the tokenizer's field map) lets the exchange carry the field as a
    TINYINT code instead of a per-row string: a posting row's field is one
    of ~2 values repeated tens of millions of times, and as an UnsafeRow
    string it costs an 8-byte offset word + padded bytes through the
    shuffle AND the Arrow socket on both sides — ~10-16 bytes/row of pure
    waste at 37 M rows/800 k docs. The encoder rebuilds the string as an
    Arrow dictionary array (zero-copy indices), so the segment output
    schema is unchanged. A field value outside ``field_names`` fails the
    job loudly rather than mis-bucketing."""
    from pyspark.sql import functions as F

    names = sorted(field_names)
    code_expr = F.lit(None).cast("tinyint")
    for i in reversed(range(len(names))):
        code_expr = F.when(
            F.col("field") == names[i], F.lit(i).cast("tinyint")
        ).otherwise(code_expr)

    # project to exactly what the encoder consumes — `dl` in particular is
    # per-(doc,field) data replicated onto every posting row; letting it
    # ride the exchange + the Arrow socket would add ~8 bytes/row of pure
    # waste (the _dl meta rows carry doc lengths instead)
    with_bucket = postings_df.select(
        "doc_id",
        code_expr.alias("field_code"),
        "term",
        "tf",
        "positions",
    ).withColumn("bucket", (F.col("doc_id") % n_buckets).cast("int"))

    def encode_partition(
        batches: Iterator[pa.RecordBatch],
    ) -> Iterator[pa.RecordBatch]:
        # rows arrive hash-clustered by (bucket, field, term) — repartition
        # upstream guarantees all rows of a group are in this partition
        pa.set_cpu_count(1)  # one worker = one core (see postings.py)
        pa.set_io_thread_count(1)
        blist = list(batches)
        if not blist:
            return
        tbl = pa.Table.from_batches(blist)
        codes = tbl.column("field_code").combine_chunks()
        if codes.null_count:
            raise ValueError(
                f"posting field outside field_names={names!r}; pass the "
                "actual field set to build_segments(field_names=...)"
            )
        field_col = pa.DictionaryArray.from_arrays(
            codes, pa.array(names, type=pa.string())
        )
        i = tbl.schema.get_field_index("field_code")
        tbl = tbl.set_column(i, pa.field("field", field_col.type), field_col)
        rb = encode_partition_table(tbl)
        if rb is not None:
            yield rb

    # exchange on hash(bucket, field_code, term): skew-bounded because each
    # group holds at most 1/n_buckets of any term's postings (docstring
    # above); hashing the code vs the string only relabels reducers
    repart = with_bucket.repartition("bucket", "field_code", "term")
    return repart.mapInArrow(encode_partition, SEGMENTS_SCHEMA_DDL)


def build_index_segments(
    postings_df,
    docs_meta=None,
    n_buckets: int = 32,
    field_names: tuple[str, ...] = FIELD_NAMES_DEFAULT,
):
    """Full segment build: postings + per-bucket meta rows, one pipeline.

    Meta rows reuse the posting codec (segment_query.py reads them):
      - ``_dl`` per (bucket, field): doc_ids = bucket docs, tfs = exact dl —
        the O(1) doc-length store (O18 done right; the reference walks the
        whole vocabulary per lookup, myTermStats.java:69-88),
      - ``_redirect`` per bucket: doc_ids of REDIRECT docs (O22 filter),
        indexed-but-filtered exactly like the reference.
    """
    from pyspark.sql import functions as F

    empty_pos = F.lit(b"").cast("binary")  # meta rows carry no positions
    dl_rows = (
        postings_df.groupBy("doc_id", "field")
        .agg(F.first("dl").alias("dl"))
        .select(
            "doc_id",
            "field",
            F.lit(META_DL).alias("term"),
            F.col("dl").alias("tf"),
            empty_pos.alias("positions"),
            "dl",
        )
    )
    seg_input = postings_df.select(
        "doc_id", "field", "term", "tf", "positions", "dl"
    ).unionByName(dl_rows)
    if docs_meta is not None:
        red = docs_meta.where(F.col("is_redirect")).select(
            "doc_id",
            F.lit("content").alias("field"),
            F.lit(META_REDIRECT).alias("term"),
            F.lit(1).alias("tf"),
            empty_pos.alias("positions"),
            F.lit(0).alias("dl"),
        )
        seg_input = seg_input.unionByName(red)
    return build_segments(seg_input, n_buckets=n_buckets, field_names=field_names)


def write_segments(segments_df, path: str, n_buckets: int = 32) -> None:
    """Partitioned-by-bucket parquet write, NO extra exchange.

    The encode stage already emits each partition's rows sorted by
    (bucket, field lex, term lex) — encode_partition_table lexsorts on
    rank-remapped dictionary codes — but that ordering is not *declared* to
    Spark, and the dynamic-partition write (V1Writes) inserts its own local
    sort on the partition column; intra-bucket term order would then survive
    only via the sort's stability, which is true today (TimSort) but not
    contractual. ``sortWithinPartitions`` declares the full ordering
    explicitly: no exchange, an O(n) pass over already-sorted runs, and the
    write's required per-partition clustering is satisfied by it — so the
    term-sorted row groups (whose min/max stats prune term predicates at
    query time) are guaranteed, not incidental. The earlier layout that
    re-shuffled the encoded ~GB blobs on bucket stays retired: this sort is
    local to each encode task. Cost: up to one file per (task × bucket) —
    at scale the per-bucket file count equals the encode parallelism, which
    Iceberg compaction (or a coalesce on read) absorbs.

    (Iceberg in production: same partition spec + sort order.)"""
    (
        segments_df.sortWithinPartitions("bucket", "field", "term")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(path)
    )
