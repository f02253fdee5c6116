"""Delta-gap + varint posting-list codec (numpy-vectorized).

The reference delegates posting compression to Lucene's codecs (nothing in the
repo implements one — see SURVEY.md §4 "Postings compression"); the north star
for this rebuild names delta-gap + varint explicitly, so we implement it here
as pure-numpy batch code suitable for calling inside Arrow UDF stages: no
per-element Python in either direction.

Layout (LEB128, little-endian base-128, unsigned):
    encode_deltas([d0, d1, d2, ...])  where d0 = v0, di = vi - v(i-1)
Doc-id lists are strictly increasing so all gaps are >= 1 after the first
element; tf lists are encoded as raw values (no delta).
"""

from __future__ import annotations

import numpy as np

_MASK = np.uint64(0x7F)
_SHIFT = np.uint64(7)


def _as_unsigned(values: np.ndarray) -> np.ndarray:
    """View/cast input to an unsigned dtype WITHOUT widening: the encoder's
    temp-array traffic is the hot cost inside concurrent Arrow workers
    (memory bus + page-fault contention), so uint32 inputs must stay 4-byte
    end-to-end instead of paying a 2× widening to uint64."""
    v = np.ascontiguousarray(values)
    if v.dtype == np.uint64 or v.dtype == np.uint32:
        return v
    if v.dtype == np.int64:
        return v.view(np.uint64)  # non-negative by contract
    if v.dtype == np.int32:
        return v.view(np.uint32)
    return v.astype(np.uint64)


def _varint_nbytes(v: np.ndarray) -> np.ndarray:
    """Per-value LEB128 byte length (int8: maxb ≤ 10): 1 + Σ (v >= 2^(7k))
    — a short chain of vectorized compares (no data-dependent loop). The
    chain stops at the first threshold no value reaches, so small-valued
    arrays (tfs, position gaps — the overwhelming majority) pay 1-2 passes;
    int8 output keeps this temp at n bytes, not 8n."""
    nb = np.ones(v.shape, dtype=np.int8)
    lim = 5 if v.dtype == np.uint32 else 10
    for k in range(1, lim):
        ge = v >= v.dtype.type(1 << (7 * k))
        if not ge.any():
            break
        np.add(nb, ge, out=nb, casting="unsafe")
    return nb


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-encode an array of non-negative ints, vectorized.

    Strategy: byte-length per value via a compare chain, then materialize
    an (n, maxb) byte matrix with vectorized shifts and compact it with ONE
    boolean take — row-major order makes each value's bytes contiguous, so
    the compaction IS the final buffer. All-below-128 inputs (tfs, most gap
    streams) short-circuit to a single astype. Input dtype is preserved
    (uint32 stays 4-byte) to halve temp traffic in concurrent workers."""
    v = _as_unsigned(values)
    if v.size == 0:
        return b""
    return _encode_with_nb(v, _varint_nbytes(v))


def _encode_with_nb(v: np.ndarray, nbytes: np.ndarray) -> bytes:
    maxb = int(nbytes[np.argmax(nbytes)])
    if maxb == 1:  # every value < 128: the varint IS the byte
        return v.astype(np.uint8).tobytes()
    n = v.size
    shift = v.dtype.type(7)
    mask = v.dtype.type(0x7F)
    mat = np.empty((n, maxb), dtype=np.uint8)
    work = v.copy()
    np.bitwise_and(work, mask, out=mat[:, 0], casting="unsafe")
    for b in range(1, maxb):
        np.right_shift(work, shift, out=work)
        np.bitwise_and(work, mask, out=mat[:, b], casting="unsafe")
    # keep[b] = byte b emitted (nbytes > b); continuation bit on all but last
    keep = nbytes[:, None] > np.arange(maxb, dtype=np.int8)
    cont = keep[:, 1:]
    mat[:, :-1] |= cont.view(np.uint8) << 7
    return mat[keep].tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Decode LEB128 buffer → uint64 array, vectorized.

    Value boundaries are positions where the continuation bit is clear;
    per-value accumulation is done with a segmented shift-or over byte
    columns (<=10 passes), no Python loop over values.
    """
    raw = np.frombuffer(buf, dtype=np.uint8)
    if raw.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_last = (raw & 0x80) == 0
    ends = np.flatnonzero(is_last)  # index of final byte of each value
    starts = np.concatenate(([0], ends[:-1] + 1))
    lengths = ends - starts + 1
    n = ends.size
    out = np.zeros(n, dtype=np.uint64)
    maxb = int(lengths.max())
    payload = (raw & 0x7F).astype(np.uint64)
    for b in range(maxb):
        sel = lengths > b
        out[sel] |= payload[starts[sel] + b] << np.uint64(7 * b)
    return out


def delta_encode(sorted_ids: np.ndarray) -> bytes:
    """Delta-gap + varint encode a strictly-increasing int array."""
    a = np.asarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return b""
    gaps = np.empty_like(a)
    gaps[0] = a[0]
    np.subtract(a[1:], a[:-1], out=gaps[1:])
    return varint_encode(gaps)


def delta_decode(buf: bytes) -> np.ndarray:
    """Inverse of :func:`delta_encode` → uint64 array."""
    gaps = varint_decode(buf)
    if gaps.size == 0:
        return gaps
    return np.cumsum(gaps, dtype=np.uint64)


def varint_encode_with_lengths(
    values: np.ndarray,
) -> tuple[bytes, np.ndarray]:
    """(buffer, per-value byte length) in one pass — callers that slice the
    buffer per group need the lengths anyway (lengths computed once, shared
    by the encoder)."""
    v = _as_unsigned(values)
    if v.size == 0:
        return b"", np.empty(0, dtype=np.int8)
    nb = _varint_nbytes(v)
    return _encode_with_nb(v, nb), nb


def varint_byte_lengths(values: np.ndarray) -> np.ndarray:
    """Per-value encoded byte length (vectorized) — used to derive block
    byte offsets without re-encoding per block."""
    return _varint_nbytes(np.ascontiguousarray(values, dtype=np.uint64))


def block_offsets(values: np.ndarray, block: int) -> np.ndarray:
    """Byte offset of each block boundary in the varint buffer of ``values``
    (length n_blocks+1; last entry = total bytes). Enables O(1) slicing of
    a single block out of the buffer for selective decode."""
    nb = varint_byte_lengths(values)
    cum = np.concatenate(([0], np.cumsum(nb, dtype=np.int64)))
    n = len(values)
    n_blocks = (n + block - 1) // block
    idx = np.minimum(np.arange(0, n_blocks + 1) * block, n)
    return cum[idx]


def delta_encode_blocked(
    sorted_ids: np.ndarray, block: int
) -> tuple[bytes, np.ndarray]:
    """Delta-gap varint encode with a **restart at every block boundary**
    (the gap at a block start is the absolute doc_id). Returns
    ``(buf, byte_offsets)`` so any block decodes independently — the
    physical layout block-max WAND needs to *skip* blocks without touching
    their bytes (Lucene's codecs do the same; SURVEY.md §4)."""
    a = np.asarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return b"", np.zeros(1, dtype=np.int64)
    gaps = np.empty_like(a)
    gaps[0] = a[0]
    np.subtract(a[1:], a[:-1], out=gaps[1:])
    starts = np.arange(0, a.size, block)
    gaps[starts] = a[starts]  # restart: absolute value at block head
    return varint_encode(gaps), block_offsets(gaps, block)


def delta_decode_blocked(buf: bytes, block: int) -> np.ndarray:
    """Full decode of a blocked buffer (segmented cumsum, reset per block)."""
    gaps = varint_decode(buf)
    if gaps.size == 0:
        return gaps
    c = np.cumsum(gaps, dtype=np.uint64)
    starts = np.arange(0, gaps.size, block)
    base = c[starts] - gaps[starts]  # cumsum just before each block
    counts = np.diff(np.concatenate((starts, [gaps.size])))
    return c - np.repeat(base, counts)


def decode_doc_block(buf: bytes, offs: np.ndarray, j: int) -> np.ndarray:
    """Decode ONLY block ``j`` of a blocked doc_id buffer."""
    gaps = varint_decode(buf[int(offs[j]) : int(offs[j + 1])])
    return np.cumsum(gaps, dtype=np.uint64)


def decode_tf_block(buf: bytes, offs: np.ndarray, j: int) -> np.ndarray:
    """Decode ONLY block ``j`` of a raw-varint tf buffer."""
    return varint_decode(buf[int(offs[j]) : int(offs[j + 1])])


def binary_col(buf, byte_offsets: np.ndarray):
    """Zero-copy per-group binary column: one big varint buffer + group
    byte offsets → Arrow BinaryArray (no per-group Python slicing).
    ``buf`` is anything with the buffer protocol (bytes, memoryview,
    pa.Buffer)."""
    import pyarrow as pa

    return pa.BinaryArray.from_buffers(
        pa.binary(),
        byte_offsets.size - 1,
        [
            None,
            pa.py_buffer(byte_offsets.astype(np.int32).tobytes()),
            pa.py_buffer(buf),
        ],
    )


def encode_position_list(positions) -> bytes:
    """Encode ONE posting's positions to the wire format (inverse of
    :func:`decode_position_list`; tests + list-shaped callers — the engine
    encodes whole batches at once in postings.py)."""
    a = np.asarray(positions, dtype=np.uint64)
    if a.size == 0:
        return b""
    gaps = np.empty_like(a)
    gaps[0] = a[0]
    np.subtract(a[1:], a[:-1], out=gaps[1:])
    return varint_encode(gaps)


def positions_by_term(tps) -> dict:
    """{term: [absolute positions]} from one candidate row's
    ``collect_list(struct(term, positions))`` — the per-row decode step
    of the span matchers (the phrase kernel decodes a whole batch at
    once, operators/phrase.py). Multi-generation inputs may carry SEVERAL
    rows per term (one per generation, disjoint doc sets per the
    append-only contract); within one doc that still means one row per
    (term, generation), and extend() concatenates them. Callers needing
    sorted positions sort the lists themselves (single-row inputs arrive
    sorted from the encoder)."""
    posmap: dict = {}
    for tp in tps:
        posmap.setdefault(tp["term"], []).extend(
            decode_position_list(tp["positions"]).tolist()
        )
    return posmap


def decode_position_list(buf: bytes) -> np.ndarray:
    """Decode ONE posting's positions: varint gaps (first value absolute,
    delta-encoded after) → absolute positions. The per-posting mirror of
    the map-side encode in postings.py."""
    return np.cumsum(varint_decode(buf), dtype=np.uint64)


def decode_position_runs(lens: np.ndarray, buf) -> np.ndarray:
    """Decode consecutive postings' positions in one pass: ``buf`` holds
    one run of varint gaps per posting (each run's first value absolute,
    as :func:`decode_position_list` reads one), ``lens`` the number of
    values in each run. → flat absolute positions, run after run."""
    deltas = varint_decode(buf)
    if deltas.size == 0:
        return np.empty(0, dtype=np.uint64)
    nz = lens > 0
    starts = (np.concatenate(([0], np.cumsum(lens)))[:-1])[nz]
    cs = np.cumsum(deltas)
    # per-run reset: true[i] = cs[i] - cs[start(i)] + deltas[start(i)]
    base = cs[starts] - deltas[starts]
    return cs - np.repeat(base, lens[nz])


def varint_value_counts(buf, bounds: np.ndarray) -> np.ndarray:
    """Number of encoded varint VALUES inside each [bounds[i], bounds[i+1])
    byte range of ``buf`` — one vectorized pass over the continuation bits,
    no value decode."""
    raw = np.frombuffer(buf, dtype=np.uint8)
    cs = np.concatenate(
        ([0], np.cumsum((raw & 0x80) == 0, dtype=np.int64))
    )
    b = np.asarray(bounds, dtype=np.int64)
    return cs[b[1:]] - cs[b[:-1]]


def encode_tfs(tfs: np.ndarray) -> bytes:
    """Varint-encode term frequencies (raw, not delta — unordered values)."""
    return varint_encode(np.asarray(tfs, dtype=np.uint64))


def decode_tfs(buf: bytes) -> np.ndarray:
    return varint_decode(buf)
