"""Delta + varbyte posting-list compression (numpy, vectorized).

Reference analogue: Olaf's order-preserving packed keys — the mem DB packs
48-bit hash + 16-bit timestamp into one uint64 (`olaf_db_mem.c:25-32`,
pack/unpack `:63-73`) and LMDB's MDB_DUPFIXED packs fixed-width posting
values contiguously (`olaf_db.c:101-114`). Here the same idea for text
postings: doc_ids are sorted ascending, gap-encoded (delta), then varbyte
(LEB128) packed; tfs are varbyte packed directly.

Everything is numpy-vectorized. The build, merge and compaction kernels
run inside `mapInArrow` on executors and work on whole Arrow columns: a
binary column decodes in ONE varbyte pass over its data buffer
(binary_values), and packed output columns are assembled from offsets
straight into Arrow buffers (binary_array, list_array) — no per-row or
per-term Python, no per-row `bytes` objects. Encode/decode throughput is
the knob that sets index size and posting-scan speed at 100 TB.

Block-max metadata: postings are split into fixed-size blocks of
``block_size`` docs; per block we keep (last_doc_id, max_score_quantum) so
the query path can skip whole blocks (block-max WAND) the way Olaf's sorted
B+tree range scan skips key ranges.
"""

from __future__ import annotations

import numpy as np


def _varbyte_encode_arr(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Core vectorized LEB128: returns (byte array, bytes-per-value)."""
    # number of 7-bit groups per value (>=1)
    nbits = np.zeros(v.shape, dtype=np.int64)
    tmp = v.copy()
    while True:
        nz = tmp > 0
        if not nz.any():
            break
        nbits[nz] += 1
        tmp = tmp >> np.uint64(7)
    nbytes = np.maximum(nbits, 1)
    total = int(nbytes.sum())
    out = np.empty(total, dtype=np.uint8)
    # byte positions: for value i, bytes go at offset[i] .. offset[i]+nbytes[i)-1
    ends = np.cumsum(nbytes)
    starts = ends - nbytes
    # emit least-significant group first with continuation bits
    max_len = int(nbytes.max())
    for g in range(max_len):
        mask = nbytes > g
        idx = starts[mask] + g
        vals = (v[mask] >> np.uint64(7 * g)) & np.uint64(0x7F)
        cont = (nbytes[mask] - 1) > g
        out[idx] = vals.astype(np.uint8) | (cont.astype(np.uint8) << 7)
    return out, nbytes


def varbyte_encode(values: np.ndarray) -> bytes:
    """LEB128-encode a uint64 array, fully vectorized."""
    v = np.asarray(values, dtype=np.uint64)
    if v.size == 0:
        return b""
    out, _ = _varbyte_encode_arr(v)
    return out.tobytes()


def varbyte_decode(buf: bytes) -> np.ndarray:
    """Inverse of varbyte_encode — vectorized LEB128 decode.

    Works at VALUE granularity, not byte granularity: value boundaries come
    from one flatnonzero over the continuation bits, then values are decoded
    in length strata (all 1-byte values in one shot, all 2-byte values in
    two gathers, ...). Postings gaps/tfs/doc_lens are overwhelmingly 1-2
    bytes, so this is ~4 array passes total — the serving path decodes
    full head-term posting lists per query, making this the latency floor.
    """
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    ends = np.flatnonzero((b & 0x80) == 0)  # index of each value's last byte
    n = ends.size
    lengths = np.empty(n, dtype=np.int64)
    lengths[0] = ends[0] + 1
    np.subtract(ends[1:], ends[:-1], out=lengths[1:])
    maxlen = int(lengths.max())
    if maxlen == 1:
        return b.astype(np.uint64)  # no continuation bits anywhere
    starts = ends - lengths + 1
    if maxlen == 2:  # the dominant posting shape: gaps/tfs/doc_lens < 2^14
        lo = (b[starts] & np.uint8(0x7F)).astype(np.uint64)
        nxt = b[np.minimum(starts + 1, b.size - 1)] & np.uint8(0x7F)
        # bool multiply zeroes the phantom "next byte" of 1-byte values
        hi = (nxt * (lengths == 2)).astype(np.uint64)
        return lo | hi << np.uint64(7)
    out = np.zeros(n, dtype=np.uint64)
    for L in range(1, maxlen + 1):
        sel = np.flatnonzero(lengths == L)
        if sel.size == 0:
            continue
        s = starts[sel]
        v = (b[s] & np.uint8(0x7F)).astype(np.uint64)
        for j in range(1, L):
            v |= (b[s + j] & np.uint8(0x7F)).astype(np.uint64) << np.uint64(7 * j)
        out[sel] = v
    return out


def delta_encode(sorted_ids: np.ndarray) -> np.ndarray:
    """Ascending ids -> gaps (first kept absolute). Input must be sorted."""
    a = np.asarray(sorted_ids, dtype=np.uint64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0]
    out[1:] = a[1:] - a[:-1]
    return out


def delta_decode(gaps: np.ndarray) -> np.ndarray:
    g = np.asarray(gaps, dtype=np.uint64)
    return np.cumsum(g, dtype=np.uint64)


def pack_postings(doc_ids: np.ndarray, tfs: np.ndarray) -> tuple[bytes, bytes]:
    """(doc_ids sorted ascending, tfs aligned) -> (packed_ids, packed_tfs)."""
    return varbyte_encode(delta_encode(doc_ids)), varbyte_encode(tfs)


def unpack_postings(id_buf: bytes, tf_buf: bytes) -> tuple[np.ndarray, np.ndarray]:
    return delta_decode(varbyte_decode(id_buf)), varbyte_decode(tf_buf)


def delta_encode_grouped(values: np.ndarray, group_starts: np.ndarray) -> np.ndarray:
    """Gap-encode a concatenation of per-group ascending runs in one pass:
    each group's first element stays absolute, the rest become gaps."""
    a = np.asarray(values, dtype=np.uint64)
    if a.size == 0:
        return a
    out = np.empty_like(a)
    out[0] = a[0]
    out[1:] = a[1:] - a[:-1]
    out[group_starts] = a[group_starts]
    return out


# ---- whole-column Arrow kernels' building blocks --------------------------
#
# A packed column is a concatenation of per-row LEB128 runs, so an Arrow
# binary column's data buffer decodes in ONE varbyte_decode; row boundaries
# come back as per-row value counts (terminal bytes per row). Delta runs
# restart at known positions (row starts, block starts, doc starts), which a
# single cumsum minus the running total at each restart undoes. Encoding is
# the mirror image: one _varbyte_encode_arr over the concatenated values, and
# the per-value byte starts ARE the output column's offsets.


def seg_starts(counts: np.ndarray) -> np.ndarray:
    """Exclusive cumsum: start index of each segment of the given lengths."""
    c = np.asarray(counts, dtype=np.int64)
    out = np.zeros(c.size, dtype=np.int64)
    np.cumsum(c[:-1], out=out[1:])
    return out


def strided_starts(
    starts: np.ndarray, lens: np.ndarray, step: int
) -> tuple[np.ndarray, np.ndarray]:
    """Every segment's sub-starts at offsets 0, step, 2*step, ... inside it
    (block starts inside chunks, chunk starts inside terms), concatenated,
    plus the owning segment of each. Empty segments own none."""
    k = (np.asarray(lens, dtype=np.int64) + step - 1) // step
    owner = np.repeat(np.arange(k.size), k)
    ordinal = np.arange(owner.size, dtype=np.int64) - np.repeat(seg_starts(k), k)
    return np.asarray(starts, dtype=np.int64)[owner] + ordinal * step, owner


def restart_cumsum(vals: np.ndarray, restarts: np.ndarray) -> np.ndarray:
    """Undo a delta encoding whose value is ABSOLUTE at every restart
    (sorted, restarts[0] == 0): one cumsum minus the running total before
    each restart. uint64 arithmetic wraps, so signed ids round-trip."""
    n = vals.size
    if n == 0:
        return np.asarray(vals, dtype=np.uint64)
    c = np.cumsum(vals, dtype=np.uint64)
    cpad = np.zeros(n + 1, dtype=np.uint64)
    cpad[1:] = c
    r = np.asarray(restarts, dtype=np.int64)
    return c - np.repeat(cpad[r], np.diff(np.append(r, n)))


def binary_bytes(arr) -> tuple[np.ndarray, np.ndarray]:
    """Raw bytes of an Arrow binary column plus each row's byte start (n + 1
    entries, the last is the total), zero-copy; honours slice offsets and
    64-bit (large) offsets."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    _, obuf, dbuf = arr.buffers()
    odt = np.int64 if pa.types.is_large_binary(arr.type) else np.int32
    offs = np.frombuffer(obuf, dtype=odt)[arr.offset: arr.offset + len(arr) + 1]
    offs = offs.astype(np.int64)
    data = np.frombuffer(dbuf, dtype=np.uint8) if dbuf is not None else np.empty(0, np.uint8)
    return data[offs[0]: offs[-1]], offs - offs[0]


def binary_values(arr) -> tuple[np.ndarray, np.ndarray]:
    """Decode a whole Arrow binary column of varbyte runs in ONE pass:
    (concatenated uint64 values, per-row value counts)."""
    data, offs = binary_bytes(arr)
    vals = varbyte_decode(data)
    ends = np.zeros(data.size + 1, dtype=np.int64)
    np.cumsum((data & 0x80) == 0, out=ends[1:])
    return vals, np.diff(ends[offs])


def encode_values(
    values: np.ndarray, restarts: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Varbyte-encode concatenated values in one pass, gap-encoding them
    when `restarts` (positions that stay absolute) is given. Returns
    (bytes, byte start of every value plus the total: n + 1 entries)."""
    v = np.asarray(values, dtype=np.uint64)
    vstart = np.zeros(v.size + 1, dtype=np.int64)
    if v.size == 0:
        return np.empty(0, dtype=np.uint8), vstart
    if restarts is not None:
        v = delta_encode_grouped(v, restarts)
    buf, nbytes = _varbyte_encode_arr(v)
    np.cumsum(nbytes, out=vstart[1:])
    return buf, vstart


def binary_array(buf: np.ndarray, row_starts: np.ndarray, total: int | None = None):
    """Arrow binary column whose row i is buf[row_starts[i]:row_starts[i+1]]
    (the last row ends at `total`, default len(buf)) — built from offsets,
    with no per-row bytes objects."""
    import pyarrow as pa

    offs = np.empty(len(row_starts) + 1, dtype=np.int32)
    offs[:-1] = row_starts
    offs[-1] = len(buf) if total is None else total
    return pa.BinaryArray.from_buffers(
        pa.binary(), len(row_starts),
        [None, pa.py_buffer(offs), pa.py_buffer(np.ascontiguousarray(buf))],
    )


def list_array(values: np.ndarray, counts: np.ndarray, value_type):
    """Arrow list column: row i holds the next counts[i] entries of values."""
    import pyarrow as pa

    offs = np.zeros(len(counts) + 1, dtype=np.int32)
    np.cumsum(counts, out=offs[1:])
    return pa.ListArray.from_arrays(pa.array(offs), pa.array(values, type=value_type))


def decode_ids_blocked(buf: bytes, block_size: int) -> np.ndarray:
    """Full decode of a block-restart delta buffer: varbyte -> segmented
    cumsum (each block's first value is absolute)."""
    v = varbyte_decode(buf)
    return restart_cumsum(v, np.arange(0, v.size, block_size, dtype=np.int64))


def decode_block(buf: bytes, offs: np.ndarray, b: int, delta: bool) -> np.ndarray:
    """Decode ONE block from its byte-offset table (lazy path)."""
    lo = int(offs[b])
    hi = int(offs[b + 1]) if b + 1 < len(offs) else len(buf)
    v = varbyte_decode(buf[lo:hi])
    return np.cumsum(v, dtype=np.uint64) if delta else v


def block_maxes(
    doc_ids: np.ndarray,
    tfs: np.ndarray,
    doc_lens: np.ndarray,
    idf_w: float,
    k1: float,
    b: float,
    avgdl: float,
    block_size: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-block (last_doc_id, max BM25 contribution) for block-max WAND.

    The max is exact for the stored parameterization — the config-frozen
    invariant (olaf_config.h:46-50) is what makes precomputing it sound.
    """
    n = doc_ids.size
    if n == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=np.float64)
    # same association order as oracle/scorer so the bound is >= true scores
    scores = idf_w * (tfs * (k1 + 1.0) / (tfs + k1 * (1.0 - b + b * doc_lens / avgdl)))
    n_blocks = (n + block_size - 1) // block_size
    pad = n_blocks * block_size - n
    if pad:
        scores = np.concatenate([scores, np.full(pad, -np.inf)])
        last_ids = np.concatenate([doc_ids, np.full(pad, doc_ids[-1], dtype=doc_ids.dtype)])
    else:
        last_ids = doc_ids
    bm = scores.reshape(n_blocks, block_size).max(axis=1)
    lasts = last_ids.reshape(n_blocks, block_size)[:, -1].astype(np.int64)
    return lasts, bm
