"""Vectorized multi-list posting codec.

encode_posting_list/decode_posting_list (postings.py) are correct but pay
~0.5ms of numpy-call overhead per tiny list; a segment-build group encodes
~10^5-10^6 term lists, so per-list calls dominate the whole index build.
These functions process EVERY list of a group in a constant number of global
numpy passes: one varint encode/decode over the concatenated streams, with
per-list byte ranges recovered from cumulative byte-length sums, and restart
points (list starts + block starts) handled by a segmented cumsum.

The encoder has no per-list Python at all: its output columns are Arrow
arrays laid straight over the flat buffers (binary arrays over the varint
streams, list arrays over the block metadata), which the grouped Arrow UDFs
of operators/postings.py hand to Spark as they are.

Bit-compatible with the single-list codec (property-tested): row t of every
output column is exactly encode_posting_list's bytes, block metadata and
offsets for list t.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

from .postings import BLOCK_SIZE
from .varint import _MAX_VARINT_BYTES, _THRESHOLDS, decode_varint, encode_varint

# longest varint stream one Arrow binary array can hold (int32 offsets)
MAX_STREAM_BYTES = (1 << 31) - 1


def concat_aranges(counts: np.ndarray) -> np.ndarray:
    """[3,2] -> [0,1,2,0,1] — vectorized per-segment arange."""
    counts = np.asarray(counts, dtype=np.int64)
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    starts = np.concatenate([[0], np.cumsum(counts[:-1])])
    return np.arange(total, dtype=np.int64) - np.repeat(starts, counts)


def _byte_lengths(v: np.ndarray) -> np.ndarray:
    lengths = np.ones(v.shape[0], dtype=np.int64)
    for t in _THRESHOLDS:
        lengths += (v >= t).astype(np.int64)
    return lengths


def _binary(data: bytes, offsets: np.ndarray) -> pa.Array:
    """Binary array over one flat byte stream, row i = data[offsets[i]:offsets[i+1]]."""
    offs = pa.py_buffer(offsets.astype(np.int32))
    return pa.Array.from_buffers(pa.binary(), offsets.shape[0] - 1, [None, offs, pa.py_buffer(data)])


def _lists(offsets: np.ndarray, values: np.ndarray) -> pa.Array:
    """List array over flat ``values``, row i = values[offsets[i]:offsets[i+1]]."""
    return pa.ListArray.from_arrays(pa.array(offsets.astype(np.int32)), pa.array(values))


def _cum_bytes(values: np.ndarray) -> np.ndarray:
    """cum[i] = total encoded bytes of values[:i] (len n+1)."""
    cum = np.zeros(values.shape[0] + 1, dtype=np.int64)
    np.cumsum(_byte_lengths(values), out=cum[1:])
    return cum


def encode_posting_lists(
    docs: np.ndarray,
    tfs: np.ndarray,
    dls: np.ndarray,
    bounds: np.ndarray,
    block: int = BLOCK_SIZE,
    positions: np.ndarray | None = None,
) -> dict[str, pa.Array]:
    """Encode T posting lists in one pass -> {column: T-row Arrow array}.

    docs/tfs/dls: concatenated arrays, sorted by doc WITHIN each list;
    bounds: int64 array of length T+1 — list t occupies [bounds[t], bounds[t+1]).
    ``positions`` (optional): within-doc token positions, flat across ALL
    lists in the same (list, doc) order — entry i's tfs[i] positions are
    contiguous and ascending. Encoded gap-restarted at every doc, with
    per-block byte offsets (bit-compatible with the single-list codec).

    The columns are the single-list row schema as Arrow arrays built straight
    over the flat buffers: each ``*_bin`` is a binary array over the whole
    group's varint stream with offsets ``cum[bounds]``; the block metadata
    are list arrays over the flat per-block values; the ``*_offs`` lists are
    one gather of ``cum`` at block starts and list ends, rebased per list.
    The binary offsets are int32, so every stream must stay under 2 GiB —
    callers split larger groups at list boundaries (:func:`split_lists`).
    """
    docs = np.asarray(docs, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    bounds = np.asarray(bounds, dtype=np.int64)
    n = docs.shape[0]
    T = bounds.shape[0] - 1
    lengths = np.diff(bounds)
    if np.any(lengths <= 0):
        raise ValueError("empty posting list in bounds")

    nblocks = (lengths + block - 1) // block
    # global indices of every block start (list starts are block starts)
    blk_starts = np.repeat(bounds[:-1], nblocks) + concat_aranges(nblocks) * block
    blk_of_list = np.repeat(np.arange(T), nblocks)
    blk_ends = np.minimum(blk_starts + block, bounds[1:][blk_of_list]) - 1  # inclusive

    gaps = docs.copy()
    gaps[1:] -= docs[:-1]
    gaps[blk_starts] = docs[blk_starts]  # restart: absolute at every block start
    if np.any(gaps < 0):
        raise ValueError("docs not sorted within lists")

    doc_cum = _cum_bytes(gaps.astype(np.uint64))
    tf_cum = _cum_bytes(tfs.astype(np.uint64))
    dl_cum = _cum_bytes(dls.astype(np.uint64))

    # every *_offs list holds its blocks' start offsets, then the list's end:
    # slot j of the flat offs values reads the stream cum at entry slot[j],
    # rebased on the list's first entry (in int64, THEN narrowed — a
    # group-absolute cum may pass 2^31 where a per-list offset cannot)
    nb_cum = np.zeros(T + 1, dtype=np.int64)
    np.cumsum(nblocks, out=nb_cum[1:])
    offs_bounds = nb_cum + np.arange(T + 1)
    is_end = np.zeros(offs_bounds[-1], dtype=bool)
    is_end[offs_bounds[1:] - 1] = True
    slot = np.empty(offs_bounds[-1], dtype=np.int64)
    slot[~is_end] = blk_starts
    slot[is_end] = bounds[1:]
    base = np.repeat(bounds[:-1], nblocks + 1)

    ends = [doc_cum[-1], tf_cum[-1], dl_cum[-1]]
    out = {
        "df": pa.array(lengths),
        "first_doc": pa.array(docs[bounds[:-1]]),
        "last_doc": pa.array(docs[bounds[1:] - 1]),
        "doc_bin": _binary(encode_varint(gaps.astype(np.uint64)), doc_cum[bounds]),
        "tf_bin": _binary(encode_varint(tfs.astype(np.uint64)), tf_cum[bounds]),
        "dl_bin": _binary(encode_varint(dls.astype(np.uint64)), dl_cum[bounds]),
        "block_last": _lists(nb_cum, docs[blk_ends]),
        "block_max_tf": _lists(nb_cum, np.maximum.reduceat(tfs, blk_starts).astype(np.int32)),
        "block_min_dl": _lists(nb_cum, np.minimum.reduceat(dls, blk_starts).astype(np.int32)),
        "doc_offs": _lists(offs_bounds, (doc_cum[slot] - doc_cum[base]).astype(np.int32)),
        "tf_offs": _lists(offs_bounds, (tf_cum[slot] - tf_cum[base]).astype(np.int32)),
        "dl_offs": _lists(offs_bounds, (dl_cum[slot] - dl_cum[base]).astype(np.int32)),
        "n_blocks": pa.array(nblocks.astype(np.int32)),
        "pos_bin": pa.nulls(T, pa.binary()),
        "pos_offs": pa.nulls(T, pa.list_(pa.int32())),
    }
    if positions is not None:
        pos = np.asarray(positions, dtype=np.int64)
        occ_bounds = np.zeros(n + 1, dtype=np.int64)  # entry i's positions are
        np.cumsum(tfs, out=occ_bounds[1:])            # [occ_bounds[i], occ_bounds[i+1])
        if pos.shape[0] != occ_bounds[-1]:
            raise ValueError("positions length must equal sum(tfs)")
        pgaps = pos.copy()
        pgaps[1:] -= pos[:-1]
        pgaps[occ_bounds[:-1]] = pos[occ_bounds[:-1]]  # restart at every doc
        if np.any(pgaps < 0):
            raise ValueError("positions not ascending within doc")
        pos_cum = _cum_bytes(pgaps.astype(np.uint64))[occ_bounds]  # per entry
        ends.append(pos_cum[-1])
        out["pos_bin"] = _binary(encode_varint(pgaps.astype(np.uint64)), pos_cum[bounds])
        out["pos_offs"] = _lists(offs_bounds, (pos_cum[slot] - pos_cum[base]).astype(np.int32))
    if max(ends) > MAX_STREAM_BYTES:
        raise ValueError(
            f"a varint stream of {max(ends)} bytes overflows Arrow's int32 binary "
            "offsets; split the lists first (split_lists)"
        )
    return out


def split_lists(bounds: np.ndarray, tfs: np.ndarray, max_bytes: int = MAX_STREAM_BYTES) -> list[int]:
    """Cut points ``[0, …, T]`` into the lists of ``bounds``: consecutive
    lists whose every varint stream is at most ``max_bytes`` long, so each
    chunk encodes into int32-offset Arrow arrays. The bound is the worst
    case, before encoding: at most 10 bytes per value, and no stream holds
    more values than the chunk's Σtf (the positions stream holds exactly
    that many, the others one per entry, tf >= 1). A list alone over the
    bound is a chunk of its own (and fails to encode, loudly)."""
    occ = np.zeros(np.asarray(tfs).shape[0] + 1, dtype=np.int64)
    np.cumsum(tfs, out=occ[1:])
    worst = occ[np.asarray(bounds, dtype=np.int64)] * _MAX_VARINT_BYTES
    cuts = [0]
    while cuts[-1] < worst.shape[0] - 1:
        last = int(np.searchsorted(worst, worst[cuts[-1]] + max_bytes, side="right")) - 1
        cuts.append(max(last, cuts[-1] + 1))
    return cuts


def decode_posting_lists(
    doc_bins: list[bytes],
    tf_bins: list[bytes],
    dl_bins: list[bytes],
    dfs: np.ndarray,
    block: int = BLOCK_SIZE,
    pos_bins: list[bytes] | None = None,
):
    """Decode R posting lists in one pass -> (docs, tfs, dls, bounds).

    Each ``*_bins`` is its stream as a sequence of bytes-like chunks that
    concatenate to the R lists' bytes in order — one chunk per list, or one
    per Arrow data buffer.

    bounds has length R+1; list r occupies [bounds[r], bounds[r+1]).
    With ``pos_bins`` the return gains a 5th element: the flat within-doc
    positions array (doc-major across all lists, entry i owns tfs[i] values).
    """
    dfs = np.asarray(dfs, dtype=np.int64)
    bounds = np.zeros(dfs.shape[0] + 1, dtype=np.int64)
    np.cumsum(dfs, out=bounds[1:])
    n = int(bounds[-1])
    gaps = decode_varint(b"".join(doc_bins), count=n).astype(np.int64)
    tfs = decode_varint(b"".join(tf_bins), count=n).astype(np.int64)
    dls = decode_varint(b"".join(dl_bins), count=n).astype(np.int64)

    nblocks = (dfs + block - 1) // block
    blk_starts = np.repeat(bounds[:-1], nblocks) + concat_aranges(nblocks) * block
    # segmented cumsum with restart at every block start
    c = np.cumsum(gaps)
    base = np.zeros(blk_starts.shape[0], dtype=np.int64)
    base[1:] = c[blk_starts[1:] - 1]
    seg_sizes = np.diff(np.concatenate([blk_starts, [n]]))
    docs = c - np.repeat(base, seg_sizes)
    if pos_bins is None:
        return docs, tfs, dls, bounds
    n_pos = int(tfs.sum())
    pgaps = decode_varint(b"".join(pos_bins), count=n_pos).astype(np.int64)
    occ_starts = np.zeros(n, dtype=np.int64)
    np.cumsum(tfs[:-1], out=occ_starts[1:])
    pc = np.cumsum(pgaps)
    pbase = np.zeros(n, dtype=np.int64)
    pbase[1:] = pc[occ_starts[1:] - 1]
    pos = pc - np.repeat(pbase, tfs)
    return docs, tfs, dls, bounds, pos
