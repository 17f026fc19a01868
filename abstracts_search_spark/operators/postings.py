"""Posting-list encode + merge — the index centerpiece (SURVEY.md A5/A6).

Mirrors the reference's two-stage shape: per-source-partition incremental
builds that accumulate into a store (/root/reference/Makefile:57-66), then a
global fill producing on-disk inverted lists (Makefile:24-25). Here:

- **pack_doc_tokens** — tokenize + per-doc tf + ``term_id`` hash + bucket in
  one Arrow pass, one packed row per (doc, bucket).
- **build_segments_packed** — the one encoder: grouped by (bucket, shard),
  one encoded posting row per term. Every text write (batch build, stream
  epoch, documents index) encodes its rows ONCE with it and stores them as
  one postings generation ``gen=G``. Both it and the fold are grouped Arrow
  UDFs (``applyInArrow``, record-batch iterator form): a group's columns
  come in as flat numpy views, every list is encoded in one codec pass, and
  the codec's Arrow arrays go back to Spark as they are — no per-list
  Python and no pandas conversion on either side. ``bucket = term_id % B`` drives
  query-time partition pruning (the analog of IVF probing only nprobe lists,
  SURVEY.md §4); ``shard = doc_id // shard_docs`` tiles the docID space so
  doc ranges are DISJOINT across shards.
- **merge_segments** — the compaction fold: grouped by (bucket, shard), it
  concatenates each term's rows from every generation (disjoint doc sets),
  re-sorts and re-encodes them as one row.

Skew (north_star: hot terms 'user'/'assistant'): a hot term's postings are
bounded per group by the shard's doc-range width — the skew is sharded away
structurally instead of salted after the fact; a term appearing in every doc
produces `n_shards` independent, equally-sized rows (and query-time rows)
that process in parallel. AQE never sees a mega-group.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..codecs.multilist import (
    MAX_STREAM_BYTES,
    concat_aranges,
    decode_posting_lists,
    encode_posting_lists,
    split_lists,
)

DEFAULT_BUCKETS = 64
# docID-range tile per shard: bounds merge-group width AND sets the
# parallelism floor of merge + query scoring (one group per (bucket, shard));
# 16k docs/shard keeps even a 100k-doc corpus multi-shard while a hot term
# still packs ~16k postings per row
DEFAULT_SHARD_DOCS = 1 << 14

# Postings are keyed by `term_id`, the signed-int64 blake2b-8 hash of the
# term string — the dictionary-encoding of the token stream. The id is
# computed ONCE, in the same Arrow pass that tokenizes (pack_doc_tokens), so
# the build's single largest exchange moves fixed-width int64 keys instead of
# variable-length strings: severalfold fewer shuffle bytes, which is the
# memory-bandwidth ceiling of the wide build stage (BASELINE.md). Queries
# recompute term_id_of(query term) driver-side — no string dictionary needed.
# Collision math: for vocabulary V, expected colliding pairs ≈ V²/2^65
# (V=10⁹ → 0.03 expected collisions corpus-wide; a collision merges two
# terms' postings). A 128-bit id (two columns) is the config-flip if a
# trillion-term vocabulary ever matters.
_POSTING_COLS = (
    "term_id long, df long, first_doc long, last_doc long, "
    "doc_bin binary, tf_bin binary, dl_bin binary, "
    "block_last array<long>, block_max_tf array<int>, block_min_dl array<int>, "
    "doc_offs array<int>, tf_offs array<int>, dl_offs array<int>, n_blocks int, "
    # optional 4th varint stream (NULL when the index is built without
    # positions): within-doc token positions, gap-restarted per doc, with
    # per-block byte offsets — the phrase-search stream (codecs/postings.py)
    "pos_bin binary, pos_offs array<int>"
)

POSTINGS_SCHEMA = f"bucket int, shard long, {_POSTING_COLS}"
# the postings table as stored (plans/build.py writes it): data columns,
# then the gen=G/bucket=B directory partitions
POSTINGS_TABLE = f"shard long, {_POSTING_COLS}, gen int, bucket int"


def term_id_of(term: str) -> int:
    """Signed-int64 term key: blake2b(term, 8 bytes), big-endian two's
    complement. Deterministic across batches, processes and engines — the
    only property the key needs (it is never inverted back to the string)."""
    import hashlib

    return int.from_bytes(hashlib.blake2b(term.encode(), digest_size=8).digest(), "big", signed=True)


def bucket_of_id(tid: int, buckets: int) -> int:
    """Bucket from the signed id. Python's ``%`` with a positive modulus
    equals Spark's ``pmod`` — either side may compute it, identically."""
    return tid % buckets


def _arrow_schema(ddl: str) -> pa.Schema:
    """The Arrow schema Spark expects back from a grouped Arrow UDF
    returning ``ddl`` (parsed driver-side: parsing needs a session)."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    return to_arrow_schema(_parse_datatype_string(ddl))


def _term_major(tids: np.ndarray, docs: np.ndarray) -> np.ndarray:
    """The entry order the encoder takes: terms in order of first
    appearance, each term's entries by doc. Rows leave the group in that
    term order and the bucket files keep it (the partitioned write does not
    re-sort them by term_id), so this order is part of the written bytes."""
    return np.lexsort((docs, pd.factorize(tids, sort=False)[0]))


def _encoded_batches(tids, docs, tfs, dls, schema: pa.Schema, head: dict, pos=None,
                     max_bytes: int = MAX_STREAM_BYTES) -> Iterator[pa.RecordBatch]:
    """Entries grouped by term (each term's entries contiguous and ascending
    by doc, :func:`_term_major`) -> record batches of ``schema``, one
    encoded row per term. All lists of a batch are encoded in ONE vectorized
    codec pass (codecs/multilist.py) whose Arrow columns go out as they are;
    a group whose varint streams outgrow Arrow's int32 offsets is cut into
    several batches at list boundaries (``split_lists``). ``pos``: flat
    within-doc positions aligned with the entries (entry i owns tfs[i]
    contiguous ascending values); ``head``: the constant group-key columns."""
    if tids.shape[0] == 0:
        return
    bounds = np.concatenate([[0], np.flatnonzero(np.diff(tids)) + 1, [tids.shape[0]]])
    occ = np.zeros(tfs.shape[0] + 1, dtype=np.int64)
    np.cumsum(tfs, out=occ[1:])
    cuts = split_lists(bounds, tfs, max_bytes)
    for t0, t1 in zip(cuts[:-1], cuts[1:]):
        s, e = bounds[t0], bounds[t1]
        enc = encode_posting_lists(
            docs[s:e], tfs[s:e], dls[s:e], bounds[t0 : t1 + 1] - s,
            positions=None if pos is None else pos[occ[s] : occ[e]],
        )
        cols = {**enc, "term_id": pa.array(tids[bounds[t0:t1]])}
        for k, v in head.items():
            cols[k] = pa.array(np.full(t1 - t0, v), type=schema.field(k).type)
        yield pa.RecordBatch.from_arrays([cols[f.name] for f in schema], schema=schema)


def _gather_positions(pos_flat, tf_arr, order) -> np.ndarray:
    """Reorder a flat occurrence-level positions array to follow a PAIR-level
    permutation: entry i's tf_arr[i] positions are contiguous; after sorting
    entries by ``order``, gather each entry's segment in the new order."""
    tf_arr = np.asarray(tf_arr, dtype=np.int64)
    starts = np.zeros(tf_arr.shape[0] + 1, dtype=np.int64)
    np.cumsum(tf_arr, out=starts[1:])
    idx = np.repeat(starts[:-1][order], tf_arr[order]) + concat_aranges(tf_arr[order])
    return np.asarray(pos_flat, dtype=np.int64)[idx]


def _flat(col: pa.ChunkedArray, depth: int = 1) -> np.ndarray:
    """A list column's values, ``depth`` levels down, as one int64 numpy
    array (``list_flatten`` honors slice offsets, where ``.values`` would
    not)."""
    for _ in range(depth):
        col = pc.list_flatten(col)
    return col.to_numpy().astype(np.int64, copy=False)


def _stream_chunks(col: pa.ChunkedArray) -> list[memoryview]:
    """A binary column's bytes, row after row, as one contiguous slice of
    each chunk's data buffer (null rows hold no bytes)."""
    out = []
    for chunk in col.chunks:
        _, offs_buf, data = chunk.buffers()
        offs = np.frombuffer(offs_buf, dtype=np.int32)[chunk.offset : chunk.offset + len(chunk) + 1]
        if data is not None and len(chunk):
            out.append(memoryview(data)[offs[0] : offs[-1]])
    return out


_PACKED_DOC_SCHEMA = (
    "src_part int, doc_id long, doclen int, "
    "bks array<int>, tslices array<array<long>>, fslices array<array<int>>"
)
_PACKED_DOC_SCHEMA_POS = _PACKED_DOC_SCHEMA + ", pslices array<array<array<int>>>"


def pack_doc_tokens(
    docs: DataFrame,
    buckets: int = DEFAULT_BUCKETS,
    shard_docs: int = DEFAULT_SHARD_DOCS,
    text_col: str = "document",
    with_positions: bool = False,
    tokenizer: str = "ascii",
) -> DataFrame:
    """docs(doc_id, src_part, doclen, <text_col>) -> (doc, bucket)-packed rows
    (src_part, bucket, shard, doc_id, doclen, term_ids array, tfs array
    [, positions array<array<int>> when ``with_positions``]).

    The shuffle-compression stage: tokenize + per-doc tf-count + term_id +
    bucket assignment happen in ONE Arrow pass emitting a single nested row
    per doc; the cheap fan-out to (doc, bucket) granularity is a codegen'd JVM
    arrays_zip+explode. The exchange that follows moves ~tokens/12 packed rows
    of fixed-width int64 ids instead of one string row per token occurrence —
    at 100 TB the token-stream shuffle is the single largest data movement of
    the build, and its bytes (strings vs ints) set the memory-bandwidth floor.

    The per-token work is numpy-vectorized: the tokenizer's batch pass
    (``TokenizerSpec.batch``: one regex scan per doc, one ``pd.factorize`` over
    the batch's flat token stream, lowering once per unique raw token), then
    blake2b hashing once per UNIQUE term of the batch (with a cross-batch
    cache); tf counting is a run-length pass over the
    (doc, bucket, term_id)-lexsorted stream — no per-OCCURRENCE Python.
    ``with_positions`` additionally carries each occurrence's within-doc token
    index (the phrase-search stream, ascending per (doc, term) by the stable
    lexsort); it is off for the throughput build path.
    """
    from ..functions.tokenize import get_tokenizer

    spec = get_tokenizer(tokenizer)

    # per-task term→(id, bucket) cache bound: hashing re-runs for evicted
    # terms (correctness unaffected); keeps worker memory O(1) when a task
    # streams a pathological vocabulary (random strings), instead of growing
    # with every unique token the task ever sees
    _CACHE_MAX = 4_000_000

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        id_cache: dict[str, tuple[int, int]] = {}
        cache_get = id_cache.get

        for pdf in batches:
            if len(id_cache) > _CACHE_MAX:
                id_cache.clear()
            lens, codes, terms = spec.batch(pdf[text_col])
            out_cols = {
                "bks": [], "tslices": [], "fslices": [],
                **({"pslices": []} if with_positions else {}),
            }
            keep: list[int] = []
            if codes.shape[0]:
                # hash once per unique term of the batch
                utids = np.empty(terms.shape[0], dtype=np.int64)
                ubks = np.empty(terms.shape[0], dtype=np.int64)
                for j, term in enumerate(terms):
                    tb = cache_get(term)
                    if tb is None:
                        tid = term_id_of(term)
                        tb = (tid, tid % buckets)
                        id_cache[term] = tb
                    utids[j], ubks[j] = tb
                tok_tid = utids[codes]
                tok_bk = ubks[codes]
                doc_idx = np.repeat(np.arange(lens.shape[0]), lens)
                pos_in_doc = concat_aranges(lens)
                # stable sort → positions stay ascending within each pair
                order = np.lexsort((tok_tid, tok_bk, doc_idx))
                d = doc_idx[order]
                bk = tok_bk[order]
                td = tok_tid[order]
                ps = pos_in_doc[order]
                # pair = (doc, term_id) run; bucket is a function of term_id
                new_pair = np.empty(d.shape[0], dtype=bool)
                new_pair[0] = True
                np.logical_or(np.diff(d) != 0, np.diff(td) != 0, out=new_pair[1:])
                pstarts = np.flatnonzero(new_pair)
                occ_bounds = np.concatenate([pstarts, [d.shape[0]]])
                tfs = np.diff(occ_bounds)
                pair_doc, pair_bk, pair_tid = d[pstarts], bk[pstarts], td[pstarts]
                # bucket groups within each doc, then docs
                new_bg = np.empty(pstarts.shape[0], dtype=bool)
                new_bg[0] = True
                np.logical_or(
                    np.diff(pair_doc) != 0, np.diff(pair_bk) != 0, out=new_bg[1:]
                )
                bgstarts = np.flatnonzero(new_bg)
                bg_bounds = np.concatenate([bgstarts, [pstarts.shape[0]]])
                bg_doc, bg_bk = pair_doc[bgstarts], pair_bk[bgstarts]
                new_doc = np.empty(bgstarts.shape[0], dtype=bool)
                new_doc[0] = True
                new_doc[1:] = np.diff(bg_doc) != 0
                dstarts = np.flatnonzero(new_doc)
                d_bounds = np.concatenate([dstarts, [bgstarts.shape[0]]])
                keep = bg_doc[dstarts].tolist()
                for di in range(dstarts.shape[0]):
                    s, e = d_bounds[di], d_bounds[di + 1]
                    out_cols["bks"].append(bg_bk[s:e])
                    ts_doc, fs_doc, ps_doc = [], [], []
                    for g in range(s, e):
                        a, b = bg_bounds[g], bg_bounds[g + 1]
                        ts_doc.append(pair_tid[a:b])
                        fs_doc.append(tfs[a:b])
                        if with_positions:
                            ps_doc.append(
                                [ps[occ_bounds[i] : occ_bounds[i + 1]] for i in range(a, b)]
                            )
                    out_cols["tslices"].append(ts_doc)
                    out_cols["fslices"].append(fs_doc)
                    if with_positions:
                        out_cols["pslices"].append(ps_doc)
            base = pdf.iloc[keep]
            yield pd.DataFrame(
                {
                    "src_part": base["src_part"].to_numpy(),
                    "doc_id": base["doc_id"].to_numpy(),
                    "doclen": base["doclen"].to_numpy(),
                    **out_cols,
                }
            )

    schema = _PACKED_DOC_SCHEMA_POS if with_positions else _PACKED_DOC_SCHEMA
    per_doc = docs.mapInPandas(run, schema=schema)
    zipped = ["bks", "tslices", "fslices"] + (["pslices"] if with_positions else [])
    z = F.explode(F.arrays_zip(*zipped)).alias("z")
    out = per_doc.select("src_part", "doc_id", "doclen", z).select(
        "src_part",
        F.col("z.bks").alias("bucket"),
        (F.col("doc_id") / F.lit(shard_docs)).cast("long").alias("shard"),
        "doc_id",
        "doclen",
        F.col("z.tslices").alias("term_ids"),
        F.col("z.fslices").alias("tfs"),
        *([F.col("z.pslices").alias("positions")] if with_positions else []),
    )
    return out


def build_segments_packed(packed: DataFrame, counts) -> DataFrame:
    """Packed (doc, bucket) token groups -> encoded posting rows, one per
    (bucket, shard, term).

    groupBy(bucket, shard) over packed rows into a grouped Arrow UDF: each
    group's list columns are read as flat numpy arrays (``list_flatten`` +
    ``repeat`` — no per-row or per-token Python), ordered term-major
    (:func:`_term_major`) and encoded in one codec pass whose Arrow columns
    are the output batch.
    When the packed rows carry a ``positions`` column (pack_doc_tokens
    ``with_positions``), the posting rows gain the pos_bin/pos_offs stream.
    ``counts`` (an accumulator of :class:`PartCounts`) collects each source
    partition's lineage numbers while the rows are encoded — its
    (term, doc) entries and its (term, shard) lists — so nothing is read
    back after the write.
    """
    with_positions = "positions" in packed.columns
    schema = _arrow_schema(POSTINGS_SCHEMA)

    def build_group(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t = pa.Table.from_batches(list(batches))
        lens = pc.list_value_length(t["term_ids"]).to_numpy().astype(np.int64)
        part_ids, part = np.unique(t["src_part"].to_numpy(), return_inverse=True)
        tids = _flat(t["term_ids"])
        doc_ids = np.repeat(t["doc_id"].to_numpy(), lens)
        order = _term_major(tids, doc_ids)
        tfs = _flat(t["tfs"])
        pos = _gather_positions(_flat(t["positions"], 2), tfs, order) if with_positions else None
        tids, doc_ids, tfs = tids[order], doc_ids[order], tfs[order]
        dls = np.repeat(t["doclen"].to_numpy().astype(np.int64), lens)[order]
        part = np.repeat(part, lens)[order]
        # per part: its (term, doc) entries, and its (term, shard) lists as
        # the distinct (term rank, part) keys of the sorted entries
        n_parts = part_ids.shape[0]
        rank = np.cumsum(np.diff(tids, prepend=tids[0]) != 0)
        lists = np.unique(rank * n_parts + part) % n_parts
        counts.add({
            int(p): (int(n), int(r)) for p, n, r in zip(
                part_ids, np.bincount(part, minlength=n_parts), np.bincount(lists, minlength=n_parts)
            )
        })
        head = {"bucket": t["bucket"][0].as_py(), "shard": t["shard"][0].as_py()}
        yield from _encoded_batches(tids, doc_ids, tfs, dls, schema, head, pos=pos)

    return packed.groupBy("bucket", "shard").applyInArrow(build_group, schema=POSTINGS_SCHEMA)


class PartCounts:
    """AccumulatorParam summing {src_part: (n_postings, n_term_rows)}."""

    @staticmethod
    def zero(_value: dict) -> dict:
        return {}

    @staticmethod
    def addInPlace(acc: dict, more: dict) -> dict:
        for p, (n, r) in more.items():
            n0, r0 = acc.get(p, (0, 0))
            acc[p] = (n0 + n, r0 + r)
        return acc


def merge_segments(postings: DataFrame) -> DataFrame:
    """Posting rows of several generations -> one row per (bucket, shard,
    term): the compaction fold.

    Different generations hold disjoint doc sets (a document is ingested
    exactly once), so the merge is concat + sort + re-encode per term —
    the per-term analog of FAISS fill appending rowids to each centroid's
    list (the reference's Makefile:24-25). Each group's varint streams are
    decoded straight from the Arrow data buffers, and re-encoded through the
    same Arrow batches as :func:`build_segments_packed`.
    """
    schema = _arrow_schema(POSTINGS_SCHEMA)

    def merge_group(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        t = pa.Table.from_batches(list(batches))
        dfs = t["df"].to_numpy()
        with_pos = t["pos_bin"].null_count < t.num_rows
        decoded = decode_posting_lists(
            _stream_chunks(t["doc_bin"]),
            _stream_chunks(t["tf_bin"]),
            _stream_chunks(t["dl_bin"]),
            dfs,
            pos_bins=_stream_chunks(t["pos_bin"]) if with_pos else None,
        )
        docs, tfs, dls = decoded[:3]
        tids = np.repeat(t["term_id"].to_numpy(), dfs)
        order = _term_major(tids, docs)
        pos = _gather_positions(decoded[4], tfs, order) if with_pos else None
        head = {"bucket": t["bucket"][0].as_py(), "shard": t["shard"][0].as_py()}
        yield from _encoded_batches(
            tids[order], docs[order], tfs[order], dls[order], schema, head, pos=pos
        )

    return postings.groupBy("bucket", "shard").applyInArrow(merge_group, schema=POSTINGS_SCHEMA)
